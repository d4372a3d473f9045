"""Generative differential fuzzer: random exact-typed SQL vs DuckDB.

The 322-query catalog differential pins FIXED plans; this tool extends
the same oracle discipline to a GENERATED space — random query ASTs over
the integer/string columns of the TPC-H-ish tables, rendered to both
engines' dialects (identical text except integer division: Spark ``DIV``,
DuckDB ``//``) and compared as row multisets. Any divergence is either an
engine-semantics landmine worth excluding from the oracle grammar (and
documenting) or a real bug in how this repo's sessions configure Spark.

Grammar is deliberately EXACT-ONLY (BIGINT/INT arithmetic, strings,
count/count-distinct/min/max/sum aggregates, inner/left/right/full
equi-joins with optional NULLIF-nulled keys, GROUP BY incl.
ROLLUP/CUBE/GROUPING SETS, filters, CASE, IN, DISTINCT) — the repo's
parity rules exist precisely because float aggregation order diverges
across engines; the fuzzer explores the space where bit-equality is the
contract. Round-9 grammar extensions (r8 verdict #5 — unexplored, not
landmines): outer joins with NULL-key semantics (a NULLIF-wrapped key
never matches in either engine, and outer-side NULLs flow through every
scalar op), grouping sets (identical NULL-marker semantics probed; the
``grouping()`` function itself stays out, and rollup keys are data
columns that are never NULL so the marker is unambiguous), and
near-int64 boundary terms (``(x % 100003) * 91000000009`` ≈ 9.2e15,
within a factor ~1000 of int64 max yet safe under the grammar's bounded
±7 multiplier stacking — sum() still excludes them, see bounded=True).
Known dialect rules encoded here (probed before building):

- integer division truncates toward zero in BOTH (`7 DIV 2`/`7 // 2`,
  `-7 DIV 2 == -3`), remainder takes the dividend's sign in both;
- `||`, upper/lower/substr (1-based)/length match;
- CAST(double AS BIGINT) is NOT in the grammar: Spark truncates,
  DuckDB rounds — a real landmine the catalog's money() discipline
  already avoids (floor()/DECIMAL casts);
- the GRAND-TOTAL grouping set `()` is NOT in the grammar (the round-9
  extension FOUND this landmine, seed 192 of the first sweep): over an
  EMPTY input ROLLUP/CUBE/GROUPING SETS including () yield the standard
  one all-NULL grand-total row in DuckDB but ZERO rows in Spark, whose
  Expand-based grouping implementation has no rows to expand (a plain
  global aggregate over empty input correctly returns one row in both —
  the divergence is specific to grouping-set expansion). Grouping-set
  queries here therefore use explicit GROUPING SETS without ().

Round-10 addition (r9 verdict #5): a FLOAT-TOLERANCE tier (--tier float)
— the exact grammar excludes doubles by design, so the engine's float
paths had no generative coverage. The float tier generates GROUP BY
queries whose keys are exact-typed (rows are MATCHED on them) and whose
double aggregates are compared under documented tolerances; its grammar
is closed over NON-NEGATIVES so accumulation-order divergence is bounded
near n*eps and a tight relative tolerance is sound (see FLOAT_COLS /
_FLOAT_REL below). 1,200 seeds green at round 10 (sf0.001 + sf0.01).

Usage:
    python tools/fuzz_differential.py --seeds 200            # sf0.001
    python tools/fuzz_differential.py --seeds 50 --sf 0.01
    python tools/fuzz_differential.py --seeds 500 --tier float
    python tools/fuzz_differential.py --seed 1234 --show     # one repro

Exit code 1 on any mismatch; each mismatch prints the seed and the SQL
for both engines. tests/test_fuzz_differential.py pins a fixed seed
range per commit.
"""

from __future__ import annotations

import argparse
import random
import sys

sys.path.insert(0, ".")

# (table, [(col, kind)]) — exact-typed columns only (no doubles: float
# aggregation order diverges across engines by design). Timestamps ride
# the catalog's exact bridge: calendar fields + Spark unix_micros ==
# DuckDB epoch_us; raw ts only in comparisons and min/max.
TABLES: dict[str, list[tuple[str, str]]] = {
    "lineitem": [
        ("l_orderkey", "int"), ("l_partkey", "int"), ("l_suppkey", "int"),
        ("l_linenumber", "int"), ("l_returnflag", "str"), ("l_linestatus", "str"),
        ("l_shipdate", "ts"),
    ],
    "orders": [
        ("o_orderkey", "int"), ("o_custkey", "int"),
        ("o_orderstatus", "str"), ("o_orderpriority", "str"),
        ("o_orderdate", "ts"),
    ],
    "customer": [
        ("c_custkey", "int"), ("c_nationkey", "int"),
        ("c_name", "str"), ("c_mktsegment", "str"),
    ],
    "part": [
        ("p_partkey", "int"), ("p_size", "int"),
        ("p_brand", "str"), ("p_type", "str"),
    ],
    "events": [
        ("event_id", "int"), ("user_id", "int"), ("event_type", "str"),
        ("ts", "ts"),
    ],
    "documents": [
        ("doc_id", "int"), ("n_chars", "int"), ("lang", "str"), ("source", "str"),
    ],
}

# VERIFIED-unique total-order key per table — window ORDER BY must be
# total for the result to be deterministic (comparison is
# order-insensitive, but frame CONTENTS must not depend on
# tie-breaking). lineitem is deliberately absent: the SYNTHETIC
# generator duplicates (l_orderkey, l_linenumber) — 4599 distinct pairs
# for 6000 rows at sf0.001 — which the fuzzer itself discovered as 3
# tie-break "divergences" before this restriction (both engines were
# right; the order just wasn't total).
UNIQUE_KEYS: dict[str, list[str]] = {
    "orders": ["o_orderkey"],
    "customer": ["c_custkey"],
    "part": ["p_partkey"],
    "events": ["event_id"],
    "documents": ["doc_id"],
}

# Inner/left equi-join edges that actually match rows in the data.
JOINS: list[tuple[str, str, str, str]] = [
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("lineitem", "part", "l_partkey", "p_partkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
]

STR_LITS = {
    "l_returnflag": ["'A'", "'N'", "'R'"],
    "l_linestatus": ["'O'", "'F'"],
    "o_orderstatus": ["'O'", "'F'", "'P'"],
    "o_orderpriority": ["'1-URGENT'", "'2-HIGH'", "'3-MEDIUM'"],
    "c_mktsegment": ["'BUILDING'", "'AUTOMOBILE'", "'MACHINERY'"],
    "event_type": ["'click'", "'view'", "'purchase'", "'error'", "'signup'"],
    "lang": ["'en'", "'de'", "'fr'"],
    "source": ["'web'", "'wiki'", "'forum'", "'code'"],
    "p_brand": ["'Brand#11'", "'Brand#22'", "'Brand#33'"],
}
GENERIC_STR_LITS = ["'A'", "'x'", "''", "'zz'"]


class Gen:
    """One random query: an AST rendered per dialect (only integer
    division differs). self.cols tracks the live output schema."""

    def __init__(self, seed: int):
        self.rng = random.Random(seed)
        self.seed = seed

    # -- scalar expressions over a column pool ---------------------------
    def ts_int(
        self, cols: list[tuple[str, str]], bounded: bool = False
    ) -> str | None:
        """A ts column surfaced as an exact integer: calendar fields
        (identical in both engines, probed) or epoch micros via the
        repo's bridge (Spark unix_micros == DuckDB epoch_us — the
        catalog-wide timestamp discipline). date_trunc is deliberately
        absent: DuckDB returns DATE where Spark returns TIMESTAMP.

        bounded=True excludes epoch: sum() over ~1.7e15-microsecond
        epochs exceeds int64 at larger row counts, where Spark's ANSI
        mode throws but DuckDB widens sum(BIGINT) to HUGEINT — a
        false-positive 'divergence' on the engine-config axis the fuzzer
        is not probing (ADVICE r8)."""
        tss = [c for c, k in cols if k == "ts"]
        if not tss:
            return None
        c = self.rng.choice(tss)
        fns = ["year", "month", "day", "hour"] + ([] if bounded else ["epoch"])
        fn = self.rng.choice(fns)
        return f"{{epoch}}({c})" if fn == "epoch" else f"{fn}({c})"

    def int_expr(
        self,
        cols: list[tuple[str, str]],
        depth: int = 0,
        bounded: bool = False,
    ) -> str:
        """bounded=True keeps the term's magnitude sum-safe: no epoch
        micros and no near-int64 boundary terms (aggregation multiplies
        the worst case by the row count)."""
        ints = [c for c, k in cols if k == "int"]
        r = self.rng
        if r.random() < 0.12:
            t = self.ts_int(cols, bounded=bounded)
            if t is not None:
                return t
        if depth >= 2 or not ints or r.random() < 0.35:
            return r.choice(ints) if ints and r.random() < 0.8 else str(r.randint(-9, 99))
        a = self.int_expr(cols, depth + 1, bounded=bounded)
        b = self.int_expr(cols, depth + 1, bounded=bounded)
        ops = ["+", "-", "*", "INTDIV", "%", "abs", "gl"]
        if not bounded:
            ops.append("bigmul")
        op = r.choice(ops)
        if op == "*":
            return f"({a} * {r.randint(-5, 7)})"  # bounded multiplier: no overflow
        if op == "bigmul":
            # near-int64 boundary probe: |(a % 100003) * 91000000009| is
            # <= ~9.1e15, a factor ~1000 under int64 max — large enough
            # that a wrong promotion/overflow rule would surface, small
            # enough that the grammar's +/- and stacked *7 multipliers
            # (worst case x49) cannot cross 9.2e18.
            return f"(({a} % 100003) * 91000000009)"
        if op in ("INTDIV", "%"):
            lit = r.choice([2, 3, 5, 7, 11, -3])
            return f"({a} {{intdiv}} {lit})" if op == "INTDIV" else f"({a} % {lit})"
        if op == "abs":
            return f"abs({a})"
        if op == "gl":
            # both engines skip NULL args in greatest/least (probed)
            return f"{r.choice(['greatest', 'least'])}({a}, {b})"
        return f"({a} {op} {b})"

    def str_expr(self, cols: list[tuple[str, str]], depth: int = 0) -> str:
        strs = [c for c, k in cols if k == "str"]
        r = self.rng
        if not strs:
            return r.choice(GENERIC_STR_LITS)
        c = r.choice(strs)
        if depth >= 1:
            return c
        return r.choice([
            c,
            f"upper({c})",
            f"lower({c})",
            f"substr({c}, {r.randint(1, 3)}, {r.randint(1, 4)})",
            f"({c} || {r.choice(STR_LITS.get(c, GENERIC_STR_LITS))})",
            f"(CASE WHEN length({c}) > {r.randint(0, 6)} THEN {c} ELSE 'short' END)",
        ])

    def predicate(self, cols: list[tuple[str, str]], table: str | None = None) -> str:
        r = self.rng
        kind = r.choice(["int", "str", "int", "and_or", "in_subquery"])
        if kind == "in_subquery" and table is not None:
            # key IN (SELECT other side's key WHERE simple pred) over a
            # real join edge — semi-join semantics, both engines ANSI.
            edges = [e for e in JOINS if table in (e[0], e[1])]
            if edges:
                lt, rt, lk, rk = r.choice(edges)
                me, other = (lk, (rt, rk)) if table == lt else (rk, (lt, lk))
                sub_pred = self.predicate(TABLES[other[0]])
                neg = "NOT " if r.random() < 0.25 else ""
                return (
                    f"({me} {neg}IN (SELECT {other[1]} FROM {other[0]} "
                    f"WHERE {sub_pred}))"
                )
            kind = "int"
        if kind == "in_subquery":
            kind = "str"
        if kind == "and_or":
            a, b = self.predicate(cols, table), self.predicate(cols, table)
            return f"({a} {r.choice(['AND', 'OR'])} {b})"
        if kind == "int":
            tss = [c for c, k in cols if k == "ts"]
            if tss and r.random() < 0.25:
                c = r.choice(tss)
                day = r.randint(1, 28)
                mon = r.randint(1, 3)
                op = r.choice(["<", "<=", ">", ">="])
                return f"({c} {op} TIMESTAMP '2024-{mon:02d}-{day:02d} 12:00:00')"
            e = self.int_expr(cols)
            op = r.choice(["<", "<=", ">", ">=", "=", "<>"])
            return f"({e} {op} {r.randint(-5, 4000)})"
        strs = [c for c, k in cols if k == "str"]
        if not strs:
            return "(1 = 1)"
        c = r.choice(strs)
        lits = STR_LITS.get(c, GENERIC_STR_LITS)
        if r.random() < 0.3 and len(lits) >= 2:
            return f"({c} IN ({', '.join(r.sample(lits, 2))}))"
        return f"({c} {r.choice(['=', '<>', '<', '>='])} {r.choice(lits)})"

    # -- relational pipeline ---------------------------------------------
    def _typed_select(self, table: str, sig: list[str]) -> str:
        """One SELECT over `table` with projections matching the type
        signature — the aligned halves of a set operation."""
        cols = TABLES[table]
        projs = []
        for i, kind in enumerate(sig):
            e = self.int_expr(cols) if kind == "int" else self.str_expr(cols)
            projs.append(f"{e} AS c{i}")
        where = (
            f"WHERE {self.predicate(cols, table)}"
            if self.rng.random() < 0.8
            else ""
        )
        return f"SELECT {', '.join(projs)} FROM {table} {where}"

    def _window_select(self) -> str:
        """Window functions over a deterministic total order: rank/
        dense_rank/row_number/lag/lead/framed sums ordered by (optional
        non-unique prefix +) the table's unique key, optionally
        partitioned by a category column. ROWS frames only — with a
        TOTAL order their contents are deterministic; RANGE adds peer
        semantics both engines share but needs numeric-order care."""
        r = self.rng
        table = r.choice(list(UNIQUE_KEYS))
        cols = TABLES[table]
        uniq = ", ".join(UNIQUE_KEYS[table])
        strs = [c for c, k in cols if k == "str"]
        part = f"PARTITION BY {r.choice(strs)} " if strs and r.random() < 0.6 else ""
        prefix = ""
        if r.random() < 0.5:
            pc, _ = r.choice(cols)
            prefix = f"{pc} {r.choice(['ASC', 'DESC'])}, "
        order = f"ORDER BY {prefix}{uniq}"
        projs = [c for c, _ in r.sample(cols, min(2, len(cols)))]
        for i in range(r.randint(1, 2)):
            fn = r.choice(["rank()", "dense_rank()", "row_number()",
                           "lag", "lead", "sum", "count", "min"])
            if fn in ("rank()", "dense_rank()", "row_number()"):
                projs.append(f"{fn} OVER ({part}{order}) AS w{i}")
            elif fn in ("lag", "lead"):
                c = r.choice([c for c, k in cols if k == "int"])
                projs.append(
                    f"{fn}({c}, {r.randint(1, 3)}, {r.randint(-9, 9)}) "
                    f"OVER ({part}{order}) AS w{i}"
                )
            else:
                # bounded for the same reason as aggregate sum: an
                # UNBOUNDED PRECEDING running sum of epoch micros
                # overflows int64 once partitions grow past ~5k rows
                e = self.int_expr(cols, bounded=True)
                frame = r.choice([
                    "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW",
                    f"ROWS BETWEEN {r.randint(1, 4)} PRECEDING AND CURRENT ROW",
                    f"ROWS BETWEEN 1 PRECEDING AND {r.randint(1, 3)} FOLLOWING",
                ])
                arg = "*" if fn == "count" else e
                projs.append(f"{fn}({arg}) OVER ({part}{order} {frame}) AS w{i}")
        where = (
            f"WHERE {self.predicate(cols, table)}" if r.random() < 0.6 else ""
        )
        return f"SELECT {', '.join(projs)} FROM {table} {where}"

    def build(self) -> str:
        """Returns a SQL template with {intdiv} placeholders."""
        r = self.rng
        if r.random() < 0.15:
            return self._window_select()
        if r.random() < 0.18:
            # set operation: two same-signature selects over one table.
            # UNION/EXCEPT/INTERSECT are DISTINCT-semantics in both
            # engines (probed); UNION ALL is bag semantics in both.
            table = r.choice(list(TABLES))
            sig = [r.choice(["int", "str"]) for _ in range(r.randint(1, 3))]
            op = r.choice(["UNION ALL", "UNION", "EXCEPT", "INTERSECT"])
            return f"{self._typed_select(table, sig)} {op} {self._typed_select(table, sig)}"
        if r.random() < 0.4:
            base, other, lk, rk = r.choice(JOINS)
            how = r.choice(["JOIN", "JOIN", "LEFT JOIN", "LEFT JOIN",
                            "RIGHT JOIN", "FULL JOIN"])
            lhs, rhs = f"{base}.{lk}", f"{other}.{rk}"
            # NULL-key semantics probe: NULLIF one side's key against a
            # literal sometimes present in the data — those rows' keys
            # become NULL and must match NOTHING (inner) / surface as
            # outer-side NULL rows, identically in both engines. The
            # nulled value removes matches, never adds them, so the
            # join's cardinality stays bounded by the natural edge.
            if r.random() < 0.35:
                lit = r.randint(1, 500)
                if r.random() < 0.5:
                    lhs = f"nullif({lhs}, {lit})"
                else:
                    rhs = f"nullif({rhs}, {lit})"
            frm = f"{base} {how} {other} ON {lhs} = {rhs}"
            cols = TABLES[base] + TABLES[other]
            pred_table = None  # IN-subquery keys could be ambiguous here
        else:
            base = r.choice(list(TABLES))
            frm = base
            cols = TABLES[base]
            pred_table = base

        where = (
            f"WHERE {self.predicate(cols, pred_table)}"
            if r.random() < 0.75
            else ""
        )

        shape = r.choice(["agg", "agg", "select", "distinct"])
        if shape == "agg":
            n_keys = r.randint(0, 2)
            keys = r.sample(cols, min(n_keys, len(cols)))
            key_sql = [c for c, _ in keys]
            aggs = []
            for i in range(r.randint(1, 3)):
                a = r.choice(["count", "countd", "min", "max", "sum"])
                if a == "count":
                    aggs.append(f"count(*) AS a{i}")
                elif a == "countd":
                    c, _ = r.choice(cols)
                    aggs.append(f"count(DISTINCT {c}) AS a{i}")
                elif a == "sum":
                    # bounded: an unfiltered sum over epoch micros or a
                    # boundary term overflows int64 (Spark ANSI throws,
                    # DuckDB widens)
                    aggs.append(
                        f"sum({self.int_expr(cols, bounded=True)}) AS a{i}"
                    )
                else:
                    c, k = r.choice(cols)
                    aggs.append(f"{a}({c}) AS a{i}")
            sel = ", ".join(key_sql + aggs)
            group = f"GROUP BY {', '.join(key_sql)}" if key_sql else ""
            # grouping-sets probe (r9): explicit GROUPING SETS over the
            # plain column keys — NULL grouping markers are unambiguous
            # because no key column in TABLES contains data NULLs, and
            # both engines emit identical marker rows. The grand-total
            # () set is excluded (documented empty-input landmine, see
            # module docstring), so these are ROLLUP/CUBE minus the
            # grand total; the grouping() disambiguator also stays out
            # (it is the remedy for nullable keys, not a semantics
            # probe).
            if len(key_sql) == 2 and r.random() < 0.4:
                k1, k2 = key_sql
                group = "GROUP BY " + r.choice([
                    f"GROUPING SETS (({k1}, {k2}), ({k1}))",           # rollup - ()
                    f"GROUPING SETS (({k1}, {k2}), ({k1}), ({k2}))",   # cube - ()
                    f"GROUPING SETS (({k1}), ({k2}))",
                ])
            having = ""
            if key_sql and r.random() < 0.3:
                having = f"HAVING count(*) > {r.randint(0, 3)}"
            return f"SELECT {sel} FROM {frm} {where} {group} {having}"

        projs = []
        for i in range(r.randint(2, 4)):
            if r.random() < 0.5:
                projs.append(f"{self.int_expr(cols)} AS c{i}")
            else:
                projs.append(f"{self.str_expr(cols)} AS c{i}")
        distinct = "DISTINCT " if shape == "distinct" else ""
        return f"SELECT {distinct}{', '.join(projs)} FROM {frm} {where}"


# ---------------------------------------------------------------------------
# Float-tolerance tier (round 10, r9 verdict #5)
# ---------------------------------------------------------------------------

# DOUBLE columns per table. All are >= 0 in the data (probed: discounts/
# taxes in [0, 0.1], prices/quantities/values positive) — and the float
# grammar below is deliberately CLOSED OVER NON-NEGATIVES (+, *, and
# (1 - l_discount) with discount <= 0.1): a sum of same-sign doubles has
# condition number 1, so the engines' different accumulation ORDERS can
# only diverge by ~n*2^-53 relative — which is what makes a tight
# relative tolerance sound. Subtraction stays OUT of the grammar:
# catastrophic cancellation would make the attainable error unbounded
# relative to the RESULT (the repo's catalog handles those cases with
# exact DECIMAL/integer paths instead).
FLOAT_COLS: dict[str, list[str]] = {
    "lineitem": ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
    "orders": ["o_totalprice"],
    "events": ["value"],
}

# Tolerances (documented contract of the tier):
# - sum/avg: |a-b| <= 1e-9 * max(|a|,|b|) + 1e-12 — same-sign terms bound
#   the true accumulation-order divergence near n*eps (~6.6e-12 rel at
#   60k rows); 1e-9 leaves three orders of headroom without masking any
#   genuine semantics bug (those diverge at whole-value scale).
# - stddev/var (sample, both engines): rel 1e-6 — both use numerically
#   stable central-moment updates, but merge trees differ and the final
#   sqrt amplifies near-constant groups.
_FLOAT_REL = {"sum": 1e-9, "avg": 1e-9, "min": 0.0, "max": 0.0,
              "stddev": 1e-6, "var_samp": 1e-6,
              # window/join additions (round 11, r10 verdict #6):
              # lag/lead move stored doubles untouched — bit-exact;
              # running/sliding window sums accumulate the SAME prefix in
              # the SAME frame order in both engines, so divergence is
              # bounded like the same-sign aggregate case
              "lag": 0.0, "lead": 0.0}

# Join edges where at least one side carries doubles (the float-tier
# join shape): (left, right, lkey, rkey). LEFT JOIN variants add a
# selective ON-condition so the null-extended side actually exercises
# null handling in the double aggregates.
FLOAT_JOINS: list[tuple[str, str, str, str]] = [
    ("lineitem", "orders", "l_orderkey", "o_orderkey"),
    ("orders", "customer", "o_custkey", "c_custkey"),
]

# Window-shape tables need a VERIFIED-unique total order (same rule as
# the exact tier: frame contents must not depend on tie-breaking) AND a
# double column. lineitem is excluded — its synthetic generator
# duplicates (l_orderkey, l_linenumber).
FLOAT_WINDOW_TABLES = ["orders", "events"]


class FloatGen(Gen):
    """Float-tier query: exact-typed GROUP BY keys + double aggregates.
    The exact keys are what rows are MATCHED on across engines; only the
    aggregate cells get tolerance."""

    def float_expr(self, table: str, depth: int = 0) -> str:
        return self.float_expr_cols(FLOAT_COLS[table], depth)

    def float_expr_cols(self, cols: list[str], depth: int = 0) -> str:
        r = self.rng
        c = r.choice(cols)
        if depth >= 2 or r.random() < 0.45:
            return c
        a = self.float_expr_cols(cols, depth + 1)
        b = self.float_expr_cols(cols, depth + 1)
        kind = r.choice(["mul", "add", "lit", "rev"])
        if kind == "mul":
            return f"({a} * {b})"
        if kind == "add":
            return f"({a} + {b})"
        if kind == "rev" and "l_discount" in cols:
            # the TPC-H revenue idiom; (1 - l_discount) >= 0.9 > 0
            return f"({a} * (1 - l_discount))"
        return f"({a} * {r.choice(['0.5', '1.5', '2.0', '0.25'])})"

    def _build_float_join(self) -> tuple[str, int]:
        """Inner/left equi-join with double aggregates drawn from BOTH
        sides, grouped by exact keys — the reordering-sensitive float
        path the plain agg shape cannot reach (join build/probe sides
        and partitionings differ across engines)."""
        r = self.rng
        lt, rt, lk, rk = r.choice(FLOAT_JOINS)
        fcols = FLOAT_COLS.get(lt, []) + FLOAT_COLS.get(rt, [])
        exact = TABLES[lt] + TABLES[rt]
        join_kind = r.choice(["JOIN", "JOIN", "LEFT JOIN"])
        on = f"{lk} = {rk}"
        if join_kind == "LEFT JOIN":
            # selective ON predicate => real null-extended rows; keep it
            # on the RIGHT side so left rows survive
            on += f" AND {self.predicate(TABLES[rt], rt)}"
            # aggregates over null-extended doubles need right-side cols
            # to actually be nullable-interesting; keep fcols as-is (sum/
            # avg/min/max all skip NULLs identically in both engines)
        n_keys = r.randint(1, 2)
        keys = [c for c, _ in r.sample(TABLES[lt], n_keys)]
        aggs = []
        for i in range(r.randint(1, 3)):
            fn = r.choice(["sum", "sum", "avg", "min", "max"])
            aggs.append((fn, f"{fn}({self.float_expr_cols(fcols)}) AS f{i}"))
        where = (
            f"WHERE {self.predicate(TABLES[lt], lt)}"
            if r.random() < 0.5
            else ""
        )
        sel = ", ".join(keys + [a for _, a in aggs])
        self.float_fns = [fn for fn, _ in aggs]
        return (
            f"SELECT {sel} FROM {lt} {join_kind} {rt} ON {on} {where} "
            f"GROUP BY {', '.join(keys)}",
            len(keys),
        )

    def _build_float_window(self) -> tuple[str, int]:
        """Window functions over doubles: running and sliding frame sums/
        averages plus lag/lead — ordered by the table's verified-unique
        key so frame CONTENTS are deterministic; the per-row accumulation
        order is then identical in both engines and the same-sign
        tolerance applies. Comparison keys = (partition value, row_number
        over the same total order)."""
        r = self.rng
        table = r.choice(FLOAT_WINDOW_TABLES)
        uk = ", ".join(UNIQUE_KEYS[table])
        strs = [c for c, k in TABLES[table] if k == "str"]
        part = r.choice(strs) if strs and r.random() < 0.7 else None
        over_order = f"ORDER BY {uk}"
        over = (
            f"PARTITION BY {part} {over_order}" if part else over_order
        )
        fns = []
        cells = []
        for i in range(r.randint(1, 3)):
            e = self.float_expr_cols(FLOAT_COLS[table])
            kind = r.choice(["run", "run", "slide", "lag", "minmax"])
            if kind == "run":
                fn = r.choice(["sum", "avg"])
                frame = "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                cells.append(f"{fn}({e}) OVER ({over} {frame}) AS f{i}")
                fns.append(fn)
            elif kind == "slide":
                fn = r.choice(["sum", "avg"])
                k = r.randint(1, 20)
                frame = f"ROWS BETWEEN {k} PRECEDING AND CURRENT ROW"
                cells.append(f"{fn}({e}) OVER ({over} {frame}) AS f{i}")
                fns.append(fn)
            elif kind == "lag":
                fn = r.choice(["lag", "lead"])
                cells.append(f"{fn}({e}, {r.randint(1, 3)}) OVER ({over}) AS f{i}")
                fns.append(fn)
            else:
                fn = r.choice(["min", "max"])
                k = r.randint(1, 20)
                frame = f"ROWS BETWEEN {k} PRECEDING AND CURRENT ROW"
                cells.append(f"{fn}({e}) OVER ({over} {frame}) AS f{i}")
                fns.append(fn)
        where = (
            f"WHERE {self.predicate(TABLES[table], table)}"
            if r.random() < 0.5
            else ""
        )
        keys = ([part] if part else []) + ["rn"]
        sel = ", ".join(
            ([part] if part else [])
            + [f"row_number() OVER ({over}) AS rn"]
            + cells
        )
        self.float_fns = fns
        return (
            f"SELECT {sel} FROM {table} {where}",
            len(keys),
        )

    def build_float(self) -> tuple[str, int]:
        """Returns (sql_template, n_key_cols); the first n_key_cols output
        columns are exact-typed keys, the rest double aggregates."""
        r = self.rng
        shape = r.choice(["agg", "agg", "join", "window"])
        if shape == "join":
            return self._build_float_join()
        if shape == "window":
            return self._build_float_window()
        table = r.choice(list(FLOAT_COLS))
        cols = TABLES[table]
        n_keys = r.randint(0, 2)
        keys = [c for c, _ in r.sample(cols, min(n_keys, len(cols)))]
        aggs = []
        for i in range(r.randint(1, 3)):
            fn = r.choice(["sum", "sum", "avg", "min", "max", "stddev"])
            e = self.float_expr(table)
            aggs.append((fn, f"{fn}({e}) AS f{i}"))
        where = (
            f"WHERE {self.predicate(cols, table)}" if r.random() < 0.7 else ""
        )
        group = f"GROUP BY {', '.join(keys)}" if keys else ""
        sel = ", ".join(keys + [a for _, a in aggs])
        self.float_fns = [fn for fn, _ in aggs]
        return f"SELECT {sel} FROM {table} {where} {group}", len(keys)


def run_one_float(spark, con, seed: int, show: bool = False) -> str | None:
    """Float-tier comparison: rows keyed by the exact GROUP BY columns,
    double aggregates compared under the documented tolerances."""
    g = FloatGen(seed)
    template, n_keys = g.build_float()
    spark_sql = render(template, "spark")
    duck_sql = render(template, "duck")
    if show:
        print(f"-- seed {seed} (float tier)\n{spark_sql}")
    try:
        got = {tuple(r[:n_keys]): r[n_keys:] for r in spark.sql(spark_sql).collect()}
    except Exception as e:
        return f"seed {seed}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}\n{spark_sql}"
    try:
        want = {
            tuple(r[:n_keys]): r[n_keys:]
            for r in con.execute(duck_sql).fetchall()
        }
    except Exception as e:
        return f"seed {seed}: DUCKDB ERROR {type(e).__name__}: {str(e)[:200]}\n{duck_sql}"
    if set(got) != set(want):
        only_s = list(set(got) - set(want))[:3]
        only_d = list(set(want) - set(got))[:3]
        return (
            f"seed {seed}: KEY MISMATCH spark={len(got)} duck={len(want)}\n"
            f"  spark-only: {only_s}\n  duck-only: {only_d}\n  {spark_sql}"
        )
    for k in got:
        for fn, a, b in zip(g.float_fns, got[k], want[k]):
            if a is None and b is None:
                continue
            if (a is None) != (b is None):
                return (
                    f"seed {seed}: NULL MISMATCH key={k} {fn}: "
                    f"spark={a} duck={b}\n  {spark_sql}"
                )
            rel = _FLOAT_REL[fn]
            tol = rel * max(abs(a), abs(b)) + 1e-12
            if abs(a - b) > tol:
                return (
                    f"seed {seed}: VALUE MISMATCH key={k} {fn}: spark={a!r} "
                    f"duck={b!r} |diff|={abs(a - b):.3e} tol={tol:.3e}\n"
                    f"  {spark_sql}"
                )
    return None


def render(template: str, dialect: str) -> str:
    spark = dialect == "spark"
    return template.replace("{intdiv}", "DIV" if spark else "//").replace(
        "{epoch}", "unix_micros" if spark else "epoch_us"
    )


def _row_key(row: tuple) -> tuple:
    """None-safe multiset sort key: outer joins and grouping sets emit
    NULL cells, and plain tuple sorting raises TypeError on None < int.
    (None sorts first within a column; same-column non-None values share
    a type by construction.)"""
    return tuple((v is not None, v) for v in row)


def run_one(spark, con, seed: int, show: bool = False) -> str | None:
    """Returns an error description on mismatch, else None."""
    template = Gen(seed).build()
    spark_sql = render(template, "spark")
    duck_sql = render(template, "duck")
    if show:
        print(f"-- seed {seed}\n{spark_sql}")
    try:
        got = sorted((tuple(r) for r in spark.sql(spark_sql).collect()), key=_row_key)
    except Exception as e:
        return f"seed {seed}: SPARK ERROR {type(e).__name__}: {str(e)[:200]}\n{spark_sql}"
    try:
        want = sorted(
            (tuple(r) for r in con.execute(duck_sql).fetchall()), key=_row_key
        )
    except Exception as e:
        return f"seed {seed}: DUCKDB ERROR {type(e).__name__}: {str(e)[:200]}\n{duck_sql}"
    if got != want:
        diff_a = [r for r in got if r not in want][:3]
        diff_b = [r for r in want if r not in got][:3]
        return (
            f"seed {seed}: MISMATCH spark_rows={len(got)} duck_rows={len(want)}\n"
            f"  spark-only: {diff_a}\n  duck-only: {diff_b}\n  {spark_sql}"
        )
    return None


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=100, help="seeds 0..N-1")
    ap.add_argument("--start", type=int, default=0)
    ap.add_argument("--seed", type=int, default=None, help="run one seed")
    ap.add_argument("--sf", default="0.001")
    ap.add_argument("--show", action="store_true")
    ap.add_argument(
        "--tier",
        choices=("exact", "float"),
        default="exact",
        help="exact = bit-equality grammar; float = double aggregates "
        "under the documented relative tolerances",
    )
    args = ap.parse_args(argv)
    sf_dir = f"/root/testdata/sf{args.sf}"

    from stock_streaming_data_pipeline_spark.session import get_spark
    from stock_streaming_data_pipeline_spark.tables import duck_connection, load_table

    spark = get_spark(
        "fuzz-differential", extra_conf={"spark.sql.shuffle.partitions": "8"}
    )
    con = duck_connection(sf_dir)
    for t in TABLES:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)

    seeds = [args.seed] if args.seed is not None else range(args.start, args.start + args.seeds)
    runner = run_one_float if args.tier == "float" else run_one
    bad = 0
    for s in seeds:
        err = runner(spark, con, s, show=args.show)
        if err:
            bad += 1
            print("FUZZ", err)
    n = 1 if args.seed is not None else args.seeds
    print(f"fuzzed {n} {args.tier}-tier queries at sf{args.sf}: {bad} divergences")
    spark.stop()
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
