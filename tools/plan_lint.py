"""Catalog-wide physical-plan linter.

tests/test_plan_shapes.py pins named queries; this tool sweeps EVERY
catalog query's analyzed + executed plan for the anti-patterns that
kill 100 TB runs, so a new query can't regress the discipline silently:

- hard broadcast hints whose subtree scans an SF-scaled relation
  (customer/supplier/part/orders/lineitem/events/documents/embeddings)
  — explicit hints never degrade to sort-merge, so they OOM the driver
  at scale. A Filter does NOT exempt a hint: a predicate that keeps a
  constant FRACTION of an SF-scaled table (p_size<=10 keeps ~20% of
  part forever) is still unbounded at 100 TB. Only constructs that
  bound CARDINALITY independent of SF exempt the subtree: a grouped or
  scalar Aggregate (bounded output domain) or a Limit;
- unpartitioned window operators (whole dataset through one task)
  outside the documented allowlist (bounded-domain windows);
- CartesianProduct / BroadcastNestedLoopJoin with a non-constant-sized
  side (allowlisted where the cross side is a 1-row stats frame or a
  bounded centroid/query table);
- row-at-a-time Python UDFs (BatchEvalPython) in batch plans — Arrow
  paths (ArrowEvalPython, MapInPandas/FlatMapGroupsInPandas) are fine;
- unpruned full-width parquet scans of wide (>=5-column) tables —
  column pruning must reach the ReadSchema (allowlisted where the
  query genuinely consumes the whole row);
- shuffle-partitioning / hash-join keys fed by a nondeterministic
  expression (monotonically_increasing_id / rand / uuid) — the
  SPARK-23207 retry-hazard class: recomputed tasks re-evaluate the
  expression differently and join rows duplicate or vanish (round 10,
  closing VERDICT r9's salted_join item as a machine-enforced rule).

Usage:
    python tools/plan_lint.py            # lint all batch queries @ sf0.001
    python tools/plan_lint.py name ...   # subset

Exit code 1 if any finding outside the allowlist. The pytest wrapper
(tests/test_plan_lint.py) keeps this green per-commit.
"""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.001"

# Column markers identifying a scan of an SF-scaled relation in the
# analyzed tree. nation (25 rows) and region (5) are fixed-size by the
# TPC-H spec and legitimately broadcastable; everything else scales
# linearly with SF and must never carry a hard broadcast hint.
SF_SCALED_MARKERS = (
    "c_custkey",    # customer
    "s_suppkey",    # supplier
    "p_partkey",    # part — fraction filters (p_size<=10, brand isin, LIKE)
                    # do NOT exempt: they keep a constant share of an
                    # SF-scaled table, unbounded at 100 TB
    "o_orderkey",   # orders
    "l_orderkey",   # lineitem
    "event_id",     # events
    "doc_id",       # documents
    "vec_id",       # embeddings
)


def broadcast_hint_violations(analyzed_tree: str) -> list[str]:
    """Scan an analyzed treeString for broadcast ResolvedHints whose
    subtree reaches an SF-scaled base relation without an intervening
    cardinality bound. Bounds that exempt:

    - a grouped/scalar Aggregate or a Limit anywhere in the subtree
      (output domain bounded independent of SF);
    - a Filter comparing the relation's UNIQUE KEY column directly to an
      integer literal (``vec_id < 10``, ``doc_id <= 410000``,
      ``c_custkey = 42``) — at most a constant number of rows survive at
      ANY scale factor.

    Deliberately NOT exempt: attribute filters (``p_size <= 10`` keeps a
    ~20% FRACTION of part forever) and arithmetic selections on the key
    (``doc_id % 41 = 0`` keeps 1/41 of an SF-scaled table) — both are
    unbounded at 100 TB."""
    import re

    def node_depth(line: str) -> int:
        candidates = [i for i in (line.find("+- "), line.find(":- ")) if i >= 0]
        return min(candidates) if candidates else -1

    lines = analyzed_tree.splitlines()
    bad: list[str] = []
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line.lower():
            continue
        d = node_depth(line)
        subtree = []
        for nxt in lines[i + 1 :]:
            if node_depth(nxt) <= d:
                break
            subtree.append(nxt)
        # A grouped/scalar aggregate or a Limit bounds the hinted side's
        # cardinality independent of SF — those hints are legitimate.
        if any(("Aggregate" in s) or ("Limit" in s) for s in subtree):
            continue
        filters = [s for s in subtree if "Filter" in s]
        for s in subtree:
            if "Relation" not in s:
                continue
            hit = [c for c in SF_SCALED_MARKERS if c in s]
            if not hit:
                continue
            key = hit[0]
            # direct literal bound on the unique key: `key#123L < 10`,
            # `key#123L < cast(10 as bigint)`, `key#123L = N` (NOT
            # `(key % 41) = 0`, where the key ref is followed by `%`,
            # not a comparison)
            bound_re = re.compile(rf"\b{key}#\d+L? (?:<|<=|=) (?:\d|cast\(\d)")
            if any(bound_re.search(f) for f in filters):
                continue
            bad.append(s.strip())
    return bad

# Queries allowed to carry an unpartitioned window: each is a
# bounded-domain window documented at the operator (global bar grid,
# nlist-row centroid seeds, vocab-bounded BPE merge rounds, ntile over
# a 1-row-per-group profile, ...).
UNPARTITIONED_WINDOW_ALLOW = {
    "rolling_corr_click_view",      # single global hourly grid (documented)
    "ohlc_interval_count",
    "ntile_quartiles",              # global quartile split is the semantics
    "ordered_split_counts",
    "q15_top_supplier",
    "quality_topp_by_source",       # nucleus prefix needs the global quality order
    "text_bpe_train",               # vocab-bounded merge rounds
    "text_bpe_segment",
    "text_pack_sequences",          # per-source packing uses bounded window
    "text_pack_payloads",
    "sample_balanced_exact",        # exact-cap form; rate form is the scale path
    "embedding_kmeans",             # nlist-row seed window
    "embedding_ivf_topk",
    "embedding_ivf_index_topk",
    "embedding_pq_topk",
    "embedding_opq_topk",
    "embedding_sq_topk",            # per-query shortlist windows are fine; seed window bounded
    "embedding_semantic_dedup",
    "curation_pipeline_v2",         # embeds the semdedup seed window (nlist rows)
    "embedding_lsh_topk",
    "embedding_topk",
    "embedding_neardup",
    "embedding_hard_negatives",
    "dedup_minhash_lsh",            # band-local windows bounded
    "dedup_minhash_cross",
    "hierarchical_bars",
    "streaming_custom_source_vwap",  # settle() re-frame, bounded result
    "cumulative_volume_salted",     # segment-offset window over segment totals (tiny)
    "pareto_abc_parts",             # global running share over the PART-level rollup (bounded: #parts)
    "retrieval_rrf_fusion",         # rank windows run over the two LIMIT-pool
                                    # (≤20-row) ranked lists, never the corpus
    "quantile_normalized_values",   # global_rank's offsets window: ORDER BY _pid over
                                    # the per-partition counts frame — exactly n_part
                                    # rows (shuffle-partition count, SF-independent);
                                    # the fact-table windows are partitioned. Shape
                                    # pinned in tests/test_plan_shapes.py.
    "dedup_sorted_neighborhood",    # same global_rank offsets window (n_part rows);
                                    # the corpus-sized sort is range-partitioned.
    "dedup_snm_idf_keys",           # same global_rank offsets window (n_part rows);
                                    # the rarest-token election window is
                                    # doc-partitioned, the sort range-partitioned.
    "linkage_edit_distance",        # same global_rank offsets window (n_part rows,
                                    # SF-independent); the prefix-key sort is
                                    # range-partitioned, pairing is the bounded
                                    # SNM rank-block equi-join.
    "classifier_auc_roc",           # cumulative ROC window over the fixed 1024-bin
                                    # score histogram (SF-independent bound)
    "kruskal_wallis_values",        # global rank window over the distinct-value
                                    # relation (the KS/MWU shape) — modest at
                                    # catalog scale, documented in the docstring;
                                    # running_sum_salted is the web-scale drop-in.
    "survival_logrank_test",        # at-risk prefix window over the day-grid
                                    # relation (bounded by the observation
                                    # span, SF-independent — the KM discipline).
    "top_sources_with_other",       # rank window over the per-source rollup —
                                    # bounded by |sources| (20), SF-independent;
                                    # the fact scan ends at the first groupBy.
    "text_zipf_fit",                # global_rank offsets window (n_part rows,
                                    # SF-independent); the vocabulary ranking
                                    # itself is range-partitioned.
    "lr_gains_deciles",             # global_rank offsets window (n_part rows) +
                                    # cumulative window over the 10-row decile
                                    # relation — both SF-independent; the corpus
                                    # ranking itself is range-partitioned.
    "orders_backlog_weekly",        # cumulative window over the calendar-week
                                    # grid (~345 rows, bounded by the date SPAN,
                                    # SF-independent) — the fact table only ever
                                    # feeds the +1/-1 delta groupBy.
    "rfm_customer_segments",        # three global_rank offsets windows (n_part rows
                                    # each, SF-independent); the customer metrics and
                                    # all three rank sorts are range-partitioned.
    "skyline_pareto_parts",         # level-sweep window over the price-LEVEL
                                    # relation (bounded by the cents domain,
                                    # SF-independent); the fact table ends at
                                    # the groupBy(price) — operators/skyline.py
                                    # documents the bounded-domain contract.
}

# Streaming queries run the full settle() harness — linting their final
# (batch) result frame is meaningless; their plans are covered by the
# streaming tests.
SKIP = {name for name in ()}


# Final-schema discipline (r6 driver root-cause, 4 red rows): the
# grading driver's canonicalizer sorts RAW object columns and hashes
# reprs, so a DECIMAL final hash-mismatches on any trailing zero
# (Spark Decimal('874.865310') vs DuckDB float 874.86531) and an
# ARRAY/MAP/STRUCT final crashes it (`unhashable type: numpy.ndarray`).
# Finals must be scalar BIGINT/DOUBLE/STRING — integer cents/micros for
# money, to_json strings for vectors. DECIMAL stays fine as an
# INTERMEDIATE (order-free exact accumulation) — this gate only checks
# the result schema.
# Queries whose semantics genuinely consume EVERY column of a wide
# (>=5-column) table — the only legitimate full-width scans. Everything
# else must let Catalyst prune the parquet ReadSchema: at 100 TB a scan
# that reads 11 lineitem columns for a 2-column aggregate is a 5x I/O
# regression the small tiers never surface. (This check caught
# salted_join hashing ALL fact columns for its salt, round 8.)
FULL_WIDTH_SCAN_ALLOW = {
    "trade_ticks",  # projects event_id/ts/user_id/event_type/value/props — all 6
}

# Full table widths at the lint tier, read once (avoids re-reading
# parquet footers per query).
_TABLE_WIDTHS: dict[str, int] = {}


def _table_widths() -> dict[str, int]:
    if not _TABLE_WIDTHS:
        import pyarrow.parquet as pq

        from stock_streaming_data_pipeline_spark.tables import duck_glob
        import glob as _glob

        for t in (
            "region nation customer supplier part orders lineitem "
            "events documents embeddings"
        ).split():
            path = sorted(_glob.glob(duck_glob(SF_DIR, t)) or [f"{SF_DIR}/{t}.parquet"])[0]
            _TABLE_WIDTHS[t] = len(pq.read_schema(path).names)
    return _TABLE_WIDTHS


def _count_top_level_fields(struct_body: str) -> int:
    """Top-level field count of a `struct<...>` body (commas at nesting
    depth 0 only — array<float>/struct<...> members don't split)."""
    if not struct_body.strip():
        return 0
    depth, n = 0, 1
    for ch in struct_body:
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        elif ch == "," and depth == 0:
            n += 1
    return n


def full_width_scans(executed_plan: str) -> list[str]:
    """FileScan nodes that read EVERY column of a >=5-column table —
    i.e. scans where Catalyst found nothing to prune. Narrow dims
    (region/nation/supplier-width) are exempt: reading all of a 2-4
    column table is usually the query's actual need and never the
    I/O bottleneck.

    Width comes from `ReadSchema: struct<...>` — NOT the bracketed
    attribute list, which Spark truncates to maxToStringFields with
    '... N more fields' (a silent false negative on exactly the
    wide-scan case this lint targets — ADVICE r8). The table name comes
    from the Location path's last segment, so both single-file
    `<table>.parquet` and directory layouts match. Any FileScan this
    parser CANNOT account for is itself a finding: layout drift must
    fail loudly, not bypass the lint."""
    import re

    widths = _table_widths()
    hits = []
    for line in executed_plan.splitlines():
        if "FileScan parquet" not in line:
            continue
        mloc = re.search(r"Location: \w+\([^)]*\)\[([^\]]*)\]", line)
        mschema = re.search(r"ReadSchema: struct<(.*)>\s*$", line)
        if not mloc or not mschema:
            hits.append(
                "UNPARSEABLE FileScan (lint would be blind — raise "
                "maxMetadataStringLength or fix the parser): "
                + line.strip()[:200]
            )
            continue
        body = mschema.group(1)
        if "more fields" in body or body.endswith("..."):
            hits.append(
                "TRUNCATED ReadSchema (raise spark.sql.maxMetadataStringLength "
                "before rendering the plan): " + line.strip()[:200]
            )
            continue
        first_path = mloc.group(1).split(",")[0].strip()
        table = first_path.rstrip("/").rsplit("/", 1)[-1].removesuffix(".parquet")
        n_cols = _count_top_level_fields(body)
        if table in widths and widths[table] >= 5 and n_cols >= widths[table]:
            hits.append(f"{table} ({n_cols}/{widths[table]} columns)")
    return hits


# Nondeterministic value expressions. `rand`/`randn` with a seed are
# still retry-hazardous: the draw depends on partition id + row order
# within the partition, both of which change when an upstream stage is
# recomputed after a shuffle-fetch failure. (`shuffle` is the array
# permutation function; `uuid` is per-row random.)
_NONDET_RE = None


def _nondet_re():
    global _NONDET_RE
    if _NONDET_RE is None:
        import re

        _NONDET_RE = re.compile(
            r"\b(monotonically_increasing_id|rand|randn|uuid|shuffle)\("
        )
    return _NONDET_RE


def _split_top_level(s: str) -> list[str]:
    """Split a plan-node field list on commas at bracket depth 0."""
    out, depth, cur = [], 0, []
    for ch in s:
        if ch in "<([":
            depth += 1
        elif ch in ">)]":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def nondet_shuffle_keys(executed_plan: str) -> list[str]:
    """Shuffle-partitioning args or hash-join keys that derive from a
    nondeterministic expression (monotonically_increasing_id / rand /
    uuid / array shuffle) — the SPARK-23207 retry-hazard class: when a
    task is recomputed after a shuffle-fetch failure the expression
    re-evaluates differently, so the same logical row lands in a
    DIFFERENT shuffle partition than its first attempt and join rows
    duplicate or vanish. Routine at 100 TB where fetch failures are
    expected; undetectable at test scale (retries don't happen on a
    healthy local[32]) — hence a static plan rule, not a test.

    Detection: taint every attribute aliased from a nondeterministic
    expression in any Project/Aggregate field (`... rand(42) ... AS
    x#12L`), propagate taint through re-aliasing, then flag any
    `Exchange hashpartitioning(...)` arg list or SortMergeJoin /
    ShuffledHashJoin / BroadcastHashJoin key list containing either a
    tainted attribute or a nondeterministic call directly. Round-robin
    `Exchange roundrobinpartitioning` is exempt: Spark already guards it
    with a local sort for retry determinism (SPARK-23207's own fix)."""
    import re

    nondet = _nondet_re()
    alias_re = re.compile(r" AS (\w+#\d+L?)\b")
    lines = executed_plan.splitlines()

    def _contains_attr(text: str, ids: set[str]) -> bool:
        # Boundary-aware: tainted `x#1` must NOT match `x#12` / `x#102`
        # (substring containment spuriously fails the lint once
        # attribute ids collide as prefixes).
        return any(
            re.search(re.escape(t) + r"(?![0-9A-Za-z])", text) for t in ids
        )

    # Pass 1+fixpoint: collect tainted attribute ids from alias sites.
    tainted: set[str] = set()
    node_re = re.compile(r"(?:Project|HashAggregate|Aggregate|Expand|Generate|Window)\b.*?\[(.*)\]")
    field_lists: list[list[str]] = []
    for line in lines:
        m = node_re.search(line)
        if m:
            field_lists.append(_split_top_level(m.group(1)))
    changed = True
    while changed:
        changed = False
        for fields in field_lists:
            for fld in fields:
                am = alias_re.search(fld)
                if not am or am.group(1) in tainted:
                    continue
                expr = fld[: am.start()]
                if nondet.search(expr) or _contains_attr(expr, tainted):
                    tainted.add(am.group(1))
                    changed = True

    hits: list[str] = []
    key_sites = (
        ("Exchange hashpartitioning", re.compile(r"hashpartitioning\((.*)\)")),
        ("SortMergeJoin", re.compile(r"SortMergeJoin(?:\(\w+\))? \[([^\]]*)\], \[([^\]]*)\]")),
        ("ShuffledHashJoin", re.compile(r"ShuffledHashJoin \[([^\]]*)\], \[([^\]]*)\]")),
        ("BroadcastHashJoin", re.compile(r"BroadcastHashJoin \[([^\]]*)\], \[([^\]]*)\]")),
    )
    for line in lines:
        for label, rx in key_sites:
            if label not in line:
                continue
            m = rx.search(line)
            if not m:
                continue
            keys = ", ".join(g for g in m.groups() if g)
            if nondet.search(keys) or _contains_attr(keys, tainted):
                hits.append(f"{label} keyed by nondeterministic expression: "
                            f"{line.strip()[:160]}")
    return hits


def fragile_final_columns(df) -> list[str]:
    from pyspark.sql import types as T

    bad = []
    for f in df.schema.fields:
        if isinstance(f.dataType, (T.DecimalType, T.ArrayType, T.MapType, T.StructType)):
            bad.append(f"{f.name}: {f.dataType.simpleString()}")
    return bad


def lint_one(spark, name, build) -> list[str]:
    # Plan-string fidelity: metadata strings (Location, ReadSchema)
    # truncate at spark.sql.maxMetadataStringLength (default 100 chars —
    # an 11-column ReadSchema doesn't fit) and attribute lists at
    # maxToStringFields; both read at toString time, so set here.
    spark.conf.set("spark.sql.maxMetadataStringLength", "10000")
    spark.conf.set("spark.sql.debug.maxToStringFields", "200")
    findings: list[str] = []
    try:
        df = build(spark, SF_DIR)
    except Exception as e:  # pragma: no cover
        return [f"{name}: build failed: {e}"]
    for col in fragile_final_columns(df):
        findings.append(
            f"{name}: driver-fragile final column {col} — emit scalar "
            "BIGINT/DOUBLE/STRING finals (to_json for arrays, integer "
            "cents/micros for money)"
        )
    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    analyzed = qe.analyzed().treeString()

    for rel in broadcast_hint_violations(analyzed):
        findings.append(f"{name}: broadcast hint over SF-scaled relation: {rel}")
    if "CartesianProduct" in plan:
        findings.append(f"{name}: CartesianProduct in physical plan")
    if name not in FULL_WIDTH_SCAN_ALLOW:
        for hit in full_width_scans(plan):
            findings.append(
                f"{name}: unpruned full-width parquet scan of {hit} — "
                "project the needed columns (or allowlist if the query "
                "genuinely consumes the whole row)"
            )
    if "BatchEvalPython" in plan:
        findings.append(f"{name}: row-at-a-time Python UDF (BatchEvalPython)")
    for hit in nondet_shuffle_keys(plan):
        findings.append(f"{name}: {hit}")
    if (
        "Window" in plan
        and "Window [" in plan
        and name not in UNPARTITIONED_WINDOW_ALLOW
    ):
        # detect a window whose partition spec is empty: Spark prints
        # 'windowspecdefinition(<order>, specifiedwindowframe...' with no
        # partition columns before the ordering when partitionBy is empty
        import re

        for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
            spec = m.group(1)
            if spec.strip().startswith(("cast", "_w", "ROWS", "RANGE")):
                continue
            # heuristic: partition exprs come before any ASC/DESC marker;
            # empty partition spec => first token already has ASC/DESC
            first = spec.split(",")[0]
            if " ASC" in first or " DESC" in first:
                findings.append(f"{name}: unpartitioned window")
                break
    return findings


def main(argv: list[str]) -> int:
    from stock_streaming_data_pipeline_spark.plans import catalog
    from stock_streaming_data_pipeline_spark.session import get_spark

    spark = get_spark("plan-lint", extra_conf={"spark.sql.shuffle.partitions": "8"})
    wanted = set(argv) or None
    cat = catalog.catalog()
    all_findings: list[str] = []
    n = 0
    for name, q in sorted(cat.items()):
        if wanted and name not in wanted:
            continue
        if name.startswith("streaming_") or name in SKIP:
            continue  # settle() already ran a live query; lint batch only
        n += 1
        all_findings += lint_one(spark, name, q.build)
    for f in all_findings:
        print("LINT", f)
    print(f"linted {n} queries, {len(all_findings)} findings")
    return 1 if all_findings else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
