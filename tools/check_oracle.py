"""Local replica of the driver's t2 differential-oracle check.

Runs every catalog query through Spark AND its DuckDB oracle on the same
parquet tables, then compares row count, column names, dtypes and exact
values (order-insensitive). Run this before committing a new query.

Usage:
    python tools/check_oracle.py                 # all queries @ sf0.01
    python tools/check_oracle.py --sf 0.001 q1_pricing_summary ...
"""

from __future__ import annotations

import argparse
import os
import sys
import time

import numpy as np
import pandas as pd

sys.path.insert(0, ".")

from stock_streaming_data_pipeline_spark.tables import duck_connection  # noqa: E402

# Queries whose ORACLE (never the Spark plan) is infeasible at the locally
# generated 10x tier (.scaletier/sf1) — the documented out-of-scope list
# the round-7 sweep kept in prose, now machine-readable. Applied only with
# --skip-oos: the Spark side still runs (proving the plan completes at
# scale) and the row records the skip reason in `err`, so the sweep
# artifact enumerates exactly what was not differentially compared and
# why. Everything here IS differentially green at sf0.001/0.01/0.1.
ORACLE_OUT_OF_SCOPE: dict[str, str] = {
    "linkage_edit_distance": (
        "oracle_oos: at the generated sf1 tier DuckDB grinds the ~385k-"
        "candidate levenshtein verify for >45 min (its rank-band join + "
        "per-pair Wagner-Fischer path runs effectively single-threaded "
        "here; a 10k-pair probe measured ~2.7k pairs/s, so the planner is "
        "materializing far more than the band), while the Spark plan "
        "completes in 58.7s; the query is differentially green at "
        "sf0.001/0.01 (hostile x2) and strict sf0.1"
    ),
    "linkage_fellegi_sunter": (
        "oracle_oos: the generated tier's 10x key density makes blocking "
        "~100x denser — the cross-engine diff materializes ~59M candidate "
        "pairs and exceeds host memory; the Spark plan completes (~3 min "
        "at sf1) and the query is differentially green at sf0.001-0.1"
    ),
}


# Cell types the driver's repr-sensitive canonicalizer breaks on: it
# sorts RAW object columns (ndarray/list/dict cells raise `unhashable
# type`) and hashes reprs (Decimal('874.865310') != float 874.86531 on
# any trailing zero). The round-6 replica coerced object columns to
# float first, so it structurally could not see this class — 4 red
# driver rows. normalize() is now byte-faithful: NO numeric coercion,
# and fragile cell types are a hard finding.
_FRAGILE_CELL_TYPES = (
    __import__("decimal").Decimal,
    np.ndarray,
    list,
    dict,
    tuple,
    set,
)


def fragile_cells(df: pd.DataFrame, side: str) -> list[str]:
    """Driver-fragility findings: any object column carrying Decimal /
    array / map cells would crash or repr-mismatch the driver's _canon
    even when values are numerically identical across engines."""
    problems: list[str] = []
    for c in df.columns:
        if df[c].dtype.kind != "O":
            continue
        for v in df[c]:
            if isinstance(v, _FRAGILE_CELL_TYPES):
                problems.append(
                    f"fragile[{c}] ({side}): {type(v).__name__} cell — "
                    "final schemas must be scalar BIGINT/DOUBLE/VARCHAR "
                    "(serialize arrays with to_json, money as integer "
                    "cents/micros)"
                )
                break
    return problems


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        kind = df[c].dtype.kind
        if kind in "iu":
            df[c] = df[c].astype("int64")
        elif kind == "f":
            df[c] = df[c].astype("float64")
        elif kind == "O":
            # driver-faithful: compare reprs, never coerce to float
            # (that would erase the Decimal-vs-float divergence the
            # driver trips on; dtype object-vs-float64 now surfaces as
            # a schema finding instead)
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort", na_position="last").reset_index(drop=True)


def compare(name: str, spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> list[str]:
    problems: list[str] = []
    problems += fragile_cells(spark_pdf, "spark")
    problems += fragile_cells(duck_pdf, "duck")
    if sorted(spark_pdf.columns) != sorted(duck_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} duck={sorted(duck_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(duck_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} duck={len(duck_pdf)}")
    s, d = normalize(spark_pdf), normalize(duck_pdf)
    for c in s.columns:
        if s[c].dtype != d[c].dtype:
            problems.append(f"dtype[{c}]: spark={s[c].dtype} duck={d[c].dtype}")
    if len(s) == len(d):
        for c in s.columns:
            a, b = s[c].to_numpy(), d[c].to_numpy()
            if a.dtype.kind == "f":
                eq = np.array_equal(a, b, equal_nan=True)
                if not eq:
                    both = ~(np.isnan(a) | np.isnan(b))
                    maxdiff = (
                        float(np.max(np.abs(a[both] - b[both]))) if both.any() else 0.0
                    )
                    nan_mismatch = int(np.sum(np.isnan(a) != np.isnan(b)))
                    problems.append(
                        f"values[{c}]: max abs diff={maxdiff:.3g}, nan mismatches={nan_mismatch}"
                    )
            else:
                if not (a == b).all():
                    bad = int(np.sum(a != b))
                    i = int(np.argmax(a != b))
                    problems.append(
                        f"values[{c}]: {bad} mismatches, first at row {i}: spark={a[i]!r} duck={b[i]!r}"
                    )
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*", help="query names (default: all)")
    ap.add_argument("--sf", default="0.01")
    ap.add_argument(
        "--dir",
        default=None,
        help="explicit table directory (overrides --sf) — e.g. the "
        "locally generated .scaletier/sf1 tier for 10x-scale "
        "data-dependent-error sweeps",
    )
    ap.add_argument(
        "--hostile",
        action="store_true",
        help="driver-like session: foreign timezone, stock confs — catches "
        "any query relying on get_spark's session tuning instead of the "
        "configure_session the driver contract applies",
    )
    ap.add_argument(
        "--json",
        default=None,
        help="write a driver-format correctness artifact (rows/schema/hash "
        "match booleans per query) to this path — the self-reported "
        "full-catalog record the driver's 50-query sample doesn't cover",
    )
    ap.add_argument(
        "--merge",
        action="store_true",
        help="with --json: update the named queries' rows in an existing "
        "artifact instead of overwriting it, so a new query can be added "
        "to the full-catalog record without a full re-run (the commit "
        "gate tests/test_self_check_current.py requires every registered "
        "query to have a row in the newest CORRECTNESS_SELF artifact)",
    )
    ap.add_argument(
        "--skip-oos",
        action="store_true",
        help="big-tier sweeps: for the documented ORACLE_OUT_OF_SCOPE "
        "names, run ONLY the Spark side (proving the plan completes) and "
        "record the machine-readable skip reason in `err` instead of "
        "attempting an oracle the host cannot hold",
    )
    args = ap.parse_args()
    sf_dir = args.dir or f"/root/testdata/sf{args.sf}"

    # The checker compares FULL query outputs by design (it toPandas()es
    # the Spark side already, bounded by spark.driver.maxResultSize), so
    # big-tier sweeps must not trip the production settle() memory-sink
    # cap when a 1M-event replay legitimately settles a fact-grained
    # differential result. Set HERE (the CLI entry), never at import:
    # the schema-gate and parity tests import this module for its
    # helpers, and an import-time setdefault leaked the raised cap into
    # the whole pytest session, silently disabling the production guard
    # (r8 commit 2a23ec9 leak class; pinned by
    # tests/test_streaming.py::test_check_oracle_import_does_not_raise_settle_cap).
    os.environ.setdefault("SPARK_GRAFT_SETTLE_MAX_ROWS", "5000000")

    import __spark_entry__ as entrymod

    if args.hostile:
        from pyspark.sql import SparkSession

        spark = (
            SparkSession.builder.master("local[8]")
            .appName("check_oracle_hostile")
            .config("spark.sql.session.timeZone", "America/New_York")
            .config("spark.ui.enabled", "false")
            .getOrCreate()
        )
    else:
        from stock_streaming_data_pipeline_spark.session import get_spark

        spark = get_spark("check_oracle")
    qs = entrymod.queries()
    names = args.names or sorted(qs)
    skipped_oos = set(ORACLE_OUT_OF_SCOPE) if args.skip_oos else set()
    oracles = entrymod.oracle_sql(
        sf_dir=sf_dir, names=[n for n in names if n not in skipped_oos]
    )
    con = duck_connection(sf_dir)

    failed = []
    report: dict[str, dict] = {}
    for name in names:
        if name not in qs:
            print(f"?? {name}: not in queries()")
            failed.append(name)
            continue
        rec = {
            "rows_match": None,
            "schema_match": None,
            "hash_match": None,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        report[name] = rec
        t0 = time.time()
        try:
            df = qs[name](spark, sf_dir)
            if name in skipped_oos:
                # prove the PLAN completes without materializing a
                # fact-grained result onto the driver (fellegi's sf1
                # output blows spark.driver.maxResultSize via toPandas)
                rec["spark_rows"] = df.count()
                rec["spark_sec"] = round(time.time() - t0, 2)
                rec["err"] = ORACLE_OUT_OF_SCOPE[name]
                print(
                    f"-- {name}: oracle out of scope at this tier "
                    f"(spark plan OK, rows={rec['spark_rows']}, "
                    f"{rec['spark_sec']:.1f}s)"
                )
                continue
            spark_pdf = df.toPandas()
        except Exception as e:
            print(f"!! {name}: SPARK ERROR {type(e).__name__}: {str(e)[:300]}")
            rec["err"] = f"spark: {type(e).__name__}"
            failed.append(name)
            continue
        t1 = time.time()
        rec["spark_rows"] = len(spark_pdf)
        rec["spark_sec"] = round(t1 - t0, 2)
        if name not in oracles:
            print(f"-- {name}: no oracle (rows={len(spark_pdf)}) spark={t1-t0:.1f}s")
            rec["err"] = "no_oracle"
            continue
        try:
            duck_pdf = con.execute(oracles[name]).df()
        except Exception as e:
            print(f"!! {name}: DUCKDB ERROR {type(e).__name__}: {str(e)[:300]}")
            rec["err"] = f"duckdb: {type(e).__name__}"
            failed.append(name)
            continue
        rec["oracle_rows"] = len(duck_pdf)
        rec["oracle_sec"] = round(time.time() - t1, 2)
        problems = compare(name, spark_pdf, duck_pdf)
        rec["rows_match"] = len(spark_pdf) == len(duck_pdf)
        rec["schema_match"] = not any(
            p.startswith(("columns differ", "dtype[")) for p in problems
        )
        rec["hash_match"] = not problems
        if problems:
            print(f"XX {name}: rows spark={len(spark_pdf)} duck={len(duck_pdf)} spark={t1-t0:.1f}s")
            for p in problems:
                print(f"     {p}")
            failed.append(name)
        else:
            print(f"ok {name}: {len(spark_pdf)} rows, spark={t1-t0:.1f}s duck={time.time()-t1:.1f}s")
    print(f"\n{len(names)-len(failed)}/{len(names)} passed")
    if args.json:
        import json

        if args.merge and os.path.exists(args.json):
            with open(args.json) as fh:
                merged = json.load(fh)
            merged.update(report)
            report = merged
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=2)
        print(f"wrote {args.json} ({len(report)} rows)")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
