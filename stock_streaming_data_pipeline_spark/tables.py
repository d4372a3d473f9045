"""Canonical testdata table loaders.

The driver materializes a TPC-H-ish star schema plus ``events`` (the batch
stand-in for the reference's trade stream — key=event_type/user_id,
event-time=ts, measure=value; see FIXTURES.md §5), ``documents`` and
``embeddings`` (LLM-data operators). One parquet file per table.

Every table read goes through ``read_parquet``. A schema-less
``spark.read.parquet`` launches a one-task footer-merge job on every call,
even for an unchanged file, so ``read_parquet`` keeps the inferred schema
in a small process-wide LRU cache and re-reads with it, which plans
without a job. The cache key is the absolute path, the file signature
(``(size, mtime_ns, inode)`` for a file; the sorted ``(relpath, size,
mtime_ns)`` listing for a directory of part files) and the session's
parquet confs that change inference (``_SCHEMA_CONFS``), so a rewritten
file or a flipped conf infers afresh. Each call still builds a new
relation with fresh attribute ids; only the inference job is skipped.
URIs with a scheme (``s3a://``, ``hdfs://``) are not cached: ``os.stat``
cannot sign them, a remote listing just to build the key would cost about
what it saves, and at that scale one footer job per load is noise.
"""

from __future__ import annotations

import os
import threading
from collections import OrderedDict
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES: tuple[str, ...] = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def duck_glob(sf_dir: str, name: str) -> str:
    """read_parquet pattern for a table: Spark reads a `<t>.parquet`
    directory of part files transparently, DuckDB needs the glob. The
    driver's testdata tables are single files; the locally generated
    .scaletier tiers are directories."""
    p = table_path(sf_dir, name)
    return os.path.join(p, "*.parquet") if os.path.isdir(p) else p


def duck_connection(sf_dir: str):
    """A fresh DuckDB connection with every table of ``sf_dir`` registered
    as a view of the same name: the one way the oracles read testdata.
    DuckDB keeps its own memory default (80% of RAM), so a runaway oracle
    fails with a DuckDB error instead of taking the host down."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{duck_glob(sf_dir, t)}')"
        )
    return con


def sql_double(x: float) -> str:
    """Exact DuckDB literal for a double. DuckDB types a plain decimal
    literal as DECIMAL, and its DECIMAL -> DOUBLE cast can land one ulp off
    the value ``repr`` wrote; a string cast parses the shortest repr back
    to the same bits."""
    return f"'{float(x)!r}'::DOUBLE"


def spark_round(x: float, s: int) -> float:
    """Python replay of Spark's ``F.round(x, s)`` on a double: HALF_UP at
    ``s`` decimals on the shortest decimal repr of ``x`` (what
    ``BigDecimal.valueOf`` reads), not on its binary value."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-s), ROUND_HALF_UP))


def values_sql(schema: str, rows) -> str:
    """A typed literal relation: ``schema`` is DDL-style ("a BIGINT, b
    DOUBLE, c VARCHAR", upper-case one-word types), ``rows`` are tuples in
    that column order. DOUBLE cells go through :func:`sql_double`, VARCHAR
    cells are quoted with their quotes doubled, every other type takes
    ``int(cell)``; None is NULL. Zero rows give an empty relation with the
    same names and types (an empty VALUES list does not parse)."""
    cols = [c.split() for c in schema.split(",")]
    names = ", ".join(n for n, _ in cols)

    def cell(v, typ: str) -> str:
        if v is None:
            return "NULL"
        if typ == "DOUBLE":
            return sql_double(v)
        if typ == "VARCHAR":
            return "'" + str(v).replace("'", "''") + "'"
        return str(int(v))

    rendered = [
        "(" + ", ".join(cell(v, t) for v, (_, t) in zip(r, cols)) + ")"
        for r in rows
    ]
    if not rendered:
        nulls = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        return f"SELECT {nulls} WHERE FALSE"
    select = ", ".join(f"CAST({n} AS {t}) AS {n}" for n, t in cols)
    body = ",\n".join(rendered)
    return f"SELECT {select}\nFROM (VALUES\n{body}\n) AS t({names})"


def _timestamp_read_confs(spark: SparkSession) -> None:
    """Pin timestamp semantics across testdata generations.

    The driver has shipped events.ts as parquet TIMESTAMP(NANOS) (round 1;
    Spark's vectorized reader only accepts it as a raw long) and as
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 2+, which Spark would
    otherwise infer as TIMESTAMP_NTZ). Both confs together normalize every
    generation to the same contract: a TimestampType instant whose
    ``unix_micros`` equals the stored value — exactly DuckDB's ``epoch_us``
    on the same file — so epoch arithmetic in the catalog is engine- and
    session-timezone-independent.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")


# Session confs that change what parquet schema inference returns.
# mergeSchema matters only for directories of part files.
_SCHEMA_CONFS: tuple[str, ...] = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)
_SCHEMA_CACHE_MAX = 128
_SCHEMA_CACHE: OrderedDict[tuple, StructType] = OrderedDict()
_SCHEMA_LOCK = threading.Lock()


def _file_signature(path: str) -> tuple | None:
    """What identifies this version of a local parquet table, or None if
    the path cannot be signed (a URI scheme, or nothing there)."""
    if urlparse(path).scheme:
        return None
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not os.path.isdir(path):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    entries = []
    for root, _dirs, files in os.walk(path):
        for f in files:
            full = os.path.join(root, f)
            try:
                fst = os.stat(full)
            except OSError:
                continue  # removed mid-walk; the listing still differs
            entries.append((os.path.relpath(full, path), fst.st_size, fst.st_mtime_ns))
    return tuple(sorted(entries))


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version and conf setting (see the module docstring)."""
    sig = _file_signature(path)
    if sig is None:
        return spark.read.parquet(path)
    key = (
        os.path.abspath(path),
        sig,
        tuple(str(spark.conf.get(c)).lower() for c in _SCHEMA_CONFS),
    )
    with _SCHEMA_LOCK:
        schema = _SCHEMA_CACHE.get(key)
        if schema is not None:
            _SCHEMA_CACHE.move_to_end(key)
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    with _SCHEMA_LOCK:
        _SCHEMA_CACHE[key] = df.schema
        while len(_SCHEMA_CACHE) > _SCHEMA_CACHE_MAX:
            _SCHEMA_CACHE.popitem(last=False)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; expected one of {TABLES}")
    _timestamp_read_confs(spark)
    df = read_parquet(spark, table_path(sf_dir, name))
    if name == "events":
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        if isinstance(df.schema["ts"].dataType, T.LongType):
            # TIMESTAMP(NANOS) generation: truncate to micros, the same
            # truncation DuckDB applies when it coerces NS to TIMESTAMP.
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def fan_out(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the session's default parallelism —
    ONLY when the upstream scan has fewer splits.

    Why: a single parquet file with one row group is one scan task; every
    CPU-heavy expression downstream (shingling, hashing, vector math) then
    runs single-threaded no matter how many cores the cluster has. A
    round-robin exchange of the (small) source rows unlocks full-width
    execution. At 100 TB the input has thousands of splits, so the guard
    makes this a no-op there — the exchange only ever pays for itself.

    The split count is estimated from the scan's file list + sizes
    (driver-side metadata only) rather than ``df.rdd.getNumPartitions()``
    — touching ``.rdd`` forces full physical planning of the upstream
    plan just to read a partition count. File-count short-circuit first,
    so at scale no per-file status calls happen either.
    """
    import math

    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) >= target:
        return df  # already at least one task per core
    if files:
        # spark.sql.files.maxPartitionBytes as Spark parsed it (any size
        # suffix)
        max_bytes = spark._jsparkSession.sessionState().conf().filesMaxPartitionBytes()
        jconf = spark._jsc.hadoopConfiguration()
        jvm = spark._jvm
        total = 0
        for f in files:
            p = jvm.org.apache.hadoop.fs.Path(f)
            total += p.getFileSystem(jconf).getFileStatus(p).getLen()
        splits = max(len(files), math.ceil(total / max_bytes))
        if splits >= target:
            return df  # big files split into enough tasks on their own
    return df.repartition(target)


def load_events_pruned(
    spark: SparkSession,
    sf_dir: str,
    *,
    start: str | None = None,
    end: str | None = None,
) -> DataFrame:
    """events with a time-range predicate that actually reaches the scan.

    Filters applied after a driver-side type conversion cannot push down.
    This helper filters the column in its STORED type first — parquet
    row-group pruning and PushedFilters both engage — then normalizes.
    For the TIMESTAMP(NANOS) generation that means raw nano-long bounds;
    for TIMESTAMP(MICROS) data the bounds are timezone-pinned epoch-micros
    literals. ``start`` is inclusive, ``end`` exclusive (UTC timestamps,
    e.g. '2024-01-10').
    """
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    _timestamp_read_confs(spark)
    df = read_parquet(spark, table_path(sf_dir, "events"))

    def micros(s: str) -> int:
        t = dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc)
        return int(t.timestamp() * 1_000_000)

    if isinstance(df.schema["ts"].dataType, T.LongType):
        if start is not None:
            df = df.filter(F.col("ts") >= F.lit(micros(start) * 1000))
        if end is not None:
            df = df.filter(F.col("ts") < F.lit(micros(end) * 1000))
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    # timestamp_micros(lit) builds the bound from an epoch integer, so the
    # predicate is the same instant regardless of session timezone.
    if start is not None:
        df = df.filter(F.col("ts") >= F.timestamp_micros(F.lit(micros(start))))
    if end is not None:
        df = df.filter(F.col("ts") < F.timestamp_micros(F.lit(micros(end))))
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (for the SQL surface)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
