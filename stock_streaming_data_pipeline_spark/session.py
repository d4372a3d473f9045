"""SparkSession factory with scale-aware defaults.

The reference pins ``spark.sql.shuffle.partitions=2`` for its toy cluster
(reference: scripts/StreamProcessing/ProcessStockStream.py:48). We instead
rely on AQE (adaptive re-plan, partition coalescing, skew-join splitting) so
the same code runs on local[32] test boxes and on a 1000-executor cluster:
AQE coalesces the initial shuffle partitioning down at small scale and the
initial number is sized up for large scale via SPARK_GRAFT_CPUS / explicit
config rather than hardcoded.

JIT rule: a JVM that ``get_spark`` launches compiles at C2 (tier 4) only
code that runs about 3x as often as JDK 17's defaults require. Catalyst
plans every catalog query and every micro-batch again, so planner code
runs a few thousand times per session: hot enough for default C2, not hot
enough to repay it. Measured on a 4-core host (JDK 17.0.20), C2 spent
2.7-3.0 of the 6.7-7.3 JVM CPU-seconds of a warm catalog pass, mostly on
first compiles of ``catalyst.*`` and ``scala.collection.*`` methods, and
1.1-1.5 of 5.1-5.4 with these thresholds. Execution loops and
Janino-generated classes still reach C2. Lower tiers cost more: C1 only
(``-XX:TieredStopAtLevel=1``) made the relational passes about 50%
slower. A caller's own ``-XX:Tier4*`` in ``spark.driver.extraJavaOptions``
wins, and a running JVM (``configure_session``) keeps its own flags.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

from stock_streaming_data_pipeline_spark import jvm_archive

# Configs that matter at 100 TB and are safe at test scale. Notes:
# - AQE subsumes hand-tuned shuffle partition counts and handles skewed
#   join keys (salting is still applied in operators that self-join on
#   content-derived keys, e.g. dedup shingles).
# - Arrow makes every pandas interchange (createDataFrame, applyInPandas,
#   pandas_udf) batched instead of row-at-a-time pickling.
# - UTC session timezone pins timestamp semantics to the storage value so
#   results are reproducible regardless of host TZ (and match DuckDB).
_BASE_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    # Split sizing: the local bench tiers are SMALL compressed files with
    # text/vector-dense per-row compute — a 128 MiB split (the cluster
    # default) would put an entire tier's scan+map stage on ONE of the 32
    # cores. 8 MiB splits keep scan stages parallel on multi-file /
    # multi-row-group inputs (the default 4 MiB per-file open cost stops
    # tiny files from packing back into one split) while adding at most
    # one empty byte range on the single-file single-row-group driver
    # testdata — measured ≤1% on the sf0.1 bench vs 128 MiB. At petabyte
    # scale with many large files, raise this toward the 128 MiB default
    # through get_spark(extra_conf=...) — the rule is
    # compressed-bytes-per-core-second of downstream compute, not a
    # universal constant.
    "spark.sql.files.maxPartitionBytes": "8388608",
    "spark.streaming.stopGracefullyOnShutdown": "true",
    "spark.ui.enabled": "false",
    # The engine runs hundreds of distinct queries per session (catalog
    # sweeps, the 17-query bench, the driver's 50-query sample); the
    # default 100-entry generated-class cache thrashes between passes, so
    # every pass of a wide-codegen query (the 65-column LR dense build,
    # the 64-min minhash aggregate) pays Janino+JIT again — measured
    # ~0.5-1.2 s per recompiled unit. 2000 entries keeps a full sweep's
    # classes resident for a few hundred MB of metaspace at worst. Static
    # conf: applies when the JVM session is built (configure_session
    # cannot flip it on a live driver session; its try/except skips it).
    "spark.sql.codegen.cache.maxEntries": "2000",
}

# Streaming commit path of a local (one-host) session. Every micro-batch
# commits an offset-log and a commit-log entry per query, plus state-store
# deltas per stateful operator; these two defaults make those commits cheap.
# Both keys are Spark-internal, so tests/test_streaming_commit.py pins that
# this Spark build still honours them.
# - The FileSystem-based checkpoint manager: Spark's default FileContext
#   manager renames each temp file through AbstractFileSystem.rename, which
#   on a file: URI forks a `readlink` process (it always fails on the URI)
#   for every log entry, state delta and .crc file. On the local FS that
#   rename is check-then-act anyway, so FileContext buys no atomicity here.
#   Measured on the fan-out (4-core host): processes forked per warm drain
#   round 1,894 -> 372.
# - One state store per stateful operator: each store costs a commit per
#   batch whatever it holds, and the fan-out's stateful queries already
#   run concurrently and fill the cores (4-core host, fan-out drain against
#   the same drain on local[1]: 1.38x with 4 stores per query, 2.19x with
#   1). Batch shuffles keep spark.sql.shuffle.partitions. A restarted query keeps the count its
#   checkpoint was started with (Spark restores it from the offset log);
#   callers who want another count pass the conf through
#   ``get_spark(extra_conf=...)``.
_LOCAL_STREAMING_CONF: dict[str, str] = {
    "spark.sql.streaming.checkpointFileManagerClass": (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    ),
    "spark.sql.streaming.internal.stateStore.partitions": "1",
}

# C2 thresholds at 3x JDK 17's (5000/600/15000/40000): planner code stays in C1.
_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=15000 -XX:Tier4MinInvocationThreshold=1800 "
    "-XX:Tier4CompileThreshold=45000 -XX:Tier4BackEdgeThreshold=120000"
)


# Spark's own master patterns for in-driver executors (SparkMasterRegex's
# LOCAL_N_REGEX and LOCAL_N_FAILURES_REGEX, plus bare ``local``).
_IN_DRIVER_MASTER = re.compile(r"local(\[(\d+|\*)(\s*,\s*\d+)?\])?")


def _executors_in_driver(master: str) -> bool:
    """True when ``master`` runs its executors inside the driver JVM.
    ``local-cluster[...]`` is False: its executors are separate JVMs."""
    return _IN_DRIVER_MASTER.fullmatch(master.strip()) is not None


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 8)))


def _shuffle_partitions() -> str:
    """Initial shuffle partition count, sized to the advertised core count
    (SPARK_GRAFT_CPUS). AQE coalescing owns the effective number at small
    scale; at cluster scale raise SPARK_GRAFT_CPUS (or pass
    ``spark.sql.shuffle.partitions`` in ``get_spark``'s ``extra_conf``) so
    the initial number matches the executor fleet. Round-12 fix: the
    driver-handed path (``configure_session``) previously re-applied a
    hardcoded 32 from _BASE_CONF regardless of SPARK_GRAFT_CPUS,
    diverging from ``get_spark``'s sizing."""
    return str(default_parallelism())


def _driver_memory(meminfo: str = "/proc/meminfo") -> str:
    """Default ``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` if set,
    else half the host's RAM. In local mode the driver JVM is the only
    JVM, but it shares the host with the Python driver, the Python workers
    and the page cache, so a heap sized past physical RAM would let the
    JVM grow until the host kills it instead of collecting. 4g when
    ``meminfo`` is unreadable."""
    env = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if env:
        return env
    try:
        with open(meminfo) as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    kib = int(line.split()[1])
                    return f"{max(1024, kib // 2048)}m"
    except (OSError, ValueError, IndexError):
        pass
    return "4g"


def get_spark(
    app_name: str = "stock_streaming_data_pipeline_spark",
    *,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults. A
    launch of the gateway JVM starts it with the C2 thresholds of
    ``_JIT_OPTIONS`` (see the module docstring) and from the class-data
    archive that ``jvm_archive`` builds and validates. Both go into
    ``spark.driver.defaultJavaOptions``, ahead of the caller's own value
    and of ``spark.driver.extraJavaOptions``, so the caller's flags win.

    When the driver hands us an existing session (``__spark_entry__.entry``),
    we do NOT rebuild it — ``configure_session`` applies the runtime-settable
    subset instead.
    """
    cpus = default_parallelism()
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = {**_BASE_CONF, **_LOCAL_STREAMING_CONF}
    conf["spark.sql.shuffle.partitions"] = str(cpus)
    conf.setdefault("spark.driver.memory", _driver_memory())
    if extra_conf:
        conf.update(extra_conf)
    jvm_archive.prepend_java_options(conf, _JIT_OPTIONS)
    with jvm_archive.launching(conf):
        for k, v in conf.items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


# Subset of the engine defaults that can be flipped on a live session.
_RUNTIME_CONF = (
    "spark.sql.adaptive.enabled",
    "spark.sql.adaptive.coalescePartitions.enabled",
    "spark.sql.adaptive.skewJoin.enabled",
    "spark.sql.session.timeZone",
    "spark.sql.execution.arrow.pyspark.enabled",
    "spark.sql.parquet.filterPushdown",
    "spark.sql.files.maxPartitionBytes",
)


def configure_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine defaults to an externally-built session.

    ``spark.sql.shuffle.partitions`` is overwritten only when
    ``SPARK_GRAFT_CPUS`` is set: otherwise the handed-in session's value
    stays, since the driver host's core count says nothing about the
    executor fleet behind that session. The local streaming commit
    defaults apply only to a master whose executors run in the driver JVM
    (``local``, ``local[N]``, ``local[*]``, ``local[N,F]``; not
    ``local-cluster[...]``), and only where the caller has not set the
    key. The JVM flags ``get_spark`` launches with (the C2 thresholds and
    the class-data archive) are not applied: the handed-in session's JVM
    is already running, and its flags stay as its launcher set them."""
    for key in _RUNTIME_CONF:
        try:
            spark.conf.set(key, _BASE_CONF[key])
        except Exception:
            pass  # non-runtime-settable on this build; defaults are fine
    if _executors_in_driver(spark.conf.get("spark.master", "")):
        for key, value in _LOCAL_STREAMING_CONF.items():
            if spark.conf.get(key, None) is None:
                spark.conf.set(key, value)
    if "SPARK_GRAFT_CPUS" in os.environ:
        spark.conf.set("spark.sql.shuffle.partitions", _shuffle_partitions())
    return spark
