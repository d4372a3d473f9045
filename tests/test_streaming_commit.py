"""The local streaming commit path (session.py's streaming defaults).

Every micro-batch commits offset-log and commit-log entries, plus one
state-store delta per stateful operator and store. A local session routes
those commits through the FileSystem-based checkpoint manager (no process
forked per rename) and keeps one state store per stateful operator. Both
conf keys are Spark-internal, so these tests pin that this Spark build
still has them and honours them, and that a query restarted from an
existing checkpoint keeps the store count it was started with.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.session import (
    _LOCAL_STREAMING_CONF,
    configure_session,
)
from stock_streaming_data_pipeline_spark.sources.streams import stream_trades
from stock_streaming_data_pipeline_spark.sources.trades import (
    synthetic_trades,
    write_trades_dir,
)

STATE_PARTITIONS = "spark.sql.streaming.internal.stateStore.partitions"
MANAGER = "spark.sql.streaming.checkpointFileManagerClass"
FORKS_PER_BATCH_MAX = 100


def test_internal_conf_keys_exist(spark):
    """An upgrade that drops or renames either key would silently fall back
    to per-core state stores and forked renames; fail loudly instead. The
    keys are read back from the SQLConf entries Spark itself consults."""
    sqlconf = getattr(spark._jvm.org.apache.spark.sql.internal, "SQLConf$").__getattr__(
        "MODULE$"
    )
    assert sqlconf.STATEFUL_SHUFFLE_PARTITIONS_INTERNAL().key() == STATE_PARTITIONS
    # not a registered conf entry: CheckpointFileManager.create reads
    # its key straight from the Hadoop conf
    assert sqlconf.STREAMING_CHECKPOINT_FILE_MANAGER_CLASS().parent().key() == MANAGER
    for key in (STATE_PARTITIONS, MANAGER):
        assert spark.conf.get(key) == _LOCAL_STREAMING_CONF[key]


def test_configure_session_fills_only_unset_streaming_keys(spark):
    """A handed-in local session gets the streaming defaults where it has
    none, and keeps any value its caller chose."""
    handed = spark.newSession()
    handed.conf.unset(STATE_PARTITIONS)
    assert handed.conf.get(STATE_PARTITIONS, None) is None
    handed.conf.set(MANAGER, "org.example.CallerCheckpointFileManager")
    configure_session(handed)
    assert handed.conf.get(STATE_PARTITIONS) == _LOCAL_STREAMING_CONF[STATE_PARTITIONS]
    assert handed.conf.get(MANAGER) == "org.example.CallerCheckpointFileManager"


def test_local_checkpoint_manager_is_filesystem_based(spark, tmp_path):
    jvm = spark._jvm
    manager = jvm.org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
    fm = manager.create(
        jvm.org.apache.hadoop.fs.Path(str(tmp_path)),
        spark._jsparkSession.sessionState().newHadoopConf(),
    )
    assert fm.getClass().getSimpleName() == "FileSystemBasedCheckpointFileManager"


def _processes() -> int:
    with open("/proc/stat") as fh:
        for line in fh:
            if line.startswith("processes "):
                return int(line.split()[1])
    raise LookupError("no processes line in /proc/stat")


@pytest.mark.skipif(not os.path.exists("/proc/stat"), reason="needs /proc/stat")
def test_stateful_batch_fork_budget(spark, tmp_path):
    """A stateful micro-batch's commits fork (almost) no processes. With
    the FileContext manager every rename of a log entry, state delta or
    .crc file forked a `readlink` (hundreds per batch); what remains is
    Hadoop's `chmod` on new files when its native library is absent."""
    src = str(tmp_path / "src")
    write_trades_dir(spark, src, files=4, n_rows=6000)
    agg = (
        stream_trades(spark, src, max_files_per_trigger=1)
        .withWatermark("ts", "30 seconds")
        .groupBy(F.window("ts", "1 minute"), "symbol")
        .agg(F.sum("volume").alias("volume"))
    )

    def run(chk: str):
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(lambda df, _: df.write.format("noop").mode("overwrite").save())
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(300), "drain timed out"
        return q

    run(str(tmp_path / "warm"))  # compile and load the streaming classes
    before = _processes()
    q = run(str(tmp_path / "chk"))
    forks = _processes() - before
    batches = len(q.recentProgress)
    assert batches >= 4
    assert forks / batches <= FORKS_PER_BATCH_MAX, (forks, batches)


def _symbol_totals(session, src: str, chk: str):
    """Drain ``src`` through a keyed aggregation checkpointed at ``chk``;
    returns (the state-store count in progress, the final totals)."""
    agg = (
        stream_trades(session, src, max_files_per_trigger=1)
        .groupBy("symbol")
        .agg(
            F.sum(F.col("volume").cast("decimal(30,6)")).alias("volume"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    latest: dict[int, list] = {}
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(lambda df, epoch: latest.__setitem__(epoch, df.collect()))
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "drain timed out"
    parts = {
        op["numShufflePartitions"]
        for p in q.recentProgress
        for op in p["stateOperators"]
    }
    assert len(parts) == 1, parts
    rows = latest[max(latest)]
    return parts.pop(), sorted((r["symbol"], r["volume"], r["n"]) for r in rows)


def _append_trades(spark, src: str, start: str) -> None:
    synthetic_trades(spark, n_rows=1500, start=start, late_fraction=0.0).repartition(
        2
    ).write.mode("append").parquet(src)


@pytest.mark.parametrize("first,then", [(4, None), (1, 3)])
def test_restart_keeps_checkpointed_state_partitions(spark, tmp_path, first, then):
    """A stateful query started with ``first`` state stores and restarted
    from its checkpoint under another setting (``None``: the session
    default) keeps ``first`` stores, and its output equals an
    uninterrupted run over the same files."""
    src, chk = str(tmp_path / "src"), str(tmp_path / "chk")
    started = spark.newSession()
    started.conf.set(STATE_PARTITIONS, str(first))
    _append_trades(spark, src, "2024-01-01 00:00:00")
    assert _symbol_totals(started, src, chk)[0] == first

    _append_trades(spark, src, "2024-02-01 00:00:00")
    restarted = spark.newSession()
    if then is not None:
        restarted.conf.set(STATE_PARTITIONS, str(then))
    parts, resumed = _symbol_totals(restarted, src, chk)
    assert parts == first

    parts, whole = _symbol_totals(spark, src, str(tmp_path / "whole"))
    assert parts == int(_LOCAL_STREAMING_CONF[STATE_PARTITIONS])
    assert resumed == whole
    assert sum(n for _, _, n in whole) == 3000


class _StubConf:
    def __init__(self, master: str) -> None:
        self.values = {"spark.master": master}

    def get(self, key, default=None):
        return self.values.get(key, default)

    def set(self, key, value) -> None:
        self.values[key] = value


class _StubSession:
    def __init__(self, master: str) -> None:
        self.conf = _StubConf(master)


@pytest.mark.parametrize(
    "master, filled",
    [("local[4]", True), ("local-cluster[2,1,1024]", False), ("spark://h:7077", False)],
)
def test_streaming_defaults_only_for_executors_in_the_driver(master, filled):
    """configure_session fills the unset streaming keys on a master whose
    executors run in the driver JVM. ``local-cluster[...]`` runs them in
    separate JVMs, so it keeps Spark's per-partition state stores, as a
    real cluster does."""
    stub = _StubSession(master)
    configure_session(stub)
    for key, value in _LOCAL_STREAMING_CONF.items():
        assert stub.conf.get(key) == (value if filled else None), key
