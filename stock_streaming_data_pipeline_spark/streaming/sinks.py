"""Streaming sinks.

The reference fans out to Cassandra (keyed upsert via PK, ddl.cql:7,15),
Kafka (JSON key/value, ProcessStockStream.py:163-179) and a Hive-partitioned
file store (:181-191). Here:

- **Keyed upsert** → an LSM-style parquet sink: each micro-batch appends
  files stamped with the batch epoch and publishes them through an ATOMIC
  numbered-manifest commit (the Delta/Iceberg-log protocol — see the
  commit-manifest section below). Upserts and deletes share one write
  path: a delete is a keys-only tombstone row, as in Cassandra. Every
  read (current state, time travel, change feed) and the compaction go
  through one resolver, which picks each key's highest-epoch row over
  exactly the committed files and drops keys whose winner is a
  tombstone. This is Cassandra's upsert-resolved-at-read model, is
  idempotent under update-mode replays (same epoch overwrites), and at
  100 TB maps onto Delta/Iceberg MERGE or a periodic compaction job —
  the writer path (blind appends, no read-modify-write) is the part that
  must scale, and it does.
  Unlike the reference we do NOT swallow per-batch write errors
  (ProcessStockStream.py:74-75 silently breaks exactly-once; SURVEY §4).

- **Kafka-shaped sink** → the same ``(key, value)`` JSON projection the
  reference publishes, written to parquet when no broker is on the
  classpath; swap ``.format("kafka")`` in with zero plan changes.

- **Partitioned feature store** → parquet partitioned by
  year/month/day (+hour), the reference's CSV layout generalized columnar.
"""

from __future__ import annotations

import json
import os
import re
from urllib.parse import unquote, urlparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-supported URI (file://, s3a://…)."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


# ---------------------------------------------------------------------------
# Commit-manifest protocol (object-store-atomic publish)
#
# Appending parquet files is not atomic on object stores (a lister can see
# a torn multi-file write), and compaction's publish-then-delete window,
# while value-safe, left visibility timing to the filesystem. The sink
# therefore commits through numbered manifests, the same protocol as the
# Delta/Iceberg log:
#
#   - every commit writes its data files, then publishes
#     `_manifests/manifest-<version>.json` holding the COMPLETE data-file
#     list, via create-exclusive — losers of a version race retry at the
#     next number. The primitive is Hadoop `FileSystem.create(path,
#     overwrite=false)`, which IS the portable conditional-write surface:
#     atomic create-no-overwrite on HDFS/posix here, and on S3A (Hadoop
#     3.4.1+, `fs.s3a.create.conditional.enabled`) a conditional PUT with
#     `If-None-Match: *` — so the same code path is transactional on a
#     real object store; only the jar/credentials are absent in this
#     sandbox. The loser-retries contention behavior is pinned by
#     tests/test_scale_ops.py::test_concurrent_committers_never_lose_a_commit;
#   - readers resolve the highest committed manifest and read EXACTLY its
#     files: a crash between data-write and manifest-commit leaves the
#     previous manifest (and therefore the previous state) in force, and
#     uncommitted files are invisible garbage;
#   - compaction's visibility flip is ONE manifest commit: the instant
#     manifest N+1 (listing only the compacted files) is created, readers
#     switch from full history to compacted state — the physical deletes
#     that follow are pure garbage collection with no correctness role.
#
# Single-writer discipline (one streaming query per sink path, compaction
# run between batches) — the same contract the reference's Cassandra
# writer has per partition key (ddl.cql:7,15).
# ---------------------------------------------------------------------------

_MANIFEST_RE = re.compile(r"manifest-(\d+)\.json$")


def _manifest_dir(path: str) -> str:
    return path.rstrip("/") + "/_manifests"


def _read_text(spark: SparkSession, fs, hpath) -> str:
    """One small file's text through the Hadoop FS (no Spark job)."""
    stream = fs.open(hpath)
    try:
        return spark._jvm.org.apache.commons.io.IOUtils.toString(stream, "UTF-8")
    finally:
        stream.close()


def _read_manifest_doc(spark: SparkSession, fs, mfile: str):
    """Parse one manifest through the Hadoop FS stream (no Spark job for
    a tiny JSON — manifest reads happen once per micro-batch). Returns
    None when the file is empty or torn: create-exclusive reserves the
    version atomically, but on posix the CONTENT lands in a separate
    write, so a reader racing the commit (or surviving a writer crash
    between create and write) can observe an in-flight manifest — which
    is, by the protocol's own semantics, not yet committed."""
    try:
        raw = _read_text(spark, fs, spark._jvm.org.apache.hadoop.fs.Path(mfile))
    except Exception:
        # open/read failure on a listed manifest = in-flight or torn
        # (e.g. the checksummed local FS rejects a mid-write read, S3
        # returns 404 before the PUT completes) — not yet committed.
        return None
    try:
        doc = json.loads(raw)
    except ValueError:
        return None
    if not isinstance(doc, dict) or "files" not in doc:
        return None
    return doc


def _latest_manifest(spark: SparkSession, path: str):
    """(version, [file basenames]) of the highest COMMITTED manifest —
    in-flight/torn manifests are skipped (the previous manifest stays in
    force, exactly the crash-window contract) — or None when the table
    predates the manifest protocol."""
    fs, _ = _hadoop_fs(spark, path)
    jvm = spark._jvm
    mpath = jvm.org.apache.hadoop.fs.Path(_manifest_dir(path))
    if not fs.exists(mpath):
        return None
    entries = []
    for st in fs.listStatus(mpath):
        m = _MANIFEST_RE.match(st.getPath().getName())
        if m:
            entries.append((int(m.group(1)), st.getPath().toString()))
    for version, mfile in sorted(entries, reverse=True):
        doc = _read_manifest_doc(spark, fs, mfile)
        if doc is not None:
            return version, doc["files"]
    return None


def _local_fs_path(uri_or_path: str) -> str | None:
    """The local filesystem path when the sink lives on posix storage
    (bare paths and file: URIs), else None."""
    from urllib.parse import urlparse

    parsed = urlparse(uri_or_path)
    if parsed.scheme in ("", "file"):
        return parsed.path or uri_or_path
    return None


def _put_if_absent_posix(final: str, payload: bytes) -> bool:
    """True posix conditional-PUT: write a dot-prefixed temp file (the
    manifest regex never matches it), fsync, then hard-LINK it to the
    final name — link(2) fails with EEXIST when the name is taken, and
    the linked content is COMPLETE the instant the name appears, so on
    posix there is no torn-read window at all. This exists because
    Hadoop's LocalFileSystem ``create(overwrite=false)`` is
    check-then-act, NOT atomic — the concurrent-committer race test
    caught every racer winning the same version through it."""
    import uuid

    d = os.path.dirname(final)
    tmp = os.path.join(d, f".{os.path.basename(final)}.tmp-{uuid.uuid4().hex}")
    with open(tmp, "wb") as fh:
        fh.write(payload)
        fh.flush()
        os.fsync(fh.fileno())
    try:
        os.link(tmp, final)
        return True
    except FileExistsError:
        return False
    finally:
        os.unlink(tmp)


def _commit_manifest(
    spark: SparkSession, path: str, files: list[str], *, after: int | None = None
) -> int:
    """Publish the complete data-file list as the next numbered manifest
    via each backend's own atomic conditional-write primitive, so
    concurrent committers cannot both win a version (losers retry at the
    next number): posix = temp-write + hard link (atomic name+content);
    HDFS = namenode-atomic ``create(overwrite=false)``; S3A (Hadoop
    3.4.1+) = the same create call compiled to a conditional PUT with
    ``If-None-Match: *``. Pinned under real thread contention by
    tests/test_scale_ops.py::test_concurrent_committers_never_lose_a_commit.

    ``after`` is the committed version ``files`` builds on (0 for none)
    when the caller has already read it; otherwise it is read here."""
    fs, _ = _hadoop_fs(spark, path)
    jvm = spark._jvm
    mdir = jvm.org.apache.hadoop.fs.Path(_manifest_dir(path))
    fs.mkdirs(mdir)
    local_mdir = _local_fs_path(_manifest_dir(path))
    if after is None:
        latest = _latest_manifest(spark, path)
        after = latest[0] if latest else 0
    version = after + 1
    while True:
        doc = json.dumps({"version": version, "files": sorted(files)})
        if local_mdir is not None:
            final = os.path.join(local_mdir, f"manifest-{version:012d}.json")
            if _put_if_absent_posix(final, doc.encode("utf-8")):
                return version
            version += 1
            continue
        name = f"{_manifest_dir(path)}/manifest-{version:012d}.json"
        mpath = jvm.org.apache.hadoop.fs.Path(name)
        try:
            out = fs.create(mpath, False)
        except Exception:
            version += 1
            continue
        out.write(bytearray(doc.encode("utf-8")))
        out.close()
        return version


def _list_data_files(fs, hpath) -> list[str]:
    return [
        f.getPath().toString()
        for f in fs.listStatus(hpath)
        if f.isFile() and not f.getPath().getName().startswith("_")
    ]


def _current_data_files(spark: SparkSession, path: str) -> list[str]:
    """The files a reader must resolve: the latest committed manifest, or
    (back-compat for tables written before the protocol / by plain
    parquet appends) the raw directory listing."""
    latest = _latest_manifest(spark, path)
    if latest is not None:
        base = path.rstrip("/")
        return [f"{base}/{name}" for name in latest[1]]
    fs, hpath = _hadoop_fs(spark, path)
    return _list_data_files(fs, hpath)


def _commit_after_append(spark: SparkSession, path: str, pre: set[str]) -> None:
    """Commit the manifest after a data append: new listing = previous
    committed set (or the pre-append listing when adopting a
    pre-manifest table) plus exactly the files this append created —
    never a blanket directory listing, which would resurrect invisible
    garbage left by crashed compactions."""
    fs, hpath = _hadoop_fs(spark, path)
    post = _list_data_files(fs, hpath)
    added = [f.rsplit("/", 1)[-1] for f in post if f not in pre]
    adopted = [f.rsplit("/", 1)[-1] for f in sorted(pre)]
    after, base = _latest_manifest(spark, path) or (0, adopted)
    _commit_manifest(spark, path, list(base) + added, after=after)


def _epoch_writer(path: str, project):
    """The foreachBatch body both sink writers share: stamp the projected
    batch with its epoch id, append it, then commit a manifest making
    exactly the new files visible atomically."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        fs, hpath = _hadoop_fs(spark, path)
        pre = set(_list_data_files(fs, hpath)) if fs.exists(hpath) else set()
        (
            project(batch_df)
            .withColumn("_epoch", F.lit(int(epoch_id)))
            .write.mode("append")
            .parquet(path)
        )
        _commit_after_append(spark, path, pre)

    return write


def upsert_writer(path: str, key_cols: list[str]):
    """foreachBatch UPSERT writer: append the batch stamped with its epoch
    id, then commit a manifest making the new files visible atomically.

    Deterministic per epoch → replays after a failure rewrite the same
    logical rows, and the read-side last-write-wins keeps one winner.
    """
    return _epoch_writer(path, lambda df: df)


def tombstone_writer(path: str, key_cols: list[str]):
    """foreachBatch DELETE writer: append keys-only rows flagged
    ``_deleted`` at the batch epoch. Blind append like the upsert writer
    (no read-modify-write) — deletion is resolved at read, exactly
    Cassandra's tombstone model."""
    return _epoch_writer(
        path, lambda df: df.select(*key_cols, F.lit(True).alias("_deleted"))
    )


def _read_committed(spark: SparkSession, path: str) -> DataFrame:
    """Exactly the committed files, with ``mergeSchema`` because a
    tombstone file holds only the keys, ``_epoch`` and ``_deleted``. The
    file list is pinned when the DataFrame is built, so a later append
    alongside it cannot drift into the plan."""
    return spark.read.option("mergeSchema", "true").parquet(
        *_current_data_files(spark, path)
    )


def _resolve(
    df: DataFrame, key_cols: list[str], *extra_aggs, keep_deletes: bool = False
) -> DataFrame:
    """Last-write-wins per key: the row with the highest ``_epoch`` is
    picked as ONE struct (never column-by-column — per-column max_by
    would stitch values across rows when tombstones hold NULL value
    columns). Returns the keys, the winner's value columns, then
    ``extra_aggs`` (computed over the same groups); keys whose winner is
    a tombstone are dropped, or kept with a ``_deleted`` flag after the
    value columns when ``keep_deletes``."""
    flag = F.col("_deleted") if "_deleted" in df.columns else F.lit(None)
    df = df.withColumn("_deleted", F.coalesce(flag, F.lit(False)))
    values = [c for c in df.columns if c not in (*key_cols, "_epoch", "_deleted")]
    resolved = df.groupBy(*key_cols).agg(
        F.max_by(F.struct(*values, "_deleted"), "_epoch").alias("_w"), *extra_aggs
    )
    extras = [c for c in resolved.columns if c not in key_cols and c != "_w"]
    resolved = resolved.select(*key_cols, "_w.*", *extras)
    if keep_deletes:
        return resolved
    return resolved.filter(~F.col("_deleted")).drop("_deleted")


def read_upsert_table(spark: SparkSession, path: str, key_cols: list[str]) -> DataFrame:
    """Resolve the keyed-upsert sink to its current state: each live key's
    highest-epoch row, i.e. Cassandra-style last-write-wins with deletes.
    Reads exactly the latest manifest's files."""
    return _resolve(_read_committed(spark, path), key_cols)


def compact_upsert_table(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    *,
    _crash_before_manifest: bool = False,
    _crash_after_publish: bool = False,
) -> None:
    """Compaction for the LSM-style upsert sink: rewrite the resolved
    last-write-wins state as one new winning epoch, publish it with ONE
    atomic manifest commit, then garbage-collect the history files. This
    is the maintenance job that bounds read amplification at scale (the
    Delta/Iceberg analogue is OPTIMIZE / rewrite-data-files). Tombstoned
    keys are dropped physically: once the whole history collapses, no
    older value is left for a grave marker to hide.

    Crash-safe at every point, on object stores too:
    1. resolve the current manifest's files;
    2. append the resolved state stamped with epoch = -1 (files exist but
       are NOT visible — readers still resolve the old manifest);
    3. commit a manifest listing ONLY the compacted files — the atomic
       visibility flip (create-exclusive numbered manifest, the
       put-if-absent protocol);
    4. delete every data file the new manifest does not list (the old
       history plus any orphans from previously crashed compactions) —
       pure GC, invisible to readers whenever it runs or dies.
    A crash before (3) leaves the old state in force with some invisible
    garbage; a crash after (3) leaves the compacted state in force with
    undeleted garbage; both recover by simply compacting again. Epoch -1
    (below any real micro-batch id) keeps post-compaction values winning
    even when a fresh checkpoint restarts epochs at 0. Uses Hadoop
    FileSystem APIs, so the same code runs on file://, s3a://, hdfs://.
    """
    fs, hpath = _hadoop_fs(spark, path)
    resolved = _resolve(_read_committed(spark, path), key_cols)
    pre = set(_list_data_files(fs, hpath))
    resolved.withColumn("_epoch", F.lit(-1)).write.mode("append").parquet(path)
    if _crash_before_manifest:
        # failpoint: die between writing the compacted files and the
        # manifest commit — readers must still resolve the OLD state
        return
    post = _list_data_files(fs, hpath)
    compacted = [f.rsplit("/", 1)[-1] for f in post if f not in pre]
    _commit_manifest(spark, path, compacted)
    if _crash_after_publish:
        # failpoint: die between the atomic visibility flip and the GC
        # deletes — readers must already resolve the compacted state
        return
    keep = set(compacted)
    for f in post:
        if f.rsplit("/", 1)[-1] not in keep:
            fs.delete(spark._jvm.org.apache.hadoop.fs.Path(f), False)


def read_upsert_table_as_of(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    *,
    as_of_epoch: int,
) -> DataFrame:
    """Time travel on the LSM upsert sink: the last-write-wins state AS
    OF a past epoch — resolve only over rows stamped ≤ the cut, so a key
    deleted at or before the cut is absent and one deleted after it is
    not (the Delta ``VERSION AS OF`` read, for free from the epoch
    stamps; same retention contract as read_changes: compaction
    collapses history, so snapshots only resolve against epochs still
    present)."""
    df = _read_committed(spark, path).filter(F.col("_epoch") <= F.lit(as_of_epoch))
    return _resolve(df, key_cols)


def read_changes(
    spark: SparkSession,
    path: str,
    key_cols: list[str],
    *,
    since_epoch: int,
) -> DataFrame:
    """Change-data feed over the LSM upsert sink: the keys whose
    last-write-wins state changed AFTER ``since_epoch``, with the winning
    value, the commit epoch, and the change type — ``update`` when the
    key was live at the cut, ``insert`` when it was not, ``delete`` (with
    null values) when its winner is a tombstone and it was live at the
    cut; a key created and deleted after the cut is left out. The
    Delta/Iceberg changed-rows-since-version read, resolved from the same
    epoch stamps the writer already lays down. One partial-aggregated
    groupBy on the key; no extra state is ever written.

    Retention contract (same as Delta CDF after VACUUM): compaction
    collapses history into epoch −1, so a CDC cut only resolves against
    epochs still present in the table — take changes feeds BEFORE
    compacting past the cut.
    """
    cut = F.lit(since_epoch)
    # live at the cut: the winner among rows stamped <= cut is not a
    # tombstone (max_by skips the NULL orderings of later rows)
    at_cut = F.when(F.col("_epoch") <= cut, F.col("_epoch"))
    existed = F.coalesce(F.max_by(~F.col("_deleted"), at_cut), F.lit(False))
    changed = _resolve(
        _read_committed(spark, path),
        key_cols,
        F.max("_epoch").alias("_commit_epoch"),
        existed.alias("_existed"),
        keep_deletes=True,
    ).filter(
        (F.col("_commit_epoch") > cut) & (F.col("_existed") | ~F.col("_deleted"))
    )
    return changed.withColumn(
        "_change_type",
        F.when(F.col("_deleted"), F.lit("delete"))
        .when(F.col("_existed"), F.lit("update"))
        .otherwise(F.lit("insert")),
    ).drop("_existed", "_deleted")


# ---------------------------------------------------------------------------
# File sink (btc_features, feature_store)
#
# Spark's file sink commits each batch's files to `_spark_metadata/<batch>`
# (every tenth batch rewrites the whole list as `<batch>.compact`). Each
# entry stores the file's absolute URI at write time, so Spark's own reader
# of the directory fails once it is moved or copied.
# ---------------------------------------------------------------------------

_SINK_LOG_RE = re.compile(r"(\d+)(\.compact)?")


def _sink_log_files(spark: SparkSession, path: str) -> list[str] | None:
    """The URIs the sink log at ``path`` lists as committed (the latest
    compact file plus the later batches), or None without a log."""
    fs, _ = _hadoop_fs(spark, path)
    log = spark._jvm.org.apache.hadoop.fs.Path(path.rstrip("/") + "/_spark_metadata")
    if not fs.exists(log):
        return None
    batches = {}
    for st in fs.listStatus(log):
        m = _SINK_LOG_RE.fullmatch(st.getPath().getName())
        if m:
            batches[int(m.group(1))] = (bool(m.group(2)), st.getPath())
    first = max((b for b, (compact, _) in batches.items() if compact), default=0)
    files: dict[str, None] = {}
    for batch in sorted(b for b in batches if b >= first):
        # line 1 is the log version; then one JSON entry per file
        for line in _read_text(spark, fs, batches[batch][1]).splitlines()[1:]:
            entry = json.loads(line)
            if entry.get("action") == "delete":
                files.pop(entry["path"], None)
            else:
                files[entry["path"]] = None
    return list(files)


def read_file_sink(spark: SparkSession, path: str, schema: str) -> DataFrame:
    """Read a file sink's output directory wherever it lives now: exactly
    the files its log committed, each rebased from its logged location
    onto ``path`` (the file name below the partition directories named by
    ``schema``'s columns), with partitions discovered below ``path``.
    Without a log, the directory is read as plain parquet."""
    reader = spark.read.schema(schema)
    logged = _sink_log_files(spark, path)
    if logged is None:
        return reader.parquet(path)
    columns = set(StructType.fromDDL(schema).fieldNames())
    base = path.rstrip("/")
    files = []
    for uri in logged:
        parts = unquote(urlparse(uri).path).split("/")
        keep = 1  # the file name, then each partition directory above it
        while len(parts) > keep + 1:
            column, eq, _ = parts[-keep - 1].partition("=")
            if not (eq and column in columns):
                break
            keep += 1
        files.append("/".join([base, *parts[-keep:]]))
    return reader.option("basePath", base).parquet(*files)


def kafka_shaped(df: DataFrame, *, key: str, value_struct: list[str]) -> DataFrame:
    """Project to the Kafka message contract the reference publishes:
    ``key = symbol``, ``value = to_json(named_struct(...))``
    (ProcessStockStream.py:163-172)."""
    return df.select(
        F.col(key).cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in value_struct])).alias("value"),
    )


def with_date_partitions(df: DataFrame, ts: str = "timestamp") -> DataFrame:
    """Derive the Hive partition columns (ProcessStockStream.py:181-184)."""
    return (
        df.withColumn("year", F.year(ts))
        .withColumn("month", F.month(ts))
        .withColumn("day", F.dayofmonth(ts))
        .withColumn("hour", F.hour(ts))
    )
