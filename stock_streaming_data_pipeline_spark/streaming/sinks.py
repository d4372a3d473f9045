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
import time
from typing import NamedTuple
from urllib.parse import unquote, urlparse

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, MapType, StructField, StructType


def _jclass(spark: SparkSession, name: str):
    """The JVM class ``name`` by its fully qualified name, the one way
    this module reaches a JVM class. Building it sends no py4j command; a
    ``spark._jvm.org.…`` walk sends one per package segment, each a failed
    class lookup over the whole classpath."""
    return JavaClass(name, spark._jvm._gateway_client)


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for any Hadoop-supported URI (file://, s3a://…)."""
    hpath = _jclass(spark, "org.apache.hadoop.fs.Path")(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _local_fs_path(uri_or_path: str) -> str | None:
    """The local filesystem path when the sink lives on posix storage
    (bare paths and file: URIs), else None."""
    parsed = urlparse(uri_or_path)
    if parsed.scheme in ("", "file"):
        return parsed.path or uri_or_path
    return None


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
#     list, via create-exclusive. The primitive is Hadoop
#     `FileSystem.create(path, overwrite=false)`, which IS the portable
#     conditional-write surface: atomic create-no-overwrite on HDFS here,
#     and on S3A (Hadoop 3.4.1+, `fs.s3a.create.conditional.enabled`) a
#     conditional PUT with `If-None-Match: *` — so the same code path is
#     transactional on a real object store; only the jar/credentials are
#     absent from this build. On posix storage it is a hard link
#     (`_put_if_absent_posix`);
#   - a manifest also carries `schema`: the table's StructType JSON, the
#     union of its data and tombstone columns in the order and with the
#     nullability a `mergeSchema` read infers (every column nullable, as
#     Spark writes parquet; later commits' new columns appended, as
#     `StructType.merge` appends them: `_merge_types`). Readers
#     read with it and start no footer job. A manifest written before
#     manifests carried a schema is read through `mergeSchema`; the
#     table's next commit infers the schema that once and writes it;
#   - race rule: a committer that finds its version taken has lost to a
#     concurrent commit. An append re-reads the winner's manifest and
#     retries one version above it with the winner's files plus its own,
#     so it neither drops the winner's files nor republishes history a
#     compaction has collected (on HDFS, where a manifest's content lands
#     after its create, it waits up to `_TORN_WAIT_S` for that content
#     and counts a winner still torn as crashed). A compaction raises
#     instead: its files were resolved from a manifest that is no longer
#     the latest, so it publishes nothing, and its files stay invisible
#     garbage for the next compaction to delete. Pinned by
#     tests/test_scale_ops.py::test_concurrent_committers_never_lose_a_commit
#     and tests/test_sink_bookkeeping.py;
#   - readers resolve the highest committed manifest and read EXACTLY its
#     files: a crash between data-write and manifest-commit leaves the
#     previous manifest (and therefore the previous state) in force, and
#     uncommitted files are invisible garbage;
#   - compaction's visibility flip is ONE manifest commit: the instant
#     manifest N+1 (listing only the compacted files) is created, readers
#     switch from full history to compacted state — the physical deletes
#     that follow are pure garbage collection with no correctness role.
#
# On posix storage, listing the table and its manifests and reading a
# manifest are plain file I/O, so a commit sends the same number of py4j
# commands however many files the table holds.
#
# Single-writer discipline (one streaming query per sink path, compaction
# run between batches) — the same contract the reference's Cassandra
# writer has per partition key (ddl.cql:7,15).
# ---------------------------------------------------------------------------

_MANIFEST_RE = re.compile(r"manifest-(\d+)\.json$")
# how long a committer that lost a version race waits for the winner's
# manifest content to land before counting the winner as crashed
_TORN_WAIT_S = 10.0


def _manifest_dir(path: str) -> str:
    return path.rstrip("/") + "/_manifests"


def _read_text(spark: SparkSession, fs, hpath) -> str:
    """One small file's text through the Hadoop FS (no Spark job)."""
    stream = fs.open(hpath)
    try:
        return _jclass(spark, "org.apache.commons.io.IOUtils").toString(stream, "UTF-8")
    finally:
        stream.close()


def _manifest_doc(read, name: str):
    """Parse one manifest (``read(name)`` returns its text). Returns None
    when the file is empty or torn: create-exclusive reserves the version
    atomically, but on HDFS/S3A the CONTENT lands in a separate write, so
    a reader racing the commit (or surviving a writer crash between create
    and write) can observe an in-flight manifest — which is, by the
    protocol's own semantics, not yet committed."""
    try:
        raw = read(name)
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
    """(version, [file basenames], schema JSON or None) of the highest
    COMMITTED manifest — in-flight/torn manifests are skipped (the
    previous manifest stays in force, exactly the crash-window contract)
    — or None when the table predates the manifest protocol. The schema
    is None in a manifest written before manifests carried one."""
    mdir = _manifest_dir(path)
    local = _local_fs_path(mdir)
    if local is not None:
        try:
            names = os.listdir(local)
        except FileNotFoundError:
            return None

        def read(name: str) -> str:
            with open(os.path.join(local, name), encoding="utf-8") as fh:
                return fh.read()

    else:
        fs, hdir = _hadoop_fs(spark, mdir)
        if not fs.exists(hdir):
            return None
        names = [st.getPath().getName() for st in fs.listStatus(hdir)]
        hpath = _jclass(spark, "org.apache.hadoop.fs.Path")

        def read(name: str) -> str:
            return _read_text(spark, fs, hpath(f"{mdir}/{name}"))

    versions = ((int(m.group(1)), n) for n in names if (m := _MANIFEST_RE.match(n)))
    for version, name in sorted(versions, reverse=True):
        doc = _manifest_doc(read, name)
        if doc is not None:
            return version, doc["files"], doc.get("schema")
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


def _put_if_absent(spark: SparkSession, mdir: str, name: str, payload: bytes) -> bool:
    """Create ``mdir/name`` holding ``payload`` unless it exists, through
    each backend's own atomic conditional write: posix = temp-write + hard
    link (atomic name+content); HDFS = namenode-atomic
    ``create(overwrite=false)``; S3A (Hadoop 3.4.1+) = the same create
    call compiled to a conditional PUT with ``If-None-Match: *``."""
    local = _local_fs_path(mdir)
    if local is not None:
        os.makedirs(local, exist_ok=True)
        return _put_if_absent_posix(os.path.join(local, name), payload)
    fs, hdir = _hadoop_fs(spark, mdir)
    fs.mkdirs(hdir)
    try:
        out = fs.create(_jclass(spark, "org.apache.hadoop.fs.Path")(f"{mdir}/{name}"), False)
    except Exception:
        return False
    out.write(bytearray(payload))
    out.close()
    return True


def _written_schema(df: DataFrame) -> StructType:
    """The schema Spark reads back from the parquet files ``df`` writes:
    Spark writes every column nullable, nested fields included."""

    def nullable(t):
        if isinstance(t, StructType):
            return StructType(
                [StructField(f.name, nullable(f.dataType), True, f.metadata) for f in t.fields]
            )
        if isinstance(t, ArrayType):
            return ArrayType(nullable(t.elementType), True)
        if isinstance(t, MapType):
            return MapType(nullable(t.keyType), nullable(t.valueType), True)
        return t

    return nullable(df.schema)


def _merge_types(left, right, path: str):
    """``right`` merged into ``left`` by the rule Spark's ``StructType.merge``
    applies file by file in a ``mergeSchema`` read: struct fields matched
    by name and merged, ``right``'s new fields appended in their order,
    arrays and maps merged by element; any other pair must be equal."""
    if isinstance(left, StructType) and isinstance(right, StructType):
        theirs = {f.name: f for f in right.fields}
        fields = [
            StructField(
                f.name,
                _merge_types(f.dataType, theirs[f.name].dataType, path),
                f.nullable or theirs[f.name].nullable,
                f.metadata,
            )
            if f.name in theirs
            else f
            for f in left.fields
        ]
        ours = set(left.names)
        return StructType(fields + [f for f in right.fields if f.name not in ours])
    if isinstance(left, ArrayType) and isinstance(right, ArrayType):
        return ArrayType(
            _merge_types(left.elementType, right.elementType, path),
            left.containsNull or right.containsNull,
        )
    if isinstance(left, MapType) and isinstance(right, MapType):
        return MapType(
            _merge_types(left.keyType, right.keyType, path),
            _merge_types(left.valueType, right.valueType, path),
            left.valueContainsNull or right.valueContainsNull,
        )
    if left != right:
        raise ValueError(
            f"{path}: {left.simpleString()} in the table and {right.simpleString()} "
            "in this write; parquet schema merging cannot unify them"
        )
    return left


def _table_schema(spark: SparkSession, path: str, base, added: StructType | None):
    """The schema a manifest publishing ``base``'s files plus files of
    schema ``added`` carries: ``added`` merged into the base schema as a
    ``mergeSchema`` read merges it. A base manifest written before
    manifests carried a schema has its files' schema inferred once
    through ``mergeSchema``. None when ``added`` is unknown."""
    _, names, schema = base
    if added is None:
        return None
    if schema is None and not names:
        return added
    left = (
        StructType.fromJson(schema)
        if schema is not None
        else _read_committed(spark, path, base).schema
    )
    return _merge_types(left, added, path)


def _commit_manifest(
    spark: SparkSession,
    path: str,
    added: list[str],
    *,
    base=None,
    schema: StructType | None = None,
    replace: bool = False,
) -> int:
    """Publish the next numbered manifest: ``base``'s files plus
    ``added`` (``added`` alone when ``replace``), through
    ``_put_if_absent``, so concurrent committers cannot both win a
    version. Returns the version published.

    ``base`` is the committed manifest the caller built on, as
    ``_latest_manifest`` returns it (``(0, adopted files, None)`` for a
    table that predates the protocol); it is read here when None.
    ``schema`` is that of ``added``'s files; the manifest carries no
    schema when it is None.

    A lost version race follows the race rule in the section comment: an
    append re-reads the winner's manifest and retries above it; a
    ``replace`` (compaction) raises RuntimeError. Pinned under real thread
    contention by
    tests/test_scale_ops.py::test_concurrent_committers_never_lose_a_commit."""
    mdir = _manifest_dir(path)
    if base is None:
        base = _latest_manifest(spark, path) or (0, [], None)
    while True:
        version, files = base[0] + 1, set(added) if replace else {*base[1], *added}
        doc = {"version": version, "files": sorted(files)}
        table = schema if replace else _table_schema(spark, path, base, schema)
        if table is not None:
            doc["schema"] = table.jsonValue()
        payload = json.dumps(doc).encode("utf-8")
        if _put_if_absent(spark, mdir, f"manifest-{version:012d}.json", payload):
            return version
        if replace:
            raise RuntimeError(
                f"{path}: manifest {version} was published by a concurrent commit "
                f"while this compaction resolved manifest {base[0]}; nothing was "
                "published, and its files are garbage for the next compaction"
            )
        # on HDFS the winner's content lands after its create: wait for it,
        # and count a winner still torn after _TORN_WAIT_S as crashed (its
        # version stays skipped, as every reader skips it)
        deadline = time.monotonic() + _TORN_WAIT_S
        winner = _latest_manifest(spark, path)
        while (winner is None or winner[0] < version) and time.monotonic() < deadline:
            time.sleep(0.05)
            winner = _latest_manifest(spark, path)
        base = winner if winner and winner[0] >= version else (version, base[1], base[2])


def _list_data_files(spark: SparkSession, path: str) -> list[str]:
    """Basenames of the data files in the table directory (``_``- and
    ``.``-prefixed entries are Spark's and Hadoop's bookkeeping); none
    when it does not exist yet. One ``os.scandir`` on posix storage, so
    no py4j command per file."""
    local = _local_fs_path(path)
    if local is not None:
        try:
            with os.scandir(local) as entries:
                return [e.name for e in entries if e.name[0] not in "_." and e.is_file()]
        except FileNotFoundError:
            return []
    fs, hpath = _hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return []
    names = (f.getPath().getName() for f in fs.listStatus(hpath) if f.isFile())
    return [n for n in names if not n.startswith("_")]


def _committed(spark: SparkSession, path: str):
    """(version, [file basenames], schema JSON or None) a reader resolves:
    the latest committed manifest, or (back-compat for tables written
    before the protocol / by plain parquet appends) the raw directory
    listing with no schema."""
    return _latest_manifest(spark, path) or (0, _list_data_files(spark, path), None)


def _current_data_files(spark: SparkSession, path: str, committed=None) -> list[str]:
    """The paths of the files a reader must resolve (``committed``, as
    ``_committed`` returns it, read here when None)."""
    base = path.rstrip("/")
    return [f"{base}/{name}" for name in (committed or _committed(spark, path))[1]]


class _Append(NamedTuple):
    """What an epoch append knew before it wrote: the data files already
    in the table directory and the schema of the files it writes."""

    before: set[str]
    schema: StructType


def _commit_after_append(spark: SparkSession, path: str, pre: _Append) -> None:
    """Commit the manifest after a data append: new listing = previous
    committed set (or the pre-append listing when adopting a
    pre-manifest table) plus exactly the files this append created —
    never a blanket directory listing, which would resurrect invisible
    garbage left by crashed compactions."""
    added = [name for name in _list_data_files(spark, path) if name not in pre.before]
    base = _latest_manifest(spark, path) or (0, sorted(pre.before), None)
    _commit_manifest(spark, path, added, base=base, schema=pre.schema)


def _epoch_writer(path: str, project):
    """The foreachBatch body both sink writers share: stamp the projected
    batch with its epoch id, append it, then commit a manifest making
    exactly the new files visible atomically."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        spark = batch_df.sparkSession
        out = project(batch_df).withColumn("_epoch", F.lit(int(epoch_id)))
        pre = _Append(set(_list_data_files(spark, path)), _written_schema(out))
        out.write.mode("append").parquet(path)
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


def _read_committed(spark: SparkSession, path: str, committed=None) -> DataFrame:
    """Exactly the committed files (``committed``, as ``_committed``
    returns it, read here when None), pinned when the DataFrame is built,
    so a later append alongside it cannot drift into the plan.

    With the manifest's schema the read lists the table directory once
    and keeps the committed files by name; Spark drops the others before
    opening them. So it reads no parquet footer, sends no py4j command per
    file, and starts no listing job (Spark lists more than
    ``parallelPartitionDiscovery.threshold`` explicit paths, 32 by
    default, in a job). A table whose manifest predates the schema field
    is read file by file with ``mergeSchema``, because a tombstone file
    holds only the keys, ``_epoch`` and ``_deleted``."""
    committed = committed or _committed(spark, path)
    if committed[2] is None:
        return spark.read.option("mergeSchema", "true").parquet(
            *_current_data_files(spark, path, committed)
        )
    names = ", ".join(
        "'" + name.replace("\\", "\\\\").replace("'", "\\'") + "'"
        for name in committed[1]
    )
    listed = F.expr(f"_metadata.file_name IN ({names})") if names else F.lit(False)
    return spark.read.schema(StructType.fromJson(committed[2])).parquet(path).filter(listed)


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
       put-if-absent protocol). When a concurrent commit has taken the
       next version, the compaction raises RuntimeError here, publishing
       nothing: its files resolved a manifest that is no longer the
       latest;
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
    committed = _committed(spark, path)
    out = _resolve(_read_committed(spark, path, committed), key_cols).withColumn(
        "_epoch", F.lit(-1)
    )
    pre = set(_list_data_files(spark, path))
    out.write.mode("append").parquet(path)
    if _crash_before_manifest:
        # failpoint: die between writing the compacted files and the
        # manifest commit — readers must still resolve the OLD state
        return
    post = _list_data_files(spark, path)
    compacted = [name for name in post if name not in pre]
    _commit_manifest(
        spark, path, compacted, base=committed, schema=_written_schema(out), replace=True
    )
    if _crash_after_publish:
        # failpoint: die between the atomic visibility flip and the GC
        # deletes — readers must already resolve the compacted state
        return
    keep = set(compacted)
    fs, _ = _hadoop_fs(spark, path)
    hpath = _jclass(spark, "org.apache.hadoop.fs.Path")
    base = path.rstrip("/")
    for name in post:
        if name not in keep:
            fs.delete(hpath(f"{base}/{name}"), False)


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


def logged_files(spark: SparkSession, log_dir: str) -> list[str] | None:
    """The file URIs a Spark file log lists (the latest compact file plus
    the later batches), or None without a log: a file sink's
    ``<path>/_spark_metadata`` or a file source's ``sources/<n>`` in its
    query's checkpoint. Both store each file's absolute URI."""
    fs, log = _hadoop_fs(spark, log_dir)
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
    logged = logged_files(spark, path.rstrip("/") + "/_spark_metadata")
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
