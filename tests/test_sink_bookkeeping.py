"""Per-batch bookkeeping of the fan-out: what a progress event, an upsert
commit and an upsert read cost in py4j commands, the upsert sink's
version-race rule, and the manifest-schema read path.

A py4j command is one driver <-> JVM round trip. The guards count them at
``ClientServerConnection.send_command``; reference releases (the ``m d``
memory commands py4j's finalizer thread sends asynchronously) are left out.
"""

from __future__ import annotations

import ast
import collections
import datetime as dt
import json
import os
import shutil
import threading
from pathlib import Path

import pytest
from py4j.clientserver import ClientServerConnection
from py4j.java_gateway import JavaClass

from stock_streaming_data_pipeline_spark.streaming import sinks
from stock_streaming_data_pipeline_spark.streaming.monitor import ProgressCollector

PACKAGE = Path(__file__).resolve().parent.parent / "stock_streaming_data_pipeline_spark"
KEYS = ["symbol", "timestamp"]
T0 = dt.datetime(2024, 1, 2, 9, 30)


@pytest.fixture
def commands(monkeypatch):
    """Per-thread count of the py4j commands sent while the test runs."""
    counts: collections.Counter = collections.Counter()
    real = ClientServerConnection.send_command

    def counting(self, command, *args, **kwargs):
        if not command.startswith("m\nd\n"):
            counts[threading.get_ident()] += 1
        return real(self, command, *args, **kwargs)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    return counts


def _ticks(spark, rows):
    """(symbol, second offset, price) rows as a price_tracking batch."""
    return spark.createDataFrame(
        [(s, T0 + dt.timedelta(seconds=t), float(p), float(p) * 10) for s, t, p in rows],
        "symbol string, timestamp timestamp, price double, usd_volume double",
    )


def _deletes(spark, rows):
    return spark.createDataFrame(
        [(s, T0 + dt.timedelta(seconds=t)) for s, t in rows],
        "symbol string, timestamp timestamp",
    )


def _state(spark, path):
    return {
        (r["symbol"], r["timestamp"]): r["price"]
        for r in sinks.read_upsert_table(spark, path, KEYS).collect()
    }


def test_progress_event_costs_at_most_four_commands(spark, tmp_path, commands):
    """One progress event delivered to the collector through the Java
    listener that ``spark.streams.addListener`` registers costs at most
    four py4j commands, and records the same row as PySpark's own event
    object does."""
    from pyspark.sql.streaming.listener import QueryProgressEvent

    src = str(tmp_path / "src")
    spark.createDataFrame([(1, T0)], "k long, ts timestamp").write.parquet(src)
    q = (
        spark.readStream.schema("k long, ts timestamp").parquet(src)
        .withWatermark("ts", "1 second").groupBy("k").count()
        .writeStream.outputMode("update").format("noop")
        .option("checkpointLocation", str(tmp_path / "chk"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    event_cls = JavaClass(
        "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent",
        spark._jvm._gateway_client,
    )
    jevent = event_cls(q._jsq.lastProgress())

    collector = ProgressCollector()
    spark.streams.addListener(collector)
    try:
        jlistener = collector._jlistener
        me = threading.get_ident()
        commands.clear()
        jlistener.onQueryProgress(jevent)
        delivered = sum(n for t, n in commands.items() if t != me)
    finally:
        spark.streams.removeListener(collector)
    assert delivered <= 4, f"{delivered} py4j commands for one progress event"

    via_pyspark = ProgressCollector()
    via_pyspark.onQueryProgress(QueryProgressEvent.fromJObject(jevent))
    rows = collector.snapshot(spark).collect()
    assert rows == via_pyspark.snapshot(spark).collect()
    assert len(rows) == 1 and rows[0]["state_rows"] == 1 and rows[0]["watermark"]


def test_upsert_commit_and_read_commands_do_not_grow_with_the_table(
    spark, tmp_path, commands
):
    """An upsert commit, and building a read of the table, send the same
    number of py4j commands on a table of 2 data files as on one of 40."""
    me = threading.get_ident()
    cost = {}
    for n in (2, 40):
        path = str(tmp_path / f"t{n}")
        write = sinks.upsert_writer(path, KEYS)
        for e in range(n):
            write(_ticks(spark, [("A", e, e)]).coalesce(1), e)
        batch = _ticks(spark, [("B", 0, 1.5)]).coalesce(1)
        commands.clear()
        write(batch, n)
        commit = commands[me]
        sinks.read_upsert_table(spark, path, KEYS)  # PySpark's first-use lookups
        commands.clear()
        sinks.read_upsert_table(spark, path, KEYS)
        cost[n] = (commit, commands[me])
        assert len(sinks._latest_manifest(spark, path)[1]) == n + 1
    assert cost[2] == cost[40], cost


def test_sinks_reach_jvm_classes_through_one_helper():
    """sinks.py names JVM classes only through ``_jclass`` (no
    ``spark._jvm.org....`` package walk), and no streaming listener in the
    package is registered through PySpark's field-by-field event
    conversion: each one supplies its own ``_jlistener``."""
    tree = ast.parse((PACKAGE / "streaming" / "sinks.py").read_text())
    helper = next(
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_jclass"
    )
    walks = [
        n.lineno
        for n in ast.walk(tree)
        if isinstance(n, ast.Attribute)
        and n.attr == "_jvm"
        and not helper.lineno <= n.lineno <= helper.end_lineno
    ]
    assert walks == [], f"sinks.py reaches spark._jvm outside _jclass at lines {walks}"

    bare = []
    for py in sorted(PACKAGE.rglob("*.py")):
        for node in ast.walk(ast.parse(py.read_text())):
            if not isinstance(node, ast.ClassDef):
                continue
            bases = {getattr(b, "id", getattr(b, "attr", None)) for b in node.bases}
            defined = {getattr(b, "name", None) for b in node.body}
            if "StreamingQueryListener" in bases and "_jlistener" not in defined:
                bare.append(f"{py.relative_to(PACKAGE)}::{node.name}")
    assert bare == []


def _seed(spark, path):
    write = sinks.upsert_writer(path, KEYS)
    write(_ticks(spark, [("A", 0, 1), ("B", 0, 2), ("C", 0, 3)]), 0)
    write(_ticks(spark, [("A", 0, 4)]), 1)


def _race(monkeypatch, first: str):
    """Gate the manifest publishes of a compaction and an append racing
    on one version. The compaction thread (named ``compaction``) is held
    at its publish until the append is ready: until the append has
    returned, or, when ``first`` is ``"compaction"``, until the append
    thread (named ``append``) reaches its own publish, which is then
    held until the compaction has finished. Returns ``run(name, fn)``,
    which records each side's error and releases the other, the event
    set once the compaction is held, and the errors."""
    real = sinks._put_if_absent_posix
    c_ready, a_ready, c_done = threading.Event(), threading.Event(), threading.Event()

    def gated(final, payload):
        name = threading.current_thread().name
        if name == "compaction" and not c_ready.is_set():
            c_ready.set()
            assert a_ready.wait(120)
        elif name == "append" and first == "compaction" and not a_ready.is_set():
            a_ready.set()
            assert c_done.wait(120)
        return real(final, payload)

    monkeypatch.setattr(sinks, "_put_if_absent_posix", gated)
    errors = {}

    def run(name, fn):
        try:
            fn()
        except Exception as e:  # noqa: BLE001
            errors[name] = e
        finally:
            if name == "compaction":
                c_done.set()
            else:
                a_ready.set()

    return run, c_ready, errors


def test_append_that_loses_to_compaction_keeps_every_row(spark, tmp_path, monkeypatch):
    """The compaction publishes while an append, written after the
    compaction listed the directory, waits to publish on the manifest
    before it: the append publishes the compacted files plus its own,
    never the history the compaction has deleted."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    run, c_ready, errors = _race(monkeypatch, "compaction")
    compaction = threading.Thread(
        target=run, args=("compaction", lambda: sinks.compact_upsert_table(spark, path, KEYS)),
        name="compaction",
    )
    append = threading.Thread(
        target=run,
        args=("append", lambda: sinks.upsert_writer(path, KEYS)(
            _ticks(spark, [("B", 0, 5), ("D", 0, 6)]), 2
        )),
        name="append",
    )
    compaction.start()
    assert c_ready.wait(120)
    append.start()
    for t in (compaction, append):
        t.join(240)
        assert not t.is_alive()
    assert errors == {}
    t = T0
    assert _state(spark, path) == {("A", t): 4.0, ("B", t): 5.0, ("C", t): 3.0, ("D", t): 6.0}
    # seed 1-2, compaction 3, the append's retry 4
    version, listed, _ = sinks._latest_manifest(spark, path)
    assert version == 4
    assert all(os.path.exists(os.path.join(path, f)) for f in listed)


def test_compaction_that_loses_to_an_append_publishes_nothing(spark, tmp_path, monkeypatch):
    """An append publishes while the compaction waits to publish on the
    manifest before it: the compaction raises and publishes nothing, the
    append's rows stay visible, and the next compaction collects the
    loser's files."""
    path = str(tmp_path / "t")
    _seed(spark, path)
    run, c_ready, errors = _race(monkeypatch, "append")
    compaction = threading.Thread(
        target=run, args=("compaction", lambda: sinks.compact_upsert_table(spark, path, KEYS)),
        name="compaction",
    )
    compaction.start()
    assert c_ready.wait(120)
    run("append", lambda: sinks.upsert_writer(path, KEYS)(
        _ticks(spark, [("B", 0, 5), ("D", 0, 6)]), 2
    ))
    compaction.join(240)
    assert not compaction.is_alive()
    assert set(errors) == {"compaction"}
    assert isinstance(errors["compaction"], RuntimeError)
    t = T0
    want = {("A", t): 4.0, ("B", t): 5.0, ("C", t): 3.0, ("D", t): 6.0}
    assert _state(spark, path) == want

    monkeypatch.undo()
    sinks.compact_upsert_table(spark, path, KEYS)
    assert _state(spark, path) == want
    on_disk = {f for f in os.listdir(path) if f.endswith(".parquet") and f[0] not in "._"}
    assert on_disk == set(sinks._latest_manifest(spark, path)[1])


def test_racing_appends_keep_every_file(spark, tmp_path):
    """Appends that lose version races rebase onto the winner: with more
    committer threads than cores and a short switch interval, the latest
    manifest lists every file every committer added."""
    import sys

    path = str(tmp_path / "t")
    n_threads, commits_each = 8, 5
    start = threading.Barrier(n_threads)
    errors = []

    def committer(tid: int) -> None:
        try:
            start.wait(60)
            for i in range(commits_each):
                sinks._commit_manifest(spark, path, [f"w{tid}-{i}.parquet"])
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=committer, args=(t,)) for t in range(n_threads)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(240)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert errors == []
    version, files, _ = sinks._latest_manifest(spark, path)
    assert version == n_threads * commits_each
    assert set(files) == {
        f"w{t}-{i}.parquet" for t in range(n_threads) for i in range(commits_each)
    }


# ---------------------------------------------------------------------------
# The manifest schema reads what mergeSchema reads
# ---------------------------------------------------------------------------


def _history(spark, path):
    """Data rows, a tombstone and a re-insert over five epochs."""
    upsert = sinks.upsert_writer(path, KEYS)
    delete = sinks.tombstone_writer(path, KEYS)
    upsert(_ticks(spark, [("A", 0, 1), ("B", 0, 2), ("C", 1, 3), ("D", 2, 4)]), 0)
    upsert(_ticks(spark, [("A", 0, 5), ("E", 3, 6)]), 1)
    delete(_deletes(spark, [("B", 0), ("C", 1)]), 2)
    upsert(_ticks(spark, [("C", 1, 7), ("F", 4, 8)]), 3)
    delete(_deletes(spark, [("E", 3)]), 4)


def _without_schema(path: str, legacy: str) -> None:
    """Copy the table with every manifest's ``schema`` key removed, as a
    table written before manifests carried it."""
    shutil.copytree(path, legacy)
    mdir = os.path.join(legacy, "_manifests")
    for name in os.listdir(mdir):
        with open(os.path.join(mdir, name)) as fh:
            doc = json.load(fh)
        doc.pop("schema")
        with open(os.path.join(mdir, name), "w") as fh:
            json.dump(doc, fh)


def _reads(spark, path):
    return {
        "current": sinks.read_upsert_table(spark, path, KEYS),
        "as_of_0": sinks.read_upsert_table_as_of(spark, path, KEYS, as_of_epoch=0),
        "as_of_2": sinks.read_upsert_table_as_of(spark, path, KEYS, as_of_epoch=2),
        "changes_0": sinks.read_changes(spark, path, KEYS, since_epoch=0),
        "changes_2": sinks.read_changes(spark, path, KEYS, since_epoch=2),
    }


def _assert_same(got, want):
    for name in want:
        g, w = got[name], want[name]
        assert [(f.name, f.dataType, f.nullable) for f in g.schema.fields] == [
            (f.name, f.dataType, f.nullable) for f in w.schema.fields
        ], name
        assert collections.Counter(map(tuple, g.collect())) == collections.Counter(
            map(tuple, w.collect())
        ), name


def _fields(schema):
    return sorted((f.name, f.dataType.simpleString(), f.nullable) for f in schema.fields)


def test_manifest_schema_reads_equal_merge_schema_reads(spark, tmp_path):
    """read_upsert_table, read_upsert_table_as_of, read_changes and
    compact_upsert_table give the same columns (name, order, type,
    nullability) and rows with the manifest's schema as through
    ``mergeSchema`` over the same files, and a table whose manifests
    carry no schema reads the same."""
    path, legacy = str(tmp_path / "t"), str(tmp_path / "legacy")
    _history(spark, path)
    _without_schema(path, legacy)
    latest = sinks._latest_manifest(spark, path)
    assert latest[2] is not None and sinks._latest_manifest(spark, legacy)[2] is None
    merged = spark.read.option("mergeSchema", "true").parquet(
        *sinks._current_data_files(spark, path)
    )
    assert _fields(sinks._read_committed(spark, path).schema) == _fields(merged.schema)
    assert len(merged.columns) == 6
    want = _reads(spark, legacy)
    assert want["current"].count() == 4 and want["changes_2"].count() == 3
    _assert_same(_reads(spark, path), want)

    sinks.compact_upsert_table(spark, path, KEYS)
    sinks.compact_upsert_table(spark, legacy, KEYS)
    assert sinks._latest_manifest(spark, path)[2] == sinks._latest_manifest(spark, legacy)[2]
    _assert_same(_reads(spark, path), _reads(spark, legacy))
    compacted = spark.read.option("mergeSchema", "true").parquet(
        *sinks._current_data_files(spark, path)
    )
    assert _fields(sinks._read_committed(spark, path).schema) == _fields(compacted.schema)


def test_next_commit_writes_the_schema_of_a_legacy_table(spark, tmp_path):
    """The first commit to a table whose manifests carry no schema writes
    the schema ``mergeSchema`` infers over all its files, and the table
    then reads as before."""
    path, legacy = str(tmp_path / "t"), str(tmp_path / "legacy")
    _history(spark, path)
    _without_schema(path, legacy)
    write = sinks.upsert_writer(legacy, KEYS)
    write(_ticks(spark, [("G", 5, 9)]), 5)
    sinks.upsert_writer(path, KEYS)(_ticks(spark, [("G", 5, 9)]), 5)
    schema = sinks._latest_manifest(spark, legacy)[2]
    assert schema is not None
    merged = spark.read.option("mergeSchema", "true").parquet(
        *sinks._current_data_files(spark, legacy)
    )
    assert _fields(sinks._read_committed(spark, legacy).schema) == _fields(merged.schema)
    _assert_same(_reads(spark, legacy), _reads(spark, path))


def test_manifest_schema_merges_nested_columns_as_merge_schema_does(spark, tmp_path):
    """A later commit that adds a column and a nested struct field
    publishes the schema a ``mergeSchema`` read infers over the files, and
    a write whose column type parquet cannot merge publishes nothing."""
    path = str(tmp_path / "t")
    write = sinks.upsert_writer(path, ["k"])
    write(spark.createDataFrame([(1, (1,))], "k long, s struct<a:int>"), 0)
    wider = "k long, s struct<a:int,b:string>, v double"
    write(spark.createDataFrame([(2, (2, "x"), 3.0)], wider), 1)
    merged = spark.read.option("mergeSchema", "true").parquet(
        *sinks._current_data_files(spark, path)
    )
    got = sinks._read_committed(spark, path)
    # mergeSchema orders top-level columns by whichever footer it merges
    # first, so compare the columns as a set and the rows by name
    assert _fields(got.schema) == _fields(merged.schema)
    assert got.columns == ["k", "s", "_epoch", "v"]
    rows = sorted(map(tuple, merged.select(*got.columns).collect()))
    assert sorted(map(tuple, got.collect())) == rows

    version = sinks._latest_manifest(spark, path)[0]
    with pytest.raises(ValueError, match="cannot unify"):
        write(spark.createDataFrame([(3, "y")], "k long, v string"), 2)
    assert sinks._latest_manifest(spark, path)[0] == version
