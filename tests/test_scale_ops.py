"""Scale-path operators: salted joins and upsert-sink compaction."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.operators.skew import salted_join
from stock_streaming_data_pipeline_spark.streaming import sinks
from stock_streaming_data_pipeline_spark.tables import load_table
from tests.conftest import SF_SMOKE


def test_salted_join_equals_plain_join(spark):
    """Salting changes the physical key distribution, never the result —
    exercised on a deliberately skewed fact table (90% one key)."""
    fact = spark.range(20_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 100)
        .cast("long").alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(100).select(
        F.col("id").alias("dk"), F.concat(F.lit("name_"), F.col("id")).alias("name")
    )
    plain = fact.join(dim, fact.k == dim.dk, "inner").select("k", "payload", "name")
    salted = salted_join(
        fact, dim, fact_key="k", dim_key="dk", salts=8,
        salt_cols=("k", "payload"),
    ).select("k", "payload", "name")
    assert plain.count() == salted.count()
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0


def test_salted_join_salt_cols_deterministic_and_equal(spark):
    """salt_cols makes the salt a pure function of row content (retry-safe
    under recomputation — ADVICE r8: monotonically_increasing_id depends
    on row order) and the result still equals the plain join on a skewed
    fact table."""
    fact = spark.range(20_000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id") % 100)
        .cast("long").alias("k"),
        F.col("id").alias("payload"),
    )
    dim = spark.range(100).select(
        F.col("id").alias("dk"), F.concat(F.lit("name_"), F.col("id")).alias("name")
    )
    plain = fact.join(dim, fact.k == dim.dk, "inner").select("k", "payload", "name")
    salted = salted_join(
        fact, dim, fact_key="k", dim_key="dk", salts=8,
        salt_cols=("k", "payload"),
    ).select("k", "payload", "name")
    assert plain.exceptAll(salted).count() == 0
    assert salted.exceptAll(plain).count() == 0
    # determinism: the salt expression is content-hashed, so the salted
    # fact side contains no nondeterministic expression
    salted_plan = salted._jdf.queryExecution().analyzed().treeString()
    assert "monotonically_increasing_id" not in salted_plan
    assert "xxhash64" in salted_plan
    # and the hot key really is spread across multiple salt buckets
    n_buckets = (
        fact.withColumn(
            "_salt", F.pmod(F.xxhash64(F.col("k"), F.col("payload")), F.lit(8))
        )
        .filter(F.col("k") == 7)
        .select("_salt").distinct().count()
    )
    assert n_buckets == 8


def test_salted_join_requires_real_salt_cols(spark):
    """Round-10 hardening (VERDICT r9 #2): the nondeterministic
    monotonically_increasing_id fallback is gone — salt_cols is required,
    and a key-only salt (every hot-key row in ONE bucket) is rejected."""
    import pytest

    fact = spark.range(10).select(F.col("id").alias("k"), F.col("id").alias("v"))
    dim = spark.range(10).select(F.col("id").alias("dk"))
    with pytest.raises(TypeError):
        salted_join(fact, dim, fact_key="k", dim_key="dk")
    with pytest.raises(ValueError, match="salt_cols is required"):
        salted_join(fact, dim, fact_key="k", dim_key="dk", salt_cols=())
    with pytest.raises(ValueError, match="key-only salt"):
        salted_join(fact, dim, fact_key="k", dim_key="dk", salt_cols=("k",))


def test_upsert_compaction_preserves_state(spark, tmp_path):
    path = str(tmp_path / "upsert")
    writer = sinks.upsert_writer(path, ["symbol", "timestamp"])
    t = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "symbol string, timestamp timestamp, v double"
    )
    writer(mk([("A", t, 1.0), ("B", t, 2.0)]), 0)
    writer(mk([("A", t, 10.0), ("C", t, 3.0)]), 1)

    before = {
        r["symbol"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, ["symbol", "timestamp"]).collect()
    }
    sinks.compact_upsert_table(spark, path, ["symbol", "timestamp"])
    after = {
        r["symbol"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, ["symbol", "timestamp"]).collect()
    }
    assert before == after == {"A": 10.0, "B": 2.0, "C": 3.0}

    # writes after compaction keep winning (epochs restart above -1)
    writer(mk([("B", t, 20.0)]), 0)
    final = {
        r["symbol"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, ["symbol", "timestamp"]).collect()
    }
    assert final == {"A": 10.0, "B": 20.0, "C": 3.0}


def test_running_sum_salted_equals_plain(spark):
    """The two-phase (segmented) prefix sum must equal the single-window
    form row-for-row — compared on DECIMAL values so both association
    orders are exact."""
    from stock_streaming_data_pipeline_spark.operators import running

    ev = (
        load_table(spark, SF_SMOKE, "events")
        .select(
            "event_id", "user_id", "ts",
            F.col("value").cast("decimal(18,6)").alias("v"),
        )
    )
    plain = running.running_sum(
        ev, key="user_id", ts="ts", value="v", out="cum",
        tiebreak=("event_id",),
    )
    salted = running.running_sum_salted(
        ev, key="user_id", ts="ts", value="v", out="cum",
        tiebreak=("event_id",),
    )
    cols = ["event_id", "user_id", "cum"]
    assert plain.select(cols).exceptAll(salted.select(cols)).count() == 0
    assert salted.select(cols).exceptAll(plain.select(cols)).count() == 0
    assert plain.count() == salted.count()


def test_running_sum_salted_spreads_hot_key(spark):
    """Planted 90%-skew key over 20 days: the local cumsum window must
    partition by (key, segment) — no single task sees the whole hot key —
    and the plan must show the composite partitioning."""
    from stock_streaming_data_pipeline_spark.operators import running

    base_epoch = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp())
    n = 10_000
    rows = spark.range(n).select(
        F.when(F.col("id") % 10 != 0, F.lit(7))
        .otherwise(F.col("id") % 100).cast("long").alias("k"),
        F.timestamp_seconds(
            F.lit(base_epoch) + F.col("id") * 173 % (86400 * 20)
        ).alias("ts"),
        F.lit(1).cast("long").alias("v"),
        F.col("id").alias("rid"),
    )
    out = running.running_sum_salted(
        rows, key="k", ts="ts", value="v", out="cum", tiebreak=("rid",)
    )
    # plan: the big-side window partitions on (k, _seg), not k alone
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(k" in plan and "_seg" in plan.split("hashpartitioning(k", 1)[1][:80]
    # data: the largest (key, segment) group is far below the hot key's total
    seg_sizes = (
        rows.withColumn("_seg", F.to_date("ts"))
        .groupBy("k", "_seg").count().agg(F.max("count")).collect()[0][0]
    )
    hot_total = rows.filter(F.col("k") == 7).count()
    assert hot_total >= 0.89 * n
    assert seg_sizes <= hot_total / 10
    # and the result is still the true prefix sum for the hot key
    got = (
        out.filter(F.col("k") == 7)
        .orderBy("ts", "rid")
        .select("cum")
        .limit(5)
        .collect()
    )
    assert [r["cum"] for r in got] == [1, 2, 3, 4, 5]
    assert out.filter(F.col("k") == 7).agg(F.max("cum")).collect()[0][0] == hot_total


def test_upsert_compaction_crash_between_publish_and_tombstone(spark, tmp_path):
    """Crash injection for the atomic-publish design: a compaction that
    dies AFTER appending the compacted epoch but BEFORE deleting the
    history files must leave readers resolving the identical state (the
    compacted rows carry each key's max-epoch winner, so last-write-wins
    is unchanged), and a recovery compaction must converge to the clean
    layout."""
    import glob

    path = str(tmp_path / "upsert")
    keys = ["symbol", "timestamp"]
    writer = sinks.upsert_writer(path, keys)
    t = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "symbol string, timestamp timestamp, v double"
    )
    writer(mk([("A", t, 1.0), ("B", t, 2.0)]), 0)
    writer(mk([("A", t, 10.0), ("C", t, 3.0)]), 1)
    want = {"A": 10.0, "B": 2.0, "C": 3.0}

    n_files_before = len(glob.glob(f"{path}/*.parquet"))
    sinks.compact_upsert_table(spark, path, keys, _crash_after_publish=True)
    # crashed state: history + compacted epoch coexist
    assert len(glob.glob(f"{path}/*.parquet")) > n_files_before
    crashed = {
        r["symbol"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, keys).collect()
    }
    assert crashed == want

    # recovery: a normal compaction over the crashed layout converges
    sinks.compact_upsert_table(spark, path, keys)
    recovered = {
        r["symbol"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, keys).collect()
    }
    assert recovered == want
    # post-recovery writes still win
    writer(mk([("C", t, 30.0)]), 0)
    final = {
        r["symbol"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, keys).collect()
    }
    assert final == {"A": 10.0, "B": 2.0, "C": 30.0}


def test_upsert_compaction_crash_before_manifest_commit(spark, tmp_path):
    """Crash injection for the manifest protocol's other window: a
    compaction that dies AFTER writing the compacted files but BEFORE the
    manifest commit must leave the OLD state in force — the new files are
    invisible, uncommitted garbage — and a recovery compaction converges
    and garbage-collects the orphans."""
    import glob
    import json

    path = str(tmp_path / "upsert")
    keys = ["symbol", "timestamp"]
    writer = sinks.upsert_writer(path, keys)
    t = dt.datetime(2024, 1, 1)
    mk = lambda rows: spark.createDataFrame(  # noqa: E731
        rows, "symbol string, timestamp timestamp, v double"
    )
    writer(mk([("A", t, 1.0), ("B", t, 2.0)]), 0)
    writer(mk([("A", t, 10.0), ("C", t, 3.0)]), 1)
    want = {"A": 10.0, "B": 2.0, "C": 3.0}

    n_files_before = len(glob.glob(f"{path}/*.parquet"))
    manifests_before = sorted(glob.glob(f"{path}/_manifests/manifest-*.json"))
    sinks.compact_upsert_table(spark, path, keys, _crash_before_manifest=True)
    # crashed state: orphan compacted files exist, but NO new manifest —
    # readers resolve the previous commit, i.e. the old state exactly
    assert len(glob.glob(f"{path}/*.parquet")) > n_files_before
    assert sorted(glob.glob(f"{path}/_manifests/manifest-*.json")) == manifests_before
    crashed = {
        r["symbol"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, keys).collect()
    }
    assert crashed == want
    # the orphans are invisible: the resolved epochs are all >= 0 (no -1)
    raw = spark.read.parquet(
        *sinks._current_data_files(spark, path)
    )
    assert raw.filter("_epoch = -1").count() == 0

    # recovery: a normal compaction converges AND collects the orphans
    sinks.compact_upsert_table(spark, path, keys)
    recovered = {
        r["symbol"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, keys).collect()
    }
    assert recovered == want
    # on-disk files == exactly the committed manifest (orphans GC'd)
    latest = max(glob.glob(f"{path}/_manifests/manifest-*.json"))
    committed = set(json.load(open(latest))["files"])
    on_disk = {p.rsplit("/", 1)[-1] for p in glob.glob(f"{path}/*.parquet")}
    assert on_disk == committed


def test_read_changes_classifies_inserts_and_updates(spark, tmp_path):
    path = str(tmp_path / "cdc")
    writer = sinks.upsert_writer(path, ["k"])
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
    writer(mk([("a", 1), ("b", 10)]), 1)          # epoch 1: a, b born
    writer(mk([("a", 2)]), 2)                     # epoch 2: a updated
    writer(mk([("c", 30)]), 3)                    # epoch 3: c born
    writer(mk([("b", 11), ("d", 40)]), 4)         # epoch 4: b updated, d born

    out = {
        r["k"]: r
        for r in sinks.read_changes(spark, path, ["k"], since_epoch=2).collect()
    }
    assert set(out) == {"b", "c", "d"}
    assert (out["b"]["_change_type"], out["b"]["v"], out["b"]["_commit_epoch"]) == (
        "update", 11, 4,
    )
    assert out["c"]["_change_type"] == "insert"
    assert out["d"]["_change_type"] == "insert"
    # a last changed at epoch 2 -> not in the feed
    full = sinks.read_changes(spark, path, ["k"], since_epoch=0).collect()
    assert {r["k"] for r in full} == {"a", "b", "c", "d"}
    assert all(r["_change_type"] == "insert" for r in full)


def test_read_changes_after_compaction_respects_retention(spark, tmp_path):
    """Compaction collapses history to epoch -1: a cut at 0 then sees NO
    changes (history truncated) while the resolved state is unchanged —
    the documented Delta-CDF-after-VACUUM retention contract."""
    path = str(tmp_path / "cdc2")
    writer = sinks.upsert_writer(path, ["k"])
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
    writer(mk([("a", 1)]), 1)
    writer(mk([("a", 2), ("b", 5)]), 2)
    sinks.compact_upsert_table(spark, path, ["k"])
    assert sinks.read_changes(spark, path, ["k"], since_epoch=0).count() == 0
    state = {
        r["k"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, ["k"]).collect()
    }
    assert state == {"a": 2, "b": 5}


def test_snapshot_as_of_plus_changes_reconstructs_present(spark, tmp_path):
    """snapshot(T) overlaid with changes-since(T) == current state —
    the algebra that makes the CDC/time-travel pair useful."""
    path = str(tmp_path / "tt")
    writer = sinks.upsert_writer(path, ["k"])
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
    writer(mk([("a", 1), ("b", 10)]), 1)
    writer(mk([("a", 2)]), 2)
    writer(mk([("c", 30), ("b", 11)]), 3)

    snap = {
        r["k"]: r["v"]
        for r in sinks.read_upsert_table_as_of(
            spark, path, ["k"], as_of_epoch=2
        ).collect()
    }
    assert snap == {"a": 2, "b": 10}
    changes = {
        r["k"]: r["v"]
        for r in sinks.read_changes(spark, path, ["k"], since_epoch=2).collect()
    }
    snap.update(changes)
    now = {
        r["k"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, ["k"]).collect()
    }
    assert snap == now == {"a": 2, "b": 11, "c": 30}


def test_tombstone_delete_resolution_and_compaction(spark, tmp_path):
    path = str(tmp_path / "del")
    up = sinks.upsert_writer(path, ["k"])
    rm = sinks.tombstone_writer(path, ["k"])
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")
    up(mk([("a", 1), ("b", 10), ("c", 5)]), 1)
    rm(mk([("b", 0)]), 2)            # delete b
    up(mk([("b", 12)]), 3)           # b resurrected
    rm(mk([("c", 0)]), 4)            # delete c, stays dead

    state = {
        r["k"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, ["k"]).collect()
    }
    assert state == {"a": 1, "b": 12}

    # tombstones must never leak value columns from older epochs
    sinks.compact_upsert_table(spark, path, ["k"])
    after = {
        r["k"]: r["v"]
        for r in sinks.read_upsert_table(spark, path, ["k"]).collect()
    }
    assert after == state
    # compaction physically dropped c: one epoch, two rows
    raw = spark.read.option("mergeSchema", "true").parquet(path)
    assert raw.count() == 2
    assert [r["_epoch"] for r in raw.select("_epoch").distinct().collect()] == [-1]


def _deleted_b_table(spark, path):
    """a, b, c upserted at epoch 1, b deleted at epoch 2."""
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")  # noqa: E731
    sinks.upsert_writer(path, ["k"])(mk([("a", 1), ("b", 10), ("c", 5)]), 1)
    sinks.tombstone_writer(path, ["k"])(mk([("b", 0)]), 2)


def test_tombstone_survives_both_compaction_failpoints(spark, tmp_path):
    """A deleted key stays hidden in each crashed compaction state and
    after the recovery compaction, which also drops it physically."""
    want = {"a": 1, "c": 5}
    for failpoint in ("_crash_before_manifest", "_crash_after_publish"):
        path = str(tmp_path / failpoint)
        _deleted_b_table(spark, path)
        sinks.compact_upsert_table(spark, path, ["k"], **{failpoint: True})
        crashed = {
            r["k"]: r["v"]
            for r in sinks.read_upsert_table(spark, path, ["k"]).collect()
        }
        assert crashed == want, failpoint
        sinks.compact_upsert_table(spark, path, ["k"])
        recovered = {
            r["k"]: r["v"]
            for r in sinks.read_upsert_table(spark, path, ["k"]).collect()
        }
        assert recovered == want, failpoint
        raw = spark.read.parquet(*sinks._current_data_files(spark, path))
        assert sorted(r["k"] for r in raw.collect()) == ["a", "c"], failpoint


def test_time_travel_honours_tombstones_on_each_side_of_the_cut(spark, tmp_path):
    path = str(tmp_path / "tt_del")
    _deleted_b_table(spark, path)                                 # b dies at 2
    sinks.tombstone_writer(path, ["k"])(
        spark.createDataFrame([("c",)], "k string"), 4
    )                                                             # c dies at 4

    def as_of(epoch):
        return {
            r["k"]: r["v"]
            for r in sinks.read_upsert_table_as_of(
                spark, path, ["k"], as_of_epoch=epoch
            ).collect()
        }

    assert as_of(1) == {"a": 1, "b": 10, "c": 5}
    assert as_of(3) == {"a": 1, "c": 5}
    assert as_of(4) == {"a": 1}


def test_read_changes_reports_deletes_of_keys_live_at_the_cut(spark, tmp_path):
    path = str(tmp_path / "cdc_del")
    up = sinks.upsert_writer(path, ["k"])
    rm = sinks.tombstone_writer(path, ["k"])
    mk = lambda rows: spark.createDataFrame(rows, "k string, v long")  # noqa: E731
    up(mk([("a", 1), ("b", 10)]), 1)
    up(mk([("c", 30)]), 3)                        # c born after the cut
    rm(mk([("a", 0), ("c", 0)]), 4)               # a existed; c did not

    out = {
        r["k"]: r
        for r in sinks.read_changes(spark, path, ["k"], since_epoch=2).collect()
    }
    assert set(out) == {"a"}
    assert (out["a"]["_change_type"], out["a"]["v"], out["a"]["_commit_epoch"]) == (
        "delete", None, 4,
    )


def test_merge_states_equals_full_recompute_and_handles_one_sided_groups(spark):
    from stock_streaming_data_pipeline_spark.operators import incremental

    facts = spark.createDataFrame(
        [("a", 1), ("a", 5), ("b", 10), ("c", 7), ("c", -3), ("d", 2)],
        "k string, v long",
    )
    # split so 'b' is base-only and 'd' delta-only
    base_f = facts.filter(F.col("v") >= 5)
    delta_f = facts.filter(F.col("v") < 5)
    measures = {"v": ["sum", "count", "min", "max"]}
    merged = incremental.merge_states(
        incremental.aggregate_state(base_f, keys=["k"], measures=measures),
        incremental.aggregate_state(delta_f, keys=["k"], measures=measures),
        keys=["k"],
    )
    full = incremental.aggregate_state(facts, keys=["k"], measures=measures)
    got = sorted(tuple(r) for r in merged.collect())
    want = sorted(tuple(r) for r in full.collect())
    assert got == want


def test_merge_states_all_null_group_stays_null(spark):
    """merged == recomputed also for a group whose measure is entirely
    NULL on both sides: its sum must merge to NULL, not 0 (the r3-advice
    coalesce bug)."""
    from stock_streaming_data_pipeline_spark.operators import incremental

    facts = spark.createDataFrame(
        [("a", None), ("a", None), ("b", 3)],
        "k string, v long",
    )
    base_f = facts.limit(0).unionByName(facts.filter("k = 'a'"))
    delta_f = facts.filter("k = 'b'").unionByName(
        spark.createDataFrame([("a", None)], "k string, v long")
    )
    measures = {"v": ["sum", "count"]}
    merged = incremental.merge_states(
        incremental.aggregate_state(base_f, keys=["k"], measures=measures),
        incremental.aggregate_state(delta_f, keys=["k"], measures=measures),
        keys=["k"],
    )
    full = incremental.aggregate_state(facts, keys=["k"], measures=measures)
    got = {r["k"]: (r["f_sum_v"], r["f_count_v"]) for r in merged.collect()}
    want = {r["k"]: (r["f_sum_v"], r["f_count_v"]) for r in full.collect()}
    assert got == want
    assert got["a"] == (None, 0)


def test_merge_states_rejects_schema_mismatch(spark):
    import pytest

    from stock_streaming_data_pipeline_spark.operators import incremental

    facts = spark.createDataFrame([("a", 1)], "k string, v long")
    a = incremental.aggregate_state(facts, keys=["k"], measures={"v": ["sum"]})
    b = incremental.aggregate_state(facts, keys=["k"], measures={"v": ["min"]})
    with pytest.raises(ValueError, match="schemas differ"):
        incremental.merge_states(a, b, keys=["k"])
    with pytest.raises(ValueError, match="not mergeable"):
        incremental.aggregate_state(facts, keys=["k"], measures={"v": ["avg"]})


def test_bloom_no_false_negatives_and_prunes(spark):
    """Bloom contract: every true key survives the prefilter (no false
    negatives, ever); a properly-sized bitmap prunes most non-members."""
    from pyspark.sql import functions as F

    from stock_streaming_data_pipeline_spark.operators import bloom

    keys = spark.createDataFrame([(i * 7,) for i in range(500)], "k long")
    words = bloom.build_bloom_words(keys, "k", m_bits=1 << 13, k_hashes=4)
    assert len(words) == (1 << 13) // 64
    test = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    pred = bloom.bloom_might_contain(F.col("k"), words, k_hashes=4)
    kept = {r["k"] for r in test.filter(pred).collect()}
    true_keys = {i * 7 for i in range(500) if i * 7 < 5000}
    assert true_keys <= kept  # no false negatives
    fp = len(kept - true_keys) / (5000 - len(true_keys))
    assert fp < 0.05  # 8192 bits / 500 keys ~ 16 bits/key -> ~0.2% expected


def test_bloom_semi_join_exactness(spark):
    """bloom_semi_join == plain left-semi join, bit for bit, including
    under an undersized (saturating) bitmap."""
    from stock_streaming_data_pipeline_spark.operators import bloom

    fact = spark.createDataFrame(
        [(i % 97, i) for i in range(3000)], "fk long, payload long"
    )
    keys = spark.createDataFrame([(i * 3,) for i in range(30)], "dk long")
    got = sorted(
        (r["fk"], r["payload"])
        for r in bloom.bloom_semi_join(
            fact, keys, fact_key="fk", dim_key="dk", m_bits=256, k_hashes=3
        ).collect()
    )
    want = sorted(
        (r["fk"], r["payload"])
        for r in fact.join(keys, fact["fk"] == keys["dk"], "left_semi").collect()
    )
    assert got == want


def test_dq_agg_report_single_pass_and_verdicts(spark):
    """The per-table check pack folds into ONE aggregate (plan has
    exactly one pair of partial/final HashAggregates); verdicts evaluate
    on the rounded metric; both pass and fail branches fire."""
    from pyspark.sql import functions as F

    from stock_streaming_data_pipeline_spark.operators import dq

    df = spark.createDataFrame(
        [(1, "a", 5.0), (2, "b", None), (2, "c", 7.0)], "k long, s string, v double"
    )
    rep = dq.agg_report(
        df,
        [
            dq.AggCheck("k.unique", dq.uniqueness("k"), lambda m: m == 1.0),
            dq.AggCheck("v.complete", dq.completeness("v"), lambda m: m >= 0.9),
            dq.AggCheck(
                "s.in_set",
                dq.violations(~F.col("s").isin("a", "b")),
                lambda m: m == 0.0,
            ),
        ],
    )
    got = {r["check_name"]: (r["metric"], r["passed"]) for r in rep.collect()}
    assert got["k.unique"] == (round(2 / 3, 6), False)
    assert got["v.complete"] == (round(2 / 3, 6), False)
    assert got["s.in_set"] == (1.0, False)
    # countDistinct legitimately expands into a two-phase aggregate; the
    # single-pass claim is about the SCAN: the table is read exactly once.
    # (AQE's toString prints Final AND Initial plan sections — count the
    # final section only.)
    plan = rep._jdf.queryExecution().executedPlan().toString()
    final_section = plan.split("== Initial Plan ==")[0]
    assert final_section.count("Scan ExistingRDD") == 1


def test_snapshot_diff_all_four_classes(spark, tmp_path):
    """Scripted timeline exercising added/removed/changed/unchanged in
    one diff."""
    import datetime as dt
    import os

    import pandas as pd

    base = dt.datetime(2024, 1, 1)
    late = dt.datetime(2024, 1, 20)
    rows = []
    # u1/view: 2 early, 1 late -> changed ; u1/click: 1 and 1 -> unchanged
    rows += [(1, "view", base), (1, "view", base), (1, "view", late)]
    rows += [(2, "click", base), (2, "click", late)]
    rows += [(3, "buy", base)]          # removed (early only)
    rows += [(4, "buy", late)]          # added (late only)
    pdf = pd.DataFrame(
        {
            "event_id": range(len(rows)),
            "ts": [r[2] for r in rows],
            "user_id": [r[0] for r in rows],
            "event_type": [r[1] for r in rows],
            "value": [1.0] * len(rows),
            "props": ["{}"] * len(rows),
        }
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    from stock_streaming_data_pipeline_spark.plans.catalog import queries

    got = {
        (r["user_id"], r["event_type"]): r["change_type"]
        for r in queries()["snapshot_table_diff"](spark, d).collect()
    }
    assert got == {
        (1, "view"): "changed",
        (2, "click"): "unchanged",
        (3, "buy"): "removed",
        (4, "buy"): "added",
    }


def test_attribution_splits_credit_exactly(spark, tmp_path):
    """Scripted journey: a purchase with 3 in-window touches splits
    round-6 thirds; an out-of-window touch earns nothing; a purchase
    with no touches contributes no credit."""
    import datetime as dt
    import os

    import pandas as pd

    t0 = dt.datetime(2024, 1, 10, 12, 0, 0)

    def ev(eid, typ, when, uid=1):
        return (eid, when, uid, typ, 1.0, "{}")

    rows = [
        ev(1, "view", t0 - dt.timedelta(days=4)),      # OUT of 3d window
        ev(2, "view", t0 - dt.timedelta(days=2)),
        ev(3, "click", t0 - dt.timedelta(hours=5)),
        ev(4, "view", t0 - dt.timedelta(hours=1)),
        ev(5, "purchase", t0),
        ev(6, "purchase", t0 + dt.timedelta(days=5), uid=2),  # no touches
    ]
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    d = str(tmp_path / "sf")
    os.makedirs(d)
    pdf.to_parquet(os.path.join(d, "events.parquet"))
    from stock_streaming_data_pipeline_spark.plans.catalog import queries

    got = {
        r["touch_type"]: (r["n_touches"], int(r["credit_micros"]))
        for r in queries()["attribution_linear"](spark, d).collect()
    }
    # per-touch weight is an exact half-away BIGINT micro-unit
    # (2e6 + cnt) DIV (2*cnt) BEFORE summation, so two thirds
    # accumulate as 2 x 333333 micros
    assert got == {
        "view": (2, 666666),
        "click": (1, 333333),
    }


def test_concurrent_committers_never_lose_a_commit(spark, tmp_path):
    """The commit-manifest protocol's safety property under contention:
    N racing committers (threads hammering create-exclusive on the same
    version numbers) must ALL land, each at a DISTINCT version, with no
    overwrite — the exact mechanism that makes the publish atomic on
    HDFS create-no-overwrite and S3 conditional PUT alike. The loser
    path (create fails -> bump version -> retry) only executes under a
    real race, which sequential tests never produce."""
    import json
    import threading

    from stock_streaming_data_pipeline_spark.streaming import sinks

    path = str(tmp_path / "tbl")
    fs, hpath = sinks._hadoop_fs(spark, path)
    fs.mkdirs(hpath)

    n_threads, commits_each = 8, 5
    results: list[tuple[int, int]] = []
    errors: list[BaseException] = []
    lock = threading.Lock()
    start = threading.Barrier(n_threads)

    def committer(tid: int) -> None:
        try:
            start.wait()
            for i in range(commits_each):
                v = sinks._commit_manifest(
                    spark, path, [f"writer{tid}-file{i}.parquet"]
                )
                with lock:
                    results.append((tid, v))
        except BaseException as e:  # noqa: BLE001
            with lock:
                errors.append(e)

    threads = [
        threading.Thread(target=committer, args=(t,)) for t in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    assert not errors, errors
    versions = [v for _, v in results]
    assert len(versions) == n_threads * commits_each
    # distinct versions: nobody overwrote anybody (a lost commit would
    # surface as a duplicated version number)
    assert len(set(versions)) == len(versions)
    # every committed version is actually on disk with intact content
    import os

    mdir = os.path.join(path, "_manifests")
    on_disk = sorted(os.listdir(mdir))
    assert len(on_disk) == len(versions)
    for name in on_disk:
        with open(os.path.join(mdir, name)) as fh:
            doc = json.load(fh)
        assert doc["files"] and doc["version"]
    # and the reader resolves the single highest one
    latest = sinks._latest_manifest(spark, path)
    assert latest is not None and latest[0] == max(versions)


def test_fan_out_takes_split_size_as_spark_parses_it(spark, tmp_path):
    """fan_out estimates splits from maxPartitionBytes as the session's
    SQLConf parsed it, so every size suffix Spark accepts works: a
    one-file input splits into enough tasks at 1k (no exchange added)
    and into one task at 1t (a round-robin exchange added)."""
    from stock_streaming_data_pipeline_spark.tables import fan_out

    if spark.sparkContext.defaultParallelism < 2:
        pytest.skip("one core: fan_out never repartitions")
    path = str(tmp_path / "one_file")
    spark.range(0, 50_000).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    try:
        spark.conf.set(key, "1k")
        assert fan_out(df) is df
        spark.conf.set(key, "1t")
        assert fan_out(df) is not df
    finally:
        spark.conf.set(key, old)
