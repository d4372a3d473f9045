"""Tests for the benchmark's own metric math (no Spark needed).

    python3 -m pytest perfbench/test_metrics.py -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402
import tradegen  # noqa: E402
from spans import Recorder  # noqa: E402

# -- percentiles --------------------------------------------------------------


def test_nearest_rank_picks_a_sample():
    v = list(range(1, 21))
    assert metrics.nearest_rank(v, 0.5) == 10
    assert metrics.nearest_rank(v, 0.95) == 19
    assert metrics.nearest_rank(v, 1.0) == 20
    assert metrics.nearest_rank([7.0], 0.95) == 7.0
    assert metrics.nearest_rank(reversed(v), 0.05) == 1


def test_nearest_rank_rejects_bad_input():
    with pytest.raises(ValueError):
        metrics.nearest_rank([], 0.5)
    with pytest.raises(ValueError):
        metrics.nearest_rank([1], 0.0)


def test_ten_samples_beyond_needs_100_for_p90_and_200_for_p95():
    assert metrics.samples_beyond(99, 0.9) == 9
    assert metrics.samples_beyond(100, 0.9) == 10
    assert metrics.samples_beyond(125, 0.9) == 12
    assert metrics.samples_beyond(199, 0.95) == 9
    assert metrics.samples_beyond(200, 0.95) == 10
    assert metrics.samples_beyond(0, 0.9) == 0


def test_quartile_spread_matches_statistics_quantiles():
    v = [10, 11, 12, 13, 14, 15, 16, 17, 18, 19]
    q1, q2, q3 = 11.75, 14.5, 17.25  # exclusive method: ranks 2.75, 5.5, 8.25
    assert metrics.quartile_spread(v) == pytest.approx((q3 - q1) / q2)


# -- open loop -----------------------------------------------------------------


def test_due_times_ignore_publication():
    s = metrics.Schedule(t0=100.0, interval_s=0.5)
    # file 1 was published 2 s late; file 2 is still due at 101.0
    published = [100.01, 102.5, 102.6]
    assert [s.due(k) for k in range(3)] == [100.0, 100.5, 101.0]
    assert metrics.lateness_s(s, published) == pytest.approx([0.01, 2.0, 1.6])


def test_backlog_counts_files_visible_but_not_committed():
    published = [0.0, 1.0, 2.0, 3.0]
    consumed = [1.5, 1.5, 3.5, None]
    # at t=3.0 files 2 and 3 wait; the uncommitted file never leaves
    assert metrics.backlog_max(published, consumed) == 2
    # a file committed at the instant the next is published overlaps none
    assert metrics.backlog_max([0.0, 1.0], [1.0, 2.0]) == 1


# -- file -> batch -> commit join ----------------------------------------------


def _log(entries):
    return "v1\n" + "\n".join(
        json.dumps({"path": f"file:///src/{p}", "timestamp": 0, "batchId": b}) for p, b in entries
    )


def _progress(batch_id, lo, hi, stamp, trigger_ms):
    return {
        "batchId": batch_id,
        "timestamp": stamp,
        "numInputRows": 1,
        "durationMs": {"triggerExecution": trigger_ms},
        "sources": [
            {
                "startOffset": None if lo is None else {"logOffset": lo},
                "endOffset": {"logOffset": hi},
            }
        ],
    }


def test_source_log_reads_compact_files():
    entries = {
        # batches 0..8 were compacted away into 9.compact
        "9.compact": _log([(f"f{i}", i) for i in range(10)]),
        "10": _log([("f10", 10), ("f11", 10)]),
        "11": _log([("f12", 11)]),
        ".10.crc": "ignored",
    }
    log = metrics.parse_source_log(entries)
    assert log["f0"] == 0 and log["f9"] == 9
    assert log["f10"] == log["f11"] == 10
    assert log["f12"] == 11
    assert len(log) == 13


def test_source_log_keeps_first_batch_when_listed_twice():
    entries = {"3": _log([("a", 3)]), "9.compact": _log([("a", 3), ("b", 9)])}
    assert metrics.parse_source_log(entries) == {"a": 3, "b": 9}


def test_file_commit_join():
    log = {"f0": 0, "f1": 1, "f2": 1, "f3": 2, "f4": 3}
    progress = [
        _progress(0, None, 0, "2024-01-02T00:00:00.000Z", 500),
        # a no-data batch (same offsets) reads nothing
        _progress(1, 0, 0, "2024-01-02T00:00:00.600Z", 50),
        # one batch covering two log batches
        _progress(2, 0, 2, "2024-01-02T00:00:01.000Z", 250),
    ]
    ranges = metrics.batch_ranges(progress)
    assert [(b.batch_id, b.lo, b.hi) for b in ranges] == [(0, -1, 0), (2, 0, 2)]
    base = metrics.iso_epoch_s("2024-01-02T00:00:00Z")
    commits = metrics.file_commits(["/src/f0", "f1", "f2", "f3", "f4", "missing"], log, ranges)
    assert commits[0] == pytest.approx(base + 0.5)
    assert commits[1:4] == pytest.approx([base + 1.25] * 3)
    assert commits[4] is None and commits[5] is None
    assert metrics.files_per_batch(log, ranges) == [1, 3]


def test_offsets_may_arrive_as_json_strings():
    p = _progress(4, None, 7, "2024-01-02T00:00:00Z", 10)
    p["sources"][0]["startOffset"] = json.dumps({"logOffset": 5})
    p["sources"][0]["endOffset"] = json.dumps({"logOffset": 7})
    [b] = metrics.batch_ranges([p])
    assert (b.lo, b.hi) == (5, 7)


def test_read_source_log_from_disk(tmp_path):
    d = tmp_path / "sources" / "0"
    d.mkdir(parents=True)
    (d / "0").write_text(_log([("x", 0)]))
    (d / "1.compact").write_text(_log([("x", 0), ("y", 1)]))
    assert metrics.read_source_log(str(tmp_path)) == {"x": 0, "y": 1}
    assert metrics.read_source_log(str(tmp_path / "absent")) == {}


# -- spans ---------------------------------------------------------------------


def _span(i, start, end, parent=None):
    return metrics.Span(i, f"s{i}", start, end, parent, "r")


def test_self_time_subtracts_children_once():
    spans = [
        _span(1, 0.0, 10.0),
        _span(2, 1.0, 3.0, 1),
        _span(3, 2.0, 5.0, 1),  # overlaps span 2
        _span(4, 9.0, 12.0, 1),  # runs past its parent
        _span(5, 1.5, 2.0, 2),
    ]
    own = metrics.self_times(spans)
    assert own[1] == pytest.approx(10.0 - 4.0 - 1.0)
    assert own[2] == pytest.approx(1.5)
    assert own[3] == pytest.approx(3.0)
    assert own[5] == pytest.approx(0.5)


def test_self_times_of_a_nested_tree_add_up_to_the_root():
    spans = [_span(1, 0.0, 4.0), _span(2, 0.5, 1.5, 1), _span(3, 2.0, 3.5, 1), _span(4, 2.5, 3.0, 3)]
    assert sum(metrics.self_times(spans).values()) == pytest.approx(4.0)


def test_recorder_links_children_and_is_free_when_disabled():
    rec = Recorder(True)
    with rec.span("query", "q#0") as parent:
        with rec.span("build", "q#0", parent):
            pass
    rec.add("batch", 1.0, 2.0, "b#1")
    by_name = {s.name: s for s in rec.spans()}
    assert by_name["build"].parent == by_name["query"].id
    assert by_name["batch"].request == "b#1"
    off = Recorder(False)
    with off.span("query", "q#0") as sid:
        assert sid is None
    assert off.add("batch", 1.0, 2.0, "b#1") is None and off.spans() == []


# -- generator -----------------------------------------------------------------


def test_generator_is_seeded_and_keys_are_unique():
    spec = tradegen.TradeSpec(files=6, rows_per_file=500, file_span_s=0.5)
    a = tradegen.generate(spec, 7)
    b = tradegen.generate(spec, 7)
    c = tradegen.generate(spec, 8)
    assert all(x.equals(y) for x, y in zip(a, b))
    assert not a[0].equals(c[0])
    rows = [r for f in a for r in zip(f["symbol"], f["ts_us"])]
    assert len(set(rows)) == len(rows)
    ts = [t for f in a for t in f["ts_us"]]
    assert len(set(ts)) == len(ts)  # no open/close ties even across symbols
    late = sum(int(f["late"].sum()) for f in a)
    assert 0 < late < 0.1 * len(rows)
