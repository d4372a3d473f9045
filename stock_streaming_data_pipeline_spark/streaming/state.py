"""Stateful streaming operators (SURVEY §2.10 T11, build plan §7 slice 6).

The reference keeps keyed mutable state *outside* the engine: a producer
dict for per-symbol cumulative volume (FinnhubProducer.py:20-22,34-36) and
a pandas FIFO of the last 100 feature rows (BtcPrediction/kafka.py:42-57).
These are in-engine here as ``applyInPandasWithState`` operators: state
lives in Spark's state store (checkpointed, partitioned by key, recoverable)
instead of a process heap — which is what makes it survive restarts and
scale horizontally.

Ordering contract: within each micro-batch, ALL of a group's rows are
buffered, concatenated and sorted by event time before folding state —
Arrow chunk boundaries never affect results. ACROSS micro-batches state
folds in batch-arrival order (inherent to incremental processing): a row
arriving in batch N+1 with an event time before batch N's rows is folded
late. The batch oracle therefore matches whenever each key's rows are
event-time-ordered across batch boundaries (true for ordered replay); the
late-data case is pinned by tests/test_state.py::test_state_chunk_order_
independence and ..::test_late_rows_fold_in_arrival_order.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def _cents_half_up(x: float) -> int:
    """value → integer cents, rounding half AWAY FROM ZERO — the SQL
    ``round(x*100, 0)`` rule (DuckDB/ANSI). Python's ``round()`` is
    half-to-even and diverges on exact half-cents (e.g. 0.125)."""
    return int(math.copysign(math.floor(abs(x) * 100 + 0.5), x))


def running_total(
    df: DataFrame,
    *,
    key: str = "symbol",
    ts: str = "ts",
    value: str = "volume",
    out: str = "cumulative_volume",
) -> DataFrame:
    """Streaming per-key running sum: emits every input row with its
    cumulative value; the running total persists in keyed state across
    micro-batches (the producer's ``cv`` dict, in-engine)."""
    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField(ts, T.TimestampType()),
            T.StructField(value, T.DoubleType()),
            T.StructField(out, T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("total", T.DoubleType())])

    def fold(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (total,) = state.get if state.exists else (0.0,)
        # Buffer every Arrow chunk of this group's batch and sort ONCE —
        # per-chunk sorting would fold chunks in arrival order and silently
        # diverge from event-time order when a group spans chunks.
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(ts)
            csum = pdf[value].cumsum() + total
            total = float(csum.iloc[-1])
            yield pd.DataFrame(
                {
                    key: pdf[key],
                    ts: pdf[ts],
                    value: pdf[value],
                    out: csum,
                }
            )
        state.update((total,))

    return df.groupBy(key).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def trailing_lookback(
    df: DataFrame,
    *,
    key: str = "symbol",
    ts: str = "ts",
    value: str = "close",
    rows: int = 100,
    emit_ready_only: bool = False,
) -> DataFrame:
    """Streaming fixed-N trailing window per key (the predictor's 100-row
    FIFO): for every input row, emits trailing mean/min/max/count over the
    last ``rows`` values including it. State = bounded FIFO of the last
    ``rows`` (ts, value) pairs.

    ``emit_ready_only=True`` reproduces the reference's behavior of staying
    silent until the FIFO is full (kafka.py:42-50).
    """
    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField(ts, T.TimestampType()),
            T.StructField(value, T.DoubleType()),
            T.StructField("lookback_mean", T.DoubleType()),
            T.StructField("lookback_min", T.DoubleType()),
            T.StructField("lookback_max", T.DoubleType()),
            T.StructField("lookback_n", T.LongType()),
            # exact integer-cents sum: bit-reproducible across engines
            # (double means are summation-order-sensitive; scaled-integer
            # sums are not) — the oracle-facing aggregate
            T.StructField("lookback_cents_sum", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ts_us", T.ArrayType(T.LongType())),
            T.StructField("vals", T.ArrayType(T.DoubleType())),
        ]
    )

    def fold(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            ts_us, vals = state.get
            ts_us, vals = list(ts_us), list(vals)
        else:
            ts_us, vals = [], []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            # one cross-chunk sort per group per batch (see module docstring)
            pdf = pd.concat(chunks, ignore_index=True).sort_values(ts)
            out_rows = []
            for t, v in zip(pdf[ts], pdf[value]):
                ts_us.append(int(pd.Timestamp(t).value // 1000))
                vals.append(float(v))
                if len(vals) > rows:
                    ts_us.pop(0)
                    vals.pop(0)
                ready = len(vals) >= rows
                if emit_ready_only and not ready:
                    continue
                window = pd.Series(vals)
                cents = sum(_cents_half_up(x) for x in vals)
                out_rows.append(
                    (
                        group_key[0], t, v,
                        float(window.mean()), float(window.min()),
                        float(window.max()), len(vals), cents,
                    )
                )
            yield pd.DataFrame(out_rows, columns=[f.name for f in out_schema.fields])
        state.update((ts_us, vals))

    return df.groupBy(key).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def ewma_state(
    df: DataFrame,
    *,
    key: str = "symbol",
    ts: str = "ts",
    tiebreak: str = "event_id",
    value: str = "price",
    alpha: float = 0.5,
) -> DataFrame:
    """Streaming per-key EWMA: ``y = alpha*x + (1-alpha)*y_prev``, the
    batch operator ``operators/running.ewma`` with its one-double state
    promoted to the checkpointed state store. Emits every row with its
    EWMA; ties in event time break on ``tiebreak`` so the fold order is
    deterministic (same total order as the batch/oracle recursion).
    State per key is a single double — horizontal scale is purely by key
    cardinality."""
    import numpy as np

    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField(tiebreak, T.LongType()),
            T.StructField(ts, T.TimestampType()),
            T.StructField(value, T.DoubleType()),
            T.StructField("ewma_raw", T.DoubleType()),
        ]
    )
    state_schema = T.StructType([T.StructField("y", T.DoubleType())])
    a = float(alpha)
    one_minus_a = 1.0 - a

    def fold(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        has = state.exists
        y = state.get[0] if has else 0.0
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values([ts, tiebreak])
            xs = pdf[value].to_numpy(dtype="float64")
            out = np.empty(len(xs), dtype="float64")
            for i, x in enumerate(xs):
                if has:
                    y = a * x + one_minus_a * y
                else:
                    y = x
                    has = True
                out[i] = y
            yield pd.DataFrame(
                {
                    key: pdf[key],
                    tiebreak: pdf[tiebreak],
                    ts: pdf[ts],
                    value: pdf[value],
                    "ewma_raw": out,
                }
            )
        if has:
            state.update((float(y),))

    return df.groupBy(key).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def session_fold(
    df: DataFrame,
    *,
    key: str = "user_id",
    ts: str = "ts",
    gap_seconds: int = 3600,
) -> DataFrame:
    """Custom gap-based sessionization in keyed state (the operator
    ``F.session_window`` can't express when the gap rule needs custom
    logic): state = the open session's (start_us, last_us, n). A session
    CLOSES — and emits — when a later event for the key arrives more
    than ``gap_seconds`` after the previous one; the final open session
    per key stays in state unemitted, exactly the watermark-withheld
    tail of append-mode windows (the oracle excludes each key's last
    session the same way).

    State is three integers per key; each batch folds the key's rows
    once in event-time order (the module's ordering contract)."""
    out_schema = T.StructType(
        [
            T.StructField(key, T.LongType()),
            T.StructField("session_start_us", T.LongType()),
            T.StructField("session_end_us", T.LongType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("n", T.LongType()),
        ]
    )
    gap_us = gap_seconds * 1_000_000

    def fold(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        start, last, n = state.get if state.exists else (None, None, 0)
        closed: list[tuple[int, int, int]] = []
        chunks = [pdf for pdf in pdfs if len(pdf)]
        if chunks:
            pdf = pd.concat(chunks, ignore_index=True).sort_values(ts)
            for t in pdf[ts]:
                us = int(t.value // 1000) if hasattr(t, "value") else int(t)
                if start is None:
                    start, last, n = us, us, 1
                elif us - last > gap_us:
                    closed.append((start, last, n))
                    start, last, n = us, us, 1
                else:
                    last, n = us, n + 1
            if closed:
                yield pd.DataFrame(
                    {
                        key: [group_key[0]] * len(closed),
                        "session_start_us": [c[0] for c in closed],
                        "session_end_us": [c[1] for c in closed],
                        "n_events": [c[2] for c in closed],
                    }
                )
        state.update((start, last, n))

    return df.groupBy(key).applyInPandasWithState(
        fold, out_schema, state_schema, "append", GroupStateTimeout.NoTimeout
    )


def kmv_state_fold(
    df: DataFrame,
    *,
    key: str = "event_type",
    member: str = "user_id",
    k: int = 64,
    salt: str = "kmv",
) -> DataFrame:
    """Streaming KMV distinct sketch per key: state = the k smallest
    portable-md5 member hashes seen so far. Because the KMV combine
    (set-union then k-smallest) is commutative and associative, the
    streamed sketch is BIT-IDENTICAL to the batch sketch over the same
    rows regardless of batch boundaries or arrival order — the streaming
    sketch carries the batch query's full DuckDB oracle, which no
    HLL-based streaming sketch can. Emits one row per key per batch with
    the refreshed sketch and estimate; update semantics (latest wins)."""
    from stock_streaming_data_pipeline_spark.operators.dedup import py_portable_hash

    out_schema = T.StructType(
        [
            T.StructField(key, T.StringType()),
            T.StructField("sketch", T.ArrayType(T.LongType())),
            T.StructField("kmv_estimate", T.DoubleType()),
            T.StructField("n_seen_batches", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("sketch", T.ArrayType(T.LongType())),
            T.StructField("batches", T.LongType()),
        ]
    )
    domain = float(1 << 60)

    def fold(
        group_key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        sketch, batches = (
            (list(state.get[0]), state.get[1]) if state.exists else ([], 0)
        )
        seen = set(sketch)
        for pdf in pdfs:
            for v in pdf[member]:
                seen.add(py_portable_hash(v, salt))
        sketch = sorted(seen)[:k]
        batches += 1
        est = (
            float(len(sketch))
            if len(sketch) < k
            else (k - 1) / (sketch[k - 1] / domain)
        )
        state.update((sketch, batches))
        yield pd.DataFrame(
            {
                key: [group_key[0]],
                "sketch": [sketch],
                "kmv_estimate": [round(est, 6)],
                "n_seen_batches": [batches],
            }
        )

    return df.groupBy(key).applyInPandasWithState(
        fold, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
