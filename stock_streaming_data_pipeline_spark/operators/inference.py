"""Model-inference surface (SURVEY §2.11 UD1-UD3, §3 EP3).

The reference runs a Keras LSTM sidecar: 100-row lookback → min-max scale →
forward pass → inverse scale → write prediction at t+10s, update actual at
t (BtcPrediction/predict_btc.py:37-92). In-engine:

- **Vectorized scoring** is an Arrow-batched ``pandas_udf``: the model is
  deserialized once per executor (closure capture), batches arrive as
  numpy — the distributed-inference pattern; the heavy model is an opaque
  artifact, not engine code. Here the artifact is a deterministic linear
  model (the real LSTM's container-side stand-in), which makes the whole
  UDF path oracle-checkable: the same arithmetic runs in DuckDB.
- **Min-max scale / inverse-scale** (UD3) is pure column arithmetic — no
  UDF (operators/profile.py).
- **Autoregressive rollout** (UD2) is inherently sequential → a bounded
  driver-side loop around the vectorized scorer, as the reference does.

Scale notes: scoring is a map-only operator (no shuffle); feature
preparation (trailing windows) carries the only shuffle. For 100 TB,
batch size per Arrow chunk is bounded by
``spark.sql.execution.arrow.maxRecordsPerBatch``; model broadcast beats
closure pickling once weights are large (documented switch point).
"""

from __future__ import annotations

from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from stock_streaming_data_pipeline_spark.tables import sql_double


@dataclass(frozen=True)
class LinearModel:
    """Deterministic stand-in for the reference's LSTM artifact: a linear
    map over the lookback features. Swap ``predict`` for a real
    framework's forward pass without touching any engine code."""

    weights: tuple[float, ...] = (0.45, 0.15, 0.25, 0.15)
    bias: float = 0.05

    def predict(self, features: pd.DataFrame) -> pd.Series:
        cols = list(features.columns)
        out = pd.Series(self.bias, index=features.index, dtype="float64")
        for w, c in zip(self.weights, cols):
            out = out + w * features[c]
        return out


def default_model() -> LinearModel:
    return LinearModel()


def scorer_udf(model: LinearModel, feature_cols: list[str]):
    """Arrow-batched scoring UDF: one model instance per executor process,
    numpy-vectorized math per batch."""

    @F.pandas_udf("double")
    def score(*cols: pd.Series) -> pd.Series:
        feats = pd.concat(cols, axis=1)
        feats.columns = feature_cols
        return model.predict(feats)

    return score


def score(
    df: DataFrame,
    *,
    feature_cols: list[str],
    model: LinearModel | None = None,
    out: str = "predict_price",
) -> DataFrame:
    model = model or default_model()
    udf = scorer_udf(model, feature_cols)
    return df.withColumn(out, udf(*[F.col(c) for c in feature_cols]))


def sql_score(feature_cols: list[str], model: LinearModel | None = None) -> str:
    """DuckDB mirror of the scorer (same arithmetic, same fold order)."""
    model = model or default_model()
    terms = " + ".join(
        f"{sql_double(w)} * {c}" for w, c in zip(model.weights, feature_cols)
    )
    return f"({sql_double(model.bias)} + {terms})"


def align_predictions(
    predictions: DataFrame, actuals: DataFrame, *, key: str, ts: str
) -> DataFrame:
    """The btc_predict table shape (ddl.cql:19-25): full-outer align of
    predictions (written at t+horizon) with actuals arriving later at the
    same (key, ts) — the reference's two-phase INSERT/UPDATE
    (predict_btc.py:64-91) as one join."""
    p = predictions.withColumnsRenamed({c: c for c in predictions.columns})
    return p.join(actuals, [key, ts], "full_outer")


def autoregressive_rollout(
    history: pd.DataFrame,
    *,
    model: LinearModel | None = None,
    steps: int = 5,
    lookback: int = 4,
    horizon_s: int = 10,
) -> pd.DataFrame:
    """UD2: roll the model forward ``steps`` times, feeding each prediction
    back as the newest observation. Driver-side by nature (strict serial
    dependency); ``history`` is the (small) most-recent lookback slice, not
    a distributed table."""
    model = model or default_model()
    hist = history.sort_values("ts").copy()
    out_rows = []
    for _ in range(steps):
        window = hist["price"].tail(lookback)
        feats = pd.DataFrame(
            {
                "f_avg": [window.mean()],
                "f_min": [window.min()],
                "f_max": [window.max()],
                "f_last": [window.iloc[-1]],
            }
        )
        pred = float(model.predict(feats).iloc[0])
        next_ts = hist["ts"].iloc[-1] + pd.Timedelta(seconds=horizon_s)
        out_rows.append({"ts": next_ts, "price": pred})
        hist = pd.concat(
            [hist, pd.DataFrame(out_rows[-1:])], ignore_index=True
        )
    return pd.DataFrame(out_rows)
