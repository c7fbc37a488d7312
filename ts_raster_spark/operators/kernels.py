"""Grouped-map Arrow feature kernels — the tsfresh-extraction analog.

The reference fans per-pixel groups to a process pool and runs tsfresh
calculators per series (tsraster/calculate.py:93-112,
``MultiprocessingDistributor``). Here the same shape is one
``groupBy(conv_id, kind).applyInPandas`` — Spark shuffles groups to
executors, Arrow delivers each group as a pandas block, and the kernel
computes the *entire* feature vector in one pass over the sorted series
(vectorized NumPy; no per-row Python).

Why both this and the native-aggregate rollup exist:
- native aggregates (operators/rollup.py) stay fully inside Catalyst
  codegen and re-aggregate algebraically across tiers — the default;
- the kernel covers calculators with no closed aggregate form
  (``number_cwt_peaks``) and is the single-pass path when *all*
  features of a group are wanted at once.

Skew: a single applyInPandas group must fit one task (SURVEY.md §4),
and AQE skew handling cannot split inside grouped-map. Passing a
``tier`` bounds a group to one time bucket of a conversation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.functions import oracle as ORC
from ts_raster_spark.functions.cwt import number_cwt_peaks

KERNEL_FEATURES = list(ORC.ORACLES.keys()) + ["number_cwt_peaks_n6", "number_cwt_peaks_n12"]


def _schema(keys: list[str]) -> str:
    key_types = {"conv_id": "string", "kind": "string", "bucket_start": "timestamp"}
    cols = [f"{k} {key_types[k]}" for k in keys]
    for f in KERNEL_FEATURES:
        cols.append(f"{f} long" if f in ("turn_count",) else f"{f} double")
    return ", ".join(cols)


def _feature_row(keys: list[str], key_vals, x: np.ndarray) -> dict:
    row = dict(zip(keys, key_vals))
    for name, fn in ORC.ORACLES.items():
        try:
            v = fn(x)
        except Exception:
            v = np.nan
        row[name] = v
    row["number_cwt_peaks_n6"] = float(number_cwt_peaks(x, 6))
    row["number_cwt_peaks_n12"] = float(number_cwt_peaks(x, 12))
    return row


def extract_features_kernel(long_df: DataFrame, tier: str | None = None) -> DataFrame:
    """Full per-(conv_id, kind[, bucket_start]) feature vectors."""
    keys = ["conv_id", "kind"]
    df = long_df
    if tier is not None:
        df = df.withColumn("bucket_start", F.date_trunc(tier, F.col("ts")))
        keys = keys + ["bucket_start"]

    out_schema = _schema(keys)

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["turn_idx", "ts"])
        x = pdf["value"].to_numpy(dtype=np.float64)
        key_vals = [pdf[k].iloc[0] for k in keys]
        return pd.DataFrame([_feature_row(keys, key_vals, x)])

    return df.groupBy(*keys).applyInPandas(kernel, schema=out_schema)
