"""LTTB (largest-triangle-three-buckets) downsampling per conversation.

The canonical visualization downsample for time series (Steinarsson
2013; shipped by TimescaleDB toolkit as ``lttb()`` and by Grafana):
reduce each conversation's series to ``n_out`` points preserving visual
shape — endpoints kept, each interior bucket contributes the point
maximizing the triangle area with the previously chosen point and the
next bucket's centroid.

Spark shape: one sorted-run kernel (operators/kernels.map_sorted_runs)
— the algorithm is inherently sequential per series (each selection
depends on the previous), so each conversation's run of a partition
sorted by (conv_id, turn_idx, ts) goes through per-series NumPy, zero
per-row Python and one Python call per partition.  At 100 TB this is
one shuffle on conv_id and a linear scan per series; a series is one
conversation.

Determinism across hosts: triangle areas are quantized to 10
significant digits before argmax (same contract as functions/cwt) so
SIMD summation noise in the bucket means cannot flip a selection
between driver rounds.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ts_raster_spark.operators.kernels import map_sorted_runs
from ts_raster_spark.operators.longform import epoch_seconds


def lttb_indices(x: np.ndarray, y: np.ndarray, n_out: int) -> np.ndarray:
    """Indices of the LTTB selection (always includes 0 and n-1)."""
    n = len(x)
    if n_out >= n or n <= 2:
        return np.arange(n, dtype=np.int64)
    if n_out < 3:
        n_out = 3
    # bucket boundaries over the interior points 1..n-2, equal float split
    edges = np.linspace(1, n - 1, n_out - 1).astype(np.int64)
    out = [0]
    prev = 0
    for b in range(n_out - 2):
        lo, hi = edges[b], edges[b + 1]
        # canonical LTTB (Steinarsson 2013 / TimescaleDB): the next-bucket
        # centroid range is HALF-OPEN [edges[b+1], edges[b+2]); only the
        # final bucket's successor is the end point itself (a closed
        # `edges[b+2] + 1` end would leak the following bucket's first
        # candidate into the centroid)
        nlo, nhi = edges[b + 1], (edges[b + 2] if b + 2 < len(edges) else n)
        # centroid of the NEXT bucket (last bucket's successor is the end point)
        cx = float(np.mean(x[nlo:nhi])) if nhi > nlo else float(x[-1])
        cy = float(np.mean(y[nlo:nhi])) if nhi > nlo else float(y[-1])
        ax, ay = float(x[prev]), float(y[prev])
        # triangle areas for every candidate in this bucket
        area = np.abs(
            (ax - cx) * (y[lo:hi] - ay) - (ax - x[lo:hi]) * (cy - ay)
        )
        # host-stable argmax: quantize to 10 significant digits so ties
        # created by FP dust resolve to the same (leftmost) candidate
        scale = float(area.max())
        if scale > 0 and np.isfinite(scale):
            q = 10.0 ** (np.floor(np.log10(scale)) - 9)
            area = np.round(area / q) * q
        prev = int(lo + np.argmax(area))
        out.append(prev)
    out.append(n - 1)
    return np.asarray(out, dtype=np.int64)


def m4(
    df: DataFrame,
    width: int = 8,
    y_col: str = "text_len",
) -> DataFrame:
    """M4 visualization downsample per conversation (Jugel et al., VLDB 2014;
    the error-free line-rendering aggregation shipped by TimescaleDB
    as ``minmax``-style pixel queries).

    Each series' time span is split into ``width`` equal pixel-column
    buckets; a bucket contributes exactly the rows realizing its
    min(y), max(y), min(t) and max(t) — the four extremes that make a
    ``width``-pixel line render identical to the full-resolution plot.
    Value ties keep every tying row (deterministic SET semantics — no
    argmin tie-break to disagree on across engines/hosts).

    Spark shape vs LTTB: where LTTB is inherently sequential (Arrow
    kernel), M4 is PURE window SQL — two stacked windows, zero Python:
      1. ``partitionBy(conv_id)``:  span (min/max epoch-µs) → bucket id
         (integer µs arithmetic, exact in double < 2^53, so the bucket
         boundary is bit-identical in DuckDB);
      2. ``partitionBy(conv_id, bucket)``: the four extremes → filter.
    At 100 TB that is two hash exchanges, the second on the FINER
    (conv_id, bucket) key — i.e. skew-friendlier than the per-series
    shuffle the kernel path needs.  Output rows: ≤ 4·width distinct
    extreme VALUES per series; under keep-all-ties SET semantics the
    row count itself is unbounded when many rows tie an extreme (e.g. a
    constant series keeps every row in a bucket).

    Reference parity: the reference plots full-resolution series
    (example notebooks); M4/LTTB are the tier-store downsamples that
    make that rendering feasible at scale.
    """
    w_span = Window.partitionBy("conv_id")
    w_bucket = Window.partitionBy("conv_id", "bucket")
    e = F.unix_micros(F.col("ts").cast("timestamp_ltz"))
    lo, hi = F.min("_e").over(w_span), F.max("_e").over(w_span)
    bucket = F.when(
        hi > lo,
        F.least(
            F.floor(((F.col("_e") - lo).cast("double") * float(width)) / (hi - lo).cast("double")),
            F.lit(width - 1).cast("long"),
        ),
    ).otherwise(F.lit(0).cast("long"))
    prepped = (
        df.select("conv_id", "turn_idx", "ts", F.col(y_col).cast("double").alias(y_col))
        .withColumn("_e", e)
        .withColumn("bucket", bucket)
    )
    keep = (
        (F.col(y_col) == F.min(y_col).over(w_bucket))
        | (F.col(y_col) == F.max(y_col).over(w_bucket))
        | (F.col("_e") == F.min("_e").over(w_bucket))
        | (F.col("_e") == F.max("_e").over(w_bucket))
    )
    return (
        prepped.withColumn("_keep", keep)
        .where(F.col("_keep"))
        .select("conv_id", F.col("bucket").cast("int").alias("bucket"), "turn_idx", "ts", y_col)
    )


def lttb(df: DataFrame, n_out: int = 20) -> DataFrame:
    """Downsample each conversation's (ts, text_len) series to ``n_out``
    points.

    Input needs columns: conv_id, turn_idx, ts, text_len.  Output:
    conv_id, turn_idx, ts, text_len (the selected rows, originals
    untouched).
    """
    key_fields = [f for f in df.schema.fields if f.name == "conv_id"]
    schema = T.StructType(
        [*key_fields,
         T.StructField("turn_idx", T.IntegerType()),
         T.StructField("ts", [f for f in df.schema.fields if f.name == "ts"][0].dataType),
         T.StructField("text_len", T.DoubleType())]
    )

    def _one(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["turn_idx", "ts"], kind="mergesort").reset_index(drop=True)
        x = pdf["_eps"].to_numpy(dtype=np.float64)
        y = pdf["text_len"].to_numpy(dtype=np.float64)
        idx = lttb_indices(x, y, n_out)
        return pdf.iloc[idx][["conv_id", "turn_idx", "ts", "text_len"]]

    prepped = df.withColumn("_eps", epoch_seconds(F.col("ts"))).select(
        "conv_id", "turn_idx", "ts", "_eps", F.col("text_len").cast("double").alias("text_len")
    )
    return map_sorted_runs(prepped, ["conv_id"], ("turn_idx", "ts"), _one, schema)
