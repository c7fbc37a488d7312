"""ML-prep tail: sampling, splits, scaling, label assembly, relevance.

Reference analogs (tsraster):
- ``sample.py:26-160``  random point sampling        → :func:`hash_sample`
- ``model.py:59-76``    seeded train/test split      → :func:`hash_split`
- ``model.py:50-53``    MinMax scaling               → :func:`minmax_scale`
- ``calculate.py:366-423`` checkRelevance (per-feature tests + FDR)
                        → :func:`feature_relevance` (native ``corr`` per
                          feature + |r| ranking; the tsfresh FDR
                          machinery is replaced by a rank/threshold —
                          hypothesis-test parity is out of gate scope)
- ``prep.py:553-611``   combine_extracted_features   → :func:`combine_periods`

Determinism contract: anywhere the reference uses a seeded RNG
(``random_state=42``), the engine uses **content hashing** (md5 of the
key) so the result is engine-independent and the DuckDB oracle replays
it exactly — at cluster scale a hash split is also reproducible across
retries, which ``rand()`` is not.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ts_raster_spark.functions.norm import r4


def frac_hex(fraction: float) -> str:
    """8-hex-digit threshold: compare ``substring(md5(key),1,8)`` as a
    STRING against this — lexicographic order over fixed-width lowercase
    hex equals numeric order, so any engine with md5 reproduces the
    sample bit-for-bit (no float, no RNG)."""
    return format(min(int(fraction * 16**8), 16**8 - 1), "08x")


def hash_bucket(df: DataFrame, cols: list[str]) -> DataFrame:
    """Add ``_h8``: the first 8 hex digits of md5 over ``cols``."""
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in cols])
    return df.withColumn("_h8", F.substring(F.md5(key), 1, 8))


def hash_sample(df: DataFrame, cols: list[str], fraction: float) -> DataFrame:
    """Deterministic content-hash sample (``TABLESAMPLE`` analog that is
    reproducible across engines, retries and cluster sizes)."""
    return hash_bucket(df, cols).where(F.col("_h8") < frac_hex(fraction)).drop("_h8")


def hash_split(df: DataFrame, cols: list[str]) -> DataFrame:
    """Train/test label column (model.py:64's 0.67/0.33 contract)."""
    return (
        hash_bucket(df, cols)
        .withColumn(
            "split",
            F.when(F.col("_h8") < frac_hex(0.33), F.lit("test")).otherwise(F.lit("train")),
        )
        .drop("_h8")
    )


def minmax_scale(df: DataFrame, value_cols: list[str]) -> DataFrame:
    """(x - min) / (max - min) over the whole frame (model.py:50-53).
    Computed via a single global agg broadcast back — no window, no
    per-row shuffle at scale."""
    aggs = []
    for c in value_cols:
        aggs += [F.min(c).alias(f"_min_{c}"), F.max(c).alias(f"_max_{c}")]
    bounds = df.agg(*aggs)
    out = df.crossJoin(F.broadcast(bounds))
    for c in value_cols:
        rng = F.col(f"_max_{c}") - F.col(f"_min_{c}")
        out = out.withColumn(
            f"{c}_scaled",
            F.when(rng > 0, (F.col(c) - F.col(f"_min_{c}")) / rng).otherwise(F.lit(0.0)),
        )
    drop = [f"_min_{c}" for c in value_cols] + [f"_max_{c}" for c in value_cols]
    return out.drop(*drop)


def feature_relevance(xy: DataFrame, target_col: str, feature_cols: list[str]) -> DataFrame:
    """Per-feature Pearson correlation with the target and its |r|, with
    ``relevant`` set at |r| >= 0.1 (the checkRelevance analog: one cheap native agg pass computes every
    feature's statistic — no per-feature job)."""
    # ANSI-safe Pearson r: Spark 4's corr() raises DIVIDE_BY_ZERO on a
    # constant column; try_divide yields NULL there (DuckDB corr parity).
    aggs = [
        F.expr(
            f"try_divide(covar_samp({c}, {target_col}), "
            f"stddev_samp({c}) * stddev_samp({target_col}))"
        ).alias(c)
        for c in feature_cols
    ]
    row = xy.agg(*aggs)
    stacked = row.selectExpr(
        f"stack({len(feature_cols)}, "
        + ", ".join(f"'{c}', {c}" for c in feature_cols)
        + ") AS (feature, pearson_r)"
    )
    return (
        stacked.withColumn("abs_r", F.abs(F.col("pearson_r")))
        .withColumn(
            "relevant",
            F.coalesce((F.abs(F.col("pearson_r")) >= 0.1).cast("int"), F.lit(0)),
        )
        .select("feature", r4(F.col("pearson_r")).alias("pearson_r"),
                r4(F.col("abs_r")).alias("abs_r"), "relevant")
    )


def feature_relevance_fdr(xy: DataFrame, target_col: str, feature_cols: list[str]) -> DataFrame:
    """Full checkRelevance parity (calculate.py:366-423): per-feature
    Pearson test p-values + Benjamini-Hochberg FDR at level 0.05
    (tsfresh's default). One distributed agg pass computes every
    correlation; the O(#features) p-value/FDR step runs driver-side."""
    from ts_raster_spark.functions.stats import benjamini_hochberg, pearson_p_value

    spark = xy.sparkSession
    n = xy.count()
    aggs = [
        F.expr(
            f"try_divide(covar_samp({c}, {target_col}), "
            f"stddev_samp({c}) * stddev_samp({target_col}))"
        ).alias(c)
        for c in feature_cols
    ]
    row = xy.agg(*aggs).first()
    rs = {c: (row[c] if row[c] is not None else float("nan")) for c in feature_cols}
    ps = {c: pearson_p_value(r, n) for c, r in rs.items()}
    rel = benjamini_hochberg(ps)
    out = [
        (c, float(rs[c]), float(ps[c]), bool(rel[c]))
        for c in feature_cols
    ]
    return spark.createDataFrame(
        out, "feature string, pearson_r double, p_value double, relevant boolean"
    )


def wide_to_long(df: DataFrame, keys: list[str]) -> DataFrame:
    """Melt a period-suffixed wide table back to a long panel — the
    inverse of :func:`combine_periods` and the analog of the reference's
    ``wide_to_long_target_features`` (tsraster/prep.py:663-695,
    ``pd.wide_to_long`` with stubnames stripped of ``"_" + suffix``).

    Every non-key column must be named ``{stub}_{period}``; output is
    one row per (keys, period) with one column per stub (NULL where that
    stub has no column for the period, mirroring pandas NaN fill).

    Spark shape: a union of per-period narrow projections — pure
    column-level select + unionByName, NO shuffle and no Python; at any
    scale this is a single pass over the wide table.
    """
    stubs: list[str] = []
    periods: list[str] = []
    mapping: dict[tuple[str, str], str] = {}
    for c in df.columns:
        if c in keys:
            continue
        stub, _, period = c.rpartition("_")
        if not stub:
            raise ValueError(f"column {c!r} has no '_'-suffixed period")
        if stub not in stubs:
            stubs.append(stub)
        if period not in periods:
            periods.append(period)
        mapping[(stub, period)] = c
    parts = []
    for period in periods:
        cols = [F.col(k) for k in keys] + [F.lit(period).alias("period")]
        for stub in stubs:
            src = mapping.get((stub, period))
            cols.append((F.col(src) if src else F.lit(None)).alias(stub))
        parts.append(df.select(*cols))
    return reduce(lambda a, b: a.unionByName(b), parts)


def combine_periods(period_frames: dict[str, DataFrame], on: list[str]) -> DataFrame:
    """Horizontal concat of per-period feature tables on the key — the
    combine_extracted_features analog (prep.py:553-611): value columns
    get the period suffix, join is full-outer so a conversation present
    in any period survives."""
    renamed = []
    for label, df in period_frames.items():
        cols = [F.col(c) for c in on] + [
            F.col(c).alias(f"{c}_{label}") for c in df.columns if c not in on
        ]
        renamed.append(df.select(*cols))
    return reduce(lambda a, b: a.join(b, on, "full_outer"), renamed)
