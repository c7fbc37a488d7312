"""Arrow kernels over sorted key runs — the tsfresh-extraction analog.

The reference fans per-pixel series to a process pool and runs tsfresh
calculators per series (tsraster/calculate.py:93-112,
``MultiprocessingDistributor``), one call per series. Copied as
``groupBy(keys).applyInPandas``, that shape makes one Python call per
group, and at a few hundred points per series the call, not the NumPy
body, is the cost. :func:`map_sorted_runs` is the engine's one shape for
per-series Python work instead: it hash-partitions by the leading key,
sorts each partition by keys + order, and a single ``mapInPandas`` per
partition cuts the sorted Arrow batches into runs of equal keys. Each run
reaches the kernel as one pandas frame, as a group would, but a partition
of thousands of series costs one Python call. Upstream ``conv_id``
partitioning (the latency window's) satisfies the repartition, so the
plan keeps its exchanges; only the grouped-map node and its sort change.

Why both this and the native-aggregate rollup exist:
- native aggregates (operators/rollup.py) stay fully inside Catalyst
  codegen and re-aggregate algebraically across tiers — the default;
- the kernel covers calculators with no closed aggregate form
  (``number_cwt_peaks``) and is the single-pass path when many
  features of a series are wanted at once.

Skew: a run must fit one task, and all runs of one conversation share
its task (SURVEY.md §4); AQE skew handling cannot split a partition of a
``mapInPandas``.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.types import StructType

from ts_raster_spark.functions import oracle as ORC
from ts_raster_spark.functions.cwt import number_cwt_peaks

CWT_WIDTHS = {"number_cwt_peaks_n6": 6, "number_cwt_peaks_n12": 12}
KERNEL_FEATURES = list(ORC.ORACLES.keys()) + list(CWT_WIDTHS)


def _run_ends(pdf: pd.DataFrame, keys: list[str]) -> np.ndarray:
    """End positions (exclusive) of the runs of equal ``keys`` in a frame
    sorted by them; the last entry is ``len(pdf)``."""
    change = np.zeros(max(len(pdf) - 1, 0), dtype=bool)
    for k in keys:
        col = pdf[k].to_numpy()
        if col.dtype.kind == "M":
            col = col.view(np.int64)
        change |= col[1:] != col[:-1]
    return np.append(np.flatnonzero(change) + 1, len(pdf))


def _join(pieces: list[pd.DataFrame]) -> pd.DataFrame:
    return pieces[0] if len(pieces) == 1 else pd.concat(pieces, ignore_index=True)


def _sorted_runs(batches: Iterator[pd.DataFrame], keys: list[str]) -> Iterator[list[pd.DataFrame]]:
    """Cut batches sorted by ``keys`` into runs; yields, per batch, the
    runs it completes. A run can span batches: its pieces wait in
    ``carry`` and are concatenated once, when the run ends, so a long run
    costs one copy, not one per batch."""
    carry: list[pd.DataFrame] = []
    for pdf in batches:
        if pdf.empty:
            continue
        done = []
        if carry and len(_run_ends(pd.concat([carry[-1].iloc[-1:], pdf.iloc[:1]]), keys)) > 1:
            done.append(_join(carry))
            carry = []
        start = 0
        for end in _run_ends(pdf, keys)[:-1]:
            carry.append(pdf.iloc[start:end])
            done.append(_join(carry))
            carry, start = [], end
        carry.append(pdf.iloc[start:])
        yield done
    if carry:
        yield [_join(carry)]


def map_sorted_runs(
    df: DataFrame,
    keys: Sequence[str],
    order: Sequence[str],
    fn: Callable[[pd.DataFrame], pd.DataFrame | list[tuple]],
    schema: StructType | str,
) -> DataFrame:
    """``fn`` over every run of equal ``keys``, rows sorted by ``order``
    within a run — ``groupBy(keys).applyInPandas(fn, schema)`` with one
    Python call per partition instead of one per group.

    ``fn`` returns the run's output as a DataFrame, or as a list of row
    tuples in ``schema`` order.  The outputs of the runs a batch completes
    leave as one frame; a kernel with a few output rows per run should
    return tuples, since building a pandas frame per run costs more than
    most such kernels' NumPy work."""
    keys = list(keys)
    schema = StructType.fromDDL(schema) if isinstance(schema, str) else schema
    names = schema.names

    def per_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for runs in _sorted_runs(batches, keys):
            outs = [fn(run) for run in runs]
            if not outs:
                continue
            if isinstance(outs[0], pd.DataFrame):
                yield pd.concat(outs, ignore_index=True)
            else:
                yield pd.DataFrame([row for rows in outs for row in rows], columns=names)

    return (
        df.repartition(keys[0])
        .sortWithinPartitions(*keys, *order)
        .mapInPandas(per_partition, schema=schema)
    )


def _schema(features: Sequence[str]) -> str:
    cols = ["conv_id string", "kind string"]
    for f in features:
        cols.append(f"{f} long" if f in ("turn_count",) else f"{f} double")
    return ", ".join(cols)


def _feature_row(keys: list[str], key_vals, x: np.ndarray, features: Sequence[str]) -> dict:
    row = dict(zip(keys, key_vals))
    for name in features:
        if name in CWT_WIDTHS:
            row[name] = float(number_cwt_peaks(x, CWT_WIDTHS[name]))
            continue
        try:
            v = ORC.ORACLES[name](x)
        except Exception:
            v = np.nan
        row[name] = v
    return row


def extract_features_kernel(
    long_df: DataFrame, features: Sequence[str] = tuple(KERNEL_FEATURES)
) -> DataFrame:
    """Per-(conv_id, kind) feature vectors over the whole series, holding
    the ``features`` columns (any of ``KERNEL_FEATURES``) only."""
    unknown = [f for f in features if f not in KERNEL_FEATURES]
    if unknown:
        raise ValueError(f"unknown kernel features {unknown}")
    keys = ["conv_id", "kind"]

    def kernel(pdf: pd.DataFrame) -> list[tuple]:
        pdf = pdf.sort_values(["turn_idx", "ts"])
        x = pdf["value"].to_numpy(dtype=np.float64)
        key_vals = [pdf[k].iloc[0] for k in keys]
        return [tuple(_feature_row(keys, key_vals, x, features).values())]

    return map_sorted_runs(long_df, keys, ("turn_idx", "ts"), kernel, _schema(features))
