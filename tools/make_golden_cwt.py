"""Generate the golden parquet for the kernel_features_cwt driver query.

The CWT kernel has no SQL analog, so its driver oracle is a checked-in
golden table computed HERE — independently of Spark — by replaying the
same derivation chain single-node: DuckDB builds the long panel
(ts_raster_spark/sql/oracle_prefix.LONG_CTE, the same CTE every other
oracle uses), then pandas/NumPy computes the feature vector per
conversation with the reference-parity calculators
(functions/oracle.py) and functions/cwt.number_cwt_peaks. The Spark
side reaches the same numbers through the sorted-run kernel
(operators/kernels.map_sorted_runs) — so a hash match proves the
distributed plumbing (partitioning, in-series ordering, cutting Arrow
batches into series, schema) delivers each series intact. The CWT
algorithm itself is separately pinned to analytic signals in
tests/test_kernels_cwt.py.

The golden carries one block per scale factor, each tagged with that
SF's total events row count (``n_events``); the oracle SQL self-selects
its block with ``WHERE n_events = (SELECT count(*) FROM events)`` — so
one static SQL string stays correct at every gate SF.

Usage: python tools/make_golden_cwt.py [sf_dir ...] [--out out_parquet]
Defaults: sf0.001 sf0.01 sf0.1 -> tests/golden/kernel_cwt_golden.parquet
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ts_raster_spark.functions import oracle as ORC  # noqa: E402
from ts_raster_spark.functions.cwt import number_cwt_peaks  # noqa: E402
from ts_raster_spark.sql.oracle_prefix import LONG_CTE  # noqa: E402

KEEP_DOUBLES = [
    "mean", "abs_energy",
    "number_cwt_peaks_n6", "number_cwt_peaks_n12",
    "longest_strike_above_mean", "longest_strike_below_mean",
]


def r4(x: float) -> float:
    """The cross-engine rounding contract (functions/norm.py): +1e-9
    nudge, 4 decimals (10 significant digits above 1e6), signed zero
    normalized by + 0.0."""
    if x is None or (isinstance(x, float) and np.isnan(x)):
        return np.nan
    if abs(x) >= 1e6:
        p = 10.0 ** (np.floor(np.log10(abs(x))) - 9)
        return float(np.round(x / p + 1e-9) * p) + 0.0
    return float(np.round(x + 1e-9, 4)) + 0.0


def one_sf(sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
    panel = con.execute(
        LONG_CTE
        + " SELECT conv_id, turn_idx, ts, value FROM long_panel"
        " WHERE kind = 'text_len' ORDER BY conv_id, turn_idx, ts"
    ).fetchdf()

    rows = []
    for conv_id, g in panel.groupby("conv_id", sort=True):
        x = g["value"].to_numpy(dtype=np.float64)
        rows.append(
            {
                "n_events": int(n_events),
                "conv_id": conv_id,
                "kind": "text_len",
                "turn_count": int(len(x)),
                "mean": r4(ORC.mean(x)),
                "abs_energy": r4(ORC.abs_energy(x)),
                "number_cwt_peaks_n6": r4(float(number_cwt_peaks(x, 6))),
                "number_cwt_peaks_n12": r4(float(number_cwt_peaks(x, 12))),
                "longest_strike_above_mean": r4(float(ORC.longest_strike_above_mean(x))),
                "longest_strike_below_mean": r4(float(ORC.longest_strike_below_mean(x))),
            }
        )
    df = pd.DataFrame(rows)
    df["n_events"] = df["n_events"].astype("int64")
    df["turn_count"] = df["turn_count"].astype("int64")
    for c in KEEP_DOUBLES:
        df[c] = df[c].astype("float64")
    return df


def main() -> None:
    argv = sys.argv[1:]
    if "--out" in argv:
        i = argv.index("--out")
        argv = argv[:i] + argv[i + 2:]  # drop the flag AND its value
    args = [a for a in argv if not a.startswith("--")]
    sf_dirs = args or [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]
    out = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "tests", "golden", "kernel_cwt_golden.parquet",
    )
    if "--out" in sys.argv:
        out = sys.argv[sys.argv.index("--out") + 1]
    blocks = [one_sf(d) for d in sf_dirs]
    df = pd.concat(blocks, ignore_index=True)
    os.makedirs(os.path.dirname(out), exist_ok=True)
    df.to_parquet(out, index=False)
    print(f"wrote {len(df)} rows ({len(blocks)} sf blocks) -> {out}")


if __name__ == "__main__":
    main()
