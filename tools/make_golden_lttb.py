"""Golden parquet for the lttb_downsample driver query.

Same pattern as make_golden_cwt.py: the LTTB selection is sequential
per series (each chosen point depends on the previous), so its driver
oracle is a checked-in golden computed independently of Spark — DuckDB
builds the per-conversation (turn_idx, ts, text_len) series with the
shared TURNS_CTE, NumPy runs operators/downsample.lttb_indices, and the
selected rows are written one block per scale factor tagged with that
SF's events row count.  A Spark/golden hash match proves the
sorted-run plumbing (partitioning, in-series ordering, cutting Arrow
batches into series) delivers each series intact; the algorithm itself is pinned by
tests/test_downsample.py.

Usage: python tools/make_golden_lttb.py [sf_dir ...] [--out out_parquet]
"""

from __future__ import annotations

import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from ts_raster_spark.operators.downsample import lttb_indices  # noqa: E402
from ts_raster_spark.sql.oracle_prefix import TURNS_CTE  # noqa: E402

N_OUT = 20


def one_sf(sf_dir: str) -> pd.DataFrame:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{sf_dir}/events.parquet'")
    n_events = con.execute("SELECT count(*) FROM events").fetchone()[0]
    df = con.execute(
        TURNS_CTE
        + """
SELECT conv_id, turn_idx, ts, epoch(ts) AS eps,
       CAST(length(text) AS DOUBLE) AS text_len
FROM turns ORDER BY conv_id, turn_idx, ts
"""
    ).fetchdf()
    rows = []
    for conv_id, g in df.groupby("conv_id", sort=True):
        g = g.reset_index(drop=True)
        idx = lttb_indices(
            g["eps"].to_numpy(np.float64), g["text_len"].to_numpy(np.float64), N_OUT
        )
        sel = g.iloc[idx]
        for _, r in sel.iterrows():
            rows.append(
                {
                    "n_events": n_events,
                    "conv_id": conv_id,
                    "turn_idx": int(r["turn_idx"]),
                    "ts": r["ts"].strftime("%Y-%m-%d %H:%M:%S.%f"),
                    "text_len": float(r["text_len"]),
                }
            )
    return pd.DataFrame(rows)


def main():
    argv = sys.argv[1:]
    out = "tests/golden/lttb_golden.parquet"
    if "--out" in argv:
        i = argv.index("--out")
        out = argv[i + 1]
        argv = argv[:i] + argv[i + 2:]
    dirs = [a for a in argv if not a.startswith("--")] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
        "/root/testdata/sf0.1",
    ]
    blocks = [one_sf(d) for d in dirs]
    allb = pd.concat(blocks, ignore_index=True)
    allb.to_parquet(out, index=False)
    print(f"wrote {len(allb)} rows ({len(blocks)} sf blocks) -> {out}")


if __name__ == "__main__":
    main()
