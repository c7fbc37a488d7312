"""Output checks.  Every expected value comes from an implementation that
shares no code path with the engine operator under test: DuckDB over the
generated parquet (tiers), the pandas/NumPy oracle in
``ts_raster_spark/functions/oracle.py`` (features), a pyarrow read of the
tier parquet (lookup), and the codec's own input (bit-exact decode).
"""

from __future__ import annotations

import math
import sys
import time
from pathlib import Path

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds

from ts_raster_spark.compression.gorilla import encode_timestamps, encode_values
from ts_raster_spark.functions.oracle import ORACLES, quantile

# Relative tolerance on sums and oracle features: float64 sums of up to a
# few thousand values taken in another order, amplified by cancellation in
# the moment features (variance, skewness, kurtosis).
REL_TOL = 1e-7
ABS_TOL = 1e-9

US_PER_HOUR = 3_600_000_000


def fail(msg: str) -> bool:
    print(f"check failed: {msg}", file=sys.stderr)
    return False


def parquet_rows(path: Path) -> int:
    return ds.dataset(str(path), format="parquet", partitioning="hive").count_rows()


def tail_percentile(walls) -> dict | None:
    """The highest percentile with at least ten samples above it."""
    n = len(walls)
    if n < 11:
        return None
    s = sorted(walls)
    k = n - 11  # 0-based rank with exactly ten samples above
    return {"percentile": round(100 * (k + 1) / n, 1), "ms": 1000 * s[k], "samples": n}


# The turns -> channel long panel, written independently of
# operators/longform.py.  UNPIVOT drops the head turn's null latency.
_LONG_SQL = """
CREATE TABLE long AS
WITH t AS (
  SELECT conv_id, turn_idx, epoch_us(ts) AS us,
         length(text)::DOUBLE AS text_len,
         (tool IS NOT NULL)::DOUBLE AS is_tool,
         (role = 'user')::DOUBLE AS role_user,
         (role = 'assistant')::DOUBLE AS role_assistant
  FROM read_parquet('{turns}/*.parquet')),
l AS (
  SELECT a.*, a.us / 1e6 - b.us / 1e6 AS latency_s
  FROM t a LEFT JOIN t b ON a.conv_id = b.conv_id AND a.turn_idx = b.turn_idx + 1)
UNPIVOT l ON text_len, latency_s, is_tool, role_user, role_assistant
INTO NAME kind VALUE value
"""


class TierChecker:
    """Day tier and gap-filled minute tier against DuckDB over the same
    generated parquet: per (conv_id, kind, day) counts, min and max match
    exactly and sums within REL_TOL; the gap-filled row count equals
    sum over series of (span / 60 s + 1)."""

    def __init__(self, turns: Path):
        self.con = duckdb.connect()
        self.con.execute(_LONG_SQL.format(turns=turns))
        self.con.execute("""
            CREATE TABLE exp_day AS
            SELECT conv_id, kind, us // 86400000000 AS day, count(*) AS n,
                   sum(value) AS s, min(value) AS mn, max(value) AS mx
            FROM long GROUP BY ALL""")
        self.filled_rows = self.con.execute("""
            SELECT sum(hi - lo + 1) FROM (
              SELECT max(us // 60000000) AS hi, min(us // 60000000) AS lo
              FROM long GROUP BY conv_id, kind)""").fetchone()[0]

    def check(self, root: Path, counts: dict) -> bool:
        bad = self.con.execute(f"""
            WITH a AS (
              SELECT conv_id, kind, epoch_us(bucket_start) // 86400000000 AS day,
                     turn_count, sum_values, minimum, maximum
              FROM read_parquet('{root}/rollup_day/*/*.parquet', hive_partitioning = true))
            SELECT count(*) FROM exp_day e FULL JOIN a USING (conv_id, kind, day)
            WHERE e.n IS DISTINCT FROM a.turn_count
               OR e.mn IS DISTINCT FROM a.minimum OR e.mx IS DISTINCT FROM a.maximum
               OR a.sum_values IS NULL OR e.s IS NULL
               OR abs(e.s - a.sum_values) > {REL_TOL} * greatest(1.0, abs(e.s))""").fetchone()[0]
        if bad:
            return fail(f"{bad} day-tier rows differ from DuckDB")
        filled = parquet_rows(root / "rollup_minute_filled")
        if filled != self.filled_rows or counts.get("minute_filled") != filled:
            return fail(f"gap-filled rows {filled} (job says {counts.get('minute_filled')}), "
                        f"expected {self.filled_rows}")
        return True


def tier_sizes(root: Path, tables) -> dict:
    files = [f for t in tables for f in (root / t).rglob("*.parquet")]
    return {"bytes": sum(f.stat().st_size for f in files), "files": len(files)}


def _beyond_band(x, r: float) -> tuple[float, float]:
    """ratio_beyond_r_sigma with points within REL_TOL of r*sigma counted
    either way: on 0/1 channels |x - mean| = r*sigma holds exactly (one 1
    in five values: |1 - 0.2| = 2 * 0.4), and which side a 1-ulp
    difference in sigma puts it on is not a property of the formula."""
    d = np.abs(x - x.mean())
    s = r * x.std()
    return float(np.mean(d > s * (1 + REL_TOL))), float(np.mean(d > s * (1 - REL_TOL)))


# Threshold features: the oracle gives the (low, high) values a point
# lying on the threshold can produce.
TIE_BANDS = {
    "ratio_beyond_r_sigma_r2": lambda x: _beyond_band(x, 2.0),
    "ratio_beyond_r_sigma_r3": lambda x: _beyond_band(x, 3.0),
}


def _same(got, exp) -> bool:
    g_missing = got is None or (isinstance(got, float) and math.isnan(got))
    e_missing = exp is None or (isinstance(exp, float) and math.isnan(exp))
    if g_missing or e_missing:
        return g_missing and e_missing
    return math.isclose(float(got), float(exp), rel_tol=REL_TOL, abs_tol=ABS_TOL)


class FeatureChecker:
    """Feature rows of a seeded sample of conversations, always including
    the mega-conversation conv-000000, against the oracle."""

    sample_size = 8

    def __init__(self, turns: Path, seed: int):
        ids = sorted(pc.unique(ds.dataset(str(turns)).to_table(columns=["conv_id"])["conv_id"]).to_pylist())
        rng = np.random.default_rng(seed)
        self.sample = ["conv-000000"] + list(rng.choice(ids[1:], self.sample_size, replace=False))
        t = ds.dataset(str(turns)).to_table(filter=pc.field("conv_id").isin(self.sample)).to_pandas()
        t = t.sort_values(["conv_id", "turn_idx", "ts"]).reset_index(drop=True)
        us = t["ts"].to_numpy().astype("datetime64[us]").astype(np.int64)
        sec = us / 1e6
        prev_sec = pd.Series(sec).groupby(t["conv_id"]).shift(1).to_numpy()
        chans = pd.DataFrame({
            "conv_id": t["conv_id"], "turn_idx": t["turn_idx"], "us": us,
            "text_len": t["text"].str.len().astype(float),
            "latency_s": sec - prev_sec,
            "is_tool": t["tool"].notna().astype(float),
            "role_user": (t["role"] == "user").astype(float),
            "role_assistant": (t["role"] == "assistant").astype(float),
        })
        long = chans.melt(id_vars=["conv_id", "turn_idx", "us"], var_name="kind", value_name="value")
        long = long.dropna(subset=["value"]).sort_values(["conv_id", "kind", "turn_idx", "us"])
        long["hour"] = long["us"] // US_PER_HOUR
        self.long = long
        self.ties: list[str] = []  # threshold features decided by a tie

    def _compare(self, got: pd.DataFrame, keys: list[str], oracles: dict) -> bool:
        exp_groups = {k: g["value"].to_numpy() for k, g in self.long.groupby(keys)}
        if len(got) != len(exp_groups):
            return fail(f"{len(got)} feature rows for the sample, expected {len(exp_groups)}")
        for row in got.itertuples(index=False):
            key = tuple(getattr(row, k) for k in keys)
            x = exp_groups.get(key)
            if x is None:
                return fail(f"unexpected feature row {key}")
            for f, oracle in oracles.items():
                got = getattr(row, f)
                if _same(got, oracle(x)):
                    continue
                if f in TIE_BANDS and got is not None:
                    lo, hi = TIE_BANDS[f](x)
                    if lo - ABS_TOL <= got <= hi + ABS_TOL:
                        self.ties.append(f"{f}{key}: got {got}, oracle {oracle(x)}")
                        continue
                return fail(f"{f}{key}: got {got}, oracle {oracle(x)}")
        return True

    def check(self, frames: dict) -> bool:
        """``frames``: the hour-tier, whole-conversation and extended
        feature DataFrames, keyed hour / conv / ext."""
        from pyspark.sql import functions as F

        out = {}
        for name, df in frames.items():
            pdf = df.where(F.col("conv_id").isin(self.sample)).toPandas()
            if "bucket_start" in pdf:
                pdf["hour"] = pdf["bucket_start"].to_numpy().astype("datetime64[us]").astype(np.int64) // US_PER_HOUR
            out[name] = pdf
        return (
            self._compare(out["hour"], ["conv_id", "kind", "hour"],
                          {f: o for f, o in ORACLES.items() if f in out["hour"]})
            and self._compare(out["conv"], ["conv_id", "kind"],
                              {f: o for f, o in ORACLES.items() if f in out["conv"]})
            and self._compare(out["ext"], ["conv_id", "kind"], {
                "quantile_q25": lambda x: quantile(x, 0.25),
                "quantile_q75": lambda x: quantile(x, 0.75),
            })
        )


def _normal(v):
    if isinstance(v, float):
        return v.hex()
    if hasattr(v, "timestamp"):
        return round(v.timestamp() * 1_000_000)
    return v


class LookupChecker:
    """read_conv rows against a pyarrow read of the tier parquet filtered
    to the same conv_id."""

    def __init__(self, table: Path):
        self.dataset = ds.dataset(str(table), format="parquet", partitioning="hive")
        self.columns = [c for c in self.dataset.schema.names if c != "bucket_id"]

    def check(self, conv_id: str, rows) -> bool:
        exp = self.dataset.to_table(columns=self.columns, filter=pc.field("conv_id") == conv_id).to_pylist()
        want = sorted(tuple(_normal(r[c]) for c in self.columns) for r in exp)
        got = sorted(tuple(_normal(r[c]) for c in self.columns) for r in rows)
        if got != want:
            return fail(f"lookup {conv_id}: {len(got)} rows differ from the {len(want)} stored")
        return True


def _canonical(t: pa.Table) -> pd.DataFrame:
    df = pd.DataFrame({
        "conv_id": t["conv_id"].to_numpy(zero_copy_only=False),
        "kind": t["kind"].to_numpy(zero_copy_only=False),
        "ts": t["ts"].cast(pa.timestamp("us")).cast(pa.int64()).to_numpy(),
        "bits": t["value"].to_numpy().view(np.int64),
    })
    return df.sort_values(list(df.columns)).reset_index(drop=True)


class CodecChecker:
    """Decoded points equal the encoded long panel bit for bit."""

    def __init__(self, expected: pa.Table):
        self.expected = _canonical(expected)

    def check(self, out: pa.Table) -> bool:
        got = _canonical(out)
        if not got.equals(self.expected):
            return fail(f"codec round trip: {len(got)} points differ from the {len(self.expected)} encoded")
        return True


def block_stats(blocks: pa.Table) -> dict:
    n = pc.sum(blocks["n"]).as_py()
    stored = pc.sum(pc.add(pc.binary_length(blocks["ts_block"]), pc.binary_length(blocks["val_block"]))).as_py()
    groups = len(set(zip(blocks["conv_id"].to_pylist(), blocks["kind"].to_pylist())))
    return {
        "points": n,
        "blocks": blocks.num_rows,
        "groups": groups,
        "points_per_block": n / blocks.num_rows,
        "bits_per_value": 8 * stored / n,
    }


def encode_in_process(long_pdf: pd.DataFrame) -> tuple[int, float]:
    """Encode the same day blocks compress_blocks builds, in this process:
    the kernel body without the Arrow grouped-map boundary."""
    long_pdf = long_pdf.assign(day=long_pdf["ts"].dt.floor("D"))
    blocks = []
    for _, sub in long_pdf.sort_values(["turn_idx", "ts"]).groupby(["conv_id", "kind", "day"], sort=True):
        blocks.append((sub["ts"].to_numpy(dtype="datetime64[us]").view(np.int64),
                       sub["value"].to_numpy(dtype=np.float64)))
    t0 = time.perf_counter()
    for ts_us, vals in blocks:
        encode_timestamps(ts_us)
        encode_values(vals)
    return sum(len(v) for _, v in blocks), time.perf_counter() - t0
