"""The two workloads.  Each generates its input from the seed, runs one
operation per call of ``op`` and checks outputs with ``checks``.

At these input sizes an operation takes 7-11 s on ``local[4]`` on a
4-vCPU x86-64 box, most of it per-query planning, code generation and
task scheduling; a run, with a fresh JVM and its warm-up, takes about a
minute.

A traced run times the workload's own operation with spans (overhead and
plan counts), then every layer of the retention path on the workload's
input, so each per-layer metric is measured on both inputs: the uniform
tier-job input and the skewed feature input.
"""

from __future__ import annotations

import shutil
import statistics
import time
from contextlib import nullcontext
from pathlib import Path

import numpy as np

import checks
from tracing import TIER_TABLES
from ts_raster_spark import jobs
from ts_raster_spark.datagen import gen_turns
from ts_raster_spark.functions import features as FT
from ts_raster_spark.functions.features_ext import rollup_ext_features
from ts_raster_spark.operators.cascade import cascade_up
from ts_raster_spark.operators.compress import compress_blocks, decompress_blocks
from ts_raster_spark.operators.gapfill import gapfill
from ts_raster_spark.operators.longform import to_long_panel, with_channels
from ts_raster_spark.operators.rollup import bucketize, rollup_features, rollup_simple_wide
from ts_raster_spark.plans.checkpoint import read_result
from ts_raster_spark.sources.catalog import ParquetTierCatalog

LOOKUPS_PER_OP = 6
ZIPF_S = 1.1

QUERIES = {
    "hour": lambda long_df: rollup_features(long_df, tier="hour"),
    "conv": lambda long_df: rollup_features(
        long_df, tier=None, include_strikes=True, include_trend=True, include_entropy=True
    ),
    "ext": lambda long_df: rollup_ext_features(long_df, ["conv_id", "kind"]),
}

# Each catalog write's self time is its span minus the rung computing its input.
WRITE_BASES = {
    "write:rollup_minute": "read_ckpt",
    "write:rollup_hour": "cascade_hour",
    "write:rollup_day": "cascade_day",
    "write:rollup_minute_filled": "gapfill",
}


def mega_turns(other_rows: int, share: float = 0.05) -> int:
    """Length of a mega-conversation holding ``share`` of all rows."""
    return round(other_rows * share / (1 - share))


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def job_config(out_root: Path) -> jobs.RollupJobConfig:
    """The documented production invocation (tools/submit_rollup.py,
    examples/quickstart.py) without --compress, with two checkpoint
    slices: each slice adds a few small Spark jobs, and at this input
    size more slices add scheduling time, not work."""
    return jobs.RollupJobConfig(out_root=str(out_root), gapfill_policy="locf", checkpoint_slices=2)


def zipf_keys(n_convs: int, seed: int, hot_first: bool) -> list[str]:
    """4096 conv_ids drawn from Zipf(ZIPF_S) over seeded ranks; with
    ``hot_first`` the mega-conversation conv-000000 holds rank 1."""
    rng = np.random.default_rng(seed)
    ids = [f"conv-{i:06d}" for i in range(n_convs)]
    ranked = ids[:1] + list(rng.permutation(ids[1:])) if hot_first else list(rng.permutation(ids))
    p = 1.0 / np.arange(1, len(ranked) + 1) ** ZIPF_S
    return list(rng.choice(ranked, size=4096, p=p / p.sum()))


def codec_panel(turns, n_convs: int):
    """The long panel of the first ``n_convs`` conversations."""
    return to_long_panel(turns.where(turns.conv_id < f"conv-{n_convs:06d}"))


class Workload:
    n_convs = 0
    # equal lengths: the same input size, and so the same adaptive plan
    # choices, on every seed
    min_turns = max_turns = 31
    mega = 0
    materialize_reps = 3
    warmup_ops = 1

    def __init__(self, spark, work: Path, seed: int):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.turns_path = work / "turns"
        self.n_turns = 0
        self.keys = zipf_keys(self.n_convs, seed, hot_first=self.mega > 0)
        self.lookup_walls: list[float] = []

    def turns(self):
        return self.spark.read.parquet(str(self.turns_path))

    def setup(self) -> dict:
        walls = []
        for _ in range(self.materialize_reps):
            t0 = time.perf_counter()
            gen_turns(
                self.spark, n_convs=self.n_convs, min_turns=self.min_turns,
                max_turns=self.max_turns, seed=self.seed, mega_conv_turns=self.mega,
            ).write.mode("overwrite").parquet(str(self.turns_path))
            walls.append(time.perf_counter() - t0)
        self.n_turns = checks.parquet_rows(self.turns_path)
        t0 = time.perf_counter()
        self.prepare()
        return {
            "materialize_s": statistics.median(walls),
            "materialize_walls_s": walls,
            "prepare_s": time.perf_counter() - t0,
        }

    def prepare(self) -> None:
        """Workload set-up beyond the input (counted in setup_s)."""

    def prepare_checks(self) -> None:
        """Expected values for the output checks (not counted)."""

    def check(self, out) -> bool:
        return True

    def final_check(self) -> bool:
        """A check covering every operation of the run."""
        return True

    def untraced_extra(self) -> dict:
        """Run-record fields beyond the end-to-end metrics."""
        return {}

    def tier_cycle(self, out: Path, i: int, lookup_span=nullcontext):
        """run_rollup_job into ``out``, then LOOKUPS_PER_OP hour-tier
        point lookups (read_conv + collect) of Zipf-drawn conv_ids."""
        counts = jobs.run_rollup_job(self.spark, self.turns(), job_config(out))
        cat = ParquetTierCatalog(str(out))
        rows = []
        for j in range(LOOKUPS_PER_OP):
            conv_id = self.keys[(i * LOOKUPS_PER_OP + j) % len(self.keys)]
            t0 = time.perf_counter()
            with lookup_span():
                rows.append((conv_id, cat.read_conv(self.spark, "rollup_hour", conv_id).collect()))
            self.lookup_walls.append(time.perf_counter() - t0)
        return out, counts, rows

    def trace_layers(self, tr, root: Path, counts: dict, frames: dict) -> None:
        """Rungs for every lazy layer on this input, over the tier tables
        a tier cycle wrote under ``root`` with job ``counts``, then the
        codec kernel in-process."""
        spark, turns = self.spark, self.turns()
        long_df = to_long_panel(turns)
        keyed, keys = bucketize(long_df, "hour")
        ranked = FT.attach_value_rank(keyed, keys)
        codec_long = codec_panel(turns, self.n_convs // 10)
        encoded = compress_blocks(codec_long)
        cat = ParquetTierCatalog(str(root))
        minute, hour = cat.read(spark, "rollup_minute"), cat.read(spark, "rollup_hour")
        points = minute.selectExpr(  # as run_rollup_job feeds the gap-fill
            "conv_id", "kind", "bucket_start", "sum_values / turn_count AS value"
        )
        rungs = [
            ("scan", "sources.turns", turns, None),
            ("channels", "operators.longform", with_channels(turns), "scan"),
            ("stack", "operators.longform", long_df, "channels"),
            ("value_rank", "functions.features", ranked, "stack"),
            ("group_stats", "functions.features", FT.attach_group_stats(ranked, keys), "value_rank"),
            ("features_hour", "operators.rollup", frames["hour"], "group_stats"),
            ("features_conv", "operators.rollup", frames["conv"], "stack"),
            ("ext", "functions.features_ext", frames["ext"], "stack"),
            ("codec_input", "operators.longform", codec_long, None),
            ("encode", "operators.compress", encoded, "codec_input"),
            ("decode", "operators.compress", decompress_blocks(encoded), "encode"),
            ("minute", "operators.rollup", rollup_simple_wide(turns, "minute"), "channels"),
            ("read_ckpt", "sources.catalog", read_result(spark, str(root / "_ckpt_minute")), None),
            ("read_minute", "sources.catalog", minute, None),
            ("cascade_hour", "operators.cascade", cascade_up(minute, "hour"), "read_minute"),
            ("read_hour", "sources.catalog", hour, None),
            ("cascade_day", "operators.cascade", cascade_up(hour, "day"), "read_hour"),
            ("points", "sources.catalog", points, None),
            ("gapfill", "operators.gapfill", gapfill(points, "minute", "locf"), "points"),
        ]
        long_rows = long_df.count()
        codec_pdf = codec_long.toPandas()
        block_stats = checks.block_stats(encoded.toArrow())
        tr.begin()
        tr.ladder(rungs)
        with tr.span("gorilla_encode", "compression.gorilla"):
            n_values, wall = checks.encode_in_process(codec_pdf)
        tr.end()
        tr.bases.update(WRITE_BASES)
        sizes = checks.tier_sizes(root, TIER_TABLES)
        tr.extra.update(
            tier_bytes=sizes["bytes"],
            tier_files=sizes["files"],
            tier_bytes_per_turn=sizes["bytes"] / self.n_turns,
            gapfill_rows_per_point=counts["minute_filled"] / counts["minute"],
            long_rows_per_turn=long_rows / self.n_turns,
            block_stats=block_stats,
            gorilla_encode_values_per_s=n_values / wall,
        )


class Tiers(Workload):
    """Write path plus reads of what it wrote.  One operation runs
    run_rollup_job (checkpoint slices, catalog writes, cascade re-scans,
    minute gap-fill) over conversations of uniform length with no
    mega-conversation, then serves LOOKUPS_PER_OP point lookups
    (ParquetTierCatalog.read_conv + collect of hour-tier rows) for
    Zipf-drawn conv_ids, so a write-side layout change that slows reads
    shows in the same operation."""

    n_convs = 250

    def op(self, i):
        out = self.work / f"tiers_{i}"
        shutil.rmtree(out, ignore_errors=True)
        return self.tier_cycle(out, i)

    def prepare_checks(self) -> None:
        self.checker = checks.TierChecker(self.turns_path)
        self.lookup_walls.clear()  # the warm-up operation's lookups are not results

    def check(self, out) -> bool:
        root, counts, rows = out
        lookups = checks.LookupChecker(root / "rollup_hour")
        ok = self.checker.check(root, counts) and all(lookups.check(*r) for r in rows)
        shutil.rmtree(root, ignore_errors=True)
        return ok

    def untraced_extra(self) -> dict:
        return {
            "lookup_p50_ms": 1000 * statistics.median(self.lookup_walls),
            "lookup_tail": checks.tail_percentile(self.lookup_walls),
        }

    def traced(self, tr) -> dict:
        plain, loop = [], {"walls": [], "attempted": 0, "failed": 0}
        for k in range(2):  # plain and instrumented operations alternate
            plain.append(tr.plain(lambda: self.tier_cycle(self.work / f"plain_{k}", 100 + k)))
            tr.begin()
            t0 = time.perf_counter()
            with tr.instrument():
                out = self.tier_cycle(self.work / f"traced_{k}", k, lambda: tr.span("lookup", "sources.catalog"))
            loop["walls"].append(time.perf_counter() - t0)
            tr.end()
            loop["attempted"] += 1
            if not self.check(out):
                loop["failed"] += 1
        tr.overhead(plain, loop["walls"])
        frames = {name: query(to_long_panel(self.turns())) for name, query in QUERIES.items()}
        self.trace_layers(tr, self.work / "plain_1", out[1], frames)
        return loop


class Features(Workload):
    """Read/compute-only work on the long panel of uniform conversations
    plus one mega-conversation holding ~5% of rows.  One operation is:
    hour-tier rollup_features over to_long_panel, whole-conversation
    features with strikes/trend/entropy and rollup_ext_features, all into
    the noop sink, then a compress_blocks -> decompress_blocks round trip
    over all channels of the first tenth of the conversations (the codec
    runs ~10k values/s, so on the whole table it would swamp the rest);
    the slice includes the mega-conversation."""

    n_convs = 150
    mega = mega_turns(149 * 31)
    # the operation's wall keeps falling over its first three runs in a
    # fresh JVM (about 15% in all), so two run before timing starts
    warmup_ops = 2

    def codec_long(self):
        return codec_panel(self.turns(), self.n_convs // 10)

    def prepare(self) -> None:
        # Built once: the operation executes plans, as a batch job does;
        # building them (driver-side analysis) is set-up.
        long_df = to_long_panel(self.turns())
        self.frames = {name: query(long_df) for name, query in QUERIES.items()}
        self.roundtrip = decompress_blocks(compress_blocks(self.codec_long()))

    def op(self, i):
        for df in self.frames.values():
            noop(df)
        return self.roundtrip.toArrow()

    def prepare_checks(self) -> None:
        self.checker = checks.FeatureChecker(self.turns_path, self.seed)
        self.codec_checker = checks.CodecChecker(
            self.codec_long().select("conv_id", "kind", "ts", "value").toArrow()
        )
        self.block_stats = checks.block_stats(compress_blocks(self.codec_long()).toArrow())

    def check(self, out) -> bool:
        return self.codec_checker.check(out)

    def final_check(self) -> bool:
        return self.checker.check(self.frames)

    def untraced_extra(self) -> dict:
        return {"block_stats": self.block_stats, "feature_ties": self.checker.ties}

    def traced(self, tr) -> dict:
        plain, loop = [], {"walls": [], "attempted": 0, "failed": 0}
        for _ in range(2):  # plain and instrumented operations alternate
            plain.append(tr.plain(lambda: self.op(0)))
            tr.begin()
            t0 = time.perf_counter()
            for name, df in self.frames.items():
                with tr.span(f"sink:{name}", "functions.features_ext" if name == "ext" else "operators.rollup"):
                    noop(df)
            with tr.span("roundtrip", "operators.compress"):
                out = self.roundtrip.toArrow()
            loop["walls"].append(time.perf_counter() - t0)
            tr.end()
            loop["attempted"] += 1
            if not self.check(out):
                loop["failed"] += 1
        tr.overhead(plain, loop["walls"])
        # the tier job and its lookups on this input, for the eager layers
        root = self.work / "tiers"
        tr.begin()
        with tr.instrument():
            _, counts, _ = self.tier_cycle(root, 0, lambda: tr.span("lookup", "sources.catalog"))
        tr.end()
        self.trace_layers(tr, root, counts, self.frames)
        if not self.final_check():
            loop["failed"] = loop["attempted"]
        tr.extra["feature_ties"] = self.checker.ties
        return loop


WORKLOADS = {"tiers": Tiers, "features": Features}
