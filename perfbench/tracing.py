"""Traced run: per-layer times and stage metrics, measured from outside
the engine.

- Eager calls are spanned by wrapping the engine's public functions for
  the length of one operation (``instrument``): the checkpoint lineage
  pass and slice loop, catalog writes and point lookups, and the tier job.
- Spark is lazy, so a DataFrame layer is a cumulative rung forced into
  the noop sink (``ladder``); a rung's self time is its median wall minus
  its base rung's.
- Every span labels its Spark jobs with a job group.  The session writes a
  local event log; ``report`` folds its task-end records into each span's
  task time, shuffle write, spill and GC, and counts Exchange and Sort
  nodes in the formatted physical plans of the operation's queries.

Spans are kept in memory (name, layer, start, end, parent, run id) and
written to the run record.
"""

from __future__ import annotations

import json
import re
import statistics
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

# Layers on the retention path that run Spark jobs, and the stage metrics
# reported for each (a layer's own jobs; for ``jobs``, the whole tier job);
# compression.gorilla runs in-process and has none.
SPARK_LAYERS = (
    "sources.turns", "plans.checkpoint", "operators.longform", "operators.rollup",
    "functions.features", "functions.features_ext", "sources.catalog",
    "operators.cascade", "operators.gapfill", "operators.compress", "jobs",
)
STAGE_METRICS = {"task_s": "s", "shuffle_write_bytes": "B", "spill_bytes": "B", "gc_s": "s"}
TIER_TABLES = ("rollup_minute", "rollup_hour", "rollup_day", "rollup_minute_filled")

# Per-layer metrics besides the stage metrics: name -> unit.
LAYER_METRICS = {
    "sources.turns.scan_s": "s",
    "operators.longform.channels_s": "s",
    "operators.longform.stack_s": "s",
    "operators.longform.rows_per_turn": "rows/turn",
    "plans.checkpoint.lineage_s": "s",
    "plans.checkpoint.slices_s": "s",
    "plans.checkpoint.input_scans": "count",
    "operators.rollup.minute_s": "s",
    "operators.rollup.features_hour_s": "s",
    "operators.rollup.features_conv_s": "s",
    "functions.features.value_rank_s": "s",
    "functions.features.group_stats_s": "s",
    "functions.features_ext.ext_s": "s",
    **{f"sources.catalog.write_s.{t}": "s" for t in TIER_TABLES},
    "sources.catalog.bytes_written": "B",
    "sources.catalog.files_written": "count",
    "sources.catalog.bytes_per_turn": "B/turn",
    "sources.catalog.read_conv_s": "s",
    "sources.catalog.jobs_per_lookup": "count",
    "sources.catalog.bytes_read_per_lookup": "B",
    "operators.cascade.hour_s": "s",
    "operators.cascade.day_s": "s",
    "operators.gapfill.fill_s": "s",
    "operators.gapfill.rows_per_point": "rows/point",
    "operators.compress.encode_s": "s",
    "operators.compress.decode_s": "s",
    "operators.compress.groups": "count",
    "operators.compress.points_per_block": "points",
    "operators.compress.bits_per_value": "bits",
    "compression.gorilla.encode_values_per_s": "values/s",
    "jobs.run_s": "s",
    "jobs.self_s": "s",
    "plan.exchanges": "count",
    "plan.sorts": "count",
    "trace.overhead_frac": "frac",
    "trace.coverage_frac": "frac",
    "trace.wall_s": "s",
    "process.peak_rss_mb": "MB",
}

# metric -> the rung or span whose self time it reports
SELF_TIMES = {
    "sources.turns.scan_s": "scan",
    "operators.longform.channels_s": "channels",
    "operators.longform.stack_s": "stack",
    "plans.checkpoint.lineage_s": "slice_lineage",
    "plans.checkpoint.slices_s": "run_checkpointed",
    "operators.rollup.minute_s": "minute",
    "operators.rollup.features_hour_s": "features_hour",
    "operators.rollup.features_conv_s": "features_conv",
    "functions.features.value_rank_s": "value_rank",
    "functions.features.group_stats_s": "group_stats",
    "functions.features_ext.ext_s": "ext",
    **{f"sources.catalog.write_s.{t}": f"write:{t}" for t in TIER_TABLES},
    "operators.cascade.hour_s": "cascade_hour",
    "operators.cascade.day_s": "cascade_day",
    "operators.gapfill.fill_s": "gapfill",
    "operators.compress.encode_s": "encode",
    "operators.compress.decode_s": "decode",
    "jobs.self_s": "run_rollup_job",
}

RUNG_REPS = 2


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name -> unit (the BENCHMARK.json list)."""
    out = {f"{layer}.{m}": unit for layer in SPARK_LAYERS for m, unit in STAGE_METRICS.items()}
    out.update(LAYER_METRICS)
    return out


def _count_nodes(plan: str, node: str) -> int:
    return len(re.findall(rf"^\(\d+\) {node}\b", plan, re.M))


class Tracer:
    def __init__(self, spark, work: Path):
        self.sc = spark.sparkContext
        self.work = work
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.bases: dict[str, str] = {}
        self.extra: dict = {}
        self._open: list[int] = []
        self._t0 = time.perf_counter()
        self._op_spans = 0
        self._segments: list[list[float]] = []

    def _now(self) -> float:
        return time.perf_counter() - self._t0

    @contextmanager
    def span(self, name: str, layer: str, rung: bool = False):
        sid = len(self.spans)
        rec = {"id": sid, "run_id": self.run_id, "name": name, "layer": layer, "rung": rung,
               "parent": self._open[-1] if self._open else None, "start": self._now()}
        self.spans.append(rec)
        self._open.append(sid)
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setLocalProperty("spark.jobGroup.id", f"span-{sid}")
        try:
            yield rec
        finally:
            rec["end"] = self._now()
            self._open.pop()
            self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def plain(self, fn) -> float:
        """Wall of ``fn`` without spans (the overhead baseline)."""
        t0 = time.perf_counter()
        fn()
        return time.perf_counter() - t0

    def begin(self) -> None:
        """Start a traced segment; the traced wall is the segments' sum."""
        self._segments.append([self._now(), None])

    def end(self) -> None:
        self._segments[-1][1] = self._now()

    def overhead(self, plain_walls, traced_walls) -> None:
        """Instrumented against plain walls of the same operation."""
        self.extra["plain_walls_s"] = plain_walls
        self.extra["traced_walls_s"] = traced_walls
        self.extra["ops_traced"] = len(traced_walls)
        self.extra["overhead_frac"] = statistics.median(traced_walls) / statistics.median(plain_walls) - 1
        self._op_spans = len(self.spans)  # spans so far belong to the operations

    @contextmanager
    def instrument(self):
        """Span every call into the engine's public eager functions."""
        from ts_raster_spark import jobs
        from ts_raster_spark.plans import checkpoint
        from ts_raster_spark.sources.catalog import ParquetTierCatalog

        saved = []

        def wrap(owner, attr, layer, name_of=None):
            orig = getattr(owner, attr)

            def wrapper(*a, **k):
                with self.span(name_of(*a, **k) if name_of else attr, layer):
                    return orig(*a, **k)

            saved.append((owner, attr, orig))
            setattr(owner, attr, wrapper)

        wrap(checkpoint, "slice_lineage", "plans.checkpoint")
        wrap(checkpoint, "run_checkpointed", "plans.checkpoint")
        wrap(jobs, "run_checkpointed", "plans.checkpoint")  # bound by name in jobs
        wrap(jobs, "run_rollup_job", "jobs")
        wrap(ParquetTierCatalog, "write", "sources.catalog", lambda cat, df, table, *a, **k: f"write:{table}")
        wrap(ParquetTierCatalog, "read_conv", "sources.catalog")
        try:
            yield
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def ladder(self, rungs) -> None:
        """``rungs``: (name, layer, DataFrame, base rung name or None).
        The DataFrames are built beforehand, so a rung times execution."""
        for name, layer, df, base in rungs:
            if base:
                self.bases[name] = base
            for _ in range(RUNG_REPS):
                with self.span(name, layer, rung=True):
                    df.write.format("noop").mode("overwrite").save()

    # ---- after the session has stopped ---------------------------------

    def _fold_event_log(self) -> None:
        """Attach each span's own stage metrics, job count and query plans."""
        logs = [p for p in (self.work / "eventlog").rglob("*")
                if p.is_file() and not p.name.startswith(".") and not p.name.endswith(".crc")]
        group_of_job, group_of_stage, group_of_exec, plans = {}, {}, {}, {}
        totals = {s["id"]: {"task_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0,
                            "gc_s": 0.0, "input_bytes": 0, "jobs": 0, "plans": []}
                  for s in self.spans}
        tasks = []
        for path in logs:
            with open(path) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        group = props.get("spark.jobGroup.id", "")
                        if not group.startswith("span-"):
                            continue
                        sid = int(group[5:])
                        group_of_job[ev["Job ID"]] = sid
                        totals[sid]["jobs"] += 1
                        for st in ev.get("Stage IDs", []):
                            group_of_stage.setdefault(st, sid)
                        if "spark.sql.execution.id" in props:
                            group_of_exec.setdefault(int(props["spark.sql.execution.id"]), sid)
                    elif kind == "SparkListenerTaskEnd":
                        tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
                    elif kind.endswith("SparkListenerSQLExecutionStart"):
                        plans[ev["executionId"]] = ev.get("physicalPlanDescription", "")
        for stage, m in tasks:
            sid = group_of_stage.get(stage)
            if sid is None:
                continue
            t = totals[sid]
            t["task_s"] += m.get("Executor Run Time", 0) / 1000
            t["gc_s"] += m.get("JVM GC Time", 0) / 1000
            t["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
            t["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            t["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for ex, sid in group_of_exec.items():
            totals[sid]["plans"].append(plans.get(ex, ""))
        for s in self.spans:
            s["stage"] = totals[s["id"]]

    def _items(self) -> dict:
        """Spans grouped by name: median wall, median self wall (children
        subtracted) and mean stage metrics per occurrence, then each base
        rung's median wall and stage metrics subtracted."""
        child_wall: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child_wall[s["parent"]] = child_wall.get(s["parent"], 0.0) + s["end"] - s["start"]
        by_name: dict[str, list[dict]] = {}
        for s in self.spans:
            by_name.setdefault(s["name"], []).append(s)
        items = {}
        for name, ss in by_name.items():
            items[name] = {
                "layer": ss[0]["layer"],
                "wall": statistics.median(s["end"] - s["start"] for s in ss),
                "self": statistics.median(s["end"] - s["start"] - child_wall.get(s["id"], 0.0) for s in ss),
                "stage": {m: sum(s["stage"][m] for s in ss) / len(ss) for m in STAGE_METRICS},
            }
        for name, base in self.bases.items():
            if name in items and base in items:
                it, b = items[name], items[base]
                it["self"] -= b["wall"]
                it["stage"] = {m: it["stage"][m] - b["stage"][m] for m in STAGE_METRICS}
        return items

    def report(self, peak_rss_mb: float) -> dict:
        """Every per-layer metric, from the spans and the folded event log."""
        self._fold_event_log()
        items = self._items()
        out = {name: 0.0 for name in per_layer_names()}
        for it in items.values():
            if it["layer"] in SPARK_LAYERS:
                for m in STAGE_METRICS:
                    out[f"{it['layer']}.{m}"] += it["stage"][m]
        for metric, name in SELF_TIMES.items():
            if name in items:
                out[metric] = items[name]["self"]
        jobs_runs = [s for s in self.spans if s["name"] == "run_rollup_job"]
        if jobs_runs:
            out["jobs.run_s"] = items["run_rollup_job"]["wall"]
            # the jobs layer's stage metrics cover the whole job, children included
            inside = [s for s in self.spans
                      if any(j["start"] <= s["start"] and s["end"] <= j["end"] for j in jobs_runs)]
            for m in STAGE_METRICS:
                out[f"jobs.{m}"] = sum(s["stage"][m] for s in inside) / len(jobs_runs)

        op_spans = self.spans[: self._op_spans]
        n_ops = self.extra["ops_traced"]
        op_plans = [p for s in op_spans for p in s["stage"]["plans"]]
        out["plan.exchanges"] = sum(_count_nodes(p, "Exchange") for p in op_plans) / n_ops
        out["plan.sorts"] = sum(_count_nodes(p, "Sort") for p in op_plans) / n_ops
        jobs_run = [s for s in self.spans if s["name"] == "run_checkpointed"]
        if jobs_run:
            ckpt = [p for s in self.spans if s["layer"] == "plans.checkpoint" for p in s["stage"]["plans"]]
            out["plans.checkpoint.input_scans"] = sum(_count_nodes(p, "Scan parquet") for p in ckpt) / len(jobs_run)
        lookups = [s for s in self.spans if s["name"] in ("lookup", "read_conv")]
        n = sum(s["name"] == "lookup" for s in lookups)
        if n:
            out["sources.catalog.read_conv_s"] = items["lookup"]["wall"]
            out["sources.catalog.jobs_per_lookup"] = sum(s["stage"]["jobs"] for s in lookups) / n
            out["sources.catalog.bytes_read_per_lookup"] = sum(s["stage"]["input_bytes"] for s in lookups) / n

        x = self.extra
        if "tier_bytes" in x:
            out["sources.catalog.bytes_written"] = x["tier_bytes"]
            out["sources.catalog.files_written"] = x["tier_files"]
            out["sources.catalog.bytes_per_turn"] = x["tier_bytes_per_turn"]
            out["operators.gapfill.rows_per_point"] = x["gapfill_rows_per_point"]
        if "long_rows_per_turn" in x:
            out["operators.longform.rows_per_turn"] = x["long_rows_per_turn"]
        if "block_stats" in x:
            out["operators.compress.groups"] = x["block_stats"]["groups"]
            out["operators.compress.points_per_block"] = x["block_stats"]["points_per_block"]
            out["operators.compress.bits_per_value"] = x["block_stats"]["bits_per_value"]
            out["compression.gorilla.encode_values_per_s"] = x["gorilla_encode_values_per_s"]

        wall = sum(b - a for a, b in self._segments)
        top = sum(s["end"] - s["start"] for s in self.spans if s["parent"] is None)
        out["trace.wall_s"] = wall
        out["trace.coverage_frac"] = top / wall
        out["trace.overhead_frac"] = x["overhead_frac"]
        out["process.peak_rss_mb"] = peak_rss_mb
        units = per_layer_names()
        return {name: {"value": v, "unit": units[name]} for name, v in out.items()}
