"""Per-iteration code-generation counts of a repeated operation.

    python tools/codegen_probe.py features --iters 4
    python tools/codegen_probe.py tiers --iters 3 --conf spark.sql.codegen.cache.maxEntries=100
    python tools/codegen_probe.py entry --sf-dir SF_DIR --iters 2 [NAME ...]
    python tools/codegen_probe.py bench --sf-dir SF_DIR --cpus 4

Each iteration prints, per step and in total, the wall time, the number of
classes Spark compiled (the count of ``CodegenMetrics.METRIC_COMPILATION_TIME``,
one per miss of the generated-class cache) and the milliseconds spent
compiling (``CodeGenerator.compileTime``).  The counters are read from the
JVM between steps; the probe runs no Spark action of its own.

- ``features`` / ``tiers``: perfbench's workload of that name (same session,
  input and set-up); a features iteration is its operation split into the
  hour, conv and ext noop sinks and the codec round trip, a tiers iteration
  is one operation.
- ``entry``: one iteration executes the named ``__spark_entry__`` queries
  (all when none are named) with ``toPandas()``, as
  ``tools/check_correctness.py`` does, one step per query.
- ``bench``: one run of the frozen ``bench.py``; each timed leaf is a step
  (``--iters`` does not apply, ``bench.run`` stops its session).  Its
  synthetic-input leaves run only with ``--synth-turns``.

``--conf K=V`` (repeatable) is added to the session's conf.  With a cache
larger than anything an operation compiles
(``spark.sql.codegen.cache.maxEntries=100000``) the first iteration's count is
the number of distinct classes the operation uses, its working set; with
the cache ``get_spark`` sets, every later iteration should compile 0.
The last stdout line is one JSON object with every iteration's steps.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import types
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))
sys.path.insert(0, str(ROOT / "perfbench"))


def counters() -> tuple[int, float]:
    """(classes compiled, compile ms) so far in this JVM."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


def step(name: str, wall: float, before: tuple[int, float], after: tuple[int, float]) -> dict:
    return {"step": name, "wall_s": round(wall, 3), "compiles": after[0] - before[0],
            "compile_ms": round(after[1] - before[1], 1)}


def timed_step(name: str, fn) -> dict:
    before = counters()
    t0 = time.perf_counter()
    fn()
    wall = time.perf_counter() - t0
    return step(name, wall, before, counters())


def with_conf(extra: dict[str, str]) -> None:
    """Make every later ``get_spark`` call add ``extra`` to its conf."""
    import ts_raster_spark.session as S

    base = S.get_spark

    def get_spark(*args, extra_conf=None, **kw):
        return base(*args, extra_conf={**(extra_conf or {}), **extra}, **kw)

    S.get_spark = get_spark


def perfbench_iterations(workload: str, seed: int, iters: int):
    import run
    import workloads

    os.environ["TZ"] = "UTC"
    time.tzset()
    work = run.WORK_ROOT / f"probe-{workload}-{seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    work.mkdir(parents=True)
    spark = run.start_session(work, trace=False)
    try:
        wl = workloads.WORKLOADS[workload](spark, work, seed)
        wl.setup()
        for i in range(iters):
            if workload == "features":
                steps = [(name, lambda df=df: workloads.noop(df)) for name, df in wl.frames.items()]
                steps.append(("roundtrip", wl.roundtrip.toArrow))
            else:
                steps = [("op", lambda i=i: shutil.rmtree(wl.op(i)[0], ignore_errors=True))]
            yield [timed_step(name, fn) for name, fn in steps]
    finally:
        run.stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def entry_iterations(sf_dir: str, names: list[str], iters: int):
    import __spark_entry__ as E
    from ts_raster_spark.session import get_spark

    cpus = os.environ.get("TSRS_CHECK_CPUS", "8")
    spark = get_spark(master=f"local[{cpus}]", shuffle_partitions=max(int(cpus), 8))
    spark.sparkContext.setLogLevel("FATAL")
    qs = E.queries()
    names = names or list(qs)
    try:
        for _ in range(iters):
            yield [timed_step(n, lambda n=n: qs[n](spark, sf_dir).toPandas()) for n in names]
    finally:
        spark.stop()


def bench_iterations(cpus: int, sf_dir: str, synth_turns: int):
    """One ``bench.run``; its ``timed`` helper reads ``time.time()`` right
    before and right after each leaf, so a stand-in ``time`` module
    records the counters at those two reads."""
    import bench

    marks = []

    def clock():
        marks.append(counters())
        return time.time()

    bench.time = types.SimpleNamespace(time=clock)
    out = bench.run(cpus, sf_dir, synth_turns, skip_synth=synth_turns == 0)
    yield [step(name, wall, a, b) for (name, wall), a, b in zip(out["queries"].items(), marks[0::2], marks[1::2])]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("op", choices=("features", "tiers", "entry", "bench"))
    ap.add_argument("names", nargs="*", help="entry: query names (default: all)")
    ap.add_argument("--iters", type=int, default=3)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--sf-dir", help="entry, bench: the generated tables' directory")
    ap.add_argument("--cpus", type=int, default=4, help="bench: local[N]")
    ap.add_argument("--synth-turns", type=int, default=0, help="bench: synthetic input size (0: skip its leaves)")
    ap.add_argument("--conf", action="append", default=[], metavar="K=V")
    args = ap.parse_intermixed_args(argv)
    if args.op in ("entry", "bench") and not args.sf_dir:
        ap.error(f"{args.op} needs --sf-dir")
    with_conf(dict(kv.split("=", 1) for kv in args.conf))
    # Python workers inherit it and unpickle UDFs from ts_raster_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))

    if args.op in ("features", "tiers"):
        its = perfbench_iterations(args.op, args.seed, args.iters)
    elif args.op == "entry":
        its = entry_iterations(args.sf_dir, args.names, args.iters)
    else:
        its = bench_iterations(args.cpus, args.sf_dir, args.synth_turns)
    report = []
    for i, steps in enumerate(its):
        for s in steps:
            print(f"iter {i} {s['step']:<28} {s['wall_s']:8.3f} s {s['compiles']:5d} compiles {s['compile_ms']:9.1f} ms")
        total = {k: round(sum(s[k] for s in steps), 3) for k in ("wall_s", "compiles", "compile_ms")}
        print(f"iter {i} {'TOTAL':<28} {total['wall_s']:8.3f} s {total['compiles']:5d} compiles {total['compile_ms']:9.1f} ms", flush=True)
        report.append({"iter": i, **total, "steps": steps})
    print(json.dumps({"op": args.op, "conf": args.conf, "iterations": report}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
