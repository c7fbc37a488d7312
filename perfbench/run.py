"""Seeded benchmark of the retention engine: tier job, feature extraction,
tier lookups and the Gorilla codec.

    python3 perfbench/run.py --workload tiers --seed 1 --seconds 10 --trace 0

One run builds a ``local[4]`` session, generates its input from ``--seed``
with ``ts_raster_spark.datagen.gen_turns``, warms up, then runs the
workload's operation in a closed loop (one client; the next operation
starts when the previous one returns) for ``--seconds``.  Every output is
checked outside the timed region, and a failed check counts the
operations it covers as failed.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``.

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json:

- ``setup_s``: session start + median of three input materializations +
  workload set-up (features: building the query plans) + the warm-up
  operations;
- ``op_p50_ms``: median wall of one operation (see workloads.py).

``--trace 1`` turns on a local event log and reports the per-layer
metrics (see tracing.py), with the process's peak resident set.  Every
run writes a JSON record under ``.perfbench_runs/``: the commit, CPU
count, load average before and after, a CPU canary timed in set-up and a
``degraded`` flag, the operation walls, the lookup latencies, and (traced)
the spans.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import uuid
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK_ROOT = ROOT / ".perfbench_work"
RECORDS = ROOT / ".perfbench_runs"
MASTER = "local[4]"

# Pure-Python CPU canary; this reference is its median on a 4-vCPU x86-64
# container with an idle CPU.  A run whose canary reads more than
# CANARY_SLOW times the reference, or whose 1-minute load average exceeds
# the CPU count, ran on a contended box and is flagged ``degraded``.
CANARY_REF_S = 0.10
CANARY_SLOW = 1.5


def canary_s() -> float:
    walls = []
    for _ in range(3):
        t0 = time.perf_counter()
        sum(i * i % 7 for i in range(1_000_000))
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def code_id() -> str:
    """The commit when run from a git checkout, else a hash of the engine
    and benchmark sources (a checkout without .git)."""
    head = ROOT / ".git" / "HEAD"
    if head.exists():
        ref = head.read_text().strip()
        if ref.startswith("ref: "):
            ref_file = ROOT / ".git" / ref[5:]
            if ref_file.exists():
                return ref_file.read_text().strip()
        else:
            return ref
    h = hashlib.sha256()
    for p in sorted([*ROOT.glob("ts_raster_spark/**/*.py"), *ROOT.glob("perfbench/*.py")]):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    return "tree-" + h.hexdigest()[:16]


def _proc_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children.setdefault(ppid, []).append(int(d.name))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _hwm_mb(pid: int) -> float:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process, the JVM and its workers
    (exited workers count through their parent's reaped-children time)."""
    tick = os.sysconf("SC_CLK_TCK")
    t = os.times()
    total = t.user + t.system
    for pid in _proc_tree(jvm_pid):
        try:
            f = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in f[11:15]) / tick  # utime stime cutime cstime
    return total


def peak_rss_mb(jvm_pid: int) -> float:
    """JVM peak resident set plus the largest Python worker's."""
    workers = [p for p in _proc_tree(jvm_pid) if p != jvm_pid]
    return _hwm_mb(jvm_pid) + max((_hwm_mb(p) for p in workers), default=0.0)


def start_session(work: Path, trace: bool):
    """A local[4] session whose files all stay under ``work`` and whose
    Python workers import ts_raster_spark from any working directory."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    # every JVM, the spark-submit launcher's too, keeps its files in tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # The JVM and its Python workers inherit this environment; a worker
    # started outside the repo root would otherwise fail to unpickle
    # applyInPandas functions with ModuleNotFoundError: ts_raster_spark.
    paths = [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    conf = {
        "spark.driver.memory": "2g",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        (work / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "eventlog").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["SPARK_GRAFT_CPUS"] = MASTER[6:-1]  # shuffle partitions follow the task threads
    from ts_raster_spark.session import get_spark

    spark = get_spark(app_name="perfbench", master=MASTER, extra_conf=conf)
    spark.sparkContext.setLogLevel("FATAL")
    spark.range(1).count()  # the first job starts the task threads
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then wait until the JVM and its Python workers exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    tree = _proc_tree(proc.pid) if proc else []
    spark.stop()
    gateway.shutdown()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while any(Path(f"/proc/{p}").exists() for p in tree if p != proc.pid):
        if time.monotonic() > deadline:
            for p in tree:
                try:
                    os.kill(p, 9)
                except OSError:
                    pass
            break
        time.sleep(0.1)


def closed_loop(wl, seconds: float, jvm_pid: int) -> dict:
    """Run ``wl.op`` back to back until ``seconds`` have passed (at least
    once), checking each output outside the timed region."""
    walls, cpus, attempted, failed = [], [], 0, 0
    end = time.perf_counter() + seconds
    while attempted == 0 or time.perf_counter() < end:
        attempted += 1
        c0 = cpu_s(jvm_pid)
        t0 = time.perf_counter()
        try:
            out = wl.op(attempted)
        except Exception as e:  # a failed operation is counted, not fatal
            print(f"op {attempted} failed: {e!r}", file=sys.stderr)
            failed += 1
            continue
        walls.append(time.perf_counter() - t0)
        cpus.append(cpu_s(jvm_pid) - c0)
        if not wl.check(out):
            failed += 1
    return {"walls": walls, "cpus": cpus, "attempted": attempted, "failed": failed}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    os.environ["TZ"] = "UTC"  # collected timestamps are naive UTC
    time.tzset()
    sys.path.insert(0, str(ROOT))
    try:
        import ts_raster_spark  # noqa: F401
    except ImportError as e:
        print(f"cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; want one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "master": MASTER,
        "commit": code_id(),
        "nproc": os.cpu_count(),
        "loadavg_before": list(os.getloadavg()),
        "canary_s": canary_s(),
        "canary_ref_s": CANARY_REF_S,
    }
    work = WORK_ROOT / f"{args.workload}-{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:6]}"
    work.mkdir(parents=True)
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_session(work, bool(args.trace))
        session_s = time.perf_counter() - t0
        jvm_pid = spark.sparkContext._gateway.proc.pid
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        setup = wl.setup()
        warm_t0 = time.perf_counter()
        for _ in range(wl.warmup_ops):
            warm_out = wl.op(0)
        warm_s = time.perf_counter() - warm_t0
        setup_s = session_s + setup["materialize_s"] + setup["prepare_s"] + warm_s
        wl.prepare_checks()
        warm_ok = wl.check(warm_out)
        record.update(n_turns=wl.n_turns, session_s=session_s, warmup_s=warm_s, **setup)

        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark, work)
            loop = wl.traced(tracer)
            rss = peak_rss_mb(jvm_pid)
            stop_session(spark)
            spark = None
            metrics = tracer.report(rss)
            record["spans"] = tracer.spans
            record["trace_extra"] = tracer.extra
        else:
            loop = closed_loop(wl, args.seconds, jvm_pid)
            if not loop["walls"]:
                print("no operation succeeded", file=sys.stderr)
                return 1
            if not wl.final_check():
                loop["failed"] = loop["attempted"]
            rss = peak_rss_mb(jvm_pid)
            stop_session(spark)
            spark = None
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_ms": {"value": 1000 * statistics.median(loop["walls"]), "unit": "ms"},
            }
            record.update(wl.untraced_extra())
        if not warm_ok:
            loop["failed"] += 1
            loop["attempted"] += 1
        record.update(
            setup_s=setup_s,
            peak_rss_mb=rss,
            op_walls_s=loop["walls"],
            op_cpu_s=loop.get("cpus"),
            attempted=loop["attempted"],
            failed=loop["failed"],
            metrics=metrics,
            loadavg_after=list(os.getloadavg()),
        )
        record["degraded"] = (
            record["canary_s"] > CANARY_SLOW * CANARY_REF_S
            or max(record["loadavg_before"][0], record["loadavg_after"][0]) > (os.cpu_count() or 1)
        )
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    RECORDS.mkdir(exist_ok=True)
    stamp = time.strftime("%Y%m%dT%H%M%S", time.gmtime())
    path = RECORDS / f"{args.workload}-s{args.seed}-t{args.trace}-{stamp}-{os.getpid()}.json"
    path.write_text(json.dumps(record, indent=1, default=float) + "\n")
    print(f"run record: {path.relative_to(ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": loop["failed"] == 0,
        "attempted": loop["attempted"],
        "failed": loop["failed"],
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
