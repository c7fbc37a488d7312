"""Time the minute -> hour -> day rollup pipeline on
``.bench_tmp/turns_4000000.parquet`` with the dense-join and the
window-lag latency (``to_long_panel(dense_turn_idx=...)``) at 8 and 32
cores, each in a child process pinned with ``taskset``.  Writes only
under ``.bench_tmp/``.  Usage: python tools/exp_scaling.py
"""
import json, os, subprocess, sys, time
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD = """
import sys, time, os
sys.path.insert(0, %(repo)r)
import ts_raster_spark.operators.longform as LF
from ts_raster_spark.session import get_spark
from ts_raster_spark.operators.rollup import rollup_simple
from ts_raster_spark.operators.cascade import cascade_up
dense = %(dense)s
cpus = %(cpus)d
spark = get_spark(app_name="exp", master=f"local[{cpus}]", shuffle_partitions=cpus*2)
spark.sparkContext.setLogLevel("ERROR")
turns = spark.read.parquet(%(repo)r + "/.bench_tmp/turns_4000000.parquet")
def pipe():
    long_df = LF.to_long_panel(turns, dense_turn_idx=dense)
    m = rollup_simple(long_df, "minute")
    m.write.mode("overwrite").parquet(%(repo)r + f"/.bench_tmp/exp_min_{cpus}")
    mm = spark.read.parquet(%(repo)r + f"/.bench_tmp/exp_min_{cpus}")
    h = cascade_up(mm, "hour")
    h.write.mode("overwrite").parquet(%(repo)r + f"/.bench_tmp/exp_hr_{cpus}")
    cascade_up(spark.read.parquet(%(repo)r + f"/.bench_tmp/exp_hr_{cpus}"), "day").count()
pipe()  # warmup
times = []
for _ in range(3):
    os.sync(); t0 = time.time(); pipe(); times.append(round(time.time()-t0, 2))
print("RESULT", times)
"""
for dense in (True, False):
    for cpus in (8, 32):
        code = CHILD % {"repo": REPO, "dense": dense, "cpus": cpus}
        cmd = ["taskset", "-c", f"0-{cpus-1}", sys.executable, "-c", code]
        out = subprocess.run(cmd, capture_output=True, text=True, timeout=500)
        line = [l for l in out.stdout.splitlines() if l.startswith("RESULT")]
        print(f"dense={dense} cpus={cpus}: {line[0] if line else out.stderr[-300:]}")
