"""Fixed cost of a Python stage: median walls of identity stages.

Usage:  python tools/pystage_probe.py

In one ``get_spark`` session at ``local[4]``, runs each case a few times
to warm up and then REPS times, and prints one ``<median ms>  <case>``
line per case:

- ``noop``: 3,000 rows of ``spark.range`` into the noop sink;
- ``mapInPandas``: the same rows through an identity ``mapInPandas``;
- ``mapInArrow``: the same rows through an identity ``mapInArrow``;
- ``rdd.map.count``: a 10-element ``parallelize(...).map(...).count()``.

The rows are the same in every case, so what a Python case adds over
``noop`` is the cost of its Python stage: starting the task in a worker,
the Arrow or pickle round trip, and whatever the worker does before the
function runs.  Compare two trees (e.g. a ``git archive`` copy of the
parent and the change) by running this file in each.
"""

from __future__ import annotations

import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

ROWS = 3000
WARMUP = 3
REPS = 10


def _identity(batches):
    yield from batches


def cases(spark) -> dict:
    df = spark.range(ROWS).selectExpr("id", "cast(id as double) as value")

    def noop(frame):
        return lambda: frame.write.format("noop").mode("overwrite").save()

    return {
        "noop": noop(df),
        "mapInPandas": noop(df.mapInPandas(_identity, schema=df.schema)),
        "mapInArrow": noop(df.mapInArrow(_identity, schema=df.schema)),
        "rdd.map.count": lambda: spark.sparkContext.parallelize(range(10)).map(lambda x: x + 1).count(),
    }


def main() -> dict[str, float]:
    # Python workers import the session's daemon module from ts_raster_spark,
    # whatever the working directory; the JVM passes this on to them.
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")]))
    from ts_raster_spark.session import get_spark

    spark = get_spark(app_name="pystage_probe", master="local[4]")
    spark.sparkContext.setLogLevel("FATAL")
    medians = {}
    try:
        for name, run in cases(spark).items():
            walls = []
            for i in range(WARMUP + REPS):
                t0 = time.perf_counter()
                run()
                if i >= WARMUP:
                    walls.append(time.perf_counter() - t0)
            medians[name] = statistics.median(walls) * 1e3
            print(f"{medians[name]:8.1f}  {name}")
    finally:
        spark.stop()
    return medians


if __name__ == "__main__":
    main()
