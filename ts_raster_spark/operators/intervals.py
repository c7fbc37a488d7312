"""Interval (range) join via tier-bucket banding — the scale-safe form
of ``point.ts BETWEEN interval.start AND interval.end``.

Reference parity: the reference's only spatial membership op is
point-in-polygon masking (prep.py:367-447, geo — out of scope); the
temporal analogue a tier store needs is "which maintenance window /
burst / incident interval contains each turn".

Spark-first / 100 TB: a naive range join is a BroadcastNestedLoopJoin
(O(points × intervals) comparisons, single-threaded per partition when
neither side broadcasts).  The banded form used here — the same
decomposition Databricks' range-join optimization and postgres GiST
band splitting apply (public) — chops every interval into the tier
buckets it overlaps (one generator explode, fan-out = interval length
/ bucket width), equi-joins points on THEIR bucket (points have
exactly one), and refines with the exact predicate.  That turns the
cross product into one hash shuffle on the bucket key; each
(point, interval) candidate pair is generated exactly once (a point
lives in exactly one bucket), so no post-join dedup is needed —
half-open ``[start, end)`` semantics throughout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

US = 1_000_000


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    bucket_seconds: int = 3600,
    how: str = "inner",
) -> DataFrame:
    """Join each point row (column ``ts``) to every interval row
    (columns ``start``, ``end``) with ``start <= ts < end`` (half-open).

    Returns points columns + the intervals columns.  ``how='left'``
    keeps unmatched points with NULL interval columns.  Pick
    ``bucket_seconds`` near the TYPICAL interval length: fan-out per
    interval is ceil(len / bucket) + 1 and candidate pairs per bucket
    are points_in_bucket x intervals_overlapping_bucket.
    """
    step = bucket_seconds * US
    p_b = (F.unix_micros(F.col("ts").cast("timestamp_ltz")) / step).cast("long")
    s_us = F.unix_micros(F.col("start").cast("timestamp_ltz"))
    e_us = F.unix_micros(F.col("end").cast("timestamp_ltz"))
    # last overlapped bucket: floor((end - 1µs) / step) — end exclusive
    buckets = F.sequence(
        (s_us / step).cast("long"), ((e_us - 1) / step).cast("long")
    )
    iv = intervals.where(F.col("end") > F.col("start")).withColumn(
        "_b", F.explode(buckets)
    )
    pt = points.withColumn("_b", p_b)
    cond = [pt["_b"] == iv["_b"], pt["ts"] >= iv["start"], pt["ts"] < iv["end"]]
    joined = pt.join(iv, cond, how)
    return joined.drop(iv["_b"]).drop(pt["_b"])
