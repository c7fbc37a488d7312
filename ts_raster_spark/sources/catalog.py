"""Table-IO shim: Iceberg-style bucketed tier tables on plain parquet.

The design target is Iceberg with a ``bucket(N, conv_id)`` partition
spec and MERGE-based idempotent tier writes (BASELINE.json north_rule).
No Iceberg runtime jar ships in this sandbox, so this shim reproduces
the *layout semantics* on parquet while keeping the API stable: swap
``ParquetTierCatalog`` for an Iceberg catalog and nothing upstream
changes.

- ``bucket_id = conv_bucket(conv_id, n_buckets)`` is the analog of
  Iceberg's bucket transform: co-locates each conversation's rows,
  enables bucket-pruned point lookups, and gives every tier table the
  same join-friendly clustering.
- writes use dynamic partition overwrite per bucket — re-running a
  job replaces exactly the buckets it produced (idempotent, the MERGE
  stand-in keyed on (conv_id, kind, bucket_start) at file granularity).
- the schema Spark stores in a data file's footer stands in for Iceberg
  table metadata: :func:`footer_schema` reads it on the driver, so
  planning a tier read or a point lookup starts no Spark job (Spark's
  own parquet schema inference runs one per read).
"""

from __future__ import annotations

import json
import os
from urllib.parse import urlparse

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

SPARK_SCHEMA_KEY = b"org.apache.spark.sql.parquet.row.metadata"


def footer_schema(*paths: str) -> StructType | None:
    """The Spark schema recorded in the footer of the first data file
    under ``paths`` — the file Spark's non-merging schema inference
    reads, parsed on the driver with pyarrow instead of in a Spark job.
    None when the paths are not local, hold no data file, or the file
    was not written by Spark; callers then let Spark infer the schema."""
    import pyarrow.parquet as pq

    for path in paths:
        url = urlparse(path)
        if url.scheme not in ("", "file"):
            return None
        for root, dirs, files in os.walk(url.path if url.scheme else path):
            # Spark skips hidden and metadata entries (_SUCCESS, .crc)
            dirs[:] = sorted(d for d in dirs if not d.startswith(("_", ".")))
            for name in sorted(files):
                if name.startswith(("_", ".")):
                    continue
                meta = pq.read_metadata(os.path.join(root, name)).metadata or {}
                if SPARK_SCHEMA_KEY not in meta:
                    return None
                return StructType.fromJson(json.loads(meta[SPARK_SCHEMA_KEY]))
    return None


def read_parquet(spark: SparkSession, *paths: str) -> DataFrame:
    """``spark.read.parquet(*paths)`` with the schema taken from the
    footer when there is one, so building the DataFrame starts no job.
    Hive partition columns (``bucket_id``) are still discovered from the
    directory names."""
    schema = footer_schema(*paths)
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(*paths)


def feature_names_dim(spark: SparkSession, wide_df: DataFrame) -> DataFrame:
    """Band→feature lookup dim for a ``conv_id``-keyed wide export
    whose columns are named ``{kind}_{feature}`` (reference
    tsraster/calculate.py:139-144 writes the tsfresh feature-name list
    alongside the banded tiff). One row per non-key column:
    (position, column_name, kind, feature) — position is the 1-based
    band index, so a consumer can map array band i back to (kind,
    feature) without parsing column names. Persist it next to the wide
    table via :meth:`ParquetTierCatalog.write` for a real dim table."""
    rows = []
    pos = 0
    for c in wide_df.columns:
        if c == "conv_id":
            continue
        pos += 1
        kind, _, feat = c.rpartition("_")
        rows.append((pos, c, kind, feat))
    return spark.createDataFrame(
        rows, "position int, column_name string, kind string, feature string"
    )


def conv_bucket(conv_id: Column, n: int) -> Column:
    """The conversation hash layout, ``pmod(xxhash64(conv_id), n)`` as
    int: tier-table buckets and checkpoint slices both use it, so a
    slice and a bucket agree on which conversations they hold."""
    return F.pmod(F.xxhash64(conv_id), F.lit(n)).cast("int")


class ParquetTierCatalog:
    def __init__(self, root: str, n_buckets: int = 16):
        self.root = root
        self.n_buckets = n_buckets

    def path(self, table: str) -> str:
        return os.path.join(self.root, table)

    def bucket_of(self, conv_id: Column) -> Column:
        return conv_bucket(conv_id, self.n_buckets)

    def with_bucket(self, df: DataFrame) -> DataFrame:
        return df.withColumn("bucket_id", self.bucket_of(F.col("conv_id")))

    def write(self, df: DataFrame, table: str) -> None:
        """Write a tier table bucketed by conv_id.

        Overwrite with dynamic partition overwrite replaces
        only the buckets present in ``df`` — the idempotent-MERGE
        stand-in (a resumed job rewrites its own buckets byte-identically
        instead of double-appending).
        """
        sort_cols = [c for c in ("conv_id", "kind", "bucket_start") if c in df.columns]
        (
            self.with_bucket(df)
            .repartition("bucket_id")
            .sortWithinPartitions(*sort_cols)
            .write.mode("overwrite")
            # per write, not the session conf: concurrent writes on one
            # session must not see each other's mode
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("bucket_id")
            .parquet(self.path(table))
        )

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        return read_parquet(spark, self.path(table)).drop("bucket_id")

    def row_count(self, table: str) -> int:
        """Row count from parquet footer metadata — zero Spark jobs and
        zero data read (the Iceberg-manifest-statistics stand-in). Keeps
        per-tier lineage counts off the job critical path."""
        import pyarrow.dataset as ds

        return ds.dataset(self.path(table), format="parquet", partitioning="hive").count_rows()

    def read_conv(self, spark: SparkSession, table: str, conv_id: str) -> DataFrame:
        """Bucket-pruned point lookup: one Spark job (the caller's action)
        over the files of one bucket. The bucket transform of the literal
        ``conv_id`` constant-folds into a literal partition filter
        (``bucket_id = k``), so no job computes ``k`` and the scan reads
        only that bucket's files."""
        return (
            read_parquet(spark, self.path(table))
            .where((F.col("bucket_id") == self.bucket_of(F.lit(conv_id))) & (F.col("conv_id") == conv_id))
            .drop("bucket_id")
        )
