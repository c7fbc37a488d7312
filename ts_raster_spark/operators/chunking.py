"""Document chunking + sequence packing — the two reshape ops between a
curated corpus and a training batch:

- :func:`chunk_documents` — fixed-size token chunks with overlap (the
  RAG / pretraining-window split). Pure array expressions: the chunk
  index range is computed per row and exploded; no UDF, no shuffle —
  chunking happens at scan speed and inherits the input partitioning.
- :func:`pack_documents` — greedy contiguous packing of documents into
  fixed token budgets (sequence packing for training batches): within
  each shard, documents in deterministic doc_id order are assigned
  pack_id = floor(cumulative_tokens_before / budget). The window is
  PARTITIONED BY the shard column — real pipelines pack within shards
  precisely so no global single-task window exists at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ts_raster_spark.operators.textstats import TOKEN_WORDS


def chunk_documents(docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16) -> DataFrame:
    """One row per (doc_id, chunk_idx): whitespace-normalized token
    windows of ``chunk_tokens`` with ``overlap`` tokens shared between
    consecutive chunks. Docs with zero tokens drop.

    Output: (doc_id, chunk_idx, n_tokens, chunk_text).
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    t = docs.withColumn("tokens", F.expr(TOKEN_WORDS)).where(F.size("tokens") >= 1)
    n_chunks = F.when(
        F.size("tokens") <= chunk_tokens, F.lit(1)
    ).otherwise(
        1 + F.ceil((F.size("tokens") - chunk_tokens) / F.lit(float(stride))).cast("int")
    )
    t = t.withColumn("_n_chunks", n_chunks)
    t = t.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0), F.col("_n_chunks") - 1)))
    piece = f"slice(tokens, chunk_idx * {stride} + 1, {chunk_tokens})"
    return t.select(
        "doc_id",
        F.col("chunk_idx").cast("int").alias("chunk_idx"),
        F.expr(f"size({piece})").cast("long").alias("n_tokens"),
        F.expr(f"concat_ws(' ', {piece})").alias("chunk_text"),
    )


def pack_documents(docs: DataFrame, budget: int = 512) -> DataFrame:
    """Assign each document to a training pack: within a shard (its
    ``source``), in
    doc_id order, pack_id = floor(tokens-before-this-doc / budget) and
    offset_in_pack = tokens-before mod budget. Documents may straddle a
    budget boundary (they are split downstream by chunk_documents);
    the rule is the deterministic contiguous segmentation every packer
    variant starts from.

    Output: (shard, doc_id, n_tokens, pack_id, offset_in_pack).
    """
    t = docs.select(
        F.col("source").alias("shard"),
        "doc_id",
        F.size(F.expr(TOKEN_WORDS)).cast("long").alias("n_tokens"),
    )
    w = Window.partitionBy("shard").orderBy("doc_id")
    before = F.coalesce(
        F.sum("n_tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)
    )
    return t.select(
        "shard",
        "doc_id",
        "n_tokens",
        F.floor(before / budget).cast("long").alias("pack_id"),
        (before % budget).cast("long").alias("offset_in_pack"),
    )
