"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Real decode (image/audio/video) libraries are absent in this environment,
so the decode kernel is STUBBED (deterministic fake or NotImplementedError)
— but the Spark-side plumbing is real and tested: schema contract,
``mapInPandas`` batch shape, partition sizing, and the feature-extraction
pipeline around the stub.

Design for 100 TB of media:
- payloads stay in ``binary`` columns, processed by Arrow-batched
  ``mapInPandas`` (no per-row Python);
- decode stages declare output schemas up front so Catalyst plans the
  downstream columns without materializing the blobs;
- row-group-sized batches keep executor memory bounded regardless of blob
  sizes (``spark.sql.files.maxPartitionBytes`` + maxRecordsPerBatch).
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F
import pyspark.sql.types as ST

MEDIA_SCHEMA = ST.StructType([
    ST.StructField("media_id", ST.LongType(), False),
    ST.StructField("payload", ST.BinaryType(), True),
    ST.StructField("media_type", ST.StringType(), True),   # image|audio|video
    ST.StructField("width", ST.IntegerType(), True),
    ST.StructField("height", ST.IntegerType(), True),
    ST.StructField("duration_ms", ST.LongType(), True),
])

FEATURE_SCHEMA = ST.StructType([
    ST.StructField("media_id", ST.LongType(), False),
    ST.StructField("n_bytes", ST.LongType(), True),
    ST.StructField("content_hash", ST.StringType(), True),
    ST.StructField("feature", ST.ArrayType(ST.FloatType()), True),
])


def decode_image(payload: bytes):  # pragma: no cover - real decode stubbed
    """STUB: real image decode requires PIL/opencv (not in this container).

    The deterministic fake below (``_fake_feature``) stands in for tests;
    swap this for a real decoder on a cluster with the codec libs."""
    raise NotImplementedError(
        "image decode requires codec libraries not present in this env")


def _fake_feature(payload: bytes, dim: int = 8):
    """Deterministic stand-in feature: bytes of sha256 scaled to [-1, 1]."""
    if payload is None:
        return None
    h = hashlib.sha256(payload).digest()
    return [((b / 255.0) * 2 - 1) for b in h[:dim]]


def extract_features(df: DataFrame, dim: int = 8) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads.

    Uses the deterministic fake 'decoder'; the pipeline shape (schema,
    batching, null handling) is exactly what a real decoder plugs into."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = pd.DataFrame({
                "media_id": pdf["media_id"],
                "n_bytes": pdf["payload"].map(
                    lambda b: len(b) if b is not None else None),
                "content_hash": pdf["payload"].map(
                    lambda b: hashlib.sha256(b).hexdigest()
                    if b is not None else None),
                "feature": pdf["payload"].map(
                    lambda b: _fake_feature(b, dim)),
            })
            yield out

    return df.select("media_id", "payload").mapInPandas(run, FEATURE_SCHEMA)


RESIZE_SCHEMA = ("media_id long, out_width int, out_height int, "
                 "resized_md5 string")


def resize_media(df: DataFrame, width: int = 32,
                 height: int = 32) -> DataFrame:
    """Resize plumbing over opaque payloads: Arrow-batched mapInPandas
    with the pixel kernel STUBBED (no codec libs in this container) —
    the deterministic stand-in emits md5(payload || 'WxH') so results
    stay engine-reproducible and oracle-checkable, while schema, batch
    shape, null handling and partitioning are exactly what a real
    resampling kernel (PIL/opencv per batch) plugs into."""
    tag = f"{width}x{height}".encode()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame({
                "media_id": pdf["media_id"],
                "out_width": width,
                "out_height": height,
                "resized_md5": pdf["payload"].map(
                    lambda b: hashlib.md5(bytes(b) + tag).hexdigest()
                    if b is not None else None),
            })

    return df.select("media_id", "payload").mapInPandas(run, RESIZE_SCHEMA)


def synthesize_media(spark, docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Build a deterministic media table from the documents fixture: the
    text bytes act as the opaque payload (the engine treats payloads as
    opaque, so this exercises the real plumbing)."""
    return docs.select(
        F.col(id_col).alias("media_id"),
        F.encode(F.col(text_col), "utf-8").alias("payload"),
        F.lit("image").alias("media_type"),
        F.lit(64).cast("int").alias("width"),
        F.lit(64).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"))


def audio_chunk_plan(df: DataFrame, chunk_ms: int = 10_000,
                     overlap_ms: int = 0) -> DataFrame:
    """Audio chunking *plan*: one row per (media_id, chunk_start_ms,
    chunk_end_ms) window, optionally overlapping (ASR pipelines use
    small overlaps so words at boundaries survive).  The resample/
    decode kernel is the stubbed part; window generation is plain
    DataFrame work that scales with total duration, not file count."""
    if overlap_ms >= chunk_ms:
        raise ValueError("overlap must be smaller than the chunk")
    step = chunk_ms - overlap_ms
    dur = F.coalesce(F.col("duration_ms"), F.lit(0))
    # zero/unknown duration yields NO chunks: sequence(0, 0) would emit
    # one degenerate (0, 0) row otherwise
    return (df.filter(F.col("media_type") == "audio")
            .filter(dur > 0)
            .select("media_id", dur.alias("__dur"),
                    F.explode(F.sequence(
                        F.lit(0), F.greatest(dur - 1, F.lit(0)),
                        F.lit(step))).alias("chunk_start_ms"))
            .select("media_id", "chunk_start_ms",
                    F.least(F.col("chunk_start_ms") + chunk_ms,
                            F.col("__dur")).alias("chunk_end_ms")))


def pack_multimodal_sequences(df, budget: int,
                              text_col: str = "text",
                              id_col: str = "doc_id",
                              shard_col: str = "source",
                              image_count_col: str = "n_images",
                              image_tokens: int = 576):
    """Sequence packing for INTERLEAVED multimodal training data: each
    document's context cost is its text tokens PLUS a fixed per-image
    token budget (ViT-patch placeholder count — 576 for a 24x24 patch
    grid, the shape vision-language models reserve per image), and
    documents are laid into fixed-budget context windows per shard.
    Returns (shard, doc_id, n_tokens, n_images, total_cost, pack_id,
    pack_offset).

    Same scale shape as curation.pack_sequences: one window per shard
    (packing parallelizes across shards, no global sort), contiguous
    deterministic fill; items above the budget are visible as
    pack_offset + total_cost > budget rather than split."""
    from pyspark.sql import Window, functions as F
    toks = (F.size(F.filter(F.split(F.col(text_col), " "),
                            lambda w: w != ""))).cast("bigint")
    cost = toks + F.col(image_count_col).cast("bigint") * image_tokens
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    base = df.select(F.col(shard_col).alias("shard"), F.col(id_col),
                     toks.alias("n_tokens"),
                     F.col(image_count_col).cast("bigint")
                     .alias("n_images"),
                     cost.alias("total_cost"))
    cum = base.withColumn(
        "__before", F.coalesce(F.sum("total_cost").over(w), F.lit(0)))
    # exact integral division (double floor drifts past 2^53 offsets)
    b = F.col("__before")
    return cum.select(
        "shard", id_col, "n_tokens", "n_images", "total_cost",
        ((b - b % budget) / budget).cast("long").alias("pack_id"),
        (b % budget).alias("pack_offset"))
