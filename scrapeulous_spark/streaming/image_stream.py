"""Structured Streaming twin of the img_admission_gate catalog query.

The reference has no streaming ingestion (its cloud workers process
job batches), so — like frontier_stream.py — this is an ENGINE
EXTENSION: the deployment shape when image+caption rows land
continuously (a crawler's output topic / an object-store drop
directory). The gate is the IDENTICAL code the batch engine runs
(operators/catalog_engine.apply_admission_gate): a metadata-only
projection, so payload bytes never deserialize and the stream is
stateless end-to-end (no watermark needed; exactly-once comes from
checkpoint + idempotent sink).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..operators.catalog_engine import apply_admission_gate

IMAGE_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("image_id", T.StringType()),
        T.StructField("bytes", T.BinaryType()),
        T.StructField("w", T.IntegerType()),
        T.StructField("h", T.IntegerType()),
        T.StructField("fmt", T.StringType()),
        T.StructField("caption", T.StringType()),
        T.StructField("phash", T.LongType()),
    ]
)


def read_image_stream(
    spark: SparkSession, images_dir: str, max_files_per_trigger: int = 4
) -> DataFrame:
    return (
        spark.readStream.schema(IMAGE_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(images_dir)
    )


def stream_image_admission(images: DataFrame) -> DataFrame:
    """Streaming twin of the img_admission_gate catalog query —
    stateless projection, micro-batch == batch semantics by
    construction (same column expressions)."""
    return apply_admission_gate(images)

