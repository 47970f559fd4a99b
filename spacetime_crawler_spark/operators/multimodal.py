"""Multimodal column plumbing: image/audio/video as opaque BINARY columns
with typed metadata, processed via Arrow-batched mapInPandas.

The actual codec work (JPEG decode, audio resample, video frame-sample) is
STUBBED — the sandbox has no image/audio libraries — but everything Spark
cares about is real and tested: explicit schemas, binary Arrow transfer,
batch-shaped UDF signatures, and deterministic fake feature extraction so
the pipeline is end-to-end runnable.  Swap `_fake_features` for a
PIL/ffmpeg decode plus a real extractor on a real cluster and nothing else
changes.
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from spacetime_crawler_spark.sources.tables import load_table

FEATURE_DIM = 8

FEATURES_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("byte_len", T.LongType()),
    T.StructField("features", T.ArrayType(T.DoubleType())),
])


def _fake_features(data: bytes) -> list[float]:
    """Deterministic stand-in featurizer: sha256 bytes → FEATURE_DIM doubles
    in [0, 1).  Keeps the batch shape/latency profile of a real extractor."""
    digest = hashlib.sha256(data).digest()
    arr = np.frombuffer(digest[: FEATURE_DIM * 4], dtype=np.uint32)
    return (arr.astype(np.float64) / np.float64(2**32)).round(6).tolist()


def _with_payload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text encoded to a BINARY payload column — the testdata
    stand-in for an image/audio blob (real data: spark.read of WARC/tar
    shards into the same (id, payload BINARY, meta...) shape)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.encode("text", "utf-8").alias("payload"))


def multimodal_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed metadata over a binary column with NATIVE JVM expressions —
    F.length and F.sha2 stay inside whole-stage codegen, no Python crossing.
    (The mapInPandas surface lives in multimodal_fake_features, where the
    per-byte work is genuinely Python; metadata never needs it.)
    DuckDB-verifiable because the payload is derived from text."""
    payloads = _with_payload(spark, sf_dir)
    return payloads.select(
        "doc_id",
        F.length("payload").cast("long").alias("byte_len"),
        F.sha2("payload", 256).alias("sha"),
    )


MULTIMODAL_BINARY_META_SQL = """
SELECT doc_id, octet_length(encode(text)) AS byte_len, sha256(text) AS sha
FROM documents
"""


def multimodal_fake_features_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-extraction plumbing demo: binary payload → fixed-dim vector
    via the deterministic fake featurizer (decode stub documented above).
    Array-valued variant used by pytest; unit tests pin determinism +
    dimensionality.  The driver-facing registry entry is the exploded
    multimodal_fake_features below (hashable scalar rows)."""
    from spacetime_crawler_spark.sources.tables import spread

    # spread: the Python featurizer is the whole cost and the one-row-group
    # testdata scan would feed a SINGLE Python worker; the repartition fans
    # the Arrow batches across all cores' workers.  (multimodal_binary_meta
    # deliberately stays unspread — it is native map-only codegen.)
    payloads = spread(_with_payload(spark, sf_dir), min_bytes=0)

    def feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            raw = pdf["payload"].map(bytes)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "byte_len": raw.map(len).astype("int64"),
                "features": raw.map(_fake_features),
            })

    return payloads.mapInPandas(feature_batches, schema=FEATURES_SCHEMA)


def multimodal_fake_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-contract entry: the featurizer output exploded to one
    (doc_id, dim, value) row per vector component — scalar columns only, so
    the driver's rows-only canonicalizer (which sorts/hashes cell values)
    can handle it; array cells are unhashable there.  Same plumbing, same
    numbers: posexplode is a native expression over the UDF's array column."""
    vecs = multimodal_fake_features_array(spark, sf_dir)
    return vecs.select(
        "doc_id", "byte_len", F.posexplode("features").alias("dim", "value")
    )
