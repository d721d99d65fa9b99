"""Multimodal column plumbing: opaque binary payloads + typed metadata,
with decode/feature-extraction as Arrow-batched ``mapInPandas`` stages.

No image/audio libraries are installed, so the DECODE step is a stub:
``extract_features`` derives deterministic fake features from each
payload's sha256, batch by batch; a real decoder (PIL/ffmpeg) would
replace that per-batch loop. The Spark-side plumbing is real and tested:
binary column schema, typed metadata struct, mapInPandas batch shapes,
and partition-preserving feature extraction.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..operators.registry import query
from ..sources.io import load_table

FEATURE_DIM = 8

FEATURES_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n_bytes", LongType()),
        StructField("kind", StringType()),
        StructField("features", ArrayType(DoubleType())),
    ]
)


def as_blob_table(docs: DataFrame) -> DataFrame:
    """Model documents as a multimodal table: payload as opaque binary +
    typed metadata (the schema pattern for image/audio/video columns)."""
    kind = (
        F.when(F.col("lang").isin("en", "de"), "image/png")
        .when(F.col("lang") == "zh", "audio/wav")
        .otherwise("video/mp4")
    )
    return docs.select(
        "doc_id",
        F.encode(F.col("text"), "utf-8").alias("payload"),
        F.struct(
            kind.alias("kind"),
            F.octet_length(F.encode(F.col("text"), "utf-8")).cast("long").alias("n_bytes"),
            F.col("source").alias("origin"),
        ).alias("meta"),
    )


def extract_features(blobs: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction over the binary column.

    ``mapInPandas`` keeps partitioning intact (map-only, no shuffle) and
    moves payload bytes JVM->Python once per Arrow batch. Stub decode: the
    first FEATURE_DIM uint32 words of each payload's sha256, in [0, 1)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        dim_bytes = FEATURE_DIM * 4
        for pdf in batches:
            # batch-assembled stub features (round 7, guide §4.2): one
            # sha256 per payload stays (that IS the stub's decode), but the
            # per-row numpy frombuffer/astype/divide calls collapse into a
            # single vectorized pass over the concatenated digests —
            # bit-identical values (same bytes, same single IEEE ops)
            if len(pdf):
                digests = b"".join(
                    hashlib.sha256(p).digest()[:dim_bytes] for p in pdf["payload"]
                )
                feats = (
                    np.frombuffer(digests, dtype="<u4")
                    .reshape(-1, FEATURE_DIM)
                    .astype(np.float64)
                    / np.float64(2**32)
                ).tolist()
            else:
                feats = []
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "n_bytes": pdf["n_bytes"].astype("int64"),
                    "kind": pdf["kind"],
                    "features": feats,
                }
            )

    flat = blobs.select(
        "doc_id",
        "payload",
        F.col("meta.kind").alias("kind"),
        F.col("meta.n_bytes").cast("long").alias("n_bytes"),
    )
    return flat.mapInPandas(run, schema=FEATURES_SCHEMA)


@query(
    "multimodal_blob_metadata",
    oracle="""
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           CASE WHEN lang IN ('en', 'de') THEN 'image/png'
                WHEN lang = 'zh' THEN 'audio/wav'
                ELSE 'video/mp4' END AS kind,
           source AS origin
    FROM documents
    """,
)
def multimodal_blob_metadata(spark, sf_dir):
    """Binary payload + typed metadata projection (the multimodal schema
    contract); byte lengths verified against DuckDB."""
    blobs = as_blob_table(load_table(spark, sf_dir, "documents"))
    return blobs.select(
        "doc_id",
        F.col("meta.n_bytes").alias("n_bytes"),
        F.col("meta.kind").alias("kind"),
        F.col("meta.origin").alias("origin"),
    )


@query("multimodal_feature_extract")  # rows-only: stub features are Spark-side
def multimodal_feature_extract(spark, sf_dir):
    """mapInPandas decode/feature-extract over binary payloads
    (deterministic stub features; see extract_features)."""
    blobs = as_blob_table(load_table(spark, sf_dir, "documents"))
    feats = extract_features(blobs)
    return feats.select(
        "doc_id", "n_bytes", "kind", F.round(F.element_at("features", 1), 9).alias("f0")
    ).orderBy("doc_id")
