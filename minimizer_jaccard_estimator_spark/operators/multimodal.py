"""Multimodal columns: opaque binary media + typed metadata, Spark-first.

Image/audio/video payloads ride as ``binary`` columns with a ``kind`` tag and
a ``map<string,string>`` metadata column.  The decode / feature-extract /
frame-sample steps that need codec libraries are STUBBED with deterministic
byte-level fakes (the container ships no image/audio libs) behind
``decoder="stub"`` — swapping in a real decoder means replacing ONE inner
function; all Spark-side plumbing (schemas, Arrow batch iteration via
``mapInPandas``, partitioning, downstream joins) is real and tested.

The stub feature extractor reuses the engine's own kernels: fixed-size
byte-block fingerprints hashed with splitmix64, L2-normalized into a float
vector — deterministic, content-sensitive (similar prefixes => similar
features only if blocks align, like a real perceptual hash it is NOT; it is
a plumbing fake, clearly marked).
"""

from __future__ import annotations

import hashlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from .. import kernels as K

MEDIA_SCHEMA = StructType(
    [
        StructField("media_id", StringType()),
        StructField("conv_id", StringType()),
        StructField("kind", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("meta", StringType()),  # JSON string metadata
    ]
)

MEDIA_KINDS = ("image", "audio", "video")


def _stub_features(content: bytes, dim: int) -> np.ndarray:
    """Deterministic fake embedding: hash fixed byte blocks -> float vector.

    STUB for a real decoder+encoder (NotImplemented in this container).
    """
    if not content:
        return np.zeros(dim, dtype=np.float32)
    data = np.frombuffer(content, dtype=np.uint8)
    # pad to a multiple of dim, fold into dim block-sums, then hash-mix
    n = ((data.shape[0] + dim - 1) // dim) * dim
    padded = np.zeros(n, dtype=np.uint64)
    padded[: data.shape[0]] = data
    blocks = padded.reshape(dim, -1).sum(axis=1)
    mixed = K.apply_hash("splitmix64", 0xBEEF, blocks.astype(np.uint64), 32)
    v = (mixed >> np.uint64(40)).astype(np.float32)  # 24-bit mantissa-safe
    norm = float(np.linalg.norm(v))
    return (v / norm).astype(np.float32) if norm > 0 else v


def extract_features(
    media: DataFrame, dim: int = 64, decoder: str = "stub"
) -> DataFrame:
    """media -> (media_id, conv_id, kind, n_bytes, digest, features).

    ``decoder='stub'`` uses the deterministic byte-level fake; any other
    value raises NotImplementedError (real codecs are not available here —
    the call site and batch shape are what this operator locks in).
    """
    if decoder != "stub":
        raise NotImplementedError(
            f"decoder={decoder!r}: real media decoding requires codec libraries "
            "not present in this environment; only the deterministic 'stub' "
            "decoder is implemented"
        )

    out_schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("conv_id", StringType()),
            StructField("kind", StringType()),
            StructField("n_bytes", IntegerType()),
            StructField("digest", StringType()),
            StructField("features", ArrayType(FloatType())),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats, digests, sizes = [], [], []
            for content in pdf["content"]:
                b = bytes(content) if content is not None else b""
                feats.append(_stub_features(b, dim).tolist())
                digests.append(hashlib.sha256(b).hexdigest())
                sizes.append(len(b))
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "conv_id": pdf["conv_id"],
                    "kind": pdf["kind"],
                    "n_bytes": pd.array(sizes, dtype="int32"),
                    "digest": digests,
                    "features": feats,
                }
            )

    # feature extraction is the heavy per-row axis; don't let a 1-2 split
    # fixture scan serialize it (r06; no-op on well-partitioned input)
    from ..util import spread_small_input

    return spread_small_input(media).mapInPandas(run, out_schema)


def frame_sample(media: DataFrame, frame_bytes: int = 4096, every_n: int = 10) -> DataFrame:
    """Sample every Nth fixed-size pseudo-frame from video payloads.

    STUB frame boundary rule (real demuxing needs codecs): frame i =
    ``content[i*frame_bytes : (i+1)*frame_bytes]``.  Output one row per
    sampled frame — the exploded shape a real frame sampler produces.
    """
    out_schema = StructType(
        [
            StructField("media_id", StringType()),
            StructField("frame_idx", IntegerType()),
            StructField("frame", BinaryType()),
        ]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ids, idxs, frames = [], [], []
            for mid, content in zip(pdf["media_id"], pdf["content"]):
                b = bytes(content) if content is not None else b""
                n_frames = (len(b) + frame_bytes - 1) // frame_bytes
                for i in range(0, n_frames, every_n):
                    ids.append(mid)
                    idxs.append(i)
                    frames.append(b[i * frame_bytes : (i + 1) * frame_bytes])
            yield pd.DataFrame({"media_id": ids, "frame_idx": idxs, "frame": frames})

    return media.where(F.col("kind") == "video").mapInPandas(run, out_schema)


def exact_media_dup_pairs(features: DataFrame) -> DataFrame:
    """Exact binary dedup on the content digest (star pairs per digest)."""
    mins = features.groupBy("digest").agg(
        F.min("media_id").alias("id_a"), F.count("*").alias("_n")
    )
    return (
        features.join(mins.where(F.col("_n") > 1), "digest")
        .where(F.col("media_id") != F.col("id_a"))
        .select("id_a", F.col("media_id").alias("id_b"))
    )


def media_neardup_pairs(
    features: DataFrame,
    threshold: float = 0.95,
    max_bucket_size: int | None = 1000,
    n_planes: int = 12,
    n_tables: int = 8,
    seed: int = 42,
    dim: int | None = None,
    cache_registry: list | None = None,
) -> DataFrame:
    """Near-dup media pairs (id_a < id_b) by feature cosine >= threshold.

    Delegates to the dimension-generic seeded Gaussian random-hyperplane LSH
    operator (:func:`.ann.embedding_neardup_pairs`) on the feature vectors —
    one implementation with a real spherical-symmetry recall guarantee
    (1-(1-p^n_planes)^n_tables), bucketed candidate generation with in-JVM
    pair expansion, and exact cosine verification; never an all-pairs join.
    Recall vs the brute-force pairs is pytest-verified
    (tests/test_multimodal.py).

    Pass ``dim`` when the feature dimension is known (extract_features'
    ``dim`` argument) — it skips the modal-size inference pass, an extra
    Spark job over potentially expensive lineage (ADVICE r03).
    ``cache_registry`` collects the persisted feature table for release, as
    in :func:`.ann.embedding_neardup_pairs`.
    """
    from .ann import embedding_neardup_pairs

    return embedding_neardup_pairs(
        features.select("media_id", "features"),
        threshold=threshold,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        max_bucket_size=max_bucket_size,
        id_col="media_id",
        vec_col="features",
        dim=dim,
        cache_registry=cache_registry,
    )


def synthetic_media(docs: DataFrame, kind_col: str | None = None) -> DataFrame:
    """Deterministic media table derived from the documents table: the text
    bytes become the binary payload (kind cycles image/audio/video by id) —
    the in-sandbox stand-in for a real media corpus."""
    kind = F.element_at(
        F.array(*[F.lit(k) for k in MEDIA_KINDS]),
        (F.col("doc_id") % 3 + 1).cast("int"),
    )
    return docs.select(
        F.concat(F.lit("m"), F.col("doc_id").cast("string")).alias("media_id"),
        F.col("doc_id").cast("string").alias("conv_id"),
        kind.alias("kind"),
        F.encode("text", "utf-8").alias("content"),
        F.to_json(F.struct(F.col("lang"), F.col("source"))).alias("meta"),
    )
