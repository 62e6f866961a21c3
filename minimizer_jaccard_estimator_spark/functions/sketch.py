"""Arrow/pandas UDFs wrapping the uint64 sketch kernels.

One UDF factory, :func:`sketch_udf`, builds every sketch column set
(:func:`add_sketch`, :func:`add_signature`, :func:`add_full_sketch`) over
one segmented batch kernel, so all heavy per-document work (shingle → hash
→ winnow → sketch/signature) happens in vectorized numpy, in text and DNA
mode alike; no per-row Python UDFs anywhere (BASELINE.json input_hint hard
requirement).  Hash values cross the
Spark boundary as LongType via two's-complement reinterpretation
(:func:`..kernels.u64_to_i64`); all magnitude comparisons stay in uint64
space inside the kernels.
"""

from __future__ import annotations

from dataclasses import dataclass
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .. import kernels as K
from ..kernels_batch import batch_sketch
from ..util import spread_small_input


@dataclass(frozen=True)
class SketchConfig:
    """One (k, w, hash, seed) sketching configuration — the reference's CLI
    surface (``jaccard_correction_test.py:88-228``) as a config object.

    mode='text' shingles UTF-8 bytes (transcript domain); mode='dna' packs
    ACGT 2-bit k-mers (parity domain).
    """

    k: int = 12
    w: int = 20
    hash_type: str = "splitmix64"
    hash_seed: int = 0
    mode: str = "text"  # 'text' | 'dna'
    canonical: bool = False
    on_invalid: str = "raise"  # dna mode: 'raise' | 'sentinel'
    # MinHash signature axis (reference replicate axis, :200-217)
    num_perm: int = 128
    prng_seed: str = "20210908A"
    # 'seeded' = reference replicate family (one seeded hash per slot, exact
    # parity with the reference's replicate axis); 'oph' = one-permutation
    # hashing with rotation densification (one hash pass total — the
    # 100TB-scale path; ~100x cheaper, same LSH banding + estimator)
    minhash_scheme: str = "seeded"  # 'seeded' | 'oph'
    # LSH banding: num_perm = lsh_bands * lsh_rows
    lsh_bands: int = 32
    # SimHash
    simhash_seed: int = 0x5117B6A5
    # minimizer POSITIONS are a parity/debug artifact (the dedup engine
    # compares minimizer VALUE sets only); skipping them cuts the sketch
    # UDF's Arrow output ~25% on typical transcripts
    include_positions: bool = True

    def __post_init__(self):
        # the sketch path branches on these strings; a typo ("OPH", "DNA")
        # would otherwise silently run the other branch
        for name, allowed in (
            ("mode", ("text", "dna")),
            ("minhash_scheme", ("seeded", "oph")),
            ("on_invalid", ("raise", "sentinel")),
            ("hash_type", K.HASH_TYPES),
        ):
            if getattr(self, name) not in allowed:
                raise ValueError(
                    f"SketchConfig.{name}={getattr(self, name)!r}; expected one of {allowed}"
                )

    @property
    def mask_k(self) -> int:
        """The ``k`` position hashes are computed at: ``self.k`` in DNA mode
        (minimap2 hashes within ``4**k``), 32 — the full 64-bit domain — for
        text shingles."""
        return self.k if self.mode == "dna" else 32

    @property
    def lsh_rows(self) -> int:
        assert self.num_perm % self.lsh_bands == 0
        return self.num_perm // self.lsh_bands

    def seeds(self) -> np.ndarray:
        return np.array(
            K.seed_family(self.hash_seed, self.num_perm, self.prng_seed), dtype=np.uint64
        )

    def minhash(self, fingerprints: np.ndarray, seeds: np.ndarray) -> np.ndarray:
        if self.minhash_scheme == "oph":
            return K.oph_signature(
                fingerprints, self.num_perm, self.hash_type, self.hash_seed
            )
        return K.minhash_signature(fingerprints, seeds, hash_type=self.hash_type)

    def fingerprints(self, text: str) -> np.ndarray:
        if self.mode == "dna":
            if self.canonical:
                return K.canonical_kmers_2bit(text, self.k, on_invalid=self.on_invalid)
            return K.pack_kmers_2bit(text, self.k, on_invalid=self.on_invalid)
        return K.shingle_fingerprints(text, self.k)

    def hash_sequence(self, text: str, seed: int | None = None) -> np.ndarray:
        if self.mode == "dna":
            return K.hash_dna_sequence(
                text, self.k, self.hash_type,
                self.hash_seed if seed is None else seed,
                canonical=self.canonical, on_invalid=self.on_invalid,
            )
        return K.hash_text_shingles(
            text, self.k, self.hash_type, self.hash_seed if seed is None else seed
        )


# every sketch column the UDF can emit and its Spark type, in output order
SKETCH_COLUMNS = {
    "minimizers": ArrayType(LongType()),
    "positions": ArrayType(IntegerType()),
    "n_shingles": LongType(),
    "n_dups": LongType(),
    "minhash": ArrayType(LongType()),
    "simhash": LongType(),
}
_SKETCH = ("minimizers", "positions", "n_shingles", "n_dups")
_SIGNATURE = ("minhash", "simhash")


def full_sketch_fields(cfg: SketchConfig) -> tuple:
    """Columns of :func:`add_full_sketch`: all of them, ``positions`` only
    when ``cfg.include_positions``."""
    return tuple(f for f in SKETCH_COLUMNS if cfg.include_positions or f != "positions")


def sketch_udf(cfg: SketchConfig, fields):
    """text -> struct of the requested ``fields`` (a subset of
    :data:`SKETCH_COLUMNS`, in that order), as one Arrow UDF.

    - minimizers / positions: the winnowed (w,k) minimizer VALUES and their
      positions, in position order (reference ``winnowed_minimizers.py:18-53``);
    - n_shingles / n_dups: hash sequence length and repeated hash values
      (reference ``jaccard_correction_test.py:770-778``);
    - minhash: the reference's hash-replicate axis
      (``jaccard_correction_test.py:310-331``) vectorized across seeds, or
      OPH (``cfg.minhash_scheme``);
    - simhash: 64-bit SimHash over the distinct fingerprints.

    Each Arrow batch runs through the segmented batch kernel
    (:func:`..kernels_batch.batch_sketch`) in text and DNA mode alike: no
    per-document Python, and only the components ``fields`` needs.
    Bit-parity with the per-document kernels is pinned in
    tests/test_kernels.py.
    """
    seeds = cfg.seeds() if "minhash" in fields and cfg.minhash_scheme == "seeded" else None

    def run_text(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in batches:
            yield pd.DataFrame(batch_sketch(texts, cfg, fields, seeds))

    schema = StructType([StructField(f, SKETCH_COLUMNS[f]) for f in fields])
    return F.pandas_udf(run_text, schema)


def _with_sketch(df: DataFrame, cfg: SketchConfig, fields, text_col: str) -> DataFrame:
    s = sketch_udf(cfg, fields)(F.col(text_col)).alias("_sk")
    return df.select("*", s).select(
        *df.columns, *[F.col(f"_sk.{f}").alias(f) for f in fields]
    )


def add_full_sketch(df: DataFrame, cfg: SketchConfig, text_col: str = "text") -> DataFrame:
    """All sketch columns from ONE shingle pass — the dedup pipeline hot
    path.  Equal to :func:`add_sketch` then :func:`add_signature` (tested)."""
    return _with_sketch(df, cfg, full_sketch_fields(cfg), text_col)


PROFILE_FIELDS = ArrayType(
    StructType(
        [
            StructField("fingerprint", LongType()),
            StructField("cnt", IntegerType()),
        ]
    )
)


def shingle_profile(df: DataFrame, cfg: SketchConfig,
                    id_col: str = "conv_id", text_col: str = "text") -> DataFrame:
    """Exploded k-shingle multiset profile: one row per (id, fingerprint)
    with its occurrence count — the reference's ``kmer_profile``
    (``sliding_jaccard.py:551-566``) in the SURVEY-preferred exploded form
    (joins/aggregations over profiles are then native DataFrame ops).

    The per-document count vector is built in one numpy pass inside an Arrow
    UDF (np.unique with counts); the explode to rows happens JVM-side.
    """

    def run(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in batches:
            out = []
            for t in texts:
                fp = cfg.fingerprints(t or "")
                if fp.size:
                    u, c = np.unique(fp, return_counts=True)
                    out.append(list(zip(K.u64_to_i64(u).tolist(),
                                        c.astype(np.int32).tolist())))
                else:
                    out.append([])
            yield pd.Series(out)

    prof = F.pandas_udf(run, PROFILE_FIELDS)(F.col(text_col)).alias("_p")
    return (
        spread_small_input(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), prof)
        .select(id_col, F.explode("_p").alias("_e"))
        .select(id_col, F.col("_e.fingerprint").alias("fingerprint"),
                F.col("_e.cnt").alias("cnt"))
    )


def add_sketch(df: DataFrame, cfg: SketchConfig, text_col: str = "text") -> DataFrame:
    return _with_sketch(spread_small_input(df), cfg, _SKETCH, text_col)


def add_signature(df: DataFrame, cfg: SketchConfig, text_col: str = "text") -> DataFrame:
    return _with_sketch(spread_small_input(df), cfg, _SIGNATURE, text_col)
