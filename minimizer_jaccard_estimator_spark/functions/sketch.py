"""Arrow/pandas UDFs wrapping the uint64 sketch kernels.

All heavy per-document work (shingle → hash → winnow → sketch/signature)
happens in vectorized numpy inside these UDFs; no per-row Python UDFs
anywhere (BASELINE.json input_hint hard requirement).  Hash values cross the
Spark boundary as LongType via two's-complement reinterpretation
(:func:`..kernels.u64_to_i64`); all magnitude comparisons stay in uint64
space inside the kernels.
"""

from __future__ import annotations

from dataclasses import dataclass, field
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


SKETCH_FIELDS = StructType(
    [
        StructField("minimizers", ArrayType(LongType())),
        StructField("positions", ArrayType(IntegerType())),
        StructField("n_shingles", LongType()),
        StructField("n_dups", LongType()),
    ]
)

SIG_FIELDS = StructType(
    [
        StructField("minhash", ArrayType(LongType())),
        StructField("simhash", LongType()),
    ]
)


def sketch_udf(cfg: SketchConfig):
    """text -> struct(minimizers, positions, n_shingles, n_dups).

    minimizers are the winnowed (w,k) minimizer VALUES in position order
    (reference ``winnowed_minimizers.py:18-53``); n_dups counts repeated
    hash values (reference ``jaccard_correction_test.py:770-778``).

    Text mode runs the segmented batch kernel (r06) — no per-document
    Python, bit-parity pinned; DNA mode keeps the per-document path (parity
    domain, not the scale path) — same split as ``full_sketch_udf``.
    """

    if cfg.mode == "text":
        from ..kernels_batch import batch_sketch_text

        def run_text(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            for texts in batches:
                cols = batch_sketch_text(
                    texts, cfg.k, cfg.w, cfg.hash_type, cfg.hash_seed
                )
                yield pd.DataFrame(cols)

        return F.pandas_udf(run_text, SKETCH_FIELDS)

    def run(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in batches:
            minis, poss, n_sh, n_dup = [], [], [], []
            for t in texts:
                h = cfg.hash_sequence(t or "")
                v, p = K.winnow_minimizers(h, cfg.w)
                minis.append(K.u64_to_i64(v))
                poss.append(p.astype(np.int32))
                n_sh.append(h.shape[0])
                n_dup.append(K.count_hash_duplicates(h))
            yield pd.DataFrame(
                {
                    "minimizers": minis,
                    "positions": poss,
                    "n_shingles": np.array(n_sh, dtype=np.int64),
                    "n_dups": np.array(n_dup, dtype=np.int64),
                }
            )

    return F.pandas_udf(run, SKETCH_FIELDS)


def signature_udf(cfg: SketchConfig):
    """text -> struct(minhash array<long>, simhash long).

    The MinHash axis is the reference's hash-replicate axis
    (``jaccard_correction_test.py:310-331``) vectorized across seeds.

    Text mode runs the signature-only segmented batch kernel (r06) — no
    per-document Python and none of the winnow work the full sketch pays;
    DNA mode keeps the per-document path (same split as
    ``full_sketch_udf``).
    """
    seeds = cfg.seeds()

    if cfg.mode == "text":
        from ..kernels_batch import batch_signature_text

        def run_text(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            for texts in batches:
                cols = batch_signature_text(
                    texts, cfg.k, cfg.hash_type, cfg.hash_seed,
                    cfg.minhash_scheme, cfg.num_perm,
                    seeds if cfg.minhash_scheme != "oph" else None,
                    cfg.simhash_seed, cfg.hash_type,
                )
                yield pd.DataFrame(cols)

        return F.pandas_udf(run_text, SIG_FIELDS)

    def run(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in batches:
            sigs, sims = [], []
            for t in texts:
                fp = cfg.fingerprints(t or "")
                sig = cfg.minhash(fp, seeds)
                sigs.append(K.u64_to_i64(sig))
                sh = K.simhash64(fp, cfg.simhash_seed, cfg.hash_type)
                sims.append(sh - (1 << 64) if sh >= (1 << 63) else sh)
            yield pd.DataFrame({"minhash": sigs, "simhash": np.array(sims, dtype=np.int64)})

    return F.pandas_udf(run, SIG_FIELDS)


FULL_FIELDS = StructType(SKETCH_FIELDS.fields + SIG_FIELDS.fields)


def _full_fields(cfg: SketchConfig) -> StructType:
    fields = SKETCH_FIELDS.fields + SIG_FIELDS.fields
    if not cfg.include_positions:
        fields = [f for f in fields if f.name != "positions"]
    return StructType(fields)


def full_sketch_udf(cfg: SketchConfig):
    """text -> struct(minimizers, [positions], n_shingles, n_dups, minhash,
    simhash) in ONE shingle pass — the dedup pipeline hot path.

    Fingerprints are computed once per document; the (w,k) winnow, the
    MinHash signature, and SimHash all reuse them.  Semantically identical
    to sketch_udf + signature_udf composed (equality is tested).
    ``cfg.include_positions=False`` drops the positions array from the
    output (parity/debug only; unused by dedup).

    Text mode runs the SEGMENTED batch kernels
    (:mod:`..kernels_batch`): the whole Arrow batch is concatenated and
    sketched with one set of numpy calls, removing the per-document Python
    loop that floored throughput on short documents (VERDICT r04 #4;
    bit-parity with the per-document kernels is pinned in
    tests/test_kernels.py).  DNA mode keeps the per-document path (parity
    domain, not the scale path).
    """
    seeds = cfg.seeds()
    with_pos = cfg.include_positions

    if cfg.mode == "text":
        from ..kernels_batch import batch_full_sketch_text

        def run_text(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
            for texts in batches:
                cols = batch_full_sketch_text(
                    texts, cfg.k, cfg.w, cfg.hash_type, cfg.hash_seed,
                    cfg.minhash_scheme, cfg.num_perm,
                    seeds if cfg.minhash_scheme != "oph" else None,
                    cfg.simhash_seed, cfg.hash_type, with_pos,
                )
                yield pd.DataFrame(cols)

        return F.pandas_udf(run_text, _full_fields(cfg))

    def run(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for texts in batches:
            minis, poss, n_sh, n_dup, sigs, sims = [], [], [], [], [], []
            for t in texts:
                fp = cfg.fingerprints(t or "")
                if cfg.mode == "dna":
                    # dna sentinel semantics live in hash_dna_sequence
                    h = cfg.hash_sequence(t or "")
                elif fp.size:
                    # text mode hashes in the full 64-bit domain (mask k=32),
                    # matching hash_text_shingles — NOT cfg.k, which would
                    # shrink the minimap2 mask and break parity
                    h = K.apply_hash(cfg.hash_type, cfg.hash_seed, fp, 32)
                else:
                    h = fp
                v, p = K.winnow_minimizers(h, cfg.w)
                minis.append(K.u64_to_i64(v))
                if with_pos:
                    poss.append(p.astype(np.int32))
                n_sh.append(h.shape[0])
                n_dup.append(K.count_hash_duplicates(h))
                sig = cfg.minhash(fp, seeds)
                sigs.append(K.u64_to_i64(sig))
                sh = K.simhash64(fp, cfg.simhash_seed, cfg.hash_type)
                sims.append(sh - (1 << 64) if sh >= (1 << 63) else sh)
            cols = {"minimizers": minis}
            if with_pos:
                cols["positions"] = poss
            cols.update(
                {
                    "n_shingles": np.array(n_sh, dtype=np.int64),
                    "n_dups": np.array(n_dup, dtype=np.int64),
                    "minhash": sigs,
                    "simhash": np.array(sims, dtype=np.int64),
                }
            )
            yield pd.DataFrame(cols)

    return F.pandas_udf(run, _full_fields(cfg))


def add_full_sketch(df: DataFrame, cfg: SketchConfig, text_col: str = "text") -> DataFrame:
    s = full_sketch_udf(cfg)(F.col(text_col)).alias("_sk")
    return df.select("*", s).select(
        *df.columns,
        *[F.col(f"_sk.{f.name}").alias(f.name) for f in _full_fields(cfg).fields],
    )


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

    from ..util import spread_small_input

    prof = F.pandas_udf(run, PROFILE_FIELDS)(F.col(text_col)).alias("_p")
    return (
        spread_small_input(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), prof)
        .select(id_col, F.explode("_p").alias("_e"))
        .select(id_col, F.col("_e.fingerprint").alias("fingerprint"),
                F.col("_e.cnt").alias("cnt"))
    )


def add_sketch(df: DataFrame, cfg: SketchConfig, text_col: str = "text") -> DataFrame:
    from ..util import spread_small_input

    df = spread_small_input(df)
    s = sketch_udf(cfg)(F.col(text_col)).alias("_sk")
    return df.select("*", s).select(
        *df.columns,
        F.col("_sk.minimizers").alias("minimizers"),
        F.col("_sk.positions").alias("positions"),
        F.col("_sk.n_shingles").alias("n_shingles"),
        F.col("_sk.n_dups").alias("n_dups"),
    )


def add_signature(df: DataFrame, cfg: SketchConfig, text_col: str = "text") -> DataFrame:
    from ..util import spread_small_input

    df = spread_small_input(df)
    s = signature_udf(cfg)(F.col(text_col)).alias("_sig")
    return df.select("*", s).select(
        *df.columns,
        F.col("_sig.minhash").alias("minhash"),
        F.col("_sig.simhash").alias("simhash"),
    )
