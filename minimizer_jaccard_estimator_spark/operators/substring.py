"""Distributed suffix-array pass: exact substring-level duplicate spans.

north_rule requirement: "a distributed suffix-array pass for exact
substring-level duplicate spans".  Design (Spark-first, no per-row Python):

1. **Anchor stage** — every document is winnowed into (w,k) minimizer anchors
   of its byte shingles (the sketch stage's own UDF, reference
   ``winnowed_minimizers.py:18-53``), with ``k + w - 1 = min_len``.  The
   winnowing guarantee (Schleimer et al., MOSS): any two documents sharing an
   exact substring of length >= min_len share at least one anchor VALUE, so
   the UNCAPPED anchor equi-join has perfect recall for spans >= min_len.
   The frequency cap below trades recall on corpus-wide boilerplate anchors
   for bounded work — capped anchors are recorded, never silently dropped.
2. **Candidate pairs** — the LSH bucket-pair core (:func:`.lsh.self_pairs`)
   over distinct ``(doc_id, anchor)`` rows, hot anchors capped by frequency
   (stop-shingle removal) exactly like the LSH bucket cap; this is the scale
   knob that keeps the shuffle linear in corpus size, not quadratic.
3. **Verify stage** — candidate pairs join back to their texts and a
   vectorized pandas UDF runs the per-pair suffix-array kernel
   (:mod:`..suffix`: prefix-doubling SA + Kasai LCP over ``a+SEP+b``) to emit
   exact maximal duplicate spans, coverage, and the longest shared substring.

At cluster scale each stage is a plain shuffle-on-key: anchors are uniformly
distributed 64-bit hashes (no key skew by construction after the frequency
cap), and verification is embarrassingly parallel per pair.
"""

from __future__ import annotations

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

from ..functions.sketch import SketchConfig, sketch_udf
from ..suffix import substring_stats
from .lsh import self_pairs


def anchor_params(min_len: int) -> tuple[int, int]:
    """(k, w) with k + w - 1 == min_len (winnowing detection guarantee)."""
    if min_len < 4:
        raise ValueError("min_len must be >= 4")
    k = min(32, max(4, (min_len + 1) // 2))
    w = min_len - k + 1
    return k, w


def anchor_table(
    docs: DataFrame,
    min_len: int,
    hash_type: str = "splitmix64",
    seed: int = 0,
    id_col: str = "conv_id",
    text_col: str = "text",
) -> DataFrame:
    """Exploded (id, anchor, pos) winnowed-anchor table: the (w,k)
    minimizers of each document's byte shingles from the one sketch UDF."""
    k, w = anchor_params(min_len)
    cfg = SketchConfig(k=k, w=w, hash_type=hash_type, hash_seed=seed)
    u = sketch_udf(cfg, ("minimizers", "positions"))
    return (
        docs.select(F.col(id_col).alias("id"), u(F.col(text_col)).alias("_s"))
        .select("id", F.explode(F.arrays_zip("_s.minimizers", "_s.positions")).alias("a"))
        .select("id", F.col("a.minimizers").alias("anchor"),
                F.col("a.positions").alias("pos"))
    )


_SPAN_SCHEMA = StructType(
    [
        StructField("cov_a", LongType()),
        StructField("cov_b", LongType()),
        StructField("longest", LongType()),
        StructField("n_spans", LongType()),  # TRUE count (spans array is capped)
        StructField(
            "spans",
            ArrayType(
                StructType(
                    [
                        StructField("pos_a", IntegerType()),
                        StructField("pos_b", IntegerType()),
                        StructField("length", IntegerType()),
                    ]
                )
            ),
        ),
    ]
)


def _span_udf(min_len: int, max_spans: int):
    def run(it: Iterator[tuple[pd.Series, pd.Series]]) -> Iterator[pd.DataFrame]:
        for ta, tb in it:
            cov_a, cov_b, longest, n_spans, spans = [], [], [], [], []
            for x, y in zip(ta, tb):
                st = substring_stats(x or "", y or "", min_len)
                cov_a.append(st["cov_a"])
                cov_b.append(st["cov_b"])
                longest.append(st["longest"])
                n_spans.append(len(st["spans"]))
                spans.append(
                    [
                        {"pos_a": pa, "pos_b": pb, "length": ln}
                        for pa, pb, ln in st["spans"][:max_spans]
                    ]
                )
            yield pd.DataFrame(
                {
                    "cov_a": np.array(cov_a, dtype=np.int64),
                    "cov_b": np.array(cov_b, dtype=np.int64),
                    "longest": np.array(longest, dtype=np.int64),
                    "n_spans": np.array(n_spans, dtype=np.int64),
                    "spans": spans,
                }
            )

    return F.pandas_udf(run, _SPAN_SCHEMA)


def span_stats_for_pairs(
    pairs: DataFrame,
    texts: DataFrame,
    min_len: int,
    max_spans_per_pair: int = 64,
) -> DataFrame:
    """Run the per-pair suffix-array kernel over ``pairs`` (id_a, id_b),
    fetching each side's text from ``texts`` (id, text).  Shared by the full
    pass below and the delta pass (operators/delta.py), which restricts
    ``pairs`` to delta-touched candidates and prunes ``texts`` to their
    endpoints first.  Pairs with no span >= min_len are dropped."""
    # byte lengths (octet_length), matching the byte-offset span coordinates
    # and byte coverage from the suffix-array kernel — char lengths would
    # overstate coverage fractions on multi-byte text
    ta = texts.select(F.col("id").alias("id_a"), F.col("text").alias("_text_a"),
                      F.octet_length("text").cast("long").alias("len_a"))
    tb = texts.select(F.col("id").alias("id_b"), F.col("text").alias("_text_b"),
                      F.octet_length("text").cast("long").alias("len_b"))
    joined = pairs.join(ta, "id_a").join(tb, "id_b")
    st = _span_udf(min_len, max_spans_per_pair)(F.col("_text_a"), F.col("_text_b")).alias("_st")
    return (
        joined.select("id_a", "id_b", "len_a", "len_b", st)
        .select(
            "id_a",
            "id_b",
            "len_a",
            "len_b",
            F.col("_st.cov_a").alias("cov_a"),
            F.col("_st.cov_b").alias("cov_b"),
            F.col("_st.longest").alias("longest"),
            F.col("_st.n_spans").alias("n_spans"),
            F.col("_st.spans").alias("spans"),
        )
        .where(F.col("longest") >= min_len)
    )


def duplicate_spans(
    docs: DataFrame,
    min_len: int,
    hash_type: str = "splitmix64",
    seed: int = 0,
    max_bucket_size: int | None = 200,
    max_spans_per_pair: int = 64,
    id_col: str = "conv_id",
    text_col: str = "text",
    with_dropped: bool = False,
    anchors: DataFrame | None = None,
    cache_registry: list | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """End-to-end suffix-array duplicate-span pass.

    Output: one row per candidate doc pair with exact duplicated-byte
    coverage on each side, the longest shared substring, the TRUE maximal
    span count, and (capped) span coordinates.  Pairs with no span >=
    min_len are dropped.  ``anchors`` short-circuits the anchor UDF pass
    with a precomputed (id, anchor) table — run_dedup passes the store's
    materialized ``anchors`` probe stage so the winnow UDF runs once per
    corpus, not once per consumer.

    Candidates are the distinct pairs sharing >=1 anchor value.  Hot anchors
    (> max_bucket_size docs: boilerplate shingles whose pair blow-up is
    quadratic) are excluded — the recall trade of the module docstring,
    which raising max_bucket_size undoes; ``with_dropped=True`` also returns
    them as an (anchor, n_docs) table (no silent caps).

    The distinct (id, anchor) table feeds the bucket-size aggregate and the
    bucket join; it is persisted so the anchor winnow UDF runs once per
    corpus, not once per consumer (measured 163 s -> 29 s on the full
    duplicate_spans query at sf0.1 — guide §5 "reused AND expensive to
    recompute").  The candidate pair table is persisted too: its two
    text-attach joins would otherwise re-run the whole anchor/pair chain
    once per side.  Persisted handles are appended to ``cache_registry``
    when given (the dedup pipeline's release discipline); without a
    registry they stay cached for the session — the one-shot query path —
    at MEMORY_AND_DISK, bounded by the narrow (id, anchor) row count
    (~16 B/row, linear in corpus size).
    """
    base = docs.select(F.col(id_col).alias("id"), F.col(text_col).alias("text"))
    if anchors is None:
        anchors = anchor_table(base, min_len, hash_type, seed, id_col="id")
    per_doc = anchors.select("id", "anchor").distinct().persist()
    if cache_registry is not None:
        cache_registry.append(per_doc)
    out = self_pairs(per_doc, ["anchor"], "id", max_bucket_size, with_dropped, cache_registry)
    pairs, dropped = out if with_dropped else (out, None)
    pairs = pairs.distinct().persist()
    if cache_registry is not None:
        cache_registry.append(pairs)
    out = span_stats_for_pairs(pairs, base, min_len, max_spans_per_pair)
    return (out, dropped) if with_dropped else out


def substring_dup_pairs(
    spans: DataFrame, min_cov_frac: float = 0.5
) -> DataFrame:
    """(id_a, id_b) pairs where either side has >= min_cov_frac of its bytes
    inside exact duplicate spans — the candidate source fed into the dedup
    pipeline's verify/cluster stages."""
    frac_a = F.col("cov_a") / F.greatest(F.col("len_a"), F.lit(1))
    frac_b = F.col("cov_b") / F.greatest(F.col("len_b"), F.lit(1))
    return (
        spans.where((frac_a >= min_cov_frac) | (frac_b >= min_cov_frac))
        .select("id_a", "id_b")
    )
