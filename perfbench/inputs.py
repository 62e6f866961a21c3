"""Seeded inputs for the benchmark workloads and their ground truth.

Every table is a pure function of the workload seed.  The engine receives
only the generated tables; the planted duplicate pairs stay here and are
scored exactly in the driver with :mod:`minimizer_jaccard_estimator_spark.kernels`.
"""

from __future__ import annotations

import itertools
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from minimizer_jaccard_estimator_spark import kernels as K
from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
from minimizer_jaccard_estimator_spark.sources.transcripts import synthetic_transcripts

# The law of the sf0.1 ``documents`` fixture (5,000 docs): word frequencies
# over its 31-word vocabulary and the histogram of words per document (10 to
# 100).  Resampling from it reproduces the fixture's heavy shingle overlap
# at any size and seed, the way ``scripts/gen_scaledata.gen_documents`` does.
DOC_VOCAB = {
    "spark": 9182, "window": 9159, "merge": 9157, "table": 9144, "column": 9127,
    "vector": 9119, "stream": 9117, "value": 9112, "data": 9104, "small": 9100,
    "join": 9080, "filter": 9063, "big": 9057, "group": 9040, "hash": 9024,
    "customer": 9017, "sort": 9005, "order": 8971, "slow": 8960, "line": 8951,
    "part": 8929, "fast": 8926, "the": 8925, "row": 8925, "agg": 8912,
    "key": 8893, "query": 8881, "a": 8877, "scan": 8863, "batch": 8829, "dup": 255,
}
DOC_WORDS_HIST = dict(zip(range(10, 101), (
    51, 49, 59, 48, 62, 40, 53, 65, 55, 60, 45, 71, 51, 53, 60, 70, 50, 56, 64,
    55, 59, 40, 56, 48, 61, 54, 51, 60, 59, 65, 65, 70, 55, 63, 63, 59, 58, 55,
    61, 43, 61, 42, 59, 50, 50, 52, 56, 67, 66, 50, 52, 41, 55, 54, 60, 54, 60,
    65, 62, 51, 57, 61, 62, 51, 62, 50, 42, 67, 47, 58, 90, 48, 54, 45, 49, 55,
    55, 55, 54, 56, 56, 44, 58, 56, 52, 38, 45, 54, 48, 58, 4,
)))
# word-substitution rates of the planted document copies (0.0 = exact copy)
DOC_COPY_RATES = (0.0, 0.02, 0.05, 0.10, 0.20)


@dataclass
class Truth:
    """Planted duplicate pairs with their exact minimizer Jaccard."""

    ids: set[str]
    pairs: list[tuple[str, str, float]]
    family: dict[str, str] | None  # id -> planted family; None = not checked

    def recall_pairs(self, threshold: float) -> list[tuple[str, str]]:
        return [(a, b) for a, b, j in self.pairs if j >= threshold]


def exact_minimizer_jaccard(texts: dict[str, str], pairs, cfg: SketchConfig) -> list[float]:
    """Set-of-values minimizer Jaccard of each pair, as ``verify_pairs``
    defines it, from the per-document kernels."""
    sets: dict[str, np.ndarray] = {}

    def mins(cid: str) -> np.ndarray:
        if cid not in sets:
            h = K.hash_text_shingles(texts[cid], cfg.k, cfg.hash_type, cfg.hash_seed)
            sets[cid] = np.unique(K.winnow_minimizers(h, cfg.w)[0])
        return sets[cid]

    out = []
    for a, b in pairs:
        sa, sb = mins(a), mins(b)
        i = np.intersect1d(sa, sb, assume_unique=True).shape[0]
        u = sa.shape[0] + sb.shape[0] - i
        out.append(i / u if u else 0.0)
    return out


def texts_from_turns(turns: DataFrame) -> dict[str, str]:
    """Conversation texts assembled in the driver from the raw turn rows
    (independent of the engine's own assembly)."""
    pdf = turns.select("conv_id", "turn_idx", "text").toPandas()
    pdf = pdf.sort_values(["conv_id", "turn_idx"], kind="stable")
    return {cid: "\n".join(g["text"].tolist()) for cid, g in pdf.groupby("conv_id", sort=False)}


def conv_family(conv_id: str, n_base: int) -> str:
    """Planted family of a generated conversation id ``c<index>`` (or of its
    renamed copy ``rc<index>``): clones share ``index % n_base``."""
    return str(int(conv_id.lstrip("r")[1:]) % n_base)


# share of base conversations generated with 8x the turns (the hot family)
HOT_FRACTION = 0.01


def generator_seed(seed: int, n_base: int, shape: dict, tol: float = 0.005) -> int:
    """The transcript generator seed for benchmark seed ``seed``: the first
    of ``seed*1000``, ``seed*1000+1``, ... whose corpus holds the expected
    number of turns within ``tol``.  The seed still decides the content;
    fixing the size keeps a pass's cost comparable across seeds (corpus size
    alone spread 4.7 % between quartiles at n_base=120).  The turn draw
    mirrors ``synthetic_transcripts``; should it ever differ, only the size
    normalisation is lost (diagnostics report the turn count)."""
    lo, hi = shape["turns_min"], shape["turns_max"]
    hot = int(n_base * HOT_FRACTION)
    expect = (n_base + 7 * hot) * (lo + hi) / 2
    for cand in itertools.count(seed * 1000):
        total = 0
        for b in range(n_base):
            n = random.Random(f"conv:{cand}:{b}").randint(lo, hi)
            total += 8 * n if b < hot else n
        if abs(total - expect) <= tol * expect:
            return cand


def transcripts(spark: SparkSession, seed: int, n_base: int, dup_factor: int,
                shape: dict) -> DataFrame:
    """Turns from the engine's transcript generator, whose contract plants
    every conv with index >= n_base as a clone of ``index % n_base``."""
    return synthetic_transcripts(
        spark, n_base=n_base, dup_factor=dup_factor,
        seed=generator_seed(seed, n_base, shape), skew_fraction=HOT_FRACTION,
        partitions=spark.sparkContext.defaultParallelism * 2, **shape,
    )


def planted_pairs(conv_ids, n_base: int) -> list[tuple[str, str]]:
    """(clone, base) pairs among generated ids ``c<index>``."""
    out = []
    for cid in conv_ids:
        if cid.startswith("c") and int(cid[1:]) >= n_base:
            out.append((cid, f"c{int(cid[1:]) % n_base:010d}"))
    return out


def documents(seed: int, n_src: int, n_copies: int) -> tuple[pd.DataFrame, list[tuple[str, str]]]:
    """(docs, planted (copy, source) id pairs) resampled from the sf0.1
    documents law, with ``n_copies`` mutated copies of distinct sources
    cycling through :data:`DOC_COPY_RATES`."""
    rng = np.random.default_rng(seed)
    vocab = np.array(list(DOC_VOCAB))
    probs = np.array(list(DOC_VOCAB.values()), dtype=np.float64)
    probs /= probs.sum()
    lens = np.array(list(DOC_WORDS_HIST))
    lprobs = np.array(list(DOC_WORDS_HIST.values()), dtype=np.float64)
    lprobs /= lprobs.sum()
    nw = rng.choice(lens, size=n_src, p=lprobs)
    words = rng.choice(len(vocab), size=int(nw.sum()), p=probs)
    src_words = np.split(words, np.cumsum(nw)[:-1])
    texts = [" ".join(vocab[w]) for w in src_words]
    sources = rng.choice(n_src, size=n_copies, replace=False)
    for i, s in enumerate(sources):
        w = src_words[s].copy()
        hit = rng.random(w.shape[0]) < DOC_COPY_RATES[i % len(DOC_COPY_RATES)]
        w[hit] = rng.choice(len(vocab), size=int(hit.sum()), p=probs)
        texts.append(" ".join(vocab[w]))
    # shuffled ids: copies are not adjacent to their sources in id order
    doc_id = rng.permutation(n_src + n_copies).astype(np.int64)
    pairs = [(str(doc_id[n_src + i]), str(doc_id[s])) for i, s in enumerate(sources)]
    return pd.DataFrame({"doc_id": doc_id, "text": texts}), pairs
