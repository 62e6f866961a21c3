"""The three benchmark workloads.

Each one generates its inputs from the seed (``setup_inputs``, repeated to
take a median set-up time), scores its planted pairs (``truth``) and runs
passes.  A pass is one ``run_dedup``, or one committed ``run_dedup_delta``,
plus materializing its cluster assignment, followed by ``release()``.
``prepare_pass`` runs untimed before every pass.
"""

from __future__ import annotations

import os
import shutil

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

import inputs
import tracing
from inputs import Truth
from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
from minimizer_jaccard_estimator_spark.operators.dedup import DedupConfig, run_dedup
from minimizer_jaccard_estimator_spark.operators.delta import run_dedup_delta
from minimizer_jaccard_estimator_spark.plans.catalog import StageStore

# bench.py's headline transcript config (OPH signatures, staged verify)
SKETCH_LONG = SketchConfig(k=12, w=20, hash_type="splitmix64", hash_seed=0,
                           num_perm=128, lsh_bands=32, minhash_scheme="oph")
# __spark_entry__._SKETCH: the documents config, 64 seeded perms in 32 bands
SKETCH_DOCS = SketchConfig(k=8, w=10, hash_type="splitmix64", hash_seed=0,
                           num_perm=64, lsh_bands=32)

LONG_SHAPE = dict(turns_min=20, turns_max=60, words_per_turn=60)
DEFAULT_SHAPE = dict(turns_min=3, turns_max=12, words_per_turn=30)


def _keep(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist()
    return df, df.count()


class Workload:
    name = ""
    cfg: DedupConfig
    warmups = 1
    # timed passes made however short --seconds is; a fixed count keeps the
    # median at the same point of the JIT warm-up curve in every run
    min_passes = 3

    def __init__(self, spark: SparkSession, seed: int, tmp: str) -> None:
        self.spark, self.seed, self.tmp = spark, seed, tmp
        self.n_turns = 0
        self._cached: list[DataFrame] = []

    def setup_inputs(self) -> None:
        raise NotImplementedError

    def drop_inputs(self) -> None:
        for df in self._cached:
            df.unpersist()
        self._cached = []

    def setup_once(self) -> None:
        """Set-up that runs once, after the inputs exist."""

    def truth(self) -> Truth:
        raise NotImplementedError

    def warmup(self) -> pd.DataFrame:
        self.prepare_pass()
        return self.run_pass()

    def prepare_pass(self) -> None:
        """Untimed work before each pass."""

    def run_pass(self) -> pd.DataFrame:
        raise NotImplementedError

    def traced_pass(self, tr: tracing.Tracer) -> pd.DataFrame:
        """``run_pass`` with a span around each layer."""
        raise NotImplementedError

    def sample_texts(self) -> list[str]:
        """Input texts in id order, for the single-thread kernel timings."""
        raise NotImplementedError

    def keep(self, df: DataFrame) -> tuple[DataFrame, int]:
        df, n = _keep(df)
        self._cached.append(df)
        return df, n


class BatchWorkload(Workload):
    table: DataFrame

    def run_pass(self) -> pd.DataFrame:
        res = run_dedup(self.spark, self.table, self.cfg)
        try:
            return res.clusters.toPandas()
        finally:
            res.release()

    def traced_pass(self, tr: tracing.Tracer) -> pd.DataFrame:
        return tracing.traced_batch(self.spark, self.table, self.cfg, tr)


class TranscriptsDedup(BatchWorkload):
    """Long multi-turn transcripts: the agent-transcript shape, sketch-bound."""

    name = "transcripts_dedup"
    n_base = 120
    warmups = 2
    min_passes = 5
    cfg = DedupConfig(sketch=SKETCH_LONG, jaccard_threshold=0.5,
                      staged_verify=True, rebalance_sketch=False)

    def setup_inputs(self) -> None:
        turns = inputs.transcripts(self.spark, self.seed, self.n_base, 2, LONG_SHAPE)
        self.table, self.n_turns = self.keep(turns)

    def truth(self) -> Truth:
        texts = inputs.texts_from_turns(self.table)
        self.texts = texts
        pairs = inputs.planted_pairs(texts, self.n_base)
        js = inputs.exact_minimizer_jaccard(texts, pairs, self.cfg.sketch)
        family = {c: inputs.conv_family(c, self.n_base) for c in texts}
        return Truth(set(texts), [(a, b, j) for (a, b), j in zip(pairs, js)], family)

    def sample_texts(self) -> list[str]:
        return [self.texts[c] for c in sorted(self.texts)]


class DocumentsVerify(BatchWorkload):
    """Short single-turn documents over a 31-word vocabulary: the
    candidate-explosion regime, LSH- and verify-bound."""

    name = "documents_verify"
    n_src = 1500
    n_copies = 200
    warmups = 2
    cfg = DedupConfig(sketch=SKETCH_DOCS)

    def setup_inputs(self) -> None:
        docs, self._pairs = inputs.documents(self.seed, self.n_src, self.n_copies)
        self._docs = docs
        table = self.spark.createDataFrame(docs).select(
            F.col("doc_id").cast("string").alias("conv_id"),
            F.lit(0).alias("turn_idx"),
            F.lit("user").alias("role"),
            F.col("text"),
            F.lit(None).cast("string").alias("tool"),
            F.lit(None).cast("timestamp").alias("ts"),
        )
        self.table, self.n_turns = self.keep(table)

    def truth(self) -> Truth:
        texts = dict(zip(self._docs["doc_id"].astype(str), self._docs["text"]))
        self.texts = texts
        js = inputs.exact_minimizer_jaccard(texts, self._pairs, self.cfg.sketch)
        # resampled documents can be true near-duplicates of each other by
        # chance, so families are not checked here
        return Truth(set(texts), [(a, b, j) for (a, b), j in zip(self._pairs, js)], None)

    def sample_texts(self) -> list[str]:
        return [self.texts[c] for c in sorted(self.texts)]


class TranscriptsDelta(Workload):
    """Committed delta ingest into a parquet StageStore: writes beside reads,
    bound by per-stage scheduling latency.

    Generated conversations 0..3B-1 form the base store, 3B..4B-1 are the
    first delta (committed once, as the first warm-up) and 4B..5B-1 plus
    renamed exact copies of some first-delta conversations are the timed
    delta.  Each timed pass restores the store as it stood after the first
    delta, so every pass does the same work."""

    name = "transcripts_delta"
    n_base = 60
    n_recopies = 15
    # the first-delta commit is the only warm-up; a delta pass takes ~9 s
    min_passes = 2
    cfg = DedupConfig(sketch=SKETCH_LONG, jaccard_threshold=0.5, staged_verify=True)

    def _ids(self, lo: int, hi: int):
        c = F.col("conv_id")
        return (c >= f"c{lo:010d}") & (c < f"c{hi:010d}")

    def setup_inputs(self) -> None:
        b = self.n_base
        corpus, _ = _keep(inputs.transcripts(self.spark, self.seed, b, 4, DEFAULT_SHAPE))
        self.base, _ = self.keep(corpus.where(self._ids(0, 3 * b)))
        self.delta0, _ = self.keep(corpus.where(self._ids(3 * b, 4 * b)))
        recopies = corpus.where(self._ids(3 * b, 3 * b + self.n_recopies)).withColumn(
            "conv_id", F.concat(F.lit("r"), F.col("conv_id"))
        )
        self.delta1, self.n_turns = self.keep(
            corpus.where(self._ids(4 * b, 5 * b)).unionByName(recopies)
        )
        corpus.unpersist()

    @property
    def store_root(self) -> str:
        return os.path.join(self.tmp, "store")

    def setup_once(self) -> None:
        shutil.rmtree(self.store_root, ignore_errors=True)
        run_dedup(self.spark, self.base, self.cfg, store=StageStore(root=self.store_root)).release()

    def truth(self) -> Truth:
        texts = {}
        for df in (self.base, self.delta0, self.delta1):
            texts.update(inputs.texts_from_turns(df))
        self.texts = texts
        pairs = inputs.planted_pairs(texts, self.n_base)
        pairs += [(c, c[1:]) for c in texts if c.startswith("r")]
        js = inputs.exact_minimizer_jaccard(texts, pairs, self.cfg.sketch)
        family = {c: inputs.conv_family(c, self.n_base) for c in texts}
        return Truth(set(texts), [(a, b, j) for (a, b), j in zip(pairs, js)], family)

    def warmup(self) -> pd.DataFrame:
        out = self.commit_delta(self.delta0)
        shutil.copytree(self.store_root, self.store_root + ".snapshot")
        return out

    def prepare_pass(self) -> None:
        shutil.rmtree(self.store_root)
        shutil.copytree(self.store_root + ".snapshot", self.store_root)

    def run_pass(self) -> pd.DataFrame:
        return self.commit_delta(self.delta1)

    def traced_pass(self, tr: tracing.Tracer) -> pd.DataFrame:
        return tracing.traced_delta(self, tr)

    def commit_delta(self, batch: DataFrame, store: StageStore | None = None) -> pd.DataFrame:
        res = run_dedup_delta(self.spark, batch, self.cfg, store or StageStore(root=self.store_root),
                              commit=True)
        try:
            return res.clusters.toPandas()
        finally:
            res.release()

    def sample_texts(self) -> list[str]:
        return [self.texts[c] for c in sorted(self.texts) if c >= f"c{4 * self.n_base:010d}"]


WORKLOADS = {w.name: w for w in (TranscriptsDedup, DocumentsVerify, TranscriptsDelta)}
