"""A repeated dedup pass reuses its generated code.

Spark caches compiled whole-stage classes by their source.  When the cache
holds fewer entries than one pass generates, every pass evicts its own
classes and compiles them again (and the JVM re-JITs them).  These tests read
Spark's codegen metrics around two identical calls in one session and require
the second call to compile almost nothing.
"""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F

from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
from minimizer_jaccard_estimator_spark.operators.dedup import DedupConfig, run_dedup
from minimizer_jaccard_estimator_spark.operators.delta import run_dedup_delta
from minimizer_jaccard_estimator_spark.plans.catalog import StageStore
from minimizer_jaccard_estimator_spark.sources.transcripts import synthetic_transcripts

CFG = DedupConfig(
    sketch=SketchConfig(k=12, w=20, num_perm=64, lsh_bands=32),
    jaccard_threshold=0.5,
    staged_verify=True,
)


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _assert_second_call_reuses_classes(spark, call) -> None:
    counts = []
    for i in range(2):
        before = _compiles(spark)
        call(i)
        counts.append(_compiles(spark) - before)
    first, second = counts
    assert second <= max(5, 0.1 * first), (
        f"second call compiled {second} classes (first: {first}); "
        f"spark.sql.codegen.cache.maxEntries="
        f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')} is too small "
        "for one pass"
    )


def test_repeated_dedup_compiles_once(spark):
    corpus = synthetic_transcripts(spark, n_base=20, dup_factor=2, seed=23).cache()
    corpus.count()

    def call(_):
        res = run_dedup(spark, corpus, CFG)
        try:
            assert len(res.clusters.collect()) == 60
        finally:
            res.release()

    _assert_second_call_reuses_classes(spark, call)
    corpus.unpersist()


def test_repeated_committed_delta_compiles_once(spark, tmp_path):
    corpus = synthetic_transcripts(spark, n_base=20, dup_factor=2, seed=29).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)
    base = str(tmp_path / "base")
    run_dedup(spark, old, CFG, store=StageStore(root=base)).release()

    def call(i):
        root = str(tmp_path / f"copy{i}")
        shutil.copytree(base, root)
        res = run_dedup_delta(spark, new, CFG, StageStore(root=root), commit=True)
        try:
            assert len(res.clusters.collect()) == 60
        finally:
            res.release()

    _assert_second_call_reuses_classes(spark, call)
    corpus.unpersist()
