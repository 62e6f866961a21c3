"""IVF ANN: exactness at full probe, recall at partial probe.
Hyperplane-LSH near-dup: recall + precision vs the brute-force oracle."""

from __future__ import annotations

import numpy as np
import pyspark.sql.functions as F

from minimizer_jaccard_estimator_spark.operators.ann import (
    brute_force_topk,
    build_ivf,
    embedding_neardup_pairs,
    ivf_topk,
)


def _emb(spark, sf="/root/testdata/sf0.01"):
    return spark.read.parquet(f"{sf}/embeddings.parquet")


def test_ivf_full_probe_equals_brute_force(spark):
    emb = _emb(spark)
    query = emb.where("vec_id = 0").head()["embedding"]
    query = [float(x) for x in query]
    corpus = emb.where("vec_id <> 0")
    bf = brute_force_topk(corpus, query, k=10).collect()
    idx = build_ivf(corpus, n_cells=8, seed=42)
    full = ivf_topk(idx, query, k=10, nprobe=8).collect()
    assert [(r.vec_id, round(r.cosine, 9)) for r in full] == [
        (r.vec_id, round(r.cosine, 9)) for r in bf
    ]


def _planted_neardup_corpus(n_base=300, n_dup=60, dim=64, seed=11):
    """Deterministic embeddings with planted near-dups: n_dup base vectors get
    a small-angle perturbed copy (cosine >= ~0.995); everything else is far
    apart with overwhelming probability at dim=64."""
    rng = np.random.default_rng(seed)
    base = rng.standard_normal((n_base, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = [(int(i), [float(x) for x in base[i]]) for i in range(n_base)]
    for d in range(n_dup):
        noise = rng.standard_normal(dim) * 0.01  # ||noise|| ~ 0.08 -> cos ~ 0.997
        v = base[d] + noise
        v /= np.linalg.norm(v)
        rows.append((int(n_base + d), [float(x) for x in v]))
    return rows


def test_embedding_neardup_lsh_recall_vs_brute_force(spark):
    """The hyperplane-LSH near-dup path finds >=0.95 of the brute-force pairs
    at theta=0.99 (design recall ~0.999) with exact-cosine precision 1.0."""
    rows = _planted_neardup_corpus()
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"]).repartition(8)

    # brute-force truth (the oracle shape __spark_entry__ uses)
    u = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: x / F.sqrt(F.aggregate(
                F.transform("embedding", lambda y: y * y), F.lit(0.0),
                lambda s, y: s + y)),
        ).alias("u"),
    )
    a = u.select(F.col("vec_id").alias("id_a"), F.col("u").alias("ua"))
    b = u.select(F.col("vec_id").alias("id_b"), F.col("u").alias("ub"))
    dot = F.aggregate(F.zip_with("ua", "ub", lambda x, y: x * y), F.lit(0.0),
                      lambda s, x: s + x)
    truth = {
        (r["id_a"], r["id_b"])
        for r in a.crossJoin(b).where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", dot.alias("c")).where(F.col("c") >= 0.99).collect()
    }
    assert len(truth) >= 50  # the plant worked

    got_rows = embedding_neardup_pairs(emb, threshold=0.99).collect()
    got = {(r["id_a"], r["id_b"]) for r in got_rows}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.95, f"recall {recall}"
    # exact verify inside buckets => no false accepts
    assert got <= truth
    for r in got_rows:
        assert r["cosine"] >= 0.99


def test_embedding_neardup_lsh_deterministic(spark):
    rows = _planted_neardup_corpus(n_base=80, n_dup=10)
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    p1 = sorted((r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(emb).collect())
    p2 = sorted((r["id_a"], r["id_b"]) for r in embedding_neardup_pairs(emb).collect())
    assert p1 == p2 and p1


def test_embedding_neardup_cache_registry_releases_unit_table(spark):
    """The persisted unit-vector table goes to the caller's registry; once the
    caller unpersists it, nothing stays cached and the pairs are unchanged."""
    rows = _planted_neardup_corpus(n_base=80, n_dup=10)
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    registry: list = []
    pairs = embedding_neardup_pairs(emb, threshold=0.99, cache_registry=registry)
    before = sorted(pairs.collect())
    assert len(registry) == 1
    unit = registry[0]
    assert unit.storageLevel.useMemory or unit.storageLevel.useDisk
    for df in registry:
        df.unpersist(blocking=True)
    level = unit.storageLevel
    assert not (level.useMemory or level.useDisk or level.useOffHeap)
    assert sorted(pairs.collect()) == before and before


def test_embedding_neardup_handles_null_and_ragged_rows(spark):
    """Dimension contract (review r03): null and wrong-dimension vectors are
    excluded, the dimension is the MODAL size (robust to a corrupt leading
    row — never the partition-order-dependent first row), and the planted
    pairs among well-formed vectors are still found."""
    rows = _planted_neardup_corpus(n_base=80, n_dup=10, dim=32)
    # adversarial prefix: a corrupt short vector FIRST, plus a null row —
    # a first()-based dim probe would have inferred dim=4 and dropped all
    bad = [(9000, [0.1, 0.2, 0.3, 0.4]), (9001, None)]
    emb = spark.createDataFrame(bad + rows, ["vec_id", "embedding"]).coalesce(1)
    got = {(r["id_a"], r["id_b"])
           for r in embedding_neardup_pairs(emb, threshold=0.99).collect()}
    expect = {(d, 80 + d) for d in range(10)}
    assert expect <= got
    assert not any(9000 in p or 9001 in p for p in got)
    # explicit dim overrides inference entirely
    got2 = {(r["id_a"], r["id_b"])
            for r in embedding_neardup_pairs(emb, threshold=0.99, dim=32).collect()}
    assert expect <= got2


def test_embedding_neardup_empty_and_all_null(spark):
    """Empty or all-null input returns an empty typed frame, not an error."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    assert embedding_neardup_pairs(empty).count() == 0
    nulls = spark.createDataFrame([(1, None), (2, None)],
                                  "vec_id long, embedding array<float>")
    out = embedding_neardup_pairs(nulls)
    assert out.count() == 0
    assert out.columns == ["id_a", "id_b", "cosine"]


def test_ivf_partial_probe_recall(spark):
    emb = _emb(spark)
    query = emb.where("vec_id = 1").head()["embedding"]
    query = [float(x) for x in query]
    corpus = emb.where("vec_id <> 1")
    truth = {r.vec_id for r in brute_force_topk(corpus, query, k=10).collect()}
    idx = build_ivf(corpus, n_cells=8, seed=42)
    got = {r.vec_id for r in ivf_topk(idx, query, k=10, nprobe=4).collect()}
    recall = len(got & truth) / len(truth)
    assert recall >= 0.7, recall
    # candidate scan shrinks: probed cells hold a strict subset of the corpus
    probed = ivf_topk(idx, query, k=10**6, nprobe=1).count()
    assert probed < corpus.count()
