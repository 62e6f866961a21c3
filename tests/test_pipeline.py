"""End-to-end pipeline tests: per-turn text-equality invariant, dup-pair
recall >= 0.99 vs brute-force reference-semantics clusters, connected
components vs union-find, checkpoint/resume."""

from __future__ import annotations

import itertools
import random

import numpy as np
import pyspark.sql.functions as F
import pytest

from minimizer_jaccard_estimator_spark import kernels as K
from minimizer_jaccard_estimator_spark import pairwise as P
from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
from minimizer_jaccard_estimator_spark.operators.connected_components import connected_components
from minimizer_jaccard_estimator_spark.operators.dedup import DedupConfig, run_dedup
from minimizer_jaccard_estimator_spark.operators.lsh import exact_dup_pairs
from minimizer_jaccard_estimator_spark.plans.catalog import StageStore
from minimizer_jaccard_estimator_spark.sources.transcripts import (
    assemble_conversations,
    synthetic_transcripts,
)

SKETCH = SketchConfig(k=12, w=20, hash_type="splitmix64", hash_seed=0,
                      num_perm=128, lsh_bands=64)
THETA = 0.5


class UnionFind:
    def __init__(self):
        self.p = {}

    def find(self, x):
        self.p.setdefault(x, x)
        while self.p[x] != x:
            self.p[x] = self.p[self.p[x]]
            x = self.p[x]
        return x

    def union(self, a, b):
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.p[max(ra, rb)] = min(ra, rb)


def brute_force_clusters(texts: dict[str, str], cfg: SketchConfig, theta: float):
    """Reference-semantics clusters: minimizer-Jaccard (J4) on ALL pairs at
    the same (k, w, hash, seed) config, union-find over accepted pairs."""
    minis = {
        cid: np.unique(K.winnow_minimizers(cfg.hash_sequence(t), cfg.w)[0])
        for cid, t in texts.items()
    }
    uf = UnionFind()
    truth_pairs = set()
    for a, b in itertools.combinations(sorted(texts), 2):
        ma, mb = minis[a], minis[b]
        inter = np.intersect1d(ma, mb, assume_unique=True).shape[0]
        union = ma.shape[0] + mb.shape[0] - inter
        j = 0.0 if union == 0 else inter / union
        if j >= theta:
            truth_pairs.add((a, b))
            uf.union(a, b)
    clusters = {cid: uf.find(cid) for cid in texts}
    same_cluster_pairs = {
        (a, b) for a, b in itertools.combinations(sorted(texts), 2)
        if clusters[a] == clusters[b]
    }
    return same_cluster_pairs, truth_pairs


def test_assembly_per_turn_text_equality(spark):
    """The assembled conversation reconstructs each turn's text exactly under
    stable (conv_id, turn_idx) order, regardless of input row order."""
    t = synthetic_transcripts(spark, n_base=20, dup_factor=0, seed=7)
    shuffled = t.orderBy(F.rand(123))  # adversarial arrival order
    conv = assemble_conversations(shuffled, sep="\x1e").collect()
    turns = {
        (r["conv_id"], r["turn_idx"]): r["text"]
        for r in t.collect()
    }
    for row in conv:
        parts = row["text"].split("\x1e")
        assert row["n_turns"] == len(parts)
        for idx, part in enumerate(parts):
            assert turns[(row["conv_id"], idx)] == part


def test_dedup_recall_vs_reference_clusters(spark):
    """Dup-pair recall >= 0.99 against brute-force reference-semantics
    clusters at identical shingle/signature settings (BASELINE.json metric)."""
    t = synthetic_transcripts(spark, n_base=60, dup_factor=3, seed=42)
    cfg = DedupConfig(sketch=SKETCH, jaccard_threshold=THETA)
    res = run_dedup(spark, t, cfg)

    texts = {r["conv_id"]: r["text"] for r in res.conv_text.select("conv_id", "text").collect()}
    truth_same_cluster, truth_pairs = brute_force_clusters(texts, SKETCH, THETA)

    ours = {r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()}
    assert set(ours) == set(texts)
    our_pairs = {
        (a, b) for a, b in itertools.combinations(sorted(texts), 2)
        if ours[a] == ours[b]
    }
    assert truth_same_cluster, "fixture must plant duplicates"
    recall = len(our_pairs & truth_same_cluster) / len(truth_same_cluster)
    assert recall >= 0.99, f"dup-pair recall {recall:.4f} < 0.99"
    # clustering should also not wildly over-merge
    precision = len(our_pairs & truth_same_cluster) / max(len(our_pairs), 1)
    assert precision >= 0.95, f"dup-pair precision {precision:.4f}"


def test_verify_matches_reference_estimator(spark):
    """j_mini of verified pairs == jaccard_by_minimizers on the same texts."""
    t = synthetic_transcripts(spark, n_base=30, dup_factor=1, seed=5)
    res = run_dedup(spark, t, DedupConfig(sketch=SKETCH, jaccard_threshold=THETA))
    texts = {r["conv_id"]: r["text"] for r in res.conv_text.collect()}
    for r in res.verified.collect():
        ja = P.jaccard_minimizers(
            SKETCH.hash_sequence(texts[r["id_a"]]),
            SKETCH.hash_sequence(texts[r["id_b"]]),
            SKETCH.w,
        )
        assert (r["i_mini"], r["u_mini"]) == (ja.n_intersection, ja.n_union)
        assert r["j_mini"] == pytest.approx(ja.jaccard)


@pytest.mark.parametrize("driver_threshold", [2_000_000, 0])
def test_connected_components_vs_union_find(spark, driver_threshold):
    """Both execution paths — driver-side union-find (small graphs) and the
    distributed large/small-star fixpoint (driver_threshold=0 forces it) —
    produce identical min-id component labels."""
    rng = random.Random(9)
    n = 200
    edges = [(f"n{rng.randrange(n):04d}", f"n{rng.randrange(n):04d}") for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    got = {r["conv_id"]: r["cluster_id"]
           for r in connected_components(df, driver_threshold=driver_threshold).collect()}
    uf = UnionFind()
    for a, b in edges:
        uf.union(a, b)
    nodes = {x for e in edges for x in e}
    expect = {x: uf.find(x) for x in nodes}
    assert got == expect


def test_consecutive_pairs_ranged_matches_global_window(spark):
    """The range-partitioned pairing (per-partition row numbers + driver
    offsets, operators/pairing.py) == the single-partition global-window
    form, including the dropped odd tail."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from minimizer_jaccard_estimator_spark.operators.pairing import (
        consecutive_pairs_ranged)

    rng = random.Random(31)
    keys = random.Random(31).sample(range(100000), 1001)  # odd count -> tail drop
    df = spark.createDataFrame([(k, f"v{k}") for k in keys], ["k", "v"]) \
        .repartition(16)
    got = {
        (r["pair_id"], r["key_a"], r["key_b"], r["v_a"], r["v_b"])
        # threshold=0 forces the ranged plan (the size gate would otherwise
        # route this small fixture to the identical-by-construction window)
        for r in consecutive_pairs_ranged(
            df, "k", partitions=8, small_input_threshold=0).collect()
    }
    w = Window.orderBy("k")
    rn = df.withColumn("rn", F.row_number().over(w))
    a = rn.where(F.col("rn") % 2 == 1).select(
        ((F.col("rn") + 1) / 2).cast("long").alias("pair_id"),
        F.col("k").alias("key_a"), F.col("v").alias("v_a"))
    b = rn.where(F.col("rn") % 2 == 0).select(
        (F.col("rn") / 2).cast("long").alias("pair_id"),
        F.col("k").alias("key_b"), F.col("v").alias("v_b"))
    expect = {
        (r["pair_id"], r["key_a"], r["key_b"], r["v_a"], r["v_b"])
        for r in a.join(b, "pair_id").collect()
    }
    assert got == expect and len(got) == 500


def test_replace_path_swap_semantics(spark, tmp_path):
    """replace_path: first-time creation works (no pre-existing dst), a
    normal swap replaces contents, and no __old/__compact debris remains."""
    import os

    from minimizer_jaccard_estimator_spark.plans.catalog import replace_path

    dst = str(tmp_path / "table")
    src1 = str(tmp_path / "pending1")
    spark.range(3).write.parquet(src1)
    replace_path(spark, dst, src1)  # first-time: dst does not exist yet
    assert spark.read.parquet(dst).count() == 3

    src2 = str(tmp_path / "pending2")
    spark.range(7).write.parquet(src2)
    replace_path(spark, dst, src2)
    assert spark.read.parquet(dst).count() == 7
    assert not os.path.exists(dst + "__old")
    assert not os.path.exists(src2)


def test_exact_dup_pairs(spark):
    df = spark.createDataFrame(
        [("a", "same text"), ("b", "same text"), ("c", "other"), ("d", "same text")],
        ["conv_id", "text"],
    )
    pairs = {(r["id_a"], r["id_b"]) for r in exact_dup_pairs(df).collect()}
    assert pairs == {("a", "b"), ("a", "d")}


def test_checkpoint_resume(spark, tmp_path):
    t = synthetic_transcripts(spark, n_base=20, dup_factor=1, seed=3)
    cfg = DedupConfig(sketch=SKETCH, jaccard_threshold=THETA)
    store1 = StageStore(root=str(tmp_path / "run"))
    res1 = run_dedup(spark, t, cfg, store=store1)
    first = {(r["conv_id"], r["cluster_id"]) for r in res1.clusters.collect()}
    assert not any(m["resumed"] for m in store1.metrics())

    # second run resumes every stage from the checkpoint tables
    store2 = StageStore(root=str(tmp_path / "run"))
    res2 = run_dedup(spark, t, cfg, store=store2)
    second = {(r["conv_id"], r["cluster_id"]) for r in res2.clusters.collect()}
    assert first == second

    # metrics table exists with per-stage lineage
    m = spark.read.parquet(str(tmp_path / "run" / "_metrics"))
    assert {"stage", "run_id", "rows_out", "wall_ms"} <= set(m.columns)
    assert m.where(F.col("stage") == "clusters").count() >= 1


def test_corpus_determinism_across_parallelism(spark):
    """Generation is per-row deterministic: identical corpus at any
    partitioning (prerequisite for the two-parallelism scaling benchmark)."""
    a = synthetic_transcripts(spark, n_base=25, dup_factor=1, seed=11, partitions=2)
    b = synthetic_transcripts(spark, n_base=25, dup_factor=1, seed=11, partitions=13)
    rows_a = sorted(map(tuple, a.collect()))
    rows_b = sorted(map(tuple, b.collect()))
    assert rows_a == rows_b


def test_full_sketch_udf_equals_composed(spark):
    """add_full_sketch == add_sketch ∘ add_signature on identical input."""
    from minimizer_jaccard_estimator_spark.functions.sketch import (
        SketchConfig,
        add_full_sketch,
        add_signature,
        add_sketch,
    )

    docs = spark.createDataFrame(
        [(str(i), f"token{i} alpha beta gamma delta {'x' * (i % 7)} end") for i in range(25)],
        ["conv_id", "text"],
    )
    dna = spark.createDataFrame(
        [(str(i), s) for i, s in enumerate(
            ["", "ACG", "ACGTNACGTTGCA" * 3, "GATTACA" * 5, "acgtAACCGGTT" * 2,
             "TTTTTTTTTTTT", "ACGTACGTNNACGTAC"])],
        ["conv_id", "text"],
    )
    # minimap2 is the regression case: text mode must hash with the full
    # 64-bit mask (k=32), not cfg.k; the DNA config runs the same batch path
    # with k-mer packing, mask k and sentinels
    configs = [(docs, SketchConfig(k=6, w=5, num_perm=16, lsh_bands=8, hash_type=ht))
               for ht in ("splitmix64", "minimap2", "murmurhash3")]
    configs.append((dna, SketchConfig(k=5, w=3, num_perm=16, lsh_bands=8, mode="dna",
                                      hash_type="minimap2", canonical=True,
                                      on_invalid="sentinel", minhash_scheme="oph")))
    for frame, cfg in configs:
        ht = cfg.hash_type
        full = {r["conv_id"]: r for r in add_full_sketch(frame, cfg).collect()}
        composed = {
            r["conv_id"]: r
            for r in add_signature(add_sketch(frame, cfg), cfg).collect()
        }
        assert full.keys() == composed.keys()
        for cid, fr in full.items():
            cr = composed[cid]
            for col in ("minimizers", "positions", "n_shingles", "n_dups", "minhash", "simhash"):
                assert fr[col] == cr[col], (ht, cid, col)


def test_add_full_sketch_golden_vectors(spark):
    """add_full_sketch's column dict on a fixed 6-document corpus (empty,
    shorter than k, unicode, an exact duplicate) for every hash type x
    MinHash scheme == tests/golden_vectors.json, captured before the sketch
    layer became one batch path."""
    import json
    import os

    from minimizer_jaccard_estimator_spark.functions.sketch import (
        SketchConfig,
        add_full_sketch,
    )

    with open(os.path.join(os.path.dirname(__file__), "golden_vectors.json")) as f:
        g = json.load(f)["add_full_sketch"]
    docs = spark.createDataFrame(list(map(list, enumerate(g["docs"]))), ["conv_id", "text"])
    for case in g["cases"]:
        cfg = SketchConfig(k=g["k"], w=g["w"], hash_type=case["hash_type"],
                           hash_seed=g["hash_seed"], num_perm=g["num_perm"],
                           lsh_bands=g["lsh_bands"], minhash_scheme=case["scheme"])
        out = add_full_sketch(docs, cfg)
        cols = list(case["columns"])
        assert out.columns == ["conv_id", "text"] + cols
        rows = sorted(out.collect(), key=lambda r: r["conv_id"])
        for c in cols:
            assert [r[c] for r in rows] == case["columns"][c], (
                case["hash_type"], case["scheme"], c)


def test_dedup_recall_with_oph_candidates(spark):
    """OPH candidate generation keeps recall >= 0.99: the verify stage is
    still exact minimizer Jaccard, so final clusters must match the same
    brute-force reference truth as the seeded scheme."""
    import dataclasses

    t = synthetic_transcripts(spark, n_base=60, dup_factor=3, seed=42)
    oph = dataclasses.replace(SKETCH, minhash_scheme="oph", lsh_bands=32)
    res = run_dedup(spark, t, DedupConfig(sketch=oph, jaccard_threshold=THETA))

    texts = {r["conv_id"]: r["text"] for r in res.conv_text.select("conv_id", "text").collect()}
    truth_same_cluster, _ = brute_force_clusters(texts, oph, THETA)
    ours = {r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()}
    our_pairs = {
        (a, b) for a, b in itertools.combinations(sorted(texts), 2)
        if ours[a] == ours[b]
    }
    recall = len(our_pairs & truth_same_cluster) / len(truth_same_cluster)
    assert recall >= 0.99, f"oph dup-pair recall {recall:.4f} < 0.99"
    precision = len(our_pairs & truth_same_cluster) / max(len(our_pairs), 1)
    assert precision >= 0.95, f"oph dup-pair precision {precision:.4f}"


def _borderline_pair(cfg: SketchConfig, theta: float) -> tuple[str, str]:
    """Two texts, both of at least 1024 shingles, whose exact minimizer
    Jaccard is >= ``theta`` while their MinHash agreement is below it.

    Agreement estimates the SHINGLE Jaccard and the minimizer Jaccard sits
    above it, so a signature prefilter at margin 0 drops such a pair, and
    at 1024+ shingles no small-document exemption would save it.  Found by
    a seeded search over word-substitution mutants.
    """
    seeds = cfg.seeds()

    def sketch(text):
        h = cfg.hash_sequence(text)
        minis = np.unique(K.winnow_minimizers(h, cfg.w)[0])
        return minis, cfg.minhash(cfg.fingerprints(text), seeds), h.shape[0]

    for seed in range(1000):
        rng = random.Random(f"borderline:{seed}")
        vocab = ["".join(rng.choice("abcdefghijklmnopqrstuvwxyz")
                         for _ in range(rng.randint(3, 10))) for _ in range(500)]
        words = [rng.choice(vocab) for _ in range(300)]
        a = " ".join(words)
        b = " ".join(rng.choice(vocab) if rng.random() < 0.1 else w for w in words)
        (ma, sa, na), (mb, sb, nb) = sketch(a), sketch(b)
        inter = np.intersect1d(ma, mb, assume_unique=True).shape[0]
        j_mini = inter / (ma.shape[0] + mb.shape[0] - inter)
        if min(na, nb) >= 1024 and j_mini >= theta and np.mean(sa == sb) < theta:
            return a, b
    raise AssertionError("no borderline pair in 1000 seeds")


def test_staged_verify_matches_exact_clusters(spark, tmp_path):
    """``staged_verify`` only switches the verify attach to the zip form:
    clusters and ``verified`` equal the join-attach run, and every candidate
    is scored in store runs and committed deltas.  The corpus carries a
    planted borderline pair (see _borderline_pair) that an approximate
    MinHash prefilter would drop."""
    import dataclasses
    import datetime

    from minimizer_jaccard_estimator_spark.operators.delta import run_dedup_delta
    from minimizer_jaccard_estimator_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    oph = dataclasses.replace(SKETCH, minhash_scheme="oph")
    text_a, text_b = _borderline_pair(oph, THETA)
    ts = datetime.datetime(2026, 1, 1)
    planted = spark.createDataFrame(
        [("p_a", 0, "user", text_a, None, ts), ("p_b", 0, "user", text_b, None, ts)],
        TRANSCRIPT_SCHEMA,
    )
    t = synthetic_transcripts(spark, n_base=50, dup_factor=2, seed=13).union(planted).cache()
    exact_cfg = DedupConfig(sketch=oph, jaccard_threshold=THETA)
    staged_cfg = dataclasses.replace(exact_cfg, staged_verify=True, staged_verify_margin=0.0)

    def pairs(df):
        return sorted((r["id_a"], r["id_b"]) for r in df.collect())

    exact = run_dedup(spark, t, exact_cfg)
    staged = run_dedup(spark, t, staged_cfg)
    ce = {r["conv_id"]: r["cluster_id"] for r in exact.clusters.collect()}
    cs = {r["conv_id"]: r["cluster_id"] for r in staged.clusters.collect()}
    assert ce == cs
    assert ce["p_a"] == ce["p_b"]
    scored = sorted(tuple(r) for r in exact.verified.collect())
    assert sorted(tuple(r) for r in staged.verified.collect()) == scored
    assert ("p_a", "p_b") in {r[:2] for r in scored}
    exact.release()
    staged.release()

    full = StageStore(root=str(tmp_path / "full"))
    run_dedup(spark, t, staged_cfg, store=full).release()
    cand = pairs(full.load(spark, "candidates"))
    assert ("p_a", "p_b") in cand
    assert pairs(full.load(spark, "verified")) == cand

    is_new = F.col("conv_id").endswith("3") | (F.col("conv_id") == "p_b")
    base = StageStore(root=str(tmp_path / "base"))
    run_dedup(spark, t.where(~is_new), staged_cfg, store=base).release()
    run_dedup_delta(spark, t.where(is_new), staged_cfg, base, commit=True).release()
    delta_cand = pairs(base.load(spark, "delta_candidates"))
    assert ("p_a", "p_b") in delta_cand
    assert pairs(base.load(spark, "delta_verified")) == delta_cand
    t.unpersist()


def test_partition_metrics_and_dropped_buckets(spark, tmp_path):
    """Checkpointed runs write per-partition lineage and the dropped-bucket
    table (no silent caps)."""
    t = synthetic_transcripts(spark, n_base=30, dup_factor=2, seed=3)
    store = StageStore(root=str(tmp_path / "run"))
    run_dedup(spark, t, DedupConfig(sketch=SKETCH, max_bucket_size=2), store=store)

    pm = spark.read.parquet(str(tmp_path / "run" / "_partition_metrics"))
    assert {"stage", "partition_id", "rows", "run_id"} <= set(pm.columns)
    stages = {r["stage"] for r in pm.select("stage").distinct().collect()}
    assert {"conv_text", "sketches", "candidates"} <= stages
    # per-partition rows sum to the per-stage rows_out
    m = spark.read.parquet(str(tmp_path / "run" / "_metrics"))
    for row in m.collect():
        psum = pm.where(F.col("stage") == row["stage"]).agg(F.sum("rows")).collect()[0][0]
        assert (psum or 0) == row["rows_out"], row["stage"]

    # cap=2 with 30 exact-dup pairs => hot buckets must be recorded
    dropped = spark.read.parquet(str(tmp_path / "run" / "lsh_dropped_buckets"))
    assert dropped.count() > 0
    assert dropped.agg(F.min("n_docs")).collect()[0][0] > 2


def test_salted_repartition_same_clusters(spark):
    """Explicit salted repartition of the turn input (hot-conv_id spreading)
    must not change results — clusters identical with and without."""
    t = synthetic_transcripts(spark, n_base=40, dup_factor=2, seed=17,
                              skew_fraction=0.2)
    base = run_dedup(spark, t, DedupConfig(sketch=SKETCH))
    salted = run_dedup(spark, t, DedupConfig(sketch=SKETCH, salt_partitions=16))
    a = {r["conv_id"]: r["cluster_id"] for r in base.clusters.collect()}
    b = {r["conv_id"]: r["cluster_id"] for r in salted.clusters.collect()}
    assert a == b


def test_read_fasta_crlf_and_gt_in_header(spark, tmp_path):
    """CRLF endings are stripped and '>' only starts records at line start."""
    from minimizer_jaccard_estimator_spark.sources.fasta import read_fasta

    p = tmp_path / "odd.fa"
    p.write_bytes(
        b">seq1 coverage>30\r\n"
        b"acgt\r\n"
        b"ACGT \r\n"
        b">seq2\n"
        b"TTTT\n"
    )
    rows = read_fasta(spark, str(p)).orderBy("seq_idx").collect()
    assert [(r.seq_idx, r.name, r.seq) for r in rows] == [
        (0, "seq1 coverage>30", "ACGTACGT"),
        (1, "seq2", "TTTT"),
    ]


def test_pairwise_report_degenerate_pairs(spark):
    """Empty/short/unequal-length pairs: no crash, correction columns NULL
    (reference refuses correction for unequal lengths, asserts :297-300)."""
    from minimizer_jaccard_estimator_spark.operators.pairwise_analytics import pairwise_report

    cfg = SketchConfig(k=4, w=3, hash_type="splitmix64", mode="dna",
                       num_perm=2, lsh_bands=1)
    pairs = spark.createDataFrame(
        [
            ("e", "", "f", "ACGTACGT"),          # empty side
            ("s", "ACG", "t", "ACGT"),           # shorter than k
            ("u", "ACGTACGTAAAA", "v", "ACGTACGTAAAATTTT"),  # unequal lengths
            ("w", "CAGATTTTCATA", "x", "GAGATTTTCATA"),      # healthy duplicate-free pair
        ],
        ["name_a", "text_a", "name_b", "text_b"],
    )
    rows = {r["name_a"]: r for r in pairwise_report(pairs, cfg).collect()}
    assert len(rows) == 4  # nothing crashed the stage
    for name in ("e", "s", "u"):
        assert rows[name]["script_d"] is None
        assert rows[name]["bias"] is None
    assert rows["w"]["script_d"] is not None


def test_connected_components_raises_without_convergence(spark):
    import pytest as _pytest

    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(0, 40)], ["id_a", "id_b"]
    )
    with _pytest.raises(RuntimeError, match="did not converge"):
        # driver_threshold=0 forces the distributed fixpoint path
        connected_components(pairs, max_iterations=1, driver_threshold=0)


def test_dedup_adversarial_corpus_batch_and_delta(spark, tmp_path):
    """One corpus holding every adversarial shape from the verify recipe —
    empty-text turns, a conv shorter than k, single-turn convs,
    unicode/emoji text, a byte-exact dup pair, out-of-order turn_idx
    arrival — through BOTH run_dedup and run_dedup_delta."""
    from pyspark.sql import Row

    from minimizer_jaccard_estimator_spark.operators.delta import run_dedup_delta
    from minimizer_jaccard_estimator_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    emoji = "🌍 unicode résumé naïve emoji tail " * 8
    long_a = "alpha beta gamma delta epsilon zeta eta theta " * 10
    rows = [
        # out-of-order multi-turn conv with an empty-text turn in the middle
        Row(conv_id="ord", turn_idx=2, role="user", text="tail words here", tool=None, ts=None),
        Row(conv_id="ord", turn_idx=0, role="user", text=long_a, tool=None, ts=None),
        Row(conv_id="ord", turn_idx=1, role="assistant", text="", tool=None, ts=None),
        # conv shorter than k (k=12): empty minimizer set
        Row(conv_id="tiny", turn_idx=0, role="user", text="ab", tool=None, ts=None),
        # byte-exact duplicate pair (single-turn)
        Row(conv_id="dupA", turn_idx=0, role="user", text=emoji, tool=None, ts=None),
        Row(conv_id="dupB", turn_idx=0, role="user", text=emoji, tool=None, ts=None),
        # unrelated single-turn conv
        Row(conv_id="solo", turn_idx=0, role="user", text=long_a[::-1], tool=None, ts=None),
    ]
    corpus = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    cfg = DedupConfig(sketch=SKETCH, jaccard_threshold=THETA)

    store = StageStore(root=str(tmp_path / "adv"))
    res = run_dedup(spark, corpus, cfg, store=store)
    got = {r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()}
    assert set(got) == {"ord", "tiny", "dupA", "dupB", "solo"}
    assert got["dupA"] == got["dupB"], "byte-identical convs must cluster"
    assert got["tiny"] == "tiny" and got["solo"] == "solo" and got["ord"] == "ord"

    # delta the same shapes: a dup of the emoji doc, a fresh tiny doc, and
    # an empty-text single-turn conv
    new_rows = [
        Row(conv_id="dupC", turn_idx=0, role="user", text=emoji, tool=None, ts=None),
        Row(conv_id="tiny2", turn_idx=0, role="user", text="cd", tool=None, ts=None),
        Row(conv_id="blank", turn_idx=0, role="user", text="", tool=None, ts=None),
    ]
    delta = run_dedup_delta(
        spark, spark.createDataFrame(new_rows, TRANSCRIPT_SCHEMA), cfg, store,
        commit=True,
    )
    got2 = {r["conv_id"]: r["cluster_id"] for r in delta.clusters.collect()}
    assert set(got2) == set(got) | {"dupC", "tiny2", "blank"}
    assert got2["dupC"] == got2["dupA"] == got2["dupB"], \
        "delta exact-dup must join the existing cluster"
    assert got2["tiny2"] == "tiny2" and got2["blank"] == "blank"
    # untouched assignments unchanged
    for cid in ("ord", "tiny", "solo"):
        assert got2[cid] == got[cid]
    delta.release()


def test_dedup_recall_on_driver_documents(spark):
    """Recall >= 0.99 on the driver-provided documents table (sf0.001) vs
    brute-force all-pairs minimizer Jaccard at the same config."""
    import __spark_entry__ as entry_mod

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cfg_sketch = entry_mod._SKETCH
    res = run_dedup(
        spark, entry_mod._docs_as_transcripts(docs),
        DedupConfig(sketch=cfg_sketch, jaccard_threshold=THETA),
    )
    texts = {str(r["doc_id"]): r["text"] for r in docs.collect()}
    truth_same_cluster, _ = brute_force_clusters(texts, cfg_sketch, THETA)
    ours = {r["conv_id"]: r["cluster_id"] for r in res.clusters.collect()}
    our_pairs = {
        (a, b) for a, b in itertools.combinations(sorted(texts), 2)
        if ours[a] == ours[b]
    }
    assert truth_same_cluster, "documents fixture must contain duplicates"
    recall = len(our_pairs & truth_same_cluster) / len(truth_same_cluster)
    assert recall >= 0.99, f"documents recall {recall:.4f}"


def test_verify_min_score_gate_is_exact(spark):
    """verify_pairs(min_score=t) restricted to j >= t == the ungated verify
    restricted to j >= t (the size-ratio gate may only prune pairs that
    PROVABLY score below t), across mismatched-size, equal, and empty-set
    pairs, and in IEEE doubles: a 55-element set inside a 100-element set
    scores j = 0.55 although 0.55 * 100 == 55.000000000000007 > 55."""
    from minimizer_jaccard_estimator_spark.operators.verify import verify_pairs

    assert 0.55 * 100 > 55  # the rounding the d6/d7 pair pins
    sketches = spark.createDataFrame(
        [
            ("d1", [1, 2, 3, 4, 5, 6, 7, 8]),
            ("d2", [1, 2, 3, 4, 5, 6, 7, 9]),   # j(d1,d2)=7/9
            ("d3", [1, 2, 3]),                   # size ratio 3/8 < 0.5 vs d1
            ("d4", []),                          # empty set
            ("d5", [1, 2, 3, 4]),                # ratio vs d1 = exactly 0.5
            ("d6", list(range(100, 155))),       # 55 of d7's 100: j = 0.55
            ("d7", list(range(100, 200))),
        ],
        ["conv_id", "minimizers"],
    )
    pairs = spark.createDataFrame(
        [("d1", "d2"), ("d1", "d3"), ("d1", "d4"), ("d4", "d4"), ("d1", "d5"),
         ("d6", "d7")],
        ["id_a", "id_b"],
    )
    for t in (0.5, 0.55):
        ungated = {
            (r["id_a"], r["id_b"], r["i_mini"], r["u_mini"], r["j_mini"])
            for r in verify_pairs(pairs, sketches).where(F.col("j_mini") >= t).collect()
        }
        gated = verify_pairs(pairs, sketches, min_score=t)
        got = {
            (r["id_a"], r["id_b"], r["i_mini"], r["u_mini"], r["j_mini"])
            for r in gated.where(F.col("j_mini") >= t).collect()
        }
        assert got == ungated
        assert ("d6", "d7", 55, 100, 0.55) in got
    # the boundary-ratio pair (exactly t * max) must NOT be pruned by the gate
    assert {"d5"} <= {r["id_b"] for r in verify_pairs(pairs, sketches, min_score=0.5).collect()}


def test_attach_zip_rejects_extra_pair_columns(spark):
    from minimizer_jaccard_estimator_spark.operators.verify import attach_pair_columns_zip

    pairs = spark.createDataFrame([("a", "b", 1.0)], ["id_a", "id_b", "score"])
    per_doc = spark.createDataFrame([("a", 1), ("b", 2)], ["conv_id", "v"])
    with pytest.raises(ValueError, match="score"):
        attach_pair_columns_zip(pairs, per_doc, ["v"])


def test_global_row_numbers_string_keys_ranged(spark):
    """String order keys take the sampled-boundary fallback (percentile_approx
    is numeric-only); the ranged plan must still produce exact global ranks."""
    from minimizer_jaccard_estimator_spark.operators.pairing import global_row_numbers

    keys = [f"k{v:05d}" for v in random.Random(13).sample(range(90000), 500)]
    df = spark.createDataFrame([(k,) for k in keys], ["k"]).repartition(8)
    out = {r["k"]: r["rn"] for r in global_row_numbers(
        df, "k", partitions=6, small_input_threshold=0).collect()}
    expect = {k: i + 1 for i, k in enumerate(sorted(keys))}
    assert out == expect


def test_attach_zip_equals_join(spark):
    """attach_pair_columns_zip (one payload exchange) reproduces the join
    form exactly on two payload columns — including the inner-join drop of
    ids with no sketch row — and so does verify_pairs under either attach,
    on a corpus with dup structure.  The deprecated verify_pairs_staged name
    forwards to verify_pairs."""
    from minimizer_jaccard_estimator_spark.functions.sketch import add_full_sketch
    from minimizer_jaccard_estimator_spark.operators.lsh import lsh_candidate_pairs
    from minimizer_jaccard_estimator_spark.operators.verify import (
        attach_pair_columns,
        attach_pair_columns_zip,
        verify_pairs,
        verify_pairs_staged,
    )

    def rows(df):
        return {tuple(tuple(v) if isinstance(v, list) else v for v in r) for r in df.collect()}

    t = synthetic_transcripts(spark, n_base=60, dup_factor=2, seed=11)
    ct = assemble_conversations(t)
    sk = add_full_sketch(ct.select("conv_id", "text"), SKETCH).persist()
    cand = lsh_candidate_pairs(sk.select("conv_id", "minhash"), SKETCH)
    # plant a pair whose ids have no sketch rows: both attach forms must drop it
    cand = cand.union(spark.createDataFrame([("zz1", "zz2")], ["id_a", "id_b"]))
    payload = ["minhash", "n_shingles"]
    out = ["id_a", "id_b", "minhash_a", "minhash_b", "n_shingles_a", "n_shingles_b"]
    per_doc = sk.select("conv_id", *payload)
    join_rows = rows(attach_pair_columns(cand, per_doc, payload).select(*out))
    zip_rows = rows(attach_pair_columns_zip(cand, per_doc, payload).select(*out))
    assert zip_rows == join_rows and join_rows
    assert ("zz1", "zz2") not in {r[:2] for r in join_rows}

    minis = sk.select("conv_id", "minimizers")
    pj = rows(verify_pairs(cand, minis, attach="join"))
    pz = rows(verify_pairs(cand, minis, attach="zip"))
    assert pz == pj and pj
    gated = rows(verify_pairs(cand, minis, min_score=0.5, attach="zip"))
    # the sketch columns the perfbench trace passes to the old name
    traced = sk.select("conv_id", "minimizers", "minhash", "n_shingles")
    assert rows(verify_pairs_staged(cand, traced, 0.5, 0.25, min_score=0.5, attach="zip")) == gated
    sk.unpersist()


def test_bucket_pair_core_probe_equals_self_pairs(spark):
    """The two bucket-pair functions are one semantics: on a tiny (id, key)
    table with a hot key, the probe of the new rows against old ∪ new equals
    the all-vs-all self pairs that have a new endpoint, both equal a
    brute-force answer, and the capped (dropped) buckets agree — uncapped
    and at a cap of 3."""
    from collections import Counter, defaultdict

    from minimizer_jaccard_estimator_spark.operators.lsh import probe_pairs, self_pairs

    rng = random.Random(17)
    rows = set()
    for i in range(40):
        for _ in range(rng.randint(1, 4)):
            # key (0, 0) is hot: ~30% of all rows land in it
            g = 0 if rng.random() < 0.3 else rng.randint(1, 8)
            rows.add((f"d{i:02d}", g, rng.randint(0, 4) if g else 0))
    rows = sorted(rows)
    new_ids = {f"d{i:02d}" for i in range(0, 40, 5)}
    schema = "id string, g int, h long"
    corpus = spark.createDataFrame(rows, schema)
    new = spark.createDataFrame([r for r in rows if r[0] in new_ids], schema)
    members = defaultdict(list)
    for cid, g, h in rows:
        members[(g, h)].append(cid)
    touched = {(g, h) for cid, g, h in rows if cid in new_ids}
    assert max(len(m) for m in members.values()) > 3, "fixture needs a hot key"

    for cap in (None, 3):
        kept = {k: m for k, m in members.items() if cap is None or len(m) <= cap}
        want = Counter(p for m in kept.values() for p in itertools.combinations(sorted(m), 2))
        want_dropped = {(*k, len(m)) for k, m in members.items() if k not in kept}
        caches = []
        sp, s_dropped = self_pairs(corpus, ["g", "h"], "id", cap, True, caches)
        pp, p_dropped = probe_pairs(new, corpus, ["g", "h"], "id", cap, True, caches)
        got_self = Counter((r.id_a, r.id_b) for r in sp.collect())
        got_probe = {(r.id_a, r.id_b) for r in pp.collect()}
        assert got_self == want, cap  # one pair per shared bucket
        assert got_probe == {p for p in want if new_ids & set(p)}, cap
        assert s_dropped.columns == p_dropped.columns == ["g", "h", "n_docs"]
        got_s_dropped = {tuple(r) for r in s_dropped.collect()}
        got_p_dropped = {tuple(r) for r in p_dropped.collect()}
        assert got_s_dropped == want_dropped, cap
        assert got_p_dropped == {d for d in want_dropped if d[:2] in touched}, cap
        for df in caches:
            df.unpersist()
