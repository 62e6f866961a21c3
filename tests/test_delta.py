"""Delta dedup == full recompute at the same config."""

from __future__ import annotations

import pyspark.sql.functions as F

from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
from minimizer_jaccard_estimator_spark.operators.delta import run_dedup_delta
from minimizer_jaccard_estimator_spark.operators.dedup import DedupConfig, run_dedup
from minimizer_jaccard_estimator_spark.plans.catalog import StageStore
from minimizer_jaccard_estimator_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    synthetic_transcripts,
)

CFG = DedupConfig(
    sketch=SketchConfig(k=12, w=20, num_perm=64, lsh_bands=32),
    jaccard_threshold=0.5,
)


def _canon(clusters):
    """Cluster assignment as a partition (set of frozensets) — root ids may
    legitimately differ between the two paths."""
    groups = {}
    for r in clusters.collect():
        groups.setdefault(r["cluster_id"], set()).add(r["conv_id"])
    return {frozenset(g) for g in groups.values()}


def test_delta_matches_full_recompute(spark, tmp_path):
    corpus = synthetic_transcripts(spark, n_base=40, dup_factor=2, seed=23).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)   # prior corpus
    new = corpus.where(idx % 3 == 0)   # the delta (includes dups of old docs)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store)

    delta = run_dedup_delta(spark, new, CFG, store)
    full = run_dedup(spark, corpus, CFG)

    assert _canon(delta.clusters) == _canon(full.clusters)
    # every conv appears exactly once in the updated assignment
    n = delta.clusters.count()
    assert n == delta.clusters.select("conv_id").distinct().count()
    assert n == corpus.select("conv_id").distinct().count()


def test_delta_merges_previously_separate_clusters(spark, tmp_path):
    """A new doc near-dup to members of two old clusters must merge them."""
    from pyspark.sql import Row

    import dataclasses

    cfg = dataclasses.replace(CFG, jaccard_threshold=0.3)
    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    text_b = "zebra yak xenon walrus viper urchin tapir shark rhino quail " * 6
    rows = [
        Row(conv_id="a0", turn_idx=0, role="user", text=text_a, tool=None, ts=None),
        Row(conv_id="b0", turn_idx=0, role="user", text=text_b, tool=None, ts=None),
    ]
    old = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)

    store = StageStore(root=str(tmp_path / "prior"))
    prior = run_dedup(spark, old, cfg, store=store)
    assert _canon(prior.clusters) == {frozenset({"a0"}), frozenset({"b0"})}

    # the bridge doc is half a0, half b0: J(bridge, a0) ~ 0.5 > threshold on
    # both sides, so the two previously separate clusters must merge
    bridge = Row(conv_id="m0", turn_idx=0, role="user", text=text_a + text_b,
                 tool=None, ts=None)
    delta = run_dedup_delta(
        spark, spark.createDataFrame([bridge], TRANSCRIPT_SCHEMA), cfg, store
    )
    assert _canon(delta.clusters) == {frozenset({"a0", "b0", "m0"})}


def test_two_committed_deltas_match_full_recompute(spark, tmp_path):
    """commit=True folds each delta into the store, so a SECOND delta dedups
    against the prior delta's documents too (the stale-corpus trap ADVICE
    r01 flagged) and its overlap guard rejects re-ingesting delta ids."""
    import pytest

    corpus = synthetic_transcripts(spark, n_base=36, dup_factor=2, seed=77).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    part0 = corpus.where(idx % 3 == 0)
    part1 = corpus.where(idx % 3 == 1)
    part2 = corpus.where(idx % 3 == 2)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, part0, CFG, store=store)
    run_dedup_delta(spark, part1, CFG, store, commit=True)
    # the second delta must see part1's docs (new-vs-prior-delta duplicates)
    second = run_dedup_delta(spark, part2, CFG, store, commit=True)

    full = run_dedup(spark, corpus, CFG)
    assert _canon(second.clusters) == _canon(full.clusters)

    # committed ids are now guarded against re-ingestion
    with pytest.raises(ValueError, match="already present"):
        run_dedup_delta(spark, part1.limit(20), CFG, store)

    # the store's stage tables contain the full corpus (clusters = the base
    # table overlaid with the deltas' O(delta) override rows)
    from minimizer_jaccard_estimator_spark.operators.dedup import load_clusters

    assert store.load(spark, "conv_text").count() == corpus.select("conv_id").distinct().count()
    assert load_clusters(spark, store).count() == corpus.select("conv_id").distinct().count()


def test_committed_delta_result_stable_after_commit(spark, tmp_path):
    """Evaluating a commit=True DeltaResult AFTER the commit must return the
    same candidates/verified rows as the run computed — the lazy plans would
    otherwise re-scan the just-appended corpus tables and double-count the
    delta (review finding r02); they are materialized as delta_* store
    tables before the appends."""
    corpus = synthetic_transcripts(spark, n_base=24, dup_factor=2, seed=55).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    part0 = corpus.where(idx % 2 == 0)
    part1 = corpus.where(idx % 2 == 1)

    store = StageStore(root=str(tmp_path / "s"))
    run_dedup(spark, part0, CFG, store=store)
    res = run_dedup_delta(spark, part1, CFG, store, commit=True)

    # post-commit re-evaluation (fresh actions on the returned DataFrames)
    cand_rows = [(r.id_a, r.id_b) for r in res.candidates.collect()]
    ver_rows = [(r.id_a, r.id_b) for r in res.verified.collect()]
    assert len(cand_rows) == len(set(cand_rows)), "candidates double-counted"
    assert len(ver_rows) == len(set(ver_rows)), "verified double-counted"
    # and they equal the durable lineage tables written pre-append
    assert sorted(cand_rows) == sorted(
        (r.id_a, r.id_b) for r in store.load(spark, "delta_candidates").collect()
    )
    assert sorted(ver_rows) == sorted(
        (r.id_a, r.id_b) for r in store.load(spark, "delta_verified").collect()
    )
    # verified rows cover exactly the candidate set (no join-side dup blowup)
    assert sorted(ver_rows) == sorted(cand_rows)


def test_delta_probes_incremental_tables_not_corpus(spark, tmp_path):
    """The delta's candidate plan must read the store's incremental
    digests/bands tables and never rescan the corpus sketches/conv_text
    tables — the O(delta)-per-ingestion-cycle property (VERDICT r02 #2):
    band hashes are not recomputed over the full corpus signature table and
    the corpus text is not rehashed."""
    import os

    corpus = synthetic_transcripts(spark, n_base=30, dup_factor=2, seed=9).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store)
    # run_dedup materialized the incremental probe tables
    assert store.exists("bands") and store.exists("digests")

    res = run_dedup_delta(spark, new, CFG, store)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = res.candidates._jdf.queryExecution().explainString(mode)
    assert os.path.join(store.root, "bands") in plan
    assert os.path.join(store.root, "digests") in plan
    assert os.path.join(store.root, "sketches") not in plan, \
        "candidate stage re-banded the corpus signature table"
    assert os.path.join(store.root, "conv_text") not in plan, \
        "candidate stage rehashed the corpus text"

    # committed deltas append to the probe tables so the NEXT delta probes
    # them incrementally too
    n_bands_before = store.load(spark, "bands").count()
    res2 = run_dedup_delta(spark, new, CFG, store, commit=True)
    assert store.load(spark, "bands").count() == \
        n_bands_before + res2.new_sketches.count() * CFG.sketch.lsh_bands
    assert store.load(spark, "digests").count() == \
        store.load(spark, "conv_text").count()
    res.release()
    res2.release()


def test_delta_verify_prunes_corpus_sketch_scan(spark, tmp_path):
    """The delta verify must not scan every corpus doc's wide minimizer
    array (VERDICT r03 #2): the sketch lookup is pruned to the candidate id
    set first, as an In(conv_id, ...) predicate pushed into the parquet scan
    of the store's sketches table (or a semi-join above the pushdown cap),
    and the scan reads only the two columns verify scores."""
    corpus = synthetic_transcripts(spark, n_base=30, dup_factor=2, seed=9).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store)

    res = run_dedup_delta(spark, new, CFG, store)
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = res.verified._jdf.queryExecution().explainString(mode)
    import os
    import re

    sk_path = os.path.join(store.root, "sketches")
    # every scan of the corpus sketches table must carry the pushed-down
    # candidate-id In filter — no unfiltered full-width corpus scan remains
    scans = [
        blk for blk in re.split(r"\n\(\d+\) ", plan)
        if "Scan parquet" in blk.splitlines()[0] and sk_path in blk
    ]
    assert scans, "verify plan no longer reads the corpus sketches table?"
    for blk in scans:
        assert re.search(r"PushedFilters: \[.*In\(conv_id", blk), blk.splitlines()[0]
        schema = re.search(r"ReadSchema: (.*)", blk).group(1)
        assert re.fullmatch(r"struct<conv_id:string,minimizers:array<\w+>>", schema), schema
    res.release()


def test_delta_migrates_legacy_store_without_probe_tables(spark, tmp_path):
    """A store created before the digests/bands stages existed is backfilled
    in place by the first COMMITTED delta (one O(corpus) pass); a
    commit=False what-if derives the same rows without writing (ADVICE r03:
    read-only runs must not mutate a production store) and still matches a
    full recompute."""
    import os
    import shutil

    corpus = synthetic_transcripts(spark, n_base=30, dup_factor=2, seed=31).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store)
    # simulate a round-2-era store: no probe tables, no manifest
    shutil.rmtree(store.path("bands"))
    shutil.rmtree(store.path("digests"))
    os.remove(store.manifest_path())

    # read-only what-if: correct result, zero store writes
    delta = run_dedup_delta(spark, new, CFG, store)
    full = run_dedup(spark, corpus, CFG)
    assert _canon(delta.clusters) == _canon(full.clusters)
    assert not store.exists("bands") and not store.exists("digests")
    assert store.read_manifest(spark) is None

    # a committed delta REFUSES to adopt a legacy store's unknown config
    # unless the caller explicitly asserts it (ADVICE r04: stamp-on-commit
    # would write the requested config as truth over unknown-config stages)
    import pytest

    with pytest.raises(ValueError, match="adopt_legacy_config"):
        run_dedup_delta(spark, new, CFG, store, commit=True)
    assert store.read_manifest(spark) is None

    # first committed delta (with the explicit opt-in) migrates in place:
    # probe tables + manifest appear
    delta2 = run_dedup_delta(spark, new, CFG, store, commit=True,
                             adopt_legacy_config=True)
    assert _canon(delta2.clusters) == _canon(full.clusters)
    assert store.exists("bands") and store.exists("digests")
    assert store.read_manifest(spark) is not None


def test_delta_rejects_mismatched_sketch_config(spark, tmp_path):
    """A delta at a different sketch config than the store's manifest must
    fail loudly BEFORE probing — mismatched band hashes would silently yield
    zero old-vs-new candidates (ADVICE r03)."""
    import dataclasses

    import pytest

    old = synthetic_transcripts(spark, n_base=10, dup_factor=0, seed=3)
    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store)
    assert store.read_manifest(spark) == {
        k: v for k, v in dataclasses.asdict(CFG.sketch).items()
        if k != "include_positions"
    }

    new = synthetic_transcripts(spark, n_base=4, dup_factor=0, seed=4) \
        .withColumn("conv_id", F.concat(F.lit("x"), F.col("conv_id")))
    bad = dataclasses.replace(CFG, sketch=dataclasses.replace(CFG.sketch, lsh_bands=16))
    with pytest.raises(ValueError, match="sketch config mismatch"):
        run_dedup_delta(spark, new, bad, store)
    # include_positions is schema-only and must NOT trip the check
    ok = dataclasses.replace(
        CFG, sketch=dataclasses.replace(CFG.sketch, include_positions=False))
    run_dedup_delta(spark, new, ok, store).release()
    # run_dedup resume at a mismatched config is refused too
    with pytest.raises(ValueError, match="sketch config mismatch"):
        run_dedup(spark, old, bad, store=store)


def test_delta_no_commit_leaves_store_untouched(spark, tmp_path):
    """commit=False is a read-only what-if: no delta_lsh_dropped_buckets
    overwrite (the dropped buckets surface on the result), no probe-table
    writes, byte-identical store tree (ADVICE r03)."""
    import dataclasses
    import os

    corpus = synthetic_transcripts(spark, n_base=24, dup_factor=2, seed=13).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 2 == 0)
    new = corpus.where(idx % 2 == 1)

    store = StageStore(root=str(tmp_path / "prior"))
    cfg = dataclasses.replace(CFG, max_bucket_size=3)
    run_dedup(spark, old, cfg, store=store)

    def tree(root):
        out = {}
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, root)] = os.path.getsize(p)
        return out

    before = tree(store.root)
    res = run_dedup_delta(spark, new, cfg, store)
    res.clusters.count()
    assert res.dropped_buckets is not None
    res.dropped_buckets.count()  # evaluable without store writes
    res.release()
    assert tree(store.root) == before


def test_delta_untouched_clusters_keep_exact_assignment(spark, tmp_path):
    """Incremental CC (round 4) must leave every component the delta does
    NOT touch with its prior cluster_id VERBATIM — not merely the same
    partition.  A delta that is entirely unrelated to the corpus therefore
    changes no old row at all."""
    from pyspark.sql import Row

    text_a = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 6
    text_b = "zebra yak xenon walrus viper urchin tapir shark rhino quail " * 6
    rows = [
        Row(conv_id="a0", turn_idx=0, role="user", text=text_a, tool=None, ts=None),
        Row(conv_id="a1", turn_idx=0, role="user", text=text_a, tool=None, ts=None),
        Row(conv_id="b0", turn_idx=0, role="user", text=text_b, tool=None, ts=None),
    ]
    old = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    store = StageStore(root=str(tmp_path / "prior"))
    prior = run_dedup(spark, old, CFG, store=store)
    before = {r["conv_id"]: r["cluster_id"] for r in prior.clusters.collect()}
    assert before["a0"] == before["a1"]  # the duplicate pair clustered

    unrelated = Row(conv_id="z9", turn_idx=0, role="user",
                    text="totally fresh words nothing shared here " * 8,
                    tool=None, ts=None)
    delta = run_dedup_delta(
        spark, spark.createDataFrame([unrelated], TRANSCRIPT_SCHEMA), CFG, store
    )
    after = {r["conv_id"]: r["cluster_id"] for r in delta.clusters.collect()}
    assert after.pop("z9") == "z9"  # new isolated doc clusters as itself
    assert after == before, "untouched components were reassigned"
    delta.release()


def test_legacy_store_resume_does_not_stamp_manifest(spark, tmp_path):
    """Resuming a legacy (pre-manifest) store must NOT stamp the requested
    config as truth: the resumed stage tables were built at an UNKNOWN
    config, and a wrong-config resume would poison the manifest for every
    future correct-config run (review r04).  Only stores with no completed
    stages get stamped."""
    import os

    old = synthetic_transcripts(spark, n_base=8, dup_factor=0, seed=5)
    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store)
    os.remove(store.manifest_path())

    run_dedup(spark, old, CFG, store=store)  # full resume, all stages exist
    assert store.read_manifest(spark) is None


def test_delta_requires_completed_store(spark, tmp_path):
    import pytest

    t = synthetic_transcripts(spark, n_base=5, dup_factor=0, seed=1)
    with pytest.raises(ValueError, match="missing completed stage"):
        run_dedup_delta(spark, t, CFG, StageStore(root=str(tmp_path / "empty")))


def test_digest_contract_shared_across_call_sites(spark, tmp_path):
    """The stored digests table and exact_dup_pairs' inline fallback must
    produce bit-identical hashes — the cross-table join contract that links
    exact duplicates across old and new documents.  Both now route through
    lsh.text_digest; this pins the equivalence end-to-end."""
    from pyspark.sql import Row

    from minimizer_jaccard_estimator_spark.operators.lsh import (
        exact_dup_pairs, text_digest)

    rows = [Row(conv_id=f"c{i}", text=t)
            for i, t in enumerate(["same text", "same text", "other", "",
                                   "unicode éè text"])]
    conv = spark.createDataFrame(rows)
    digests = conv.select("conv_id", text_digest(F.col("text")).alias("digest"))
    inline = {(r.id_a, r.id_b) for r in exact_dup_pairs(conv).collect()}
    stored = {(r.id_a, r.id_b)
              for r in exact_dup_pairs(conv, digests=digests).collect()}
    assert inline == stored == {("c0", "c1")}


def test_committed_delta_writes_override_not_corpus_rewrite(spark, tmp_path):
    """VERDICT r04 #2: a committed delta must NOT rewrite the O(corpus)
    clusters base table — it appends O(delta) override rows that
    load_clusters overlays (latest seq wins), and the merged view equals a
    full recompute."""
    import os

    from minimizer_jaccard_estimator_spark.operators.dedup import load_clusters

    corpus = synthetic_transcripts(spark, n_base=30, dup_factor=2, seed=77).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 4 != 0)
    new = corpus.where(idx % 4 == 0)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store)

    def files(stage):
        d = os.path.join(store.root, stage)
        return {
            f: (os.path.getsize(os.path.join(d, f)),
                os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d) if not f.startswith("_")
        }

    base_before = files("clusters")
    delta = run_dedup_delta(spark, new, CFG, store, commit=True,
                            compact_overrides_threshold=1e18)
    # base table byte-untouched; override table appeared and is delta-sized
    assert files("clusters") == base_before, "base clusters table was rewritten"
    ov = spark.read.parquet(os.path.join(store.root, "clusters_overrides"))
    n_new = new.select("conv_id").distinct().count()
    n_corpus = corpus.select("conv_id").distinct().count()
    assert n_new <= ov.count() < n_corpus
    assert set(ov.columns) == {"conv_id", "cluster_id", "seq"}

    full = run_dedup(spark, corpus, CFG)
    assert _canon(delta.clusters) == _canon(full.clusters)
    assert _canon(load_clusters(spark, store)) == _canon(full.clusters)

    # a SECOND committed delta stacks a higher-seq override and still merges
    more = synthetic_transcripts(spark, n_base=6, dup_factor=1, seed=99)
    more = more.select(
        F.concat(F.lit("x"), "conv_id").alias("conv_id"), "turn_idx",
        "role", "text", "tool", "ts",
    )
    delta2 = run_dedup_delta(spark, more, CFG, store, commit=True,
                             compact_overrides_threshold=1e18)
    full2 = run_dedup(spark, corpus.unionByName(more), CFG)
    assert _canon(delta2.clusters) == _canon(full2.clusters)


def test_delta_override_compaction_folds_into_base(spark, tmp_path):
    """Once overrides outgrow the threshold, one compaction folds them into
    a fresh base and drops the override table; results are unchanged."""
    import os

    from minimizer_jaccard_estimator_spark.operators.dedup import load_clusters

    corpus = synthetic_transcripts(spark, n_base=24, dup_factor=2, seed=13).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store)
    delta = run_dedup_delta(spark, new, CFG, store, commit=True,
                            compact_overrides_threshold=0.0)
    assert not os.path.exists(os.path.join(store.root, "clusters_overrides"))
    full = run_dedup(spark, corpus, CFG)
    assert _canon(delta.clusters) == _canon(full.clusters)
    assert _canon(load_clusters(spark, store)) == _canon(full.clusters)
    base = spark.read.parquet(os.path.join(store.root, "clusters"))
    assert base.count() == corpus.select("conv_id").distinct().count()


def test_committed_delta_reads_batch_once(spark, tmp_path):
    """A committed delta reads its new batch once: the overlap guard, the
    sketch, the digests, the exact pairs, the cluster defaults and the
    conv_text append all derive from one persisted assembly instead of
    re-reading and re-assembling the batch per consumer."""
    from pyspark.sql.types import StringType

    corpus = synthetic_transcripts(spark, n_base=20, dup_factor=2, seed=23).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)
    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store).release()

    reads = spark.sparkContext.accumulator(0)

    def counted(conv_id):
        reads.add(1)
        return conv_id

    batch = new.withColumn("conv_id", F.udf(counted, StringType())("conv_id"))
    n_turns = new.count()
    res = run_dedup_delta(spark, batch, CFG, store, commit=True)
    res.clusters.collect()
    res.release()
    assert reads.value == n_turns, (
        f"{reads.value} batch row reads for {n_turns} turns "
        f"({reads.value / n_turns:.1f}x)"
    )
    corpus.unpersist()


def test_delta_simhash_config_matches_full_recompute(spark, tmp_path):
    """Round 5: the SimHash prefilter is supported incrementally — delta at
    simhash_max_hamming=16 == full recompute at the same config (the r04
    gate refused this config outright)."""
    import dataclasses

    cfg = dataclasses.replace(CFG, simhash_max_hamming=16)
    corpus = synthetic_transcripts(spark, n_base=40, dup_factor=2, seed=29).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, cfg, store=store)

    delta = run_dedup_delta(spark, new, cfg, store)
    full = run_dedup(spark, corpus, cfg)
    assert _canon(delta.clusters) == _canon(full.clusters)
    delta.release()


def test_delta_substring_config_matches_full_recompute(spark, tmp_path):
    """Round 5: the suffix-array substring pass is supported incrementally.
    Two committed deltas (exercising the anchors probe-table backfill-on-
    first-commit and append-on-later-commit paths) == a 3-part full
    recompute at the same config."""
    import dataclasses
    import os

    from pyspark.sql import Row

    cfg = dataclasses.replace(CFG, substring_min_len=32)
    corpus = synthetic_transcripts(spark, n_base=30, dup_factor=2, seed=31)
    # plant a pair linkable ONLY through the substring pass: two docs that
    # share one long exact block (>=80% of the shorter side's bytes) inside
    # otherwise-disjoint word soup, with the block's shingle overlap diluted
    # below the Jaccard threshold on the larger side.  Ids follow the
    # synthetic c{idx:010d} shape (the residue split below casts them) and
    # land suba in part0, subb in part2 — a cross-delta substring link.
    block = "shared boilerplate block carried verbatim across both docs " * 4
    # NON-repetitive pad: ~120 distinct words so subb's distinct-shingle set
    # is large and J(suba, subb) stays far below the 0.5 threshold (a
    # repeated pad collapses to ~60 distinct shingles and J creeps over it)
    pad_a = " ".join(f"pad{i}x{(i * 7) % 13}q{i % 5}" for i in range(120)) + " "
    suba, subb = "c9000000000", "c9000000002"
    extra = [
        Row(conv_id=suba, turn_idx=0, role="user", text=block, tool=None, ts=None),
        Row(conv_id=subb, turn_idx=0, role="user", text=pad_a + block,
            tool=None, ts=None),
    ]
    from minimizer_jaccard_estimator_spark.sources.transcripts import TRANSCRIPT_SCHEMA

    full_corpus = corpus.unionByName(
        spark.createDataFrame(extra, TRANSCRIPT_SCHEMA)
    ).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    part0 = full_corpus.where(idx % 3 == 0)
    part1 = full_corpus.where(idx % 3 == 1)
    part2 = full_corpus.where(idx % 3 == 2)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, part0, cfg, store=store)
    # the full run materialized the anchors probe stage + its config sidecar
    assert os.path.exists(os.path.join(store.root, "anchors"))
    assert store.read_manifest(spark, "_anchors_config.json") == {
        "substring_min_len": 32
    }

    run_dedup_delta(spark, part1, cfg, store, commit=True)
    second = run_dedup_delta(spark, part2, cfg, store, commit=True)
    assert second.spans is not None

    full = run_dedup(spark, full_corpus, cfg)
    got, want = _canon(second.clusters), _canon(full.clusters)
    assert got == want
    # the planted substring-only pair actually co-clusters (i.e. the pass
    # did the linking, in BOTH paths)
    assert any({suba, subb} <= g for g in want)
    # ... and was NOT reachable through the minhash path: the same config
    # without the substring pass keeps them apart
    no_sub = run_dedup(spark, full_corpus, dataclasses.replace(cfg, substring_min_len=None))
    assert not any({suba, subb} <= g for g in _canon(no_sub.clusters))

    # committed deltas appended the new docs' anchor rows to the probe table
    n_anchor_docs = store.load(spark, "anchors").select("conv_id").distinct().count()
    assert n_anchor_docs == full_corpus.select("conv_id").distinct().count()


def test_delta_rejects_mismatched_substring_min_len(spark, tmp_path):
    """The anchors probe table is only valid at the min_len that built it:
    a delta at a different substring_min_len must fail loudly before
    probing (manifest sidecar check)."""
    import dataclasses

    import pytest

    cfg = dataclasses.replace(CFG, substring_min_len=32)
    old = synthetic_transcripts(spark, n_base=10, dup_factor=0, seed=3)
    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, cfg, store=store)

    new = synthetic_transcripts(spark, n_base=4, dup_factor=0, seed=4) \
        .withColumn("conv_id", F.concat(F.lit("x"), F.col("conv_id")))
    bad = dataclasses.replace(CFG, substring_min_len=48)
    with pytest.raises(ValueError, match="anchors-config mismatch"):
        run_dedup_delta(spark, new, bad, store)
    # the matching config still runs
    run_dedup_delta(spark, new, cfg, store).release()
    # run_dedup resume with a half-built store is refused at the wrong
    # min_len too (same sidecar): wipe spans so resume re-enters the branch
    import shutil

    shutil.rmtree(store.path("spans"), ignore_errors=True)
    shutil.rmtree(store.path("clusters"), ignore_errors=True)
    with pytest.raises(ValueError, match="anchors-config mismatch"):
        run_dedup(spark, old, bad, store=store)
    # ... and resumes cleanly at the stamped min_len
    run_dedup(spark, old, cfg, store=store)


def test_delta_substring_probes_anchor_table_not_corpus_winnow(spark, tmp_path):
    """The delta substring pass must read the store's incremental ``anchors``
    probe table for the corpus side — never re-winnow the corpus text (the
    O(delta)-vs-O(corpus-bytes) property, mirroring the bands/digests plan
    assertions above)."""
    import dataclasses
    import os

    cfg = dataclasses.replace(CFG, substring_min_len=32)
    corpus = synthetic_transcripts(spark, n_base=24, dup_factor=2, seed=13).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, cfg, store=store)
    assert store.exists("anchors")

    res = run_dedup_delta(spark, new, cfg, store)
    assert res.spans is not None
    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = res.spans._jdf.queryExecution().explainString(mode)
    assert os.path.join(store.root, "anchors") in plan, \
        "delta substring pass did not probe the store's anchors table"
    res.release()


def test_committed_substringless_delta_refuses_anchors_store(spark, tmp_path):
    """An anchors-bearing store's probe-table contract is completeness: a
    COMMITTED delta configured without the substring pass would append
    conv_text/sketch rows but no anchor rows, silently poisoning every
    future substring delta — it must fail loudly.  Read-only what-ifs at
    the substring-less config stay allowed."""
    import dataclasses

    import pytest

    cfg = dataclasses.replace(CFG, substring_min_len=32)
    corpus = synthetic_transcripts(spark, n_base=18, dup_factor=2, seed=11).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, cfg, store=store)
    assert store.exists("anchors")

    nosub = dataclasses.replace(CFG, substring_min_len=None)
    with pytest.raises(ValueError, match="substring_min_len=None"):
        run_dedup_delta(spark, new, nosub, store, commit=True)
    res = run_dedup_delta(spark, new, nosub, store)  # what-if: allowed
    assert res.clusters.count() > 0
    res.release()


def test_committed_substring_delta_on_anchorless_store_requires_adoption(
        spark, tmp_path):
    """A store with completed stages but no anchors table either predates
    the anchors stage or was built WITHOUT the substring pass (its clusters
    lack old-vs-old span links) — indistinguishable from the store alone,
    so a committed substring delta must demand the caller's explicit
    config-parity assertion before backfilling."""
    import dataclasses

    import pytest

    corpus = synthetic_transcripts(spark, n_base=18, dup_factor=2, seed=12).cache()
    idx = F.substring("conv_id", 2, 10).cast("long")
    old = corpus.where(idx % 3 != 0)
    new = corpus.where(idx % 3 == 0)

    store = StageStore(root=str(tmp_path / "prior"))
    run_dedup(spark, old, CFG, store=store)  # no substring pass, no anchors
    assert not store.exists("anchors")

    sub = dataclasses.replace(CFG, substring_min_len=32)
    with pytest.raises(ValueError, match="no substring anchors probe table"):
        run_dedup_delta(spark, new, sub, store, commit=True)
    # the explicit assertion unlocks the backfill, which stamps the config
    # sidecar BEFORE materializing the table (crash between the two leaves
    # the fail-loud manifest check armed)
    res = run_dedup_delta(spark, new, sub, store, commit=True,
                          adopt_legacy_config=True)
    assert store.exists("anchors")
    assert store.read_manifest(spark, "_anchors_config.json") == {
        "substring_min_len": 32
    }
    res.release()


def test_substring_cap_crossing_is_conservative_and_recorded(spark, tmp_path):
    """Pin the documented cap-crossing semantics (DedupConfig
    substring_max_anchor_docs): an anchor whose GLOBAL doc count crosses the
    cap only at a later delta (a) keeps the span links earlier batches
    committed, (b) contributes NO new links from that delta, and (c) shows
    up in the delta's dropped-anchor lineage — while a full recompute over
    the final corpus drops the anchor entirely.  delta == full-recompute is
    exact only for anchors that never cross the cap mid-stream; the
    divergence is visible, never silent."""
    import dataclasses

    from pyspark.sql import Row

    block = "shared boilerplate block carried verbatim across both docs " * 4

    def _doc(cid, i):
        # substring-only-linkable family: the small doc is the bare block
        # (span covers 100% of its bytes); big docs dilute it under both the
        # minhash threshold and the span-coverage bar for big-big pairs
        if i == 0:
            return Row(conv_id=cid, turn_idx=0, role="user", text=block,
                       tool=None, ts=None)
        pad = " ".join(f"p{i}w{j}x{(j * 7) % 13}" for j in range(120)) + " "
        return Row(conv_id=cid, turn_idx=0, role="user", text=pad + block,
                   tool=None, ts=None)

    base_rows = [_doc(f"c900000000{i}", i) for i in range(3)]
    delta_rows = [_doc(f"c900000001{i}", i + 3) for i in range(2)]
    base = spark.createDataFrame(base_rows, TRANSCRIPT_SCHEMA)
    delta = spark.createDataFrame(delta_rows, TRANSCRIPT_SCHEMA)

    cfg = dataclasses.replace(CFG, substring_min_len=32,
                              substring_max_anchor_docs=3)
    store = StageStore(root=str(tmp_path / "prior"))
    prior = run_dedup(spark, base, cfg, store=store)
    # under the cap at base time: the small doc links to both big docs
    assert any(len(g) == 3 for g in _canon(prior.clusters))

    res = run_dedup_delta(spark, delta, cfg, store, commit=True)
    got = _canon(res.clusters)
    # (a) earlier links persist, (b) the delta docs gain none
    assert any(len(g) == 3 for g in got)
    assert {frozenset({f"c900000001{i}"}) for i in range(2)} <= got
    # (c) the crossing anchors are in the lineage table with global counts
    dropped = {r["n_docs"] for r in res.dropped_anchors.collect()}
    assert dropped and max(dropped) == 5
    res.release()

    # the full recompute at the final corpus drops the anchor entirely —
    # the documented (visible) divergence from the delta-evolved store
    full = run_dedup(spark, base.unionByName(delta), cfg)
    assert all(len(g) == 1 for g in _canon(full.clusters))
