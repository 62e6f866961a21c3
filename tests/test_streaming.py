"""Structured Streaming assembly/sketch: streaming == batch invariant.

Turns arrive across multiple files (simulating out-of-order, multi-batch
arrival); after the stream drains, the latest emission per conversation must
equal the batch pipeline's assemble+sketch output on the same rows.
"""

from __future__ import annotations


from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig, add_full_sketch
from minimizer_jaccard_estimator_spark.sources.transcripts import (
    TRANSCRIPT_SCHEMA,
    assemble_conversations,
    synthetic_transcripts,
)

CFG = SketchConfig(k=6, w=5, num_perm=16, lsh_bands=8)



def test_stream_matches_batch(spark, tmp_path):
    from minimizer_jaccard_estimator_spark.streaming.sketch_stream import (
        latest_sketches,
        start_sketch_stream,
    )

    src = str(tmp_path / "turns_in")
    sink = str(tmp_path / "sketch_out")
    ckpt = str(tmp_path / "ckpt")

    turns = synthetic_transcripts(spark, n_base=12, dup_factor=1, seed=7).cache()
    # split the corpus into 3 arrival waves; shuffle turn order inside waves
    # (turn_idx % 3 != arrival order => out-of-order arrival per conv)
    for wave in range(3):
        part = turns.where(turns.turn_idx % 3 == wave)
        part.coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = start_sketch_stream(spark, stream, CFG, sink, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["conv_id"]: r for r in latest_sketches(spark, sink).collect()}

    batch = add_full_sketch(assemble_conversations(turns), CFG).drop("text")
    want = {r["conv_id"]: r for r in batch.collect()}

    assert got.keys() == want.keys()
    for cid, wr in want.items():
        gr = got[cid]
        assert gr["n_turns"] == wr["n_turns"], cid
        assert gr["text_len"] == wr["text_len"], cid
        for col in ("minimizers", "n_shingles", "n_dups", "minhash", "simhash"):
            assert gr[col] == wr[col], (cid, col)



def test_compact_sink_preserves_latest_view(spark, tmp_path):
    """compact_sink rewrites an append-only sink to one row per conv with
    the latest view unchanged (bounds sink growth over a long stream)."""
    from minimizer_jaccard_estimator_spark.streaming.sketch_stream import (
        compact_sink,
        latest_sketches,
        start_sketch_stream,
    )

    src = str(tmp_path / "in")
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    turns = synthetic_transcripts(spark, n_base=8, dup_factor=1, seed=3).cache()
    for wave in range(2):
        turns.where(turns.turn_idx % 2 == wave).coalesce(1).write.mode(
            "append").parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", "1").parquet(src)
    q = start_sketch_stream(spark, stream, CFG, sink, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    before = {r["conv_id"]: r for r in latest_sketches(spark, sink).collect()}
    n_raw_before = spark.read.parquet(sink).count()
    assert n_raw_before > len(before)  # superseded rows exist pre-compaction

    compact_sink(spark, sink)
    after = {r["conv_id"]: r for r in latest_sketches(spark, sink).collect()}
    assert spark.read.parquet(sink).count() == len(before)
    assert before.keys() == after.keys()
    for cid, b in before.items():
        for col in ("n_turns", "text_len", "minimizers", "minhash"):
            assert after[cid][col] == b[col], (cid, col)


def test_stream_incremental_updates_grow(spark, tmp_path):
    """A conversation's sketch refreshes as more of its turns arrive."""
    import pyspark.sql.functions as F

    from minimizer_jaccard_estimator_spark.streaming.sketch_stream import (
        start_sketch_stream,
    )

    src = str(tmp_path / "turns_in")
    sink = str(tmp_path / "sketch_out")
    ckpt = str(tmp_path / "ckpt")

    rows1 = [("c1", 0, "user", "alpha beta gamma delta epsilon", None, None)]
    rows2 = [("c1", 1, "assistant", "zeta eta theta iota kappa lambda", None, None)]
    spark.createDataFrame(rows1, TRANSCRIPT_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(rows2, TRANSCRIPT_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = start_sketch_stream(spark, stream, CFG, sink, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    hist = (
        spark.read.parquet(sink)
        .where(F.col("conv_id") == "c1")
        .orderBy("batch_id")
        .collect()
    )
    assert len(hist) == 2
    assert hist[0]["n_turns"] == 1 and hist[1]["n_turns"] == 2
    assert hist[1]["n_shingles"] > hist[0]["n_shingles"]


def test_streaming_dedup_matches_batch_clusters(spark, tmp_path):
    """Streamed micro-batch deltas converge to the batch pipeline's accepted
    pairs and clusters, in both directions, on a corpus with texts shorter
    than k, more byte-identical copies than the bucket cap, and an exact
    group whose star anchor grows out of it; the bands sink holds the
    current bands and the capped bucket is recorded."""
    import pyspark.sql.functions as F

    from minimizer_jaccard_estimator_spark.operators.connected_components import (
        connected_components,
    )
    from minimizer_jaccard_estimator_spark.operators.dedup import DedupConfig, run_dedup
    from minimizer_jaccard_estimator_spark.operators.lsh import band_hashes, exact_dup_pairs
    from minimizer_jaccard_estimator_spark.streaming.sketch_stream import (
        latest_accepted_pairs,
        latest_bands,
        latest_sketches,
        latest_verified_pairs,
        start_dedup_stream,
    )

    src = str(tmp_path / "turns_in")
    sketch_sink = str(tmp_path / "sk")
    pairs_sink = str(tmp_path / "pairs")
    ckpt = str(tmp_path / "ckpt")
    cfg = DedupConfig(sketch=CFG, jaccard_threshold=0.5, max_bucket_size=4)

    def rows(*specs):
        return spark.createDataFrame(
            [(cid, i, "user", text, None, None) for cid, i, text in specs], TRANSCRIPT_SCHEMA
        )

    hot = "the same boilerplate notice repeated in every copy of this ticket " * 3
    extra = [
        # shorter than k: linked only through the exact-digest path
        rows(("s0", 0, "ok"), ("t0", 0, "hey"),
             # exact group {g0, g1, g2}: its star anchor g0 grows in wave 2
             ("g0", 0, "hi"), ("g1", 0, "hi"), ("g2", 0, "hi")),
        rows(("s1", 0, "ok"), ("t1", 0, "hey"),
             # five byte-identical copies in one wave, over the cap of 4
             *[(f"h{i}", 0, hot) for i in range(5)]),
        rows(("s2", 0, "ok"), ("g0", 1, "there")),
    ]
    turns = synthetic_transcripts(spark, n_base=15, dup_factor=2, seed=21).cache()
    # arrival in 3 waves of WHOLE synthetic conversations (conv index mod 3)
    idx = F.substring("conv_id", 2, 10).cast("long")
    for wave in range(3):
        turns.where(idx % 3 == wave).unionByName(extra[wave]) \
            .coalesce(1).write.mode("append").parquet(src)
    turns = turns.unionByName(extra[0]).unionByName(extra[1]).unionByName(extra[2])

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = start_dedup_stream(spark, stream, cfg, sketch_sink, pairs_sink, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # the bands sink's current view must equal bands recomputed from the
    # current sketches (their source of truth)
    got_bands = {
        (r.conv_id, r.band_id, r.band_hash)
        for r in latest_bands(spark, sketch_sink + "__bands").collect()
    }
    want_bands = {
        (r.conv_id, r.band_id, r.band_hash)
        for r in band_hashes(latest_sketches(spark, sketch_sink), CFG).collect()
    }
    assert got_bands == want_bands

    batch = run_dedup(spark, turns, cfg)
    batch_pairs = {
        tuple(sorted((r.id_a, r.id_b)))
        for r in batch.verified.where("j_mini >= 0.5").collect()
    } | {
        tuple(sorted((r.id_a, r.id_b)))
        for r in exact_dup_pairs(assemble_conversations(turns)).collect()
    }
    # exact equality: streaming probes every update against the whole
    # corpus, and every digest group here arrives with its min id first, so
    # the streamed star anchors are batch's min-id anchors
    stream_pairs = {(r.id_a, r.id_b) for r in latest_accepted_pairs(spark, pairs_sink).collect()}
    assert stream_pairs == batch_pairs

    comp_s = connected_components(latest_accepted_pairs(spark, pairs_sink).select("id_a", "id_b"))
    ours = {r["conv_id"]: r["cluster_id"] for r in comp_s.collect()}
    theirs = {r["conv_id"]: r["cluster_id"] for r in batch.clusters.collect()}
    assert ours, "fixture must produce clusters"
    # both directions: every conversation's streamed cluster (itself when
    # streaming linked it to nothing) is its batch cluster
    assert set(ours) <= set(theirs)
    for cid, root in theirs.items():
        assert ours.get(cid, cid) == root, cid

    assert {ours[f"s{i}"] for i in range(3)} == {"s0"} and ours["t1"] == "t0"
    assert ours["g1"] == ours["g2"] == "g1" and "g0" not in ours
    # the hot copies: linked through the digest path, their buckets dropped
    assert all(ours[f"h{i}"] == "h0" for i in range(1, 5))
    verdicts = latest_verified_pairs(spark, pairs_sink).where("id_a = 'h0'").collect()
    assert len(verdicts) == 4 and all(r.exact for r in verdicts)
    dropped = spark.read.parquet(sketch_sink + "__dropped_buckets")
    hot_buckets = {(r.band_id, r.band_hash) for r in
                   latest_bands(spark, sketch_sink + "__bands").where("conv_id = 'h0'").collect()}
    assert hot_buckets <= {(r.band_id, r.band_hash) for r in dropped.where("n_docs = 5").collect()}


def test_stream_matches_batch_nulls_and_unicode(spark, tmp_path):
    """Regression: null turn texts and multi-byte chars must assemble
    identically in streaming and batch (separator skipping, char lengths)."""
    from minimizer_jaccard_estimator_spark.streaming.sketch_stream import (
        latest_sketches,
        start_sketch_stream,
    )

    src = str(tmp_path / "in")
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")
    rows = [
        ("c1", 0, "user", "héllo wörld", None, None),
        ("c1", 1, "assistant", None, None, None),
        ("c1", 2, "user", "🌍 emoji tail", None, None),
        ("c2", 0, "user", None, None, None),
    ]
    turns = spark.createDataFrame(rows, TRANSCRIPT_SCHEMA)
    turns.coalesce(1).write.parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    q = start_sketch_stream(spark, stream, CFG, sink, ckpt)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    got = {r["conv_id"]: r for r in latest_sketches(spark, sink).collect()}
    want = {
        r["conv_id"]: r
        for r in add_full_sketch(assemble_conversations(turns), CFG).drop("text").collect()
    }
    assert got.keys() == want.keys()
    for cid, wr in want.items():
        gr = got[cid]
        for col in ("n_turns", "text_len", "minimizers", "n_shingles", "minhash", "simhash"):
            assert gr[col] == wr[col], (cid, col)


def test_stream_restart_from_checkpoint(spark, tmp_path):
    """Stop the stream mid-corpus and restart from the same checkpoint: state
    recovers and the final result still equals the batch pipeline."""
    from minimizer_jaccard_estimator_spark.streaming.sketch_stream import (
        latest_sketches,
        start_sketch_stream,
    )

    src = str(tmp_path / "in")
    sink = str(tmp_path / "out")
    ckpt = str(tmp_path / "ck")

    turns = synthetic_transcripts(spark, n_base=10, dup_factor=1, seed=11).cache()
    wave1 = turns.where(turns.turn_idx % 2 == 0)
    wave2 = turns.where(turns.turn_idx % 2 == 1)

    wave1.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    q1 = start_sketch_stream(spark, stream, CFG, sink, ckpt)
    q1.processAllAvailable()
    q1.stop()  # simulate a crash/planned restart between arrival waves

    wave2.coalesce(1).write.mode("append").parquet(src)
    stream2 = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    q2 = start_sketch_stream(spark, stream2, CFG, sink, ckpt)
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {r["conv_id"]: r for r in latest_sketches(spark, sink).collect()}
    want = {
        r["conv_id"]: r
        for r in add_full_sketch(assemble_conversations(turns), CFG).drop("text").collect()
    }
    assert got.keys() == want.keys()
    for cid, wr in want.items():
        for col in ("n_turns", "text_len", "minimizers", "minhash", "simhash"):
            assert got[cid][col] == wr[col], (cid, col)


def test_streaming_pair_retraction(spark, tmp_path):
    """A pair accepted early must be retracted once one side grows apart —
    the latest verdict wins even when the pair no longer shares any band."""
    from minimizer_jaccard_estimator_spark.operators.dedup import DedupConfig
    from minimizer_jaccard_estimator_spark.streaming.sketch_stream import (
        latest_accepted_pairs,
        latest_verified_pairs,
        start_dedup_stream,
    )

    src = str(tmp_path / "in")
    shared = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    divergent = ("zebra yak xenon walrus viper urchin tapir shark rhino quail " * 40)
    wave1 = [
        ("A", 0, "user", shared, None, None),
        ("B", 0, "user", shared, None, None),
    ]
    wave2 = [("A", 1, "user", divergent, None, None)]
    spark.createDataFrame(wave1, TRANSCRIPT_SCHEMA).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(wave2, TRANSCRIPT_SCHEMA).coalesce(1).write.mode("append").parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).option(
        "maxFilesPerTrigger", "1"
    ).parquet(src)
    q = start_dedup_stream(spark, stream, DedupConfig(sketch=CFG, jaccard_threshold=0.5),
                           str(tmp_path / "sk"), str(tmp_path / "pairs"), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    hist = latest_verified_pairs(spark, str(tmp_path / "pairs")).collect()
    assert hist, "the pair must have been verified at least once"
    accepted = latest_accepted_pairs(spark, str(tmp_path / "pairs"), 0.5).collect()
    assert accepted == [], f"diverged pair must be retracted, got {accepted}"
