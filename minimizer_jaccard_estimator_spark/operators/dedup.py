"""End-to-end near-duplicate detection + clustering pipeline.

transcripts → assemble → sketch + signatures → (exact-dup ∪ LSH) candidates
→ [optional SimHash prefilter] → minimizer-Jaccard verify → threshold →
large-star/small-star connected components → clusters.

Every stage is checkpointable/resumable through
:class:`..plans.catalog.StageStore`; the per-stage tables are the engine's
lineage record.  The sketch core reproduces the reference bit-for-bit at the
same (k, w, hash, seed) config; LSH/CC are the scale layers the reference
(which scores a given pair list single-threaded) does not have.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass, replace

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.sketch import SketchConfig, add_full_sketch
from ..plans.catalog import StageStore
from ..sources.transcripts import assemble_conversations
from .connected_components import connected_components
from .lsh import (
    band_hashes,
    exact_dup_pairs,
    lsh_candidate_pairs,
    simhash_filter,
    text_digest,
)
from .pairing import global_row_numbers
from .substring import anchor_table, duplicate_spans, substring_dup_pairs
from .verify import attach_pair_columns, verify_pairs


@dataclass
class DedupConfig:
    sketch: SketchConfig = SketchConfig()
    jaccard_threshold: float = 0.5
    simhash_max_hamming: int | None = None  # None => prefilter off
    # LSH bucket cap: buckets wider than this are excluded and recorded
    # (lsh_dropped_buckets), never silently dropped; exact duplicates still
    # link through the digest path.  The delta and streaming evaluate the
    # cap at ingest time over exact global counts of the buckets a batch
    # touches: a bucket that crosses the cap at a LATER batch keeps the
    # links committed earlier (a full recompute would drop them), and the
    # crossing is recorded in that batch's dropped-buckets table
    # (delta_lsh_dropped_buckets, <sketch_sink>__dropped_buckets).
    max_bucket_size: int | None = 1000
    salt_partitions: int | None = None  # explicit salted repartition of turns
    # suffix-array substring pass (north_rule): also link pairs whose exact
    # shared spans cover >= substring_min_cov of either side's bytes
    substring_min_len: int | None = None  # None => pass off
    substring_min_cov: float = 0.8
    # hot-anchor frequency cap for the substring pass (the LSH bucket cap's
    # twin — boilerplate anchors shared by > this many docs are excluded,
    # recorded, never silently dropped; None disables the cap).  The delta
    # path reuses THIS value and sees exact GLOBAL anchor counts, but the
    # cap is evaluated at ingest time: an anchor whose corpus-wide count
    # only crosses the cap at a LATER delta keeps the span links earlier
    # batches already committed (a full recompute over the final corpus
    # would drop the anchor entirely), so delta == full-recompute is exact
    # only for anchors that never cross the cap mid-stream.  The crossing
    # is never silent — such anchors appear in that delta's dropped-anchor
    # lineage table (delta_substring_dropped_anchors).  Uncapped (None)
    # configs are exactly equivalent.
    substring_max_anchor_docs: int | None = 200
    # round-robin rebalance of assembled conversations before the sketch UDF:
    # the assembly shuffle is keyed by conv_id, so hot conversations (8x-size
    # skew family) cluster into straggler partitions; an explicit rebalance
    # costs one text shuffle but removes the tail wave from the most
    # expensive stage (measured ~1.8x on the sketch stage at local[32])
    rebalance_sketch: bool = True
    # verify attach switch (the name is historical): True runs run_dedup's
    # exact verify through attach_pair_columns_zip, one payload exchange for
    # sketch tables too big to broadcast; False uses the join attach.  A
    # delta's candidate-pruned sketch lookup always joins.  Scores are
    # identical either way.
    staged_verify: bool = False
    # ignored: the MinHash-agreement prefilter this margin tuned is gone
    # (see verify.py); kept so existing configs and readers still work
    staged_verify_margin: float = 0.25


def sketch_manifest(sketch: SketchConfig) -> dict:
    """The sketch-identity fields stamped into a StageStore (ADVICE r03): a
    store's sketches/digests/bands tables are only comparable at the config
    that produced them.  include_positions is schema-only (delta already
    adapts to it) and excluded."""
    m = asdict(sketch)
    m.pop("include_positions", None)
    return m


def check_store_manifest(
    spark: SparkSession, store: StageStore, sketch: SketchConfig, stamp: bool
) -> None:
    """Fail loudly if ``store`` was built at a different sketch config than
    ``sketch``; stamp unstamped (legacy / fresh) stores when ``stamp``."""
    if store.root is None:
        return
    mine = sketch_manifest(sketch)
    stamped = store.read_manifest(spark)
    if stamped is not None:
        diff = {
            k: (stamped.get(k), mine.get(k))
            for k in sorted(set(stamped) | set(mine))
            if stamped.get(k) != mine.get(k)
        }
        if diff:
            raise ValueError(
                "sketch config mismatch vs the store's manifest (stored != "
                f"requested): {diff}.  The store's sketches/digests/bands "
                "tables are only valid at the config that produced them — "
                "rebuild the store (run_dedup on a fresh root) to change "
                "sketch settings"
            )
    elif stamp:
        store.write_manifest(spark, mine)


_ANCHORS_MANIFEST = "_anchors_config.json"


def check_anchors_manifest(
    spark: SparkSession, store: StageStore, min_len: int, stamp: bool
) -> None:
    """The substring ``anchors`` probe table is min_len-dependent (the winnow
    (k, w) derive from it), which the sketch-config manifest does not cover:
    probing it at a different min_len would silently yield wrong anchor
    matches.  Same fail-loudly rule as :func:`check_store_manifest`."""
    if store.root is None:
        return
    mine = {"substring_min_len": min_len}
    stamped = store.read_manifest(spark, _ANCHORS_MANIFEST)
    if stamped is not None:
        if stamped != mine:
            raise ValueError(
                f"substring anchors-config mismatch vs the store's manifest "
                f"(stored {stamped} != requested {mine}): the anchors probe "
                "table is only valid at the substring_min_len that produced "
                "it — rebuild the store to change it"
            )
    elif stamp:
        store.write_manifest(spark, mine, _ANCHORS_MANIFEST)


def load_clusters(spark: SparkSession, store: StageStore) -> DataFrame:
    """The store's CURRENT cluster assignment: the ``clusters`` base table
    overlaid with any ``clusters_overrides`` rows committed by deltas.

    Deltas commit O(delta)-sized override rows instead of rewriting the
    O(corpus) assignment (VERDICT r04 #2); the read path applies the
    highest-``seq`` override per conv_id on top of the base — one corpus
    scan, no corpus-keyed shuffle (the override side is delta-sized, AQE
    broadcasts both the latest-pick and the anti join).  Stores without an
    override table (fresh runs, or just-compacted stores) read the base
    verbatim.
    """
    base = store.load(spark, "clusters")
    if not store.exists("clusters_overrides", spark):
        return base
    ov = store.load(spark, "clusters_overrides")
    from pyspark.sql import Window

    latest = (
        ov.withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("conv_id").orderBy(F.col("seq").desc())
            ),
        )
        .where(F.col("_rn") == 1)
        .select("conv_id", "cluster_id")
    )
    return base.join(latest.select("conv_id"), "conv_id", "left_anti").unionByName(latest)


@dataclass
class DedupResult:
    conv_text: DataFrame
    sketches: DataFrame
    candidates: DataFrame
    verified: DataFrame
    clusters: DataFrame
    spans: DataFrame | None = None  # suffix-array pass output (if enabled)
    # internal persists still live after an in-memory (store-less) run; call
    # release() when done with the result to return executor storage memory
    _caches: list[DataFrame] | None = None

    def release(self) -> None:
        for df in self._caches or []:
            df.unpersist()
        for df in (self.conv_text, self.sketches):
            df.unpersist()
        self._caches = []


def run_dedup(
    spark: SparkSession,
    transcripts: DataFrame,
    cfg: DedupConfig | None = None,
    store: StageStore | None = None,
) -> DedupResult:
    cfg = cfg or DedupConfig()
    store = store or StageStore(root=None)
    # stamp FRESH stores with the sketch config; refuse to resume a store
    # built at a different config (its stage tables would silently mix
    # incomparable sketches — same failure mode ADVICE r03 flagged for
    # delta).  Stamping is restricted to stores with no completed stages: a
    # legacy (pre-manifest) store resumed at the WRONG config would
    # otherwise get the wrong config written as truth, poisoning every
    # future correct-config run (review r04) — legacy stores keep the
    # documented same-config precondition until rebuilt
    check_store_manifest(spark, store, cfg.sketch,
                         stamp=not store.exists("conv_text", spark))

    # -- assembly (skew note: groupBy(conv_id) is a hash shuffle; hot conv_ids
    # are bounded by per-conv turn counts, and the partial agg combines
    # map-side.  salt_partitions forces a pre-shuffle spread of giant convs'
    # input rows before the agg shuffle.)
    turns = transcripts
    if cfg.salt_partitions:
        turns = turns.repartition(cfg.salt_partitions, F.col("conv_id"), F.col("turn_idx"))
    if store.exists("conv_text"):
        conv_text = store.load(spark, "conv_text")
    else:
        conv_text = store.materialize(spark, "conv_text", assemble_conversations(turns))
    if store.root is None:
        # in-memory runs: without the persist every downstream stage that
        # touches conv_text (sketch src, exact-dup digests in BOTH the
        # candidates and clusters stages, the final id join) re-executes the
        # full assembly shuffle — measured ~40% of e2e wall at local[32]
        conv_text = conv_text.persist()

    # -- long surrogate ids (in-memory runs): rank conv_id (ascending,
    # dense) and key every pair-table shuffle / aggregation / join on the
    # rank LONG instead of the conv_id STRING.  The candidate distinct, the
    # two verify attach joins and the CC edge set are all O(pairs) — string
    # keys cost ~10x per probe/insert vs longs (measured on a 52M-pair /
    # 50k-doc replica of the sf1.0 shape: 2 broadcast joins 7.1 s str vs
    # 0.5 s long, guide §2.3 "narrower types").  The rank is ORDER-
    # PRESERVING, so min-rank == min-conv_id on every path that picks a
    # representative (exact-dup star pairs, CC cluster labels) and the
    # remapped outputs are bit-identical to the string-keyed form.  Store
    # runs keep string ids: their stage tables are the delta/resume
    # contract and probe-side schemas must not change.
    use_rid = store.root is None
    rid = None
    if use_rid:
        rid = (
            global_row_numbers(conv_text.select("conv_id"), "conv_id")
            .select("conv_id", F.col("rn").cast("long").alias("_rid"))
            .persist()
        )

    # -- sketches + signatures (the Arrow-UDF hot path; one pass over docs)
    if store.exists("sketches"):
        sketches = store.load(spark, "sketches")
    else:
        src = conv_text.select("conv_id", "text")
        if cfg.rebalance_sketch:
            src = src.repartition(spark.sparkContext.defaultParallelism * 2)
        # positions are parity/debug-only; dedup compares minimizer VALUE
        # sets (verify.py), so don't pay their Arrow/cache/shuffle weight
        sk_cfg = replace(cfg.sketch, include_positions=False)
        # the exact-dup text digest rides along in the SAME pass (JVM
        # xxhash64 beside the Arrow UDF): the candidates stage then reads the
        # narrow persisted/written sketch columns instead of re-scanning the
        # corpus text, and the digests probe table becomes a projection of
        # this stage (VERDICT r04 #1: fewer passes over the text bytes)
        sk = add_full_sketch(src, sk_cfg) \
            .withColumn("digest", text_digest(F.col("text"))).drop("text")
        sketches = store.materialize(spark, "sketches", sk)
    if store.root is None:
        if use_rid:
            # cached sketch rows carry the surrogate so every downstream
            # projection is join-free; one narrow probe join here
            sketches = sketches.join(rid, "conv_id")
        sketches = sketches.persist()
    # resumed legacy stores predate the digest column; fall back to hashing
    # the corpus text as before
    _id = "_rid" if use_rid else "conv_id"

    def sk_cols(*cols):
        """sketch projection keyed as conv_id (surrogate long in-memory)."""
        return sketches.select(F.col(_id).alias("conv_id"), *cols)

    digest_src = (
        sk_cols("digest") if "digest" in sketches.columns
        else conv_text.select("conv_id", text_digest(F.col("text")).alias("digest"))
    )

    # -- incremental-ingestion side tables (store runs only): the 8 B/doc
    # text digests and the ~24 B/row band table.  run_dedup_delta probes
    # THESE instead of rehashing the corpus text / re-banding the wide
    # signature rows — the difference between O(delta) and O(corpus bytes)
    # per ingestion cycle.  Cost here is one narrow write each; the digest /
    # band computations were needed by this run's candidate stage anyway.
    digests = bands = None
    if store.root is not None:
        digests = store.materialize(spark, "digests", digest_src)
        bands = store.materialize(
            spark, "bands",
            band_hashes(sk_cols("minhash"), cfg.sketch),
        )

    # -- candidates: exact-dup fast path ∪ LSH band buckets
    # exact is needed again in the clusters stage (short-text dup bypass);
    # persist so the digest groupBy runs once, and register internal LSH
    # caches for release once the pipeline's outputs are materialized
    exact = exact_dup_pairs(
        conv_text, digests=digests if digests is not None else digest_src
    ).persist()
    caches: list[DataFrame] = [exact]
    if rid is not None:
        caches.append(rid)
    if store.exists("candidates"):
        candidates = store.load(spark, "candidates")
    else:
        want_dropped = store.root is not None and cfg.max_bucket_size is not None
        if bands is None:
            # store-less runs: the band table feeds TWO consumers (the
            # bucket-size aggregate and the bucket join) — without a persist
            # each one re-runs the signature transform over the full corpus
            # (store runs already materialize `bands` on disk above)
            bands = band_hashes(
                sk_cols("minhash"), cfg.sketch
            ).persist()
            caches.append(bands)
        lsh = lsh_candidate_pairs(
            sk_cols("minhash"), cfg.sketch,
            max_bucket_size=cfg.max_bucket_size,
            with_dropped=want_dropped,
            cache_registry=caches,
            bands=bands,
            # the union with the exact pairs is distinct'd right below — an
            # internal distinct here would shuffle the pair set twice
            distinct=False,
        )
        if want_dropped:
            # no silent caps: record exactly which hot buckets were excluded
            # (derived from the same persisted bucket-size aggregate)
            lsh, dropped = lsh
            store.materialize(spark, "lsh_dropped_buckets", dropped)
        raw_pairs = exact.union(lsh)
        if cfg.simhash_max_hamming is not None:
            with_sim = attach_pair_columns(
                raw_pairs, sk_cols("simhash"), ["simhash"]
            )
            raw_pairs = simhash_filter(with_sim, cfg.simhash_max_hamming).select("id_a", "id_b")
        candidates = store.materialize(spark, "candidates", raw_pairs.distinct())

    # -- verify with exact Jaccard on minimizer sets (JVM-side set ops)
    # min_score is the exact accept-side pruning gate (see verify_pairs):
    # ONLY the clusters branch may use it — the `verified` output scores
    # every candidate, accepted or not (resume/delta + declared-query
    # contract)
    def _verify(pair_df: DataFrame, min_score: float | None = None) -> DataFrame:
        # staged_verify picks the zip attach, built for the big-payload regime
        # (long texts → ~10x-KB minimizer arrays) where the per-doc table
        # outgrows any broadcast threshold: each payload crosses ONE exchange
        # instead of three (see attach_pair_columns_zip).  Its preconditions
        # hold here: the pair stream is deduplicated on both branches
        # (candidates is distinct; the clusters branch dropDuplicates right
        # below) and sketch payloads are non-null.
        return verify_pairs(
            pair_df, sk_cols("minimizers"), min_score=min_score,
            attach="zip" if cfg.staged_verify else "join",
        )

    if store.exists("verified"):
        verified = store.load(spark, "verified")
        accepted_scores = verified
    else:
        verified = store.materialize(spark, "verified", _verify(candidates))
        # store-less clusters path: rebalance AND dedup the raw pair stream
        # in ONE exchange before verify.  Two problems share this fix:
        # (a) pair expansion inherits the bucket exchange's partitioning,
        # where per-task work is quadratic in bucket size — a handful of
        # hot-bucket tasks own nearly all verify CPU (measured median ~0 s /
        # max 66 s over 144 tasks at the sf1.0 documents shape); (b) a pair
        # of highly-similar docs collides in MANY of the 32 bands, so the
        # raw stream carries up to bands-fold duplicate pairs — ~5% extra on
        # the unrelated-documents corpus but ~30x on the duplicate-rich
        # transcripts corpus, where skipping the dedup multiplied verify CPU
        # by the band count (r06 regression: dedup_pipeline 22 s -> 53 s at
        # sf0.1; reverted same round).  The explicit hash repartition on
        # (id_a, id_b) both balances the expansion skew and ALREADY provides
        # the aggregation's required distribution, so the dropDuplicates
        # plans as partial+final hash aggregates on the SAME post-shuffle
        # partitions — one pair-table exchange total, no AQE coalescing of
        # the CPU-bound verify stage below 4x task slots (64MB-sized
        # partitions would be far too few).  The deduped pair SET is what
        # the old candidates.distinct() produced, so clusters are
        # bit-identical; store runs keep reading the materialized `verified`
        # table (already on disk, and the resume/delta contract).
        if store.root is None:
            accepted_scores = _verify(
                raw_pairs.repartition(
                    spark.sparkContext.defaultParallelism * 4, "id_a", "id_b"
                ).dropDuplicates(["id_a", "id_b"]),
                min_score=cfg.jaccard_threshold,
            )
        else:
            accepted_scores = verified

    # -- suffix-array substring pass: exact duplicate spans as extra edges
    spans = None
    if cfg.substring_min_len is not None:
        if store.exists("spans"):
            spans = store.load(spark, "spans")
        else:
            want_dropped = store.root is not None
            # store runs materialize the distinct (conv_id, anchor) table as
            # the delta ingestion probe stage (the substring twin of the
            # digests/bands tables): run_dedup_delta anchors NEW docs against
            # it instead of re-winnowing the corpus text, and committed
            # deltas append their anchor rows.  The winnow UDF was needed by
            # this run's candidate stage anyway — the probe is one narrow
            # write, not an extra pass.
            anchors_probe = None
            if store.root is not None:
                # the anchors probe is only valid at the min_len that built
                # it (stamped as a manifest sidecar, mirroring the sketch
                # config rule); legacy stores with a completed anchors stage
                # are never stamped — same conservatism as run_dedup resume
                check_anchors_manifest(
                    spark, store, cfg.substring_min_len,
                    stamp=not store.exists("anchors", spark),
                )
                anchors_probe = store.materialize(
                    spark, "anchors",
                    anchor_table(
                        conv_text, cfg.substring_min_len,
                        cfg.sketch.hash_type, cfg.sketch.hash_seed,
                    ).select(F.col("id").alias("conv_id"), "anchor").distinct(),
                ).select(F.col("conv_id").alias("id"), "anchor")
            sp = duplicate_spans(
                conv_text,
                cfg.substring_min_len,
                hash_type=cfg.sketch.hash_type,
                seed=cfg.sketch.hash_seed,
                max_bucket_size=cfg.substring_max_anchor_docs,
                with_dropped=want_dropped,
                anchors=anchors_probe,
                cache_registry=caches,
            )
            if want_dropped:
                sp, dropped_anchors = sp
                # no silent caps (same rule as lsh_dropped_buckets)
                store.materialize(spark, "substring_dropped_anchors", dropped_anchors)
            spans = store.materialize(spark, "spans", sp)

    # -- cluster the accepted pairs; isolated convs cluster as themselves
    if store.exists("clusters"):
        # resumed stores may carry delta-committed override rows
        clusters = load_clusters(spark, store)
    else:
        accepted = accepted_scores.where(F.col("j_mini") >= cfg.jaccard_threshold)
        accepted = accepted.select("id_a", "id_b")
        # exact-digest pairs are provably identical texts and bypass the
        # Jaccard threshold: texts shorter than k have EMPTY minimizer sets
        # (j_mini = 0), which must not unlink byte-identical duplicates.
        # No .distinct() here: connected_components dedups its edge set
        # internally, so a distinct at this level is a pure extra shuffle
        # (the scale-flat stage-count term, VERDICT r04 #1)
        accepted = accepted.union(exact)
        if spans is not None:
            sp_pairs = substring_dup_pairs(spans, cfg.substring_min_cov)
            if use_rid:
                # span pairs come out of the (string-keyed) suffix pass;
                # bring them into rank space before the union (tiny table)
                ra = rid.select(F.col("conv_id").alias("id_a"), F.col("_rid").alias("_ra"))
                rb = rid.select(F.col("conv_id").alias("id_b"), F.col("_rid").alias("_rb"))
                sp_pairs = (
                    sp_pairs.join(ra, "id_a").join(rb, "id_b")
                    .select(F.col("_ra").alias("id_a"), F.col("_rb").alias("id_b"))
                )
            accepted = accepted.union(sp_pairs)
        comp = connected_components(accepted)
        if use_rid:
            # the corpus-id side of the left join IS the rank table; keep the
            # (driver-bounded) comp broadcast intact and translate both rank
            # columns back to conv_id strings afterwards — two narrow probe
            # joins of linear-sized tables, no pair-scale work
            clusters_rid = (
                rid.select(F.col("_rid").alias("conv_id"))
                .join(comp, "conv_id", "left")
                .select("conv_id", F.coalesce("cluster_id", "conv_id").alias("cluster_id"))
            )
            m1 = rid.select(F.col("_rid").alias("conv_id"), F.col("conv_id").alias("_c"))
            m2 = rid.select(F.col("_rid").alias("cluster_id"), F.col("conv_id").alias("_k"))
            clusters = (
                clusters_rid.join(m1, "conv_id").join(m2, "cluster_id")
                .select(F.col("_c").alias("conv_id"), F.col("_k").alias("cluster_id"))
            )
        else:
            all_ids = conv_text.select("conv_id")
            clusters = (
                all_ids.join(comp, "conv_id", "left")
                .select("conv_id", F.coalesce("cluster_id", "conv_id").alias("cluster_id"))
            )
        clusters = store.materialize(spark, "clusters", clusters)

    store.write_metrics(spark)
    if store.root is not None:
        # every stage table is already materialized on disk: the internal
        # caches have served their one-pass purpose (ADVICE: don't pin
        # storage memory across jobs in a long-lived session)
        for df in caches:
            df.unpersist()
        conv_text.unpersist()
        caches = []
    cand_out, ver_out = candidates, verified
    if use_rid:
        # external views keep the public conv_id string ids; the remap is
        # lazy (paid only when the caller materializes these outputs) and
        # column-order/type identical to the string-keyed form
        def _remap_pairs(df: DataFrame) -> DataFrame:
            a = rid.select(F.col("_rid").alias("id_a"), F.col("conv_id").alias("_ca"))
            b = rid.select(F.col("_rid").alias("id_b"), F.col("conv_id").alias("_cb"))
            rest = [c for c in df.columns if c not in ("id_a", "id_b")]
            return (
                df.join(a, "id_a").join(b, "id_b")
                .select(F.col("_ca").alias("id_a"), F.col("_cb").alias("id_b"), *rest)
            )

        cand_out, ver_out = _remap_pairs(candidates), _remap_pairs(verified)
    return DedupResult(conv_text, sketches, cand_out, ver_out, clusters, spans,
                       _caches=caches)
