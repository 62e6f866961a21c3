"""LSH band hashing + the bucket-pair core every candidate generator uses.

The reference has no LSH (it scores given pairs); this stage generalizes its
hash-equijoin candidate seed (``shared_hash_positions``,
``jaccard_correction_test.py:736-761``) into banded-MinHash candidate
generation at corpus scale.

Scale notes:
- band hashes are computed JVM-side (``transform`` + ``xxhash64`` over array
  slices) — the exploded rows carry only (id, band_id, band_hash), never the
  full signature, so the band shuffle is ~24 bytes/row * bands.
- two functions turn an exploded (id, bucket key) table into pairs, for
  every candidate source: :func:`self_pairs` (all-vs-all inside a bucket:
  batch LSH bands, substring winnow anchors, ANN hyperplane buckets) ships
  the table ONCE — never a self-join, which would ship the widest
  intermediate three more times — and :func:`probe_pairs` (new-vs-corpus:
  the delta's band and anchor probes, the streaming band join) shuffles
  only the buckets the new rows touch.  The bucket cap bounds both the
  per-bucket list memory and the quadratic pair expansion, dropping
  degenerate buckets (thousands of identical boilerplate docs) with an
  explicit lineage table instead of a silent blow-up — exact dups are still
  caught by the exact-dedup fast path.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import LongType, StructField, StructType

from ..functions.sketch import SketchConfig


def band_hashes(signatures: DataFrame, cfg: SketchConfig, id_col: str = "conv_id") -> DataFrame:
    """(id, band_id, band_hash) — one row per band per doc."""
    nb, r = cfg.lsh_bands, cfg.lsh_rows
    bands = F.expr(
        f"transform(sequence(0, {nb - 1}), b -> "
        f"struct(b as band_id, xxhash64(slice(minhash, b * {r} + 1, {r})) as band_hash))"
    )
    return signatures.select(
        F.col(id_col), F.explode(bands).alias("bh")
    ).select(id_col, F.col("bh.band_id").alias("band_id"), F.col("bh.band_hash").alias("band_hash"))


def _capped_buckets(
    sizes: DataFrame, keys: list[str], max_docs: int | None,
    with_dropped: bool, cache_registry: list | None,
) -> tuple[DataFrame, DataFrame | None]:
    """(keys of the buckets of a ``(*keys, _n)`` size table at most
    ``max_docs`` wide, the ``(*keys, n_docs)`` buckets the cap excluded —
    empty when uncapped — or None without ``with_dropped``): the one home of
    the no-silent-caps rule.  When ``cache_registry`` is given the (tiny)
    size aggregate is persisted and appended to it so BOTH outputs derive
    from one computation and the caller unpersists it once they are
    materialized; without a registry the dropped table recomputes the
    (map-side-combined, cheap) aggregate instead — persisting with nobody to
    unpersist would pin executor storage memory for the session lifetime."""
    dropped = None
    if max_docs is not None:
        if with_dropped:
            if cache_registry is not None:
                sizes = sizes.persist()
                cache_registry.append(sizes)
            dropped = sizes.where(F.col("_n") > max_docs).select(*keys, F.col("_n").alias("n_docs"))
        sizes = sizes.where(F.col("_n") <= max_docs)
    elif with_dropped:
        schema = StructType([StructField(k, sizes.schema[k].dataType) for k in keys]
                            + [StructField("n_docs", LongType())])
        dropped = sizes.sparkSession.createDataFrame([], schema)
    return sizes.select(*keys), dropped


def self_pairs(
    rows: DataFrame,
    keys: list[str],
    id_col: str,
    max_docs: int | None,
    with_dropped: bool = False,
    cache_registry: list | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """All (id_a < id_b) pairs sharing a bucket of ``rows`` (``id_col`` plus
    the bucket ``keys``, one row per (id, bucket)), once per shared bucket:
    callers that need distinct pairs add ``.distinct()``.

    The bucket table is shipped ONCE: a map-side-combined count aggregation
    sizes the buckets first (it shuffles tiny partially-aggregated count
    rows, never id lists), the rows equi-join against the surviving bucket
    keys (this is the single shuffle of the wide table), and the
    ``collect_list`` + in-JVM pair expansion (double posexplode / slice —
    never a self-join) run on the join's partitioning without a further
    exchange.  Filtering by count BEFORE collecting means no aggregation
    buffer ever materializes a degenerate bucket's full membership: a
    boilerplate bucket with millions of identical docs costs one long of
    count state, not an executor-OOM-sized list.  Per-bucket list memory is
    therefore bounded by ``max_docs`` ids.

    ``with_dropped=True`` additionally returns the ``(*keys, n_docs)``
    buckets the cap excluded (see :func:`_capped_buckets`)."""
    # (r06 A/B note: sharing ONE bucket-keyed exchange between the count
    # aggregate and the bucket join — b.repartition(band_id, band_hash)
    # before both — was tried and reverted: AQE coalesces the two exchange
    # instances independently, which defeats ReuseExchange, and the
    # complete-mode count aggregate built its full 3.9M-key map per task
    # where the map-side partial had amortized it (aggregate build 33 ->
    # 70 s, pipeline CPU total up ~significantly in the same window).  The
    # map-side partial stays even though it combines little — its output
    # rows, not its build, are the cheap part.)
    sizes = rows.groupBy(*keys).agg(F.count("*").alias("_n")).where(F.col("_n") >= 2)
    keep, dropped = _capped_buckets(sizes, keys, max_docs, with_dropped, cache_registry)
    # (r06 A/B note: deduplicating identical bucket MEMBERSHIP lists across
    # bands before expansion — sort_array + distinct on the list rows — was
    # tried and reverted: the array-keyed aggregation costs more than the
    # duplicate pair blocks it removes at every measured scale, e.g.
    # dedup_documents 44 -> 88 s at the sf1.0 shape.)
    # the surviving-bucket side sits behind an aggregation whose size the
    # static planner cannot estimate, so without the hint this equi-join
    # planned as sort-merge — sorting the 11.5M-row band table on both
    # sides for nothing (the downstream collect_list needs only the hash
    # distribution, which it reuses from the join either way).  SHUFFLE_HASH
    # builds the per-partition hash map on the bucket-key side: O(#buckets /
    # shuffle partitions) rows per map, scale-safe, and AQE skew handling
    # still applies (r06; guide §3.1 "pick the strategy deliberately").
    buckets = (
        rows.join(keep.hint("shuffle_hash"), keys)
        .groupBy(*keys)
        .agg(F.collect_list(id_col).alias("_ids"))
    )
    # all (i < j) position pairs of each bucket, JVM-side, no join:
    # posexplode picks the left element, slice takes everything after it
    pairs = (
        buckets.select(F.col("_ids"), F.posexplode("_ids").alias("_i", "_a"))
        .select(
            F.col("_a"),
            F.explode(F.slice(F.col("_ids"), F.col("_i") + F.lit(2),
                              F.size("_ids"))).alias("_b"),
        )
        .select(F.least("_a", "_b").alias("id_a"), F.greatest("_a", "_b").alias("id_b"))
    )
    return (pairs, dropped) if with_dropped else pairs


def probe_pairs(
    new: DataFrame,
    corpus: DataFrame,
    keys: list[str],
    id_col: str,
    max_docs: int | None,
    with_dropped: bool = False,
    cache_registry: list | None = None,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """The :func:`self_pairs` of ``corpus`` (which already holds the
    ``new`` rows) that have an endpoint in ``new`` — old-vs-old pairs never
    come out — not distinct either.  Only buckets the new rows touch can emit
    pairs, so the corpus is semi-joined down to those first (the new key set
    is small — AQE broadcasts it): the size aggregation and the pair join
    then shuffle touched-bucket rows only, never the whole corpus table.  The
    semi-join keeps EVERY corpus row of a touched bucket, so the cap sees
    exact global sizes; ``with_dropped=True`` returns the touched buckets it
    excluded."""
    corpus = corpus.join(new.select(*keys).distinct(), keys, "leftsemi")
    keep, dropped = _capped_buckets(
        corpus.groupBy(*keys).agg(F.count("*").alias("_n")),
        keys, max_docs, with_dropped, cache_registry,
    )
    if max_docs is not None:
        # filtering the corpus side suffices: the equi-join below can only
        # emit pairs whose bucket survived there
        corpus = corpus.join(keep, keys)
    pairs = (
        new.select(*keys, F.col(id_col).alias("_nid"))
        .join(corpus.select(*keys, F.col(id_col).alias("_oid")), keys)
        .where(F.col("_nid") != F.col("_oid"))
        .select(F.least("_nid", "_oid").alias("id_a"),
                F.greatest("_nid", "_oid").alias("id_b"))
    )
    return (pairs, dropped) if with_dropped else pairs


def endpoint_ids(pairs: DataFrame) -> DataFrame:
    """Distinct conv_ids appearing on either side of an (id_a, id_b) table."""
    return (
        pairs.select(F.col("id_a").alias("conv_id"))
        .union(pairs.select(F.col("id_b").alias("conv_id")))
        .distinct()
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    cfg: SketchConfig,
    id_col: str = "conv_id",
    max_bucket_size: int | None = 1000,
    with_dropped: bool = False,
    cache_registry: list | None = None,
    bands: DataFrame | None = None,
    distinct: bool = True,
) -> DataFrame | tuple[DataFrame, DataFrame]:
    """Candidate pairs (id_a < id_b) sharing any LSH band bucket: the
    :func:`self_pairs` of the (id, band_id, band_hash) band table, plus the
    (band_id, band_hash, n_docs) buckets the cap dropped with
    ``with_dropped=True``.

    ``distinct=False`` skips the final pair dedup shuffle — for callers that
    union these pairs with another source and distinct the union themselves
    (the dedup pipeline), a distinct here would shuffle the pair set twice.
    ``bands`` short-circuits the band computation with a precomputed
    (id, band_id, band_hash) table (e.g. the checkpointed corpus bands stage)
    — the signature transform then never re-runs over those rows."""
    b = bands if bands is not None else band_hashes(signatures, cfg, id_col)
    out = self_pairs(b, ["band_id", "band_hash"], id_col, max_bucket_size,
                     with_dropped, cache_registry)
    pairs, dropped = out if with_dropped else (out, None)
    if distinct:
        pairs = pairs.distinct()
    return (pairs, dropped) if with_dropped else pairs


def simhash_filter(pairs_with_simhash: DataFrame, max_hamming: int = 16) -> DataFrame:
    """Secondary near-dup prefilter: keep pairs whose 64-bit SimHashes are
    within ``max_hamming`` bits.  Expects columns simhash_a / simhash_b."""
    dist = F.bit_count(F.expr("simhash_a ^ simhash_b"))
    return pairs_with_simhash.where(dist <= F.lit(max_hamming))


def text_digest(text_col):
    """THE corpus text-digest expression (xxhash64 over the raw text).

    Contract function: the StageStore ``digests`` probe table
    (operators/dedup.py), the delta's fresh-batch digests and legacy-store
    backfill (operators/delta.py), and the exact-dup fallback below must
    agree bit-for-bit — a divergence would silently unlink exact duplicates
    across old/new documents.  Change it here or nowhere."""
    return F.xxhash64(text_col)


def exact_dup_pairs(
    conv_text: DataFrame, id_col: str = "conv_id", text_col: str = "text",
    digests: DataFrame | None = None,
) -> DataFrame:
    """Exact-duplicate fast path: group by text hash, pair everything with the
    group's min id (star pairs, linear not quadratic in group size).

    ``digests`` short-circuits the hashing with a precomputed (id, digest)
    table (8 B/doc — the checkpointed digests stage) so the text column is
    never rescanned."""
    if digests is not None:
        h = digests.select(F.col(id_col), F.col("digest").alias("_h"))
    else:
        h = conv_text.select(F.col(id_col), text_digest(F.col(text_col)).alias("_h"))
    mins = h.groupBy("_h").agg(F.min(id_col).alias("id_a"), F.count("*").alias("_n"))
    return (
        h.join(mins.where(F.col("_n") > 1), "_h")
        .where(F.col(id_col) != F.col("id_a"))
        .select("id_a", F.col(id_col).alias("id_b"))
    )
