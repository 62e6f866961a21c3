"""Structured Streaming ingestion: stateful conversation assembly + sketches.

The reference's algorithms are single-pass generators with bounded state
(SURVEY.md §2.10); their Spark-streaming equivalent is a stateful
per-conversation aggregation.  This module streams raw turn rows
(``conv_id, turn_idx, role, text, tool, ts``) and maintains, per
conversation, the set of turns seen so far; every micro-batch it re-emits the
assembled text and fresh sketch/signature for conversations that changed.

Semantics contract (tested): after all input is processed, the latest emitted
row per conv_id is IDENTICAL to the batch pipeline's assemble+sketch output
on the same turns — late/out-of-order turn arrival included, because state
keeps (turn_idx, text) pairs and re-sorts on every emit, exactly like the
batch ``array_sort(collect_list(struct(turn_idx, text)))`` path.

Scale notes: state per key is O(conversation text); hot conversations are
bounded by the same per-conv turn counts as the batch path.  On a real
cluster this runs with RocksDB state store + watermark-based state TTL
(``state_timeout_ms``); sinks are per-batch appends with ``batch_id`` so the
"current" view is ``max_by(*, batch_id) group by conv_id`` — an upsert
without requiring a table format with row-level updates.

Dedup (:func:`start_dedup_stream`) runs each micro-batch as a delta: the
changed conversations go through the delta's new-vs-corpus core (exact-digest
anchors, capped band probe, exact verify), and verdict rows carry ``exact``
(the two current digests are equal), which retracts with ``j_mini``.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.sketch import SketchConfig, add_full_sketch
from ..operators.dedup import DedupConfig
from ..operators.delta import probe_and_verify
from ..operators.lsh import band_hashes, endpoint_ids, text_digest
from ..operators.verify import attach_pair_columns

# state: accumulated turns of one conversation
_STATE_SCHEMA = "turn_idxs array<int>, texts array<string>"

ASSEMBLED_SCHEMA = "conv_id string, n_turns int, text string, text_len long"


def _assemble_func(sep: str, timeout_ms: int | None):
    def fn(
        key: tuple,
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            state.remove()
            return
        idxs, texts = state.get if state.exists else ([], [])
        idxs, texts = list(idxs), list(texts)
        for pdf in pdfs:
            # null turn_idx is legal (batch array_sort puts null structs
            # first); keep None instead of crashing on int(NaN)
            idxs.extend(None if pd.isna(i) else int(i) for i in pdf["turn_idx"])
            # preserve nulls: batch concat_ws SKIPS null turn texts (they
            # still count toward n_turns) — replacing with "" would keep a
            # spurious separator and break the streaming==batch contract
            texts.extend(None if t is None else str(t) for t in pdf["text"])
        state.update((idxs, texts))
        if timeout_ms is not None:
            state.setTimeoutDuration(timeout_ms)
        # batch order is array_sort on struct(turn_idx, text): ties on
        # turn_idx compare text with SQL null-first semantics
        order = sorted(
            range(len(idxs)),
            key=lambda i: (
                idxs[i] is not None, idxs[i] or 0,
                texts[i] is not None, texts[i] or "",
            ),
        )
        joined = sep.join(texts[i] for i in order if texts[i] is not None)
        yield pd.DataFrame(
            {
                "conv_id": [key[0]],
                "n_turns": [len(idxs)],
                "text": [joined],
                # char length, matching the batch path's F.length(text)
                "text_len": [len(joined)],
            }
        )

    return fn


def assemble_stream(
    turns: DataFrame,
    sep: str = "\n",
    state_timeout_ms: int | None = None,
) -> DataFrame:
    """Streaming per-conversation assembly (update mode).

    Emits one row per conversation per micro-batch in which it received
    turns; each emission reflects ALL turns seen so far in stable
    (turn_idx, text) order — the streaming twin of
    :func:`..sources.transcripts.assemble_conversations`.
    """
    timeout = (
        GroupStateTimeout.ProcessingTimeTimeout
        if state_timeout_ms is not None
        else GroupStateTimeout.NoTimeout
    )
    return (
        turns.select("conv_id", "turn_idx", "text")
        .groupBy("conv_id")
        .applyInPandasWithState(
            _assemble_func(sep, state_timeout_ms),
            outputStructType=ASSEMBLED_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=timeout,
        )
    )


def start_sketch_stream(
    spark: SparkSession,
    turns: DataFrame,
    cfg: SketchConfig,
    sink_path: str,
    checkpoint_path: str,
    sep: str = "\n",
    state_timeout_ms: int | None = None,
):
    """readStream(turns) -> stateful assembly -> full sketch -> parquet sink.

    Every batch appends the refreshed (conv_id, sketch, signature) rows with
    the micro-batch id; :func:`latest_sketches` reads back the current view.
    Returns the StreamingQuery (caller awaits/stops).
    """
    def emit(batch_df: DataFrame, batch_id: int) -> None:
        out = add_full_sketch(batch_df, cfg).drop("text").withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        out.write.mode("append").parquet(sink_path)

    return _start(turns, emit, checkpoint_path, sep, state_timeout_ms)


def _start(turns: DataFrame, emit, checkpoint_path: str, sep: str,
           state_timeout_ms: int | None):
    """Stateful assembly of ``turns`` -> ``emit(batch_df, batch_id)`` per
    micro-batch; returns the StreamingQuery."""
    return (
        assemble_stream(turns, sep=sep, state_timeout_ms=state_timeout_ms)
        .writeStream.foreachBatch(emit)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def start_dedup_stream(
    spark: SparkSession,
    turns: DataFrame,
    cfg: DedupConfig,
    sketch_sink: str,
    pairs_sink: str,
    checkpoint_path: str,
    sep: str = "\n",
    state_timeout_ms: int | None = None,
):
    """Streaming near-dup detection, each micro-batch a delta: refresh the
    sketches and digests of changed conversations, then run the delta's core
    (:func:`..operators.delta.probe_and_verify`) against the WHOLE corpus
    seen so far and append every verdict, one row per pair per batch:
    ``(id_a, id_b, i_mini, u_mini, j_mini, exact, batch_id)``, ``exact``
    meaning the two CURRENT digests are equal.  A grown conversation's prior
    pairs are all re-verified (``j_mini`` and ``exact`` retract together)
    and its prior exact partners are probed again, so a digest group whose
    star anchor grew out of it stays linked.  :func:`latest_accepted_pairs`
    + connected components give the clusters.

    Derived sinks: ``<sketch_sink>__bands`` (changed conversations' ~24 B
    band rows: the per-batch corpus-wide passes run over thin band and
    digest rows, wide sketch rows are read for candidate ids only) and
    ``<sketch_sink>__dropped_buckets`` (buckets over ``cfg.max_bucket_size``
    with ``batch_id``; as in the delta, the cap is evaluated at ingest
    time).  Streaming keeps no text: ``cfg.substring_min_len`` must be None."""
    if cfg.substring_min_len is not None:
        raise ValueError("streaming has no conversation text for the substring "
                         "pass: use a config with substring_min_len=None")
    bands_sink = sketch_sink.rstrip("/") + "__bands"
    dropped_sink = sketch_sink.rstrip("/") + "__dropped_buckets"
    lookup = ["conv_id", "minimizers"] + (["simhash"] if cfg.simhash_max_hamming is not None else [])

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        stamp = F.lit(batch_id).cast("long").alias("batch_id")
        # persist: the sketch-sink and bands writes both read fresh —
        # without it each re-runs the per-byte sketch UDF
        fresh = add_full_sketch(batch_df, cfg.sketch).withColumn(
            "digest", text_digest(F.col("text"))).drop("text").select("*", stamp).persist()
        fresh.write.mode("append").parquet(sketch_sink)
        band_hashes(fresh.select("conv_id", "minhash"), cfg.sketch).select("*", stamp) \
            .write.mode("append").parquet(bands_sink)
        sketches = spark.read.parquet(sketch_sink)
        # the current digests (thin) feed both probe sides and the exact flag
        digests = _latest(sketches.select("conv_id", "digest", "batch_id")).persist()
        probe, prior = fresh.select("conv_id"), _read(spark, pairs_sink)
        caches = [fresh, digests]
        if prior is not None:
            # every prior pair touching an updated conversation is
            # re-verified (a diverged pair may no longer share any band), and
            # its exact partners are probed again (the star anchor of their
            # digest group may be the conversation that changed)
            prior = prior.join(probe.select(F.col("conv_id").alias("id_a")), "id_a").unionByName(
                prior.join(probe.select(F.col("conv_id").alias("id_b")), "id_b"))
            probe = probe.union(endpoint_ids(prior.where("exact"))).distinct().persist()
            caches.append(probe)
            prior = prior.select("id_a", "id_b")
        bands = latest_bands(spark, bands_sink)
        _, _, verified, dropped = probe_and_verify(
            digests.join(probe, "conv_id", "leftsemi"), bands.join(probe, "conv_id", "leftsemi"),
            digests.join(probe, "conv_id", "left_anti"), bands.join(probe, "conv_id", "left_anti"),
            _latest(sketches.select(*lookup, "batch_id")), cfg, caches, reverify=prior,
        )
        if dropped is not None:
            dropped.select("*", stamp).write.mode("append").parquet(dropped_sink)
        # the latest row per pair is the current verdict, so a pair that
        # later diverges is retracted at read time instead of living forever
        attach_pair_columns(verified, digests, ["digest"]).select(
            "id_a", "id_b", "i_mini", "u_mini", "j_mini",
            (F.col("digest_a") == F.col("digest_b")).alias("exact"), stamp,
        ).write.mode("append").parquet(pairs_sink)
        for df in caches:
            df.unpersist()

    return _start(turns, emit, checkpoint_path, sep, state_timeout_ms)


def _read(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet sink at ``path``, or None before its first batch (asked
    of the reader, so hdfs/s3a URIs work where os.path reports missing)."""
    from pyspark.errors import AnalysisException

    try:
        return spark.read.parquet(path)
    except AnalysisException:
        return None


def _latest(df: DataFrame, keys: tuple[str, ...] = ("conv_id",)) -> DataFrame:
    """The highest-batch_id row per ``keys`` of an append-only sink (ties
    impossible: one emission per key per batch).  A filter on ``keys``
    pushes below the aggregation into the parquet scan."""
    cols = [c for c in df.columns if c not in (*keys, "batch_id")]
    agg = df.groupBy(*keys).agg(F.max_by(F.struct(*cols), F.col("batch_id")).alias("_s"))
    return agg.select(*keys, *[F.col(f"_s.{c}").alias(c) for c in cols])


def latest_verified_pairs(spark: SparkSession, pairs_sink: str) -> DataFrame:
    """Latest verdict per (id_a, id_b) from the streaming pairs sink; empty
    before the first batch."""
    df = _read(spark, pairs_sink)
    if df is None:
        return spark.createDataFrame([], "id_a string, id_b string, i_mini long, "
                                         "u_mini long, j_mini double, exact boolean")
    return _latest(df, ("id_a", "id_b"))


def latest_accepted_pairs(
    spark: SparkSession, pairs_sink: str, threshold: float = 0.5
) -> DataFrame:
    """Pairs whose LATEST verdict clears the threshold or is exact
    (retraction-aware)."""
    return latest_verified_pairs(spark, pairs_sink).where(
        (F.col("j_mini") >= F.lit(threshold)) | F.col("exact")
    )


def latest_sketches(spark: SparkSession, sink_path: str) -> DataFrame:
    """Current sketch per conversation = row with the highest batch_id."""
    return _latest(spark.read.parquet(sink_path))


def latest_bands(spark: SparkSession, bands_sink: str) -> DataFrame:
    """Current (conv_id, band_id, band_hash) corpus band table from the
    incrementally-appended bands sink: every emission writes all of a
    conversation's bands, so the latest row per (conv_id, band_id) is its
    current band.  Thin rows (~24 B) — this is the per-batch corpus-wide
    pass of the streaming dedup's production path."""
    return _latest(spark.read.parquet(bands_sink), ("conv_id", "band_id"))


def compact_sink(spark: SparkSession, sink_path: str,
                 view: DataFrame | None = None) -> None:
    """Rewrite an append-only streaming sink down to its current view
    (superseded rows accumulate forever otherwise — compaction bounds the
    per-batch corpus passes over a long-lived stream).

    MUST run with the stream STOPPED (between stream restarts): a
    micro-batch appending after the view snapshot would be dropped by the
    swap.  The swap itself goes through
    :func:`..plans.catalog.replace_path` (rename-park-rename: a complete
    copy exists at every instant, crash-recoverable, ``://`` roots
    supported).

    ``view`` defaults to the latest-row-per-conv_id view re-stamped at
    batch_id -1 — a sentinel no real micro-batch ever writes (batch ids
    start at 0), so a stream restarted with a FRESH checkpoint cannot tie
    with compacted rows in the max_by(latest) views.  Pass
    ``latest_bands(...)`` / ``latest_verified_pairs(...)`` output (with a
    batch_id -1 column added) to compact those sinks."""
    from ..plans.catalog import replace_path

    if view is None:
        view = latest_sketches(spark, sink_path).withColumn(
            "batch_id", F.lit(-1).cast("long")
        )
    pending = sink_path.rstrip("/") + "__compact"
    view.write.mode("overwrite").parquet(pending)
    replace_path(spark, sink_path, pending)
