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
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..functions.sketch import SketchConfig, add_full_sketch

# state: accumulated turns of one conversation
_STATE_SCHEMA = "turn_idxs array<int>, texts array<string>"

ASSEMBLED_SCHEMA = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("n_turns", IntegerType()),
        StructField("text", StringType()),
        StructField("text_len", LongType()),
    ]
)


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
    assembled = assemble_stream(turns, sep=sep, state_timeout_ms=state_timeout_ms)

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        out = add_full_sketch(batch_df, cfg).drop("text").withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        out.write.mode("append").parquet(sink_path)

    return (
        assembled.writeStream.foreachBatch(emit)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def start_dedup_stream(
    spark: SparkSession,
    turns: DataFrame,
    cfg: SketchConfig,
    sketch_sink: str,
    pairs_sink: str,
    checkpoint_path: str,
    jaccard_threshold: float = 0.5,
    sep: str = "\n",
    state_timeout_ms: int | None = None,
    bands_sink: str | None = None,
):
    """Streaming near-dup detection: per micro-batch, refresh sketches for
    changed conversations, generate LSH candidates of those conversations
    against the WHOLE corpus seen so far, verify with exact minimizer
    Jaccard, and append every re-verified pair with its batch id.

    ``latest_accepted_pairs`` + batch connected components give the cluster
    view at any time.  Note on staleness: a pair accepted in batch b reflects
    both sides' text as of b; if a conversation keeps growing, its pairs are
    re-generated on every later update (it re-enters the changed set), so the
    latest row per (id_a, id_b) converges to the final-text verdict whenever
    arrivals eventually stop — re-verify at compaction for strict semantics.

    Scale: the corpus band table is its own incrementally-appended sink,
    ``bands_sink`` (default ``<sketch_sink>__bands``): each batch appends
    only the changed conversations' (conv_id, band_id, band_hash) rows
    (~24 B each), which probe the current band view uncapped through the
    delta's :func:`..operators.lsh.probe_pairs`, so the corpus-wide
    per-batch pass runs over THIN band rows; the wide sketch sink is only
    read for the candidate ids' minimizer arrays (semi-joined before the
    latest-row aggregation).  Equivalence-tested against the batch pipeline.
    """
    from ..operators.lsh import band_hashes, endpoint_ids, probe_pairs
    from ..operators.verify import verify_pairs

    if bands_sink is None:
        bands_sink = sketch_sink.rstrip("/") + "__bands"

    assembled = assemble_stream(turns, sep=sep, state_timeout_ms=state_timeout_ms)

    def emit(batch_df: DataFrame, batch_id: int) -> None:
        # persist: three actions consume fresh per batch (sketch-sink write,
        # bands write/join, the verify side) — without it each action re-runs
        # the per-byte sketch UDF, tripling the dominant per-batch compute
        fresh = add_full_sketch(batch_df, cfg).drop("text").withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        ).persist()
        fresh.write.mode("append").parquet(sketch_sink)
        new_ids = fresh.select("conv_id")
        # fresh rows ARE each updated conversation's latest sketch, so the
        # changed side's bands never need the corpus view
        nb = band_hashes(fresh.select("conv_id", "minhash"), cfg)
        nb.withColumn("batch_id", F.lit(batch_id).cast("long")) \
            .write.mode("append").parquet(bands_sink)
        cand = probe_pairs(nb, latest_bands(spark, bands_sink),
                           ["band_id", "band_hash"], "conv_id", None).distinct()
        # also re-verify every PREVIOUSLY seen pair touching an updated
        # conversation: a diverged pair may no longer share any band, so the
        # band join alone would never re-examine (and thus never retract) it
        from pyspark.errors import AnalysisException

        try:
            prior = spark.read.parquet(pairs_sink).select("id_a", "id_b")
            touched = prior.join(
                new_ids.select(F.col("conv_id").alias("id_a")), "id_a"
            ).union(
                prior.join(new_ids.select(F.col("conv_id").alias("id_b")), "id_b")
                .select("id_a", "id_b")
            )
            cand = cand.union(touched).distinct()
        except AnalysisException:
            pass  # first batch: no pairs sink yet
        # the wide sketch rows are only needed for ids that appear in a
        # candidate pair — semi-join before the latest-row aggregation so
        # the groupBy shuffles candidate sketches, not the whole corpus
        needed = latest_sketches(spark, sketch_sink, only_ids=endpoint_ids(cand))
        verified = verify_pairs(cand, needed.select("conv_id", "minimizers"))
        # write EVERY re-verified pair (accepted or not): the latest row per
        # pair is the current verdict, so a pair that later diverges below
        # the threshold is retracted at read time instead of living forever
        verified.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(pairs_sink)
        fresh.unpersist()

    return (
        assembled.writeStream.foreachBatch(emit)
        .outputMode("update")
        .option("checkpointLocation", checkpoint_path)
        .start()
    )


def latest_verified_pairs(spark: SparkSession, pairs_sink: str) -> DataFrame:
    """Latest verdict per (id_a, id_b) from the streaming pairs sink.

    Missing sink (no batch emitted yet) => empty result; detection goes
    through the reader so hdfs/s3a URIs work (os.path would silently report
    missing and return nothing forever)."""
    from pyspark.errors import AnalysisException

    try:
        df = spark.read.parquet(pairs_sink)
    except AnalysisException:
        return spark.createDataFrame([], "id_a string, id_b string, j_mini double")
    return (
        df.groupBy("id_a", "id_b")
        .agg(F.max_by(F.col("j_mini"), F.col("batch_id")).alias("j_mini"))
    )


def latest_accepted_pairs(
    spark: SparkSession, pairs_sink: str, threshold: float = 0.5
) -> DataFrame:
    """Pairs whose LATEST verdict clears the threshold (retraction-aware)."""
    return latest_verified_pairs(spark, pairs_sink).where(
        F.col("j_mini") >= F.lit(threshold)
    )


def latest_sketches(
    spark: SparkSession, sink_path: str, only_ids: DataFrame | None = None
) -> DataFrame:
    """Current sketch per conversation = row with the highest batch_id
    (ties impossible: one emission per conv per batch).  ``only_ids``
    (a (conv_id) DataFrame) restricts the view BEFORE the latest-row
    aggregation — the shuffle then carries only the requested
    conversations' wide rows, not the whole corpus."""
    df = spark.read.parquet(sink_path)
    if only_ids is not None:
        df = df.join(only_ids.select("conv_id"), "conv_id")
    cols = [c for c in df.columns if c not in ("conv_id", "batch_id")]
    agg = df.groupBy("conv_id").agg(
        F.max_by(F.struct(*cols), F.col("batch_id")).alias("_s")
    )
    return agg.select("conv_id", *[F.col(f"_s.{c}").alias(c) for c in cols])


def latest_bands(spark: SparkSession, bands_sink: str) -> DataFrame:
    """Current (conv_id, band_id, band_hash) corpus band table from the
    incrementally-appended bands sink: a conversation's band set is replaced
    wholesale whenever it re-emits, so the current view keeps only its
    highest-batch_id rows.  Thin rows (~24 B) — this is the per-batch
    corpus-wide pass of the streaming dedup's production path."""
    df = spark.read.parquet(bands_sink)
    latest = df.groupBy("conv_id").agg(F.max("batch_id").alias("batch_id"))
    return df.join(latest, ["conv_id", "batch_id"]).select(
        "conv_id", "band_id", "band_hash"
    )


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
