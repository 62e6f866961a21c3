#!/usr/bin/env python3
"""Cluster entry point: spark-submit driver for the dedup pipeline.

  spark-submit --py-files dist/minimizer_jaccard_estimator_spark.zip \
      scripts/run_dedup_job.py \
      --input  <transcripts table: iceberg name or parquet path> \
      --output <stage-store root (parquet dir or iceberg namespace)> \
      [--k 12 --w 20 --num-perm 128 --bands 32 --threshold 0.5] \
      [--minhash-scheme oph] [--substring-min-len 64] [--staged-verify] \
      [--resume | --delta [--delta-no-commit]]

The stage store checkpoints every stage (conv_text, sketches, candidates,
verified, spans, clusters) under --output; re-running with --resume picks up
after the last completed stage.  Per-stage row counts + wall times land in
``<output>/_metrics`` — the pipeline's lineage record.

``--staged-verify`` runs the batch pass's exact verify through the zip
attach (each sketch payload crosses one exchange instead of three; for
sketch tables too big to broadcast; a --delta run's candidate-pruned lookup
joins either way).  The name is historical: there is no prefilter, and the
scores are the same as without it.

``--delta`` is the production ingestion loop: --input holds ONLY the new
conversations, which are deduped against the corpus already checkpointed
under --output (probing its incremental digests/bands tables — O(delta)
per cycle, the corpus is never resketched) and, unless --delta-no-commit,
folded back in so the next delta sees them.  Run at the SAME sketch config
as the original run.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
from minimizer_jaccard_estimator_spark.operators.dedup import DedupConfig, run_dedup
from minimizer_jaccard_estimator_spark.plans.catalog import StageStore


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--k", type=int, default=12)
    ap.add_argument("--w", type=int, default=20)
    ap.add_argument("--hash", default="splitmix64")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--num-perm", type=int, default=128)
    ap.add_argument("--bands", type=int, default=32)
    ap.add_argument("--threshold", type=float, default=0.5)
    ap.add_argument("--minhash-scheme", default="seeded", choices=["seeded", "oph"])
    ap.add_argument("--simhash-max-hamming", type=int, default=None)
    ap.add_argument("--substring-min-len", type=int, default=None)
    ap.add_argument("--staged-verify", action="store_true",
                    help="verify through the zip attach (one payload "
                         "exchange; for sketch tables too big to broadcast). "
                         "Scores are unchanged")
    ap.add_argument("--resume", action="store_true",
                    help="reuse completed stage tables under --output")
    ap.add_argument("--overwrite", action="store_true",
                    help="allow deleting an existing --output directory")
    ap.add_argument("--delta", action="store_true",
                    help="dedup --input (NEW conversations only) against the "
                         "corpus checkpointed under --output and fold the "
                         "results back in (incremental ingestion)")
    ap.add_argument("--delta-no-commit", action="store_true",
                    help="with --delta: read-only what-if, leave the store "
                         "unchanged (a later delta will NOT see this batch)")
    args = ap.parse_args()

    from minimizer_jaccard_estimator_spark.plans.session import get_spark
    spark = get_spark(app_name="mje-dedup")

    looks_like_path = (
        args.input.endswith((".parquet", "/")) or "/" in args.input
        or os.path.exists(args.input)
    )
    if looks_like_path:
        transcripts = spark.read.parquet(args.input)
    else:
        transcripts = spark.read.table(args.input)

    sketch = SketchConfig(
        k=args.k, w=args.w, hash_type=args.hash, hash_seed=args.seed,
        num_perm=args.num_perm, lsh_bands=args.bands,
        minhash_scheme=args.minhash_scheme,
    )
    cfg = DedupConfig(
        sketch=sketch,
        jaccard_threshold=args.threshold,
        simhash_max_hamming=args.simhash_max_hamming,
        substring_min_len=args.substring_min_len,
        staged_verify=args.staged_verify,
    )
    store = StageStore(root=args.output)
    if args.delta:
        from minimizer_jaccard_estimator_spark.operators.delta import run_dedup_delta

        # run_dedup_delta validates the store holds a completed prior run
        # and rejects conv_id overlap with the committed corpus
        res = run_dedup_delta(spark, transcripts, cfg, store,
                              commit=not args.delta_no_commit)
        n_new = res.new_conv_text.count()
        n = res.clusters.count()
        k = res.clusters.select("cluster_id").distinct().count()
        print(f"delta complete: +{n_new} new conversations; corpus now "
              f"{n} conversations in {k} clusters -> {args.output}/clusters"
              + ("" if not args.delta_no_commit else " (NOT committed)"))
        res.release()
        return

    if not args.resume:
        if store.exists("conv_text", spark) and not args.overwrite:
            raise SystemExit(
                f"--output {args.output} holds a prior run; pass --resume to "
                "continue it or --overwrite to delete it"
            )
        if args.overwrite:
            # explicit opt-in: drop stale stage tables (local path or URI)
            store.remove_all(spark)

    res = run_dedup(spark, transcripts, cfg, store=store)
    n = res.clusters.count()
    k = res.clusters.select("cluster_id").distinct().count()
    print(f"dedup complete: {n} conversations in {k} clusters -> {args.output}/clusters")


if __name__ == "__main__":
    main()
