"""Traced passes: spans around calls into each layer's public functions.

A span records its name, start, end, parent span, the process-tree CPU and
the Spark stage metrics of its interval.  Each layer's input is persisted
and counted before its span opens and its output is persisted and counted
inside it, so a span's numbers belong to that layer alone.  Spans stay in
memory and are written out when the run ends.

The batch composition below follows ``run_dedup``'s in-memory path call
for call; the run checks that its clusters equal an untraced pass's, so a
drift between the two fails the run instead of skewing the layer split.
"""

from __future__ import annotations

import inspect
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import asdict, replace

import numpy as np
import pandas as pd
import pyspark.sql.functions as F

from minimizer_jaccard_estimator_spark import kernels as K
from minimizer_jaccard_estimator_spark import kernels_batch as KB
from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig, add_full_sketch
from minimizer_jaccard_estimator_spark.operators.connected_components import connected_components
from minimizer_jaccard_estimator_spark.operators.lsh import (
    band_hashes,
    exact_dup_pairs,
    lsh_candidate_pairs,
    text_digest,
)
from minimizer_jaccard_estimator_spark.operators.pairing import global_row_numbers
from minimizer_jaccard_estimator_spark.operators.verify import verify_pairs, verify_pairs_staged
from minimizer_jaccard_estimator_spark.plans.catalog import StageStore
from minimizer_jaccard_estimator_spark.sources.transcripts import assemble_conversations
from probes import SparkMeter, tree_cpu_s

MB = 1e6
# one cache-resident chunk, the size the sketch UDF hands its kernels
KERNEL_CHUNK_BYTES = 1 << 18


class Tracer:
    def __init__(self, meter: SparkMeter) -> None:
        self.meter = meter
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._origin = time.monotonic()

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "parent": self._stack[-1]["id"] if self._stack else None,
               "id": len(self.spans), "counts": {}}
        self.spans.append(rec)
        mark = self.meter.mark()
        cpu0, t0 = tree_cpu_s(), time.monotonic()
        self._stack.append(rec)
        try:
            yield rec["counts"]
        finally:
            self._stack.pop()
            t1, cpu1 = time.monotonic(), tree_cpu_s()
            st = self.meter.since(mark, task_quantiles=True)
            rec.update(start_s=t0 - self._origin, end_s=t1 - self._origin,
                       wall_s=t1 - t0, cpu_s=cpu1 - cpu0, spark=asdict(st))

    def get(self, name: str) -> dict | None:
        return next((s for s in self.spans if s["name"] == name), None)


def traced_batch(spark, transcripts, cfg, tr: Tracer) -> pd.DataFrame:
    """``run_dedup(spark, transcripts, cfg)`` (no store), layer by layer."""
    caches = []

    def keep(df):
        df = df.persist()
        caches.append(df)
        return df, df.count()

    dp = spark.sparkContext.defaultParallelism
    try:
        with tr.span("pass"):
            with tr.span("transcripts") as c:
                conv_text, c["convs"] = keep(assemble_conversations(transcripts))
            c["text_mb"] = conv_text.agg(F.sum("text_len")).collect()[0][0] / MB

            with tr.span("pairing") as c:
                rid, c["rows"] = keep(
                    global_row_numbers(conv_text.select("conv_id"), "conv_id")
                    .select("conv_id", F.col("rn").cast("long").alias("_rid"))
                )

            with tr.span("sketch") as c:
                src = conv_text.select("conv_id", "text")
                if cfg.rebalance_sketch:
                    src = src.repartition(dp * 2)
                sk = add_full_sketch(src, replace(cfg.sketch, include_positions=False)) \
                    .withColumn("digest", text_digest(F.col("text"))).drop("text")
                sketches, c["docs"] = keep(sk.join(rid, "conv_id"))

            def sk_cols(*cols):
                return sketches.select(F.col("_rid").alias("conv_id"), *cols)

            with tr.span("lsh") as c:
                exact, c["exact_pairs"] = keep(exact_dup_pairs(conv_text, digests=sk_cols("digest")))
                bands, _ = keep(band_hashes(sk_cols("minhash"), cfg.sketch))
                lsh = lsh_candidate_pairs(
                    sk_cols("minhash"), cfg.sketch, max_bucket_size=cfg.max_bucket_size,
                    with_dropped=False, cache_registry=caches, bands=bands, distinct=False,
                )
                raw, c["raw_pairs"] = keep(exact.union(lsh))
                pairs, c["distinct_pairs"] = keep(
                    raw.repartition(dp * 4, "id_a", "id_b").dropDuplicates(["id_a", "id_b"])
                )
            c["dropped_buckets"] = (
                0 if cfg.max_bucket_size is None else
                bands.groupBy("band_id", "band_hash").count()
                .where(F.col("count") > cfg.max_bucket_size).count()
            )

            with tr.span("verify") as c:
                c["pairs_in"] = tr.get("lsh")["counts"]["distinct_pairs"]
                if cfg.staged_verify:
                    scored = verify_pairs_staged(
                        pairs, sk_cols("minimizers", "minhash", "n_shingles"),
                        cfg.jaccard_threshold, cfg.staged_verify_margin,
                        min_score=cfg.jaccard_threshold, attach="zip",
                    )
                else:
                    scored = verify_pairs(pairs, sk_cols("minimizers"), min_score=cfg.jaccard_threshold)
                scored, c["pairs_scored"] = keep(scored)
            accepted = scored.where(F.col("j_mini") >= cfg.jaccard_threshold).select("id_a", "id_b")
            c["pairs_accepted"] = accepted.count()

            edges, _ = keep(accepted.union(exact))
            with tr.span("connected_components") as c:
                comp, c["nodes"] = keep(connected_components(edges))
            c["edges"] = edges.where(F.col("id_a") != F.col("id_b")).distinct().count()
            c["clusters"] = comp.select("cluster_id").distinct().count()
            driver_threshold = inspect.signature(connected_components).parameters["driver_threshold"]
            c["distributed"] = int(c["edges"] > driver_threshold.default)
            # the distributed fixpoint runs one signature collect per iteration
            c["iterations"] = sum(
                1 for n in tr.get("connected_components")["spark"]["job_names"]
                if n.startswith("collect at") and "connected_components.py" in n
            )

            with tr.span("remap"):
                clusters_rid = (
                    rid.select(F.col("_rid").alias("conv_id"))
                    .join(comp, "conv_id", "left")
                    .select("conv_id", F.coalesce("cluster_id", "conv_id").alias("cluster_id"))
                )
                m1 = rid.select(F.col("_rid").alias("conv_id"), F.col("conv_id").alias("_c"))
                m2 = rid.select(F.col("_rid").alias("cluster_id"), F.col("conv_id").alias("_k"))
                out = (
                    clusters_rid.join(m1, "conv_id").join(m2, "cluster_id")
                    .select(F.col("_c").alias("conv_id"), F.col("_k").alias("cluster_id"))
                    .toPandas()
                )
        return out
    finally:
        for df in caches:
            df.unpersist()


def _dir_stats(root: str) -> tuple[int, int]:
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def traced_delta(workload, tr: Tracer) -> pd.DataFrame:
    """One committed ``run_dedup_delta`` as the ``delta`` span, then the
    store's own write metrics and directory growth as ``catalog``."""
    root = workload.store_root
    files0, bytes0 = _dir_stats(root)
    store = StageStore(root=root)
    with tr.span("pass"):
        with tr.span("delta") as c:
            out = workload.commit_delta(workload.delta1, store)
        store.resolve_metrics(workload.spark)
        c["candidate_pairs"] = store.load(workload.spark, "delta_candidates").count()
        files1, bytes1 = _dir_stats(root)
        conv = store.load(workload.spark, "conv_text")
        text_mb = conv.agg(F.sum("text_len")).collect()[0][0] / MB
        m = store.metrics()
        tr.spans.append({
            "name": "catalog", "parent": tr.get("pass")["id"], "id": len(tr.spans),
            "counts": {
                "write_s": sum(r["wall_ms"] for r in m) / 1000.0,
                "rows_written": sum(r["rows_out"] for r in m),
                "bytes_written": bytes1 - bytes0,
                "files_written": files1 - files0,
                "store_mb_per_text_mb": bytes1 / MB / text_mb,
            },
        })
    return out


def _median_ms(fn, reps: int = 5) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls) * 1000.0


def kernel_timings(texts: list[str], cfg: SketchConfig) -> dict[str, float]:
    """Single-thread ms per MB of text for each batch kernel on one fixed
    chunk of the workload's own texts (no Spark involved)."""
    bufs, size = [], 0
    for t in texts:
        b = t.encode("utf-8")
        if size and size + len(b) > KERNEL_CHUNK_BYTES:
            break
        bufs.append(b)
        size += len(b)
    lens = np.fromiter((len(b) for b in bufs), dtype=np.int64, count=len(bufs))
    data = np.frombuffer(b"".join(bufs), dtype=np.uint8)
    n = len(bufs)
    mb = data.nbytes / MB

    def shingle():
        fp, _, seg = KB.batch_shingle_fingerprints(data, lens, cfg.k)
        return fp, seg, K.apply_hash(cfg.hash_type, cfg.hash_seed, fp, 32)

    fp, seg, h = shingle()
    order = np.lexsort((fp, seg))
    fs, ss = fp[order], seg[order]
    first = np.ones(fs.shape[0], dtype=bool)
    first[1:] = (fs[1:] != fs[:-1]) | (ss[1:] != ss[:-1])
    ufp, useg = fs[first], ss[first]
    seeds = cfg.seeds()

    def minhash():
        if cfg.minhash_scheme == "oph":
            return KB.batch_oph(h, seg, n, cfg.num_perm)
        return KB.batch_seeded_minhash(ufp, useg, n, seeds, cfg.hash_type)

    def simhash():
        uh = K.apply_hash(cfg.hash_type, cfg.simhash_seed, ufp, 32)
        return KB.batch_simhash(uh, useg, n)

    def full():
        return KB.batch_full_sketch_text(
            [b.decode("utf-8") for b in bufs], cfg.k, cfg.w, cfg.hash_type, cfg.hash_seed,
            cfg.minhash_scheme, cfg.num_perm, seeds if cfg.minhash_scheme != "oph" else None,
            cfg.simhash_seed, cfg.hash_type, False,
        )

    return {
        "shingle_ms_per_mb": _median_ms(shingle) / mb,
        "winnow_ms_per_mb": _median_ms(lambda: KB.batch_winnow(h, seg, n, cfg.w)) / mb,
        "minhash_ms_per_mb": _median_ms(minhash) / mb,
        "simhash_ms_per_mb": _median_ms(simhash) / mb,
        "full_ms_per_mb": _median_ms(full) / mb,
    }
