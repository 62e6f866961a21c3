"""One benchmark run of one workload, in a fresh process started by run.py.

Set-up (session start plus inputs, repeated for a median), warm-up passes,
then timed passes until ``--seconds`` have been measured.  With ``--trace
1`` the run instead makes one untraced and one traced pass and reports the
per-layer metrics.  The result goes to ``<run-dir>/result.json``.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(1, REPO)

import checks  # noqa: E402
import tracing  # noqa: E402
from probes import HostWatch, SparkMeter, tree_cpu_s, tree_peak_rss_mb  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

from minimizer_jaccard_estimator_spark.plans.session import get_spark  # noqa: E402

# set-up is repeated this many times and its median reported
SETUP_REPEATS = 3
# compressed shuffle blocks vary by a few bytes with the row order inside a
# partition, which Spark does not fix (measured: 197 B of 5.69 MB); records
# must repeat exactly, bytes within this share
SHUFFLE_BYTES_RTOL = 1e-3
# no new pass starts after this many seconds of the process (the supervisor
# stops the run at 180 s)
PASS_DEADLINE_S = 125.0
MB = 1e6


def session(cpus: int, run_dir: str):
    """The engine's own session (``get_spark``) with deployment settings
    only: Spark's local dirs come from ``SPARK_LOCAL_DIRS`` (set by run.py)."""
    conf = {
        "spark.ui.showConsoleProgress": "false",
        # keep every stage and job of the run in the status store: the
        # default of 1,000 stages wraps within a few delta passes
        "spark.ui.retainedStages": "100000",
        "spark.ui.retainedJobs": "100000",
        # the inputs are small; a 2 GB heap keeps the run's footprint small
        # on a shared host.  The heap is fixed and touched at start: how far
        # G1 grew it by the end of a run varied peak RSS by 20 % between
        # seeds, so the JVM heap counts as provisioned and peak_rss_mb moves
        # with Python-worker and off-heap memory (heap pressure shows as GC)
        "spark.driver.memory": "2g",
        "spark.driver.extraJavaOptions": "-Xms2g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
    }
    spark = get_spark(app_name="perfbench", cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


class Pass:
    """Measurements of one pass."""

    def __init__(self, wl, meter: SparkMeter, host: HostWatch) -> None:
        wl.prepare_pass()
        mark = meter.mark()
        cpu0, t0 = tree_cpu_s(), time.monotonic()
        self.clusters = wl.run_pass()
        self.wall_s = time.monotonic() - t0
        self.cpu_s = tree_cpu_s() - cpu0
        self.spark = meter.since(mark, task_quantiles=True)
        host.sample()
        self.assign = checks.as_mapping(self.clusters)


def measure(args, wl, meter, host, truth) -> dict:
    threshold = wl.cfg.jaccard_threshold
    pairs = truth.recall_pairs(threshold)
    passes, fails, errors = [], [], []
    t_measure = time.monotonic()
    while True:
        try:
            p = Pass(wl, meter, host)
        except Exception as exc:  # a failed pass is counted, not fatal
            errors.append(f"{type(exc).__name__}: {exc}")
            p = None
        if p is not None:
            f = checks.check_assignment(p.assign, truth)
            if p.spark.stages <= 0:
                f.append("no Spark stages recorded")
            if passes:
                first = passes[0]
                if p.assign != first.assign:
                    f.append("cluster assignment differs from the first timed pass")
                if p.spark.shuffle_write_records != first.spark.shuffle_write_records:
                    f.append(f"shuffle records {p.spark.shuffle_write_records} != "
                             f"{first.spark.shuffle_write_records}")
                if abs(p.spark.shuffle_write_bytes - first.spark.shuffle_write_bytes) > \
                        SHUFFLE_BYTES_RTOL * first.spark.shuffle_write_bytes:
                    f.append(f"shuffle bytes {p.spark.shuffle_write_bytes} != "
                             f"{first.spark.shuffle_write_bytes}")
                # the shuffles must repeat; the result stages need not: the
                # connected-components edge probe (limit + collect) scans as
                # many partitions as adaptive execution leaves it, so passes
                # run 25 or 26 stages in total
                if p.spark.shuffle_stages != first.spark.shuffle_stages:
                    f.append(f"shuffle stage count {p.spark.shuffle_stages} != "
                             f"{first.spark.shuffle_stages}")
            passes.append(p)
            fails.append(f)
        else:
            fails.append(["pass raised"])
        done = time.monotonic() - t_measure >= args.seconds and len(fails) >= wl.min_passes
        if done or time.monotonic() - T_START > PASS_DEADLINE_S:
            break
    ok = [p for p, f in zip(passes, fails) if not f]
    attempted = len(fails)
    recall_vals = [checks.recall(p.assign, pairs) for p in passes if p.assign is not None]
    self_test = checks.self_test(ok[0].assign, truth, threshold) if ok else ["no passing pass"]
    return {
        "passes": passes, "fails": fails, "errors": errors, "ok": ok,
        "attempted": attempted, "recall": statistics.median(recall_vals) if recall_vals else 0.0,
        "self_test": self_test,
    }


def e2e_metrics(setup_s, wl, res, peak_rss) -> dict:
    ps = res["passes"]
    med = statistics.median
    return {
        "setup_s": (setup_s, "s"),
        "turns_per_s": (wl.n_turns / med(p.wall_s for p in ps) if ps else 0.0, "turns/s"),
        "cpu_s": (med(p.cpu_s for p in ps) if ps else 0.0, "CPU-s"),
        "shuffle_mb": (med(p.spark.shuffle_write_bytes for p in ps) / MB if ps else 0.0, "MB"),
        "peak_rss_mb": (peak_rss, "MB"),
        "dup_pair_recall": (res["recall"], "ratio"),
        "success_rate": (len(res["ok"]) / res["attempted"], "ratio"),
    }


def layer_metrics(tr, e2e_pass, first_pass_s, start_s, kern, host) -> dict:
    def span(name):
        return tr.get(name) or {"wall_s": 0.0, "cpu_s": 0.0, "counts": {},
                                "spark": {"shuffle_write_bytes": 0, "stages": 0, "jobs": 0,
                                          "task_max_s": 0.0, "task_p50_s": 0.0}}

    def c(name, key):
        return span(name)["counts"].get(key, 0)

    out = {
        "session.start_s": (start_s, "s"),
        "session.first_pass_s": (first_pass_s, "s"),
        "session.first_pass_ratio": (first_pass_s / e2e_pass.wall_s, "ratio"),
    }
    text_mb = c("transcripts", "text_mb")
    for name in ("transcripts", "sketch", "lsh", "verify", "pairing", "connected_components", "delta"):
        s = span(name)
        out[f"{name}.wall_s"] = (s["wall_s"], "s")
        out[f"{name}.cpu_s"] = (s["cpu_s"], "CPU-s")
        if name in ("transcripts", "lsh", "verify", "delta"):
            out[f"{name}.shuffle_mb"] = (s["spark"]["shuffle_write_bytes"] / MB, "MB")
    out["transcripts.text_mb"] = (text_mb, "MB")
    sk = span("sketch")
    out["sketch.cpu_s_per_mb"] = (sk["cpu_s"] / text_mb if text_mb else 0.0, "CPU-s/MB")
    out["sketch.task_max_s"] = (sk["spark"]["task_max_s"], "s")
    out["sketch.task_p50_s"] = (sk["spark"]["task_p50_s"], "s")
    for k, v in kern.items():
        out[f"kernels_batch.{k}"] = (v, "ms/MB")
    raw, distinct = c("lsh", "raw_pairs"), c("lsh", "distinct_pairs")
    for key in ("raw_pairs", "distinct_pairs", "exact_pairs", "dropped_buckets"):
        out[f"lsh.{key}"] = (c("lsh", key), "count")
    out["lsh.distinct_ratio"] = (distinct / raw if raw else 0.0, "ratio")
    for key in ("pairs_in", "pairs_scored", "pairs_accepted"):
        out[f"verify.{key}"] = (c("verify", key), "count")
    pin = c("verify", "pairs_in")
    out["verify.accept_ratio"] = (c("verify", "pairs_accepted") / pin if pin else 0.0, "ratio")
    for key in ("edges", "distributed", "iterations", "clusters"):
        out[f"connected_components.{key}"] = (c("connected_components", key), "count")
    d = span("delta")
    out["delta.stages"] = (d["spark"]["stages"], "count")
    out["delta.jobs"] = (d["spark"]["jobs"], "count")
    out["delta.candidate_pairs"] = (c("delta", "candidate_pairs"), "count")
    for key, unit in (("write_s", "s"), ("rows_written", "count"), ("bytes_written", "bytes"),
                      ("files_written", "count"), ("store_mb_per_text_mb", "ratio")):
        out[f"catalog.{key}"] = (c("catalog", key), unit)
    st = e2e_pass.spark
    out.update({
        "spark.stages": (st.stages, "count"),
        "spark.tasks": (st.tasks, "count"),
        "spark.gc_s": (st.gc_s, "s"),
        "spark.spill_mb": (st.spill_bytes / MB, "MB"),
        "spark.task_max_s": (st.task_max_s, "s"),
        "trace.overhead_s": (span("pass")["wall_s"] - e2e_pass.wall_s, "s"),
        "host.steal_pct": (host.steal_pct(), "%"),
        "host.load1_max": (host.max_load(), "load"),
    })
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--run-dir", required=True)
    args = ap.parse_args()

    host = HostWatch()
    cpus = len(os.sched_getaffinity(0))
    spark = session(cpus, args.run_dir)
    start_s = time.monotonic() - T_START
    meter = SparkMeter(spark)
    wl = WORKLOADS[args.workload](spark, args.seed, args.run_dir)

    reps = []
    for i in range(SETUP_REPEATS):
        if i:
            wl.drop_inputs()
        t0 = time.monotonic()
        wl.setup_inputs()
        reps.append(time.monotonic() - t0)
    t0 = time.monotonic()
    wl.setup_once()
    once_s = time.monotonic() - t0
    setup_s = start_s + statistics.median(reps) + once_s

    t0 = time.monotonic()
    truth = wl.truth()
    truth_s = time.monotonic() - t0
    warm = []
    for _ in range(wl.warmups):
        t0 = time.monotonic()
        wl.warmup()
        warm.append(time.monotonic() - t0)
    first_pass_s = warm[0]

    diag = {
        "workload": args.workload, "seed": args.seed, "cpus": cpus, "n_turns": wl.n_turns,
        "session_start_s": start_s, "setup_input_reps_s": reps, "setup_once_s": once_s,
        "warmup_pass_s": warm, "truth_s": truth_s, "planted_pairs": len(truth.pairs),
        "recall_pairs": len(truth.recall_pairs(wl.cfg.jaccard_threshold)),
    }
    if args.trace == 0:
        res = measure(args, wl, meter, host, truth)
        peak = tree_peak_rss_mb()
        metrics = e2e_metrics(setup_s, wl, res, peak)
        attempted, failed = res["attempted"], res["attempted"] - len(res["ok"])
        problems = [f for fs in res["fails"] for f in fs] + res["errors"] + res["self_test"]
        diag.update(
            pass_wall_s=[p.wall_s for p in res["passes"]],
            pass_cpu_s=[p.cpu_s for p in res["passes"]],
            pass_shuffle_bytes=[p.spark.shuffle_write_bytes for p in res["passes"]],
            pass_shuffle_records=[p.spark.shuffle_write_records for p in res["passes"]],
            pass_stages=[p.spark.stages for p in res["passes"]],
            pass_shuffle_stages=[p.spark.shuffle_stages for p in res["passes"]],
            pass_jobs=[p.spark.jobs for p in res["passes"]],
        )
    else:
        e2e = Pass(wl, meter, host)
        tr = tracing.Tracer(meter)
        wl.prepare_pass()
        traced = wl.traced_pass(tr)
        kern = tracing.kernel_timings(wl.sample_texts(), wl.cfg.sketch)
        metrics = layer_metrics(tr, e2e, first_pass_s, start_s, kern, host)
        problems = checks.check_assignment(e2e.assign, truth)
        if checks.as_mapping(traced) != e2e.assign:
            problems.append("traced pass clusters differ from the untraced pass")
        problems += checks.self_test(e2e.assign, truth, wl.cfg.jaccard_threshold) \
            if not problems else []
        attempted, failed = 2, int(bool(problems))
        out_dir = os.path.join(REPO, ".perfbench_run", "traces")
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as fh:
            json.dump({"spans": tr.spans, "diagnostics": diag}, fh, indent=1)
    diag.update(problems=problems[:20], steal_pct=host.steal_pct(), load1_max=host.max_load(),
                run_s=time.monotonic() - T_START)
    spark.stop()
    result = {
        "correct": not problems,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    with open(os.path.join(args.run_dir, "result.json"), "w") as fh:
        json.dump({"diagnostics": diag, "result": result}, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
