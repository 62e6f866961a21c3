#!/usr/bin/env python3
"""Round-6 optimization harness: per-query noop-sink timings.

NOT part of the frozen measurement contract (bench.py is).  Guide §1.4/§1.5:
each unit is timed against the noop sink with a job description, repeated
$SPARK_GRAFT_BENCH_REPEATS times (default 2), reporting min and spread.

Usage:
  python bench_extra.py queries [sf_dir] [name,...]   # heavy declared queries (noop)

For the dedup pipeline's per-layer split (sketch, LSH, verify, CC), run the
engine itself traced, with its clusters checked against an untraced pass:
  python3 perfbench/run.py --workload transcripts_dedup --seed 1 --seconds 10 --trace 1
(or --workload documents_verify).
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from minimizer_jaccard_estimator_spark.plans.session import get_spark  # noqa: E402

REPEATS = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPEATS", "2")))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def make_timer(spark, timings, spreads):
    def timed(name, action):
        spark.sparkContext.setJobDescription(name)
        walls, out = [], None
        for _ in range(REPEATS):
            t0 = time.monotonic()
            out = action()
            walls.append(time.monotonic() - t0)
        spark.sparkContext.setJobDescription(None)
        timings[name] = round(min(walls), 3)
        spreads[name] = round(max(walls) - min(walls), 3)
        print(f"  {name}: {timings[name]} (+{spreads[name]})", file=sys.stderr)
        return out

    return timed


def main() -> None:
    what = sys.argv[1] if len(sys.argv) > 1 else "queries"
    if what != "queries":
        sys.exit(__doc__)
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark(app_name=f"mje-bench-extra-{what}", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    timed = make_timer(spark, timings, spreads)

    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf1.0"
    qmap = entry_mod.queries()
    names = sys.argv[3].split(",") if len(sys.argv) > 3 else [
        "ngram_jaccard", "j1_pair_zip_join", "a1_multiset_count",
        "join_agg_revenue", "token_count", "ann_cosine_topk",
        "events_window",
    ]
    for name in names:
        timed(name, lambda name=name: noop(qmap[name](spark, sf_dir)))

    print(json.dumps({"what": what, "timings": timings, "spreads": spreads,
                      "repeats": REPEATS}))
    spark.stop()


if __name__ == "__main__":
    main()
