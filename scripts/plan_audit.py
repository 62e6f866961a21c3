#!/usr/bin/env python3
"""Dump the physical plans of the headline queries to PLANS.md, or capture
single declared queries' plans for a before/after diff.

The scale-critical plan properties (pushdown, pruning, broadcast, no
cartesian fallback, Arrow-not-pickle Python eval, no single-partition
window) are ASSERTED in tests/test_plans.py; this script materializes the
evidence for human review.

Usage: python scripts/plan_audit.py [sf_dir [suffix [query,query,...]]]

With a ``suffix``, each query's ``explain('formatted')`` goes to
``plans/r06/<query>_<suffix>.txt`` instead of PLANS.md (default queries:
``CAPTURE``), e.g.
``python scripts/plan_audit.py "$SPARK_GRAFT_SF_DIR" before ngram_jaccard,j1_pair_zip_join``.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

import __spark_entry__ as entry_mod  # noqa: E402
from minimizer_jaccard_estimator_spark.plans.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

CAPTURE = [
    "ngram_jaccard", "j1_pair_zip_join", "j3_word_jaccard",
    "a1_multiset_count", "join_agg_revenue", "token_count",
    "events_window", "minhash_lsh_candidates",
]

DELTA_NOTE = (
    "## delta ingestion plans (asserted, not dumped)\n\n"
    "`run_dedup_delta` needs a populated StageStore, so its plans are "
    "asserted in `tests/test_delta.py` instead of dumped here:\n"
    "`test_delta_probes_incremental_tables_not_corpus` — the candidate "
    "stage reads ONLY the narrow `bands`/`digests` probe tables (never "
    "rescans corpus `sketches`/`conv_text`);\n"
    "`test_delta_verify_prunes_corpus_sketch_scan` — every scan of the "
    "corpus sketches table inside the verify plan carries the pushed-down "
    "`In(conv_id, ...)` candidate-id filter (semi-join above 10k ids);\n"
    "connected components receives only the components touched by a new "
    "accepted edge (round 4), so no corpus-wide edge set enters the "
    "iterated CC shuffles.\n"
)

AUDIT = [
    ("ngram_jaccard", "filter + column pruning reach the parquet scan; "
     "shingle set ops are JVM higher-order functions"),
    ("join_agg_revenue", "small dims broadcast (BroadcastHashJoin), "
     "two-phase partial aggregation before the exchange"),
    ("j1_pair_zip_join", "size-gated consecutive pairing: below 1M rows "
     "(this fixture) ONE global-window job beats the ranged form's three "
     "metadata passes, so a SinglePartition window here is the intended "
     "plan; the at-scale ranged form (small_input_threshold=0, no "
     "SinglePartition exchange) is plan-asserted in tests/test_plans.py"),
    ("minimizer_sketch", "ArrowEvalPython (vectorized), never "
     "BatchEvalPython row pickling"),
    ("minhash_lsh_candidates", "band hashes JVM-side; count-sized buckets "
     "before collect_list; pair expansion reuses the join partitioning"),
    ("events_window", "partial HashAggregate -> exchange -> final"),
    ("ann_ivf_topk", "cell-pruned probe scan, broadcast query vector"),
]


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def capture(spark, qs, suffix: str, names: list[str]) -> None:
    out_dir = os.path.join(REPO, "plans", "r06")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(_plan(qs[name](spark, SF_DIR)))
        print(f"wrote {path}", file=sys.stderr)


def audit(spark, qs) -> None:
    out = [
        "# Physical-plan audit",
        "",
        f"`explain('formatted')` of the headline queries at `{SF_DIR}` "
        "(regenerate: `python scripts/plan_audit.py`).  The properties "
        "called out per query are asserted in `tests/test_plans.py`.",
        "",
    ]
    out += [DELTA_NOTE]
    for name, note in AUDIT:
        plan = _plan(qs[name](spark, SF_DIR))
        out += [f"## {name}", "", f"_{note}_", "", "```", plan.rstrip(), "```", ""]
    with open(os.path.join(REPO, "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print(f"wrote PLANS.md ({len(AUDIT)} plans)")


def main() -> None:
    spark = get_spark(app_name="plan-audit", cpus=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = entry_mod.queries()
    if len(sys.argv) > 2:
        capture(spark, qs, sys.argv[2],
                sys.argv[3].split(",") if len(sys.argv) > 3 else CAPTURE)
    else:
        audit(spark, qs)
    spark.stop()


if __name__ == "__main__":
    main()
