"""Physical-plan regression tests: the plans Catalyst actually produces for
the driver queries must keep their scale-critical properties — filters and
column pruning reach the parquet scan, small dims broadcast, nothing falls
back to a cartesian product (except the one intentional crossJoin oracle),
and the hot sketch path stays on Arrow eval, not row-at-a-time Python.
"""

from __future__ import annotations

import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"


def _plan(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def test_filter_and_projection_reach_parquet_scan(spark):
    """ngram_jaccard filters short docs and reads only (doc_id, text): both
    must be visible at the scan (PushedFilters + pruned ReadSchema)."""
    plan = _plan(entry_mod.queries()["ngram_jaccard"](spark, SF_DIR))
    assert "PushedFilters" in plan
    assert "IsNotNull" in plan or "GreaterThan" in plan
    # ReadSchema pruned to the used columns, never the whole documents table
    read_schemas = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read_schemas and all(
        "source" not in l and "lang" not in l for l in read_schemas
    )


def test_small_dims_broadcast_in_join_agg(spark):
    """join_agg_revenue joins lineitem to orders/customer/nation/region —
    the small dimension sides must broadcast, not shuffle."""
    plan = _plan(entry_mod.queries()["join_agg_revenue"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_no_accidental_cartesian_products(spark):
    """No driver query may fall back to a cartesian/nested-loop product,
    with two documented exceptions: embedding_neardup (its crossJoin IS the
    all-pairs oracle for the LSH scale path) and ann_cosine_topk (a
    deliberate broadcast of the ONE-row query vector — the correct
    broadcast-the-tiny-side plan, not an accident)."""
    offenders = {}
    for name, q in entry_mod.queries().items():
        plan = _plan(q(spark, SF_DIR))
        if "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan:
            offenders[name] = True
    assert set(offenders) <= {"embedding_neardup", "ann_cosine_topk"}, offenders


def test_sketch_path_is_arrow_not_python_udf(spark):
    """The minimizer sketch stage must run as ArrowEvalPython (vectorized),
    never BatchEvalPython (row-at-a-time pickling)."""
    plan = _plan(entry_mod.queries()["minimizer_sketch"](spark, SF_DIR))
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    assert "BatchEvalPython" not in plan


def test_j1_pairing_has_no_single_partition_window(spark):
    """The at-scale consecutive-pairing plan must not contain a
    single-partition global window (the scale hazard the ranged operator
    removes); its window partitions by the range pid.  The operator
    size-gates to the cheap single-window form below 1M rows (VERDICT r02
    #5), so the scale plan is forced with small_input_threshold=0."""
    from minimizer_jaccard_estimator_spark.operators.pairing import (
        consecutive_pairs_ranged,
    )

    o = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", "o_totalprice"
    )
    plan = _plan(consecutive_pairs_ranged(o, "o_orderkey",
                                          small_input_threshold=0))
    # a global window shows as 'Window [...], [o_orderkey ASC...]' with no
    # partition spec and forces Exchange SinglePartition right before it
    assert "SinglePartition" not in plan
    # and the gate engages below threshold: the driver query's small-scale
    # plan is the one-window form (no 4-job metadata tax at parity scale)
    gated = _plan(entry_mod.queries()["j1_pair_zip_join"](spark, SF_DIR))
    assert "SinglePartition" in gated


@pytest.mark.parametrize("name", ["a1_multiset_count", "events_window"])
def test_aggregations_have_map_side_partial(spark, name):
    """groupBy aggregations must show two-phase hash aggregation (partial
    before the exchange) so the shuffle carries combined rows, not raw."""
    plan = _plan(entry_mod.queries()[name](spark, SF_DIR))
    assert "partial_" in plan.lower(), plan


def test_get_spark_keeps_spark_submit_master(tmp_path):
    """spark-submit sets no PYSPARK_SUBMIT_ARGS for a Python application, so
    get_spark must recognise the JVM it launched and keep its --master (and
    the stock Python daemon, which a --py-files package could not start)."""
    import os
    import subprocess
    import sys

    import pyspark

    from tests.conftest import REPO_ROOT

    script = tmp_path / "app.py"
    script.write_text(
        "from minimizer_jaccard_estimator_spark.plans.session import get_spark\n"
        "spark = get_spark(cpus=3)\n"
        "print('MASTER', spark.sparkContext.master)\n"
        "print('DAEMON', spark.conf.get('spark.python.daemon.module', 'stock'))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYSPARK_SUBMIT_ARGS", "PYSPARK_GATEWAY_PORT", "SPARK_MASTER_URL")}
    env["PYTHONPATH"] = REPO_ROOT
    env["PYSPARK_PYTHON"] = sys.executable
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    out = subprocess.run(
        [submit, "--master", "local[2]", "--conf", "spark.ui.enabled=false", str(script)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = dict(line.split(" ", 1) for line in out.stdout.splitlines()
                 if line.startswith(("MASTER ", "DAEMON ")))
    assert lines == {"MASTER": "local[2]", "DAEMON": "stock"}
