#!/usr/bin/env python3
"""Package the engine for ``spark-submit --py-files``.

Produces ``dist/minimizer_jaccard_estimator_spark.zip`` containing the
library package (no tests, no caches).  Cluster usage:

  spark-submit \
    --py-files dist/minimizer_jaccard_estimator_spark.zip \
    --conf spark.sql.adaptive.enabled=true \
    --conf spark.sql.adaptive.skewJoin.enabled=true \
    scripts/run_dedup_job.py --input <iceberg-or-parquet> --output <dir>

The zip import path is identical to the repo layout, so driver scripts only
``import minimizer_jaccard_estimator_spark`` — nothing else changes between
local[32] and a 1000-executor cluster.

A ``--py-files`` zip reaches Python workers per task, after the PySpark
daemon has started, so it cannot carry the engine's worker daemon
(``plans/worker_daemon.py``, which stops workers re-reading pyspark.zip and
the Spark jar at every task before Python 3.13).  Where the package is
installed on the executors, opt in with
``--conf spark.python.daemon.module=minimizer_jaccard_estimator_spark.plans.worker_daemon``.
"""

from __future__ import annotations

import os
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = "minimizer_jaccard_estimator_spark"


def build(out_dir: str | None = None) -> str:
    out_dir = out_dir or os.path.join(REPO, "dist")
    os.makedirs(out_dir, exist_ok=True)
    out = os.path.join(out_dir, f"{PKG}.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, dirs, files in os.walk(os.path.join(REPO, PKG)):
            dirs[:] = [d for d in dirs if d != "__pycache__"]
            for f in sorted(files):
                if not f.endswith(".py"):
                    continue
                full = os.path.join(root, f)
                zf.write(full, os.path.relpath(full, REPO))
    return out


if __name__ == "__main__":
    print(build())
