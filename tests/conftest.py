"""Shared test fixtures.

The reference implementation at REFERENCE_DIR is importable as the ORACLE
for parity tests (we run its pure-Python code directly and compare outputs;
our engine never imports it at runtime).  Parity tests reach it only through
``reference_module`` / ``reference_script``, so they skip, with the reason,
where no reference checkout exists and every in-repo check still runs.
"""

from __future__ import annotations

import os
import random
import sys

import numpy as np
import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
REFERENCE_DIR = "/root/reference"

sys.path.insert(0, REPO_ROOT)
if os.path.isdir(REFERENCE_DIR) and REFERENCE_DIR not in sys.path:
    sys.path.append(REFERENCE_DIR)


def reference_module(name: str):
    """Import a module of the reference implementation, or skip the test."""
    return pytest.importorskip(
        name, reason=f"reference oracle {name} not importable (no checkout at {REFERENCE_DIR})"
    )


def reference_script(name: str) -> str:
    """Path of a reference CLI script, or skip the test."""
    path = os.path.join(REFERENCE_DIR, name)
    if not os.path.isfile(path):
        pytest.skip(f"reference CLI {name} absent (no checkout at {REFERENCE_DIR})")
    return path


def random_dna(rng: random.Random, n: int) -> str:
    return "".join(rng.choice("ACGT") for _ in range(n))


def mutate_dna(rng: random.Random, seq: str, rate: float) -> str:
    out = []
    for c in seq:
        if rng.random() < rate:
            out.append(rng.choice([x for x in "ACGT" if x != c]))
        else:
            out.append(c)
    return "".join(out)


@pytest.fixture(scope="session")
def spark():
    from minimizer_jaccard_estimator_spark.plans.session import get_spark

    s = get_spark(app_name="mje-tests", cpus=4, shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def rng():
    return random.Random(42)


@pytest.fixture()
def np_rng():
    return np.random.default_rng(42)
