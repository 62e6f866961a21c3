"""Output checks behind ``success_rate`` and ``dup_pair_recall``.

A pass succeeds when its cluster assignment is a complete, canonically
labelled partition of the input ids, links every planted pair that no
correct engine can miss and merges no two planted families (where the
workload has families).  worker.py adds that the pass must repeat the first
timed pass of its run.
"""

from __future__ import annotations

import pandas as pd

from inputs import Truth

# planted pairs at or above this exact minimizer Jaccard must be linked: at
# 32 bands the chance that LSH misses such a pair is far below 1e-9, and
# exact copies are linked by the digest path whatever their Jaccard
MUST_LINK_J = 0.9


def as_mapping(clusters: pd.DataFrame) -> dict[str, str] | None:
    """conv_id -> cluster_id, or None when an id is assigned twice."""
    if clusters["conv_id"].duplicated().any():
        return None
    return dict(zip(clusters["conv_id"].astype(str), clusters["cluster_id"].astype(str)))


def recall(assign: dict[str, str], pairs: list[tuple[str, str]]) -> float:
    if not pairs:
        return 0.0
    hit = sum(1 for a, b in pairs if a in assign and assign.get(a) == assign.get(b))
    return hit / len(pairs)


def check_assignment(assign: dict[str, str] | None, truth: Truth) -> list[str]:
    """Failures of one assignment against the planted truth ([] = ok)."""
    if assign is None:
        return ["an id is assigned to two clusters"]
    fails = []
    if set(assign) != truth.ids:
        fails.append(
            f"assignment covers {len(assign)} ids, input has {len(truth.ids)} "
            f"({len(set(assign) ^ truth.ids)} differ)"
        )
    members: dict[str, list[str]] = {}
    for cid, label in assign.items():
        members.setdefault(label, []).append(cid)
    bad_labels = sum(1 for label, ms in members.items() if label != min(ms))
    if bad_labels:
        fails.append(f"{bad_labels} clusters are not labelled by their min id")
    missed = [(a, b) for a, b, j in truth.pairs if j >= MUST_LINK_J and assign.get(a) != assign.get(b)]
    if missed:
        fails.append(f"{len(missed)} planted pairs with J >= {MUST_LINK_J} split, e.g. {missed[0]}")
    if truth.family is not None:
        mixed = sum(1 for ms in members.values() if len({truth.family[m] for m in ms if m in truth.family}) > 1)
        if mixed:
            fails.append(f"{mixed} clusters merge distinct planted families")
    return fails


def split_one_pair(assign: dict[str, str], truth: Truth) -> dict[str, str]:
    """A copy of ``assign`` with one must-link planted pair split: the
    self-test input that every check above must reject."""
    for a, b, j in truth.pairs:
        if j >= MUST_LINK_J and assign.get(a) == assign.get(b):
            out = dict(assign)
            out[max(a, b)] = max(a, b)
            return out
    raise RuntimeError("no linked must-link pair to split")


def self_test(assign: dict[str, str], truth: Truth, threshold: float) -> list[str]:
    """Show that the checks have teeth: splitting one planted pair must fail
    the pass checks and lower recall.  Returns failures of the self-test."""
    bad = split_one_pair(assign, truth)
    pairs = truth.recall_pairs(threshold)
    fails = []
    if not check_assignment(bad, truth):
        fails.append("self-test: a split planted pair passed the output checks")
    if not recall(bad, pairs) < recall(assign, pairs):
        fails.append("self-test: a split planted pair did not lower dup_pair_recall")
    return fails
