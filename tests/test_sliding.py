"""Sliding-Jaccard parity: our O(n) vectorized operator vs the reference CLI
``sliding_jaccard.py`` run as a subprocess on the same FASTA input, row for
row, in BOTH minimizer modes (those cases skip without a reference
checkout)."""

from __future__ import annotations

import random
import subprocess
import sys

import numpy as np
import pytest

from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
from minimizer_jaccard_estimator_spark.operators.sliding import (
    jaccard_distribution,
    sliding_jaccard,
    sliding_jaccard_kernel,
)
from tests.conftest import mutate_dna, random_dna, reference_script

K, W = 8, 5


def _make_fixture(tmp_path):
    rng = random.Random(77)
    query = random_dna(rng, 60)
    refs = []
    # ref0 embeds a mutated copy of the query (high-J windows exist);
    # ref1 is unrelated; ref2 repeats ref0's prefix twice (duplicate kmers);
    # ref3 is shorter than the query (must be skipped)
    r0 = random_dna(rng, 80) + mutate_dna(rng, query, 0.05) + random_dna(rng, 60)
    refs.append(("ref0", r0))
    refs.append(("ref1", random_dna(rng, 150)))
    refs.append(("ref2", r0[:70] * 2))
    refs.append(("ref3", random_dna(rng, 40)))

    qf = tmp_path / "query.fa"
    qf.write_text(f">query\n{query}\n")
    rf = tmp_path / "refs.fa"
    rf.write_text("".join(f">{n}\n{s}\n" for n, s in refs))
    return query, refs, str(qf), str(rf)


def _run_reference(qf, rf, mode):
    with open(rf) as stdin:
        out = subprocess.run(
            [sys.executable, reference_script("sliding_jaccard.py"),
             qf, f"K={K}", f"W={W}", f"--minimizers:{mode}"],
            stdin=stdin, capture_output=True, text=True, check=True,
        )
    rows = []
    for line in out.stdout.splitlines():
        if line.startswith("#") or not line.strip():
            continue
        f = line.split("\t")
        # queryName qLen refName refStart refEnd w k nI nU J nIw nUw Jw
        rows.append((f[2], int(f[3]), int(f[4]), int(f[7]), int(f[8]), float(f[9]),
                     int(f[10]), int(f[11]), float(f[12])))
    return rows


@pytest.mark.parametrize("mode", ["local", "global"])
def test_sliding_matches_reference_cli(spark, tmp_path, mode):
    query, refs, qf, rf = _make_fixture(tmp_path)
    expected = _run_reference(qf, rf, mode)
    assert expected, "reference produced no rows"

    cfg = SketchConfig(k=K, w=W, hash_type="minimap2", hash_seed=0, mode="dna",
                       num_perm=1, lsh_bands=1)
    refs_df = spark.createDataFrame(refs, ["name", "seq"])
    got = [
        (r["ref_name"], r["ref_start"], r["ref_end"], r["i_kmer"], r["u_kmer"],
         round(r["j_kmer"], 6), r["i_mini"], r["u_mini"], round(r["j_mini"], 6))
        for r in sliding_jaccard(refs_df, "query", query, cfg, minimizer_mode=mode)
        .orderBy("ref_name", "ref_start").collect()
    ]
    exp = [(n, s, e, i, u, round(j, 6), im, um, round(jm, 6))
           for n, s, e, i, u, j, im, um, jm in sorted(expected)]
    assert len(got) == len(exp)
    for g, x in zip(got, exp):
        assert g[:5] == x[:5], (g, x)
        assert g[5] == pytest.approx(x[5], abs=1e-6)
        assert g[6:8] == x[6:8], (g, x)
        assert g[8] == pytest.approx(x[8], abs=1e-6)
    # ref3 (shorter than query) must be absent
    assert not any(g[0] == "ref3" for g in got)


def test_query_shorter_than_w_yields_empty_mini_sets():
    """B < w: every window's local winnow is empty — J(Q,R;w)=0, U=|Qmini|=0."""
    rng = random.Random(3)
    q = random_dna(rng, K + 2)  # 3 kmers < w=5
    r = random_dna(rng, 100)
    cfg = SketchConfig(k=K, w=W, hash_type="minimap2", mode="dna", num_perm=1, lsh_bands=1)
    fp_r = cfg.fingerprints(r)
    i_k, u_k, j_k, i_m, u_m, j_m = sliding_jaccard_kernel(
        fp_r, cfg.hash_sequence(r), np.unique(cfg.fingerprints(q)),
        np.empty(0, dtype=np.uint64), 3, W, "local",
    )
    assert (i_m == 0).all() and (u_m == 0).all() and (j_m == 0.0).all()
    assert i_k.shape[0] == fp_r.shape[0] - 3 + 1


def test_distribution_bucket_rule(spark):
    df = spark.createDataFrame([(0.004,), (0.005,), (0.094,), (0.096,)], ["j_kmer"])
    rows = {r["bucket"]: (r["cnt"], r["center"])
            for r in jaccard_distribution(df, "j_kmer", 0.01, group_cols=()).collect()}
    # floor((v + 0.005)/0.01): 0.004->0, 0.005->1, 0.094->9, 0.096->10
    assert rows == {0: (1, 0.0), 1: (1, 0.01), 9: (1, 0.09), 10: (1, 0.10)}


def test_max_length_truncation_semantics(spark):
    """--maxlength parity: shorter-than-query check uses the ORIGINAL length,
    truncation applies afterwards (sliding_jaccard.py:255-263)."""
    from pyspark.sql import Row

    CFG_DNA = SketchConfig(k=4, w=3, hash_type="minimap2", mode="dna", num_perm=1, lsh_bands=1)
    q = "ACGTACGTAC"  # len 10
    refs = spark.createDataFrame([
        Row(name="long", seq="ACGTACGTACGTACGTACGT"),   # len 20 -> truncated to 12
        Row(name="short", seq="ACGTACG"),               # len 7 < qlen -> dropped
    ])
    out = sliding_jaccard(refs, "q", q, CFG_DNA, minimizer_mode="local", max_length=12)
    rows = out.collect()
    names = {r["ref_name"] for r in rows}
    assert names == {"long"}
    # truncated to 12 bp with B = 10-k+1 query k-mers -> windows limited
    full = sliding_jaccard(refs.where("name='long'"), "q", q, CFG_DNA, minimizer_mode="local")
    assert len(rows) < len(full.collect())


def test_distribution_per_reference(spark):
    df = spark.createDataFrame(
        [("r1", 0.02), ("r1", 0.02), ("r2", 0.02)], ["ref_name", "j_kmer"]
    )
    rows = {(r["ref_name"], r["bucket"]): r["cnt"]
            for r in jaccard_distribution(df, "j_kmer", 0.01).collect()}
    assert rows == {("r1", 2): 2, ("r2", 2): 1}


def test_sliding_non_acgt_reference_semantics(spark):
    """Non-ACGT bases: warn-and-continue like the reference CLI — distinct
    bad k-mers stay distinct in the exact-Jaccard profile, and the hash path
    substitutes the sentinel instead of raising."""
    from pyspark.sql import Row

    cfg = SketchConfig(k=3, w=2, hash_type="minimap2", mode="dna",
                       num_perm=1, lsh_bands=1)
    q = "ACGTACGTAC"
    refs = spark.createDataFrame([
        Row(name="withN", seq="ACGTNACGTACGT"),
        Row(name="clean", seq="ACGTACGTACGTA"),
    ])
    out = sliding_jaccard(refs, "q", q, cfg, minimizer_mode="local").collect()
    names = {r["ref_name"] for r in out}
    assert names == {"withN", "clean"}  # no crash on N
    # 'ANA'-style kmers must not inflate intersection: every window j <= 1
    for r in out:
        assert 0.0 <= r["j_kmer"] <= 1.0
    # exact-substring window of the clean ref still scores 1.0
    best = max(r["j_kmer"] for r in out if r["ref_name"] == "clean")
    assert best == 1.0
