"""CLI flag coverage for the two reference-shaped job scripts: ``--canonical``
on both (reference ``jaccard_correction_test.py:128-129`` /
``sliding_jaccard.py:104-105``) and ``--inhibit-details`` on sliding
(reference ``sliding_jaccard.py:146-147``), each parity-checked against the
reference CLI run as a subprocess on the same input.

The scripts' ``main()`` runs in-process (argv monkeypatched) so the suite's
Spark session is reused instead of paying a JVM start per test.
"""

from __future__ import annotations

import importlib.util
import os
import random
import subprocess
import sys

import pytest

from tests.conftest import mutate_dna, random_dna, reference_script

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_RC = str.maketrans("ACGT", "TGCA")


def _revcomp(seq: str) -> str:
    return seq.translate(_RC)[::-1]


def _load_script(name: str):
    spec = importlib.util.spec_from_file_location(
        name, os.path.join(REPO, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def _run_main(monkeypatch, script: str, argv: list[str]) -> None:
    mod = _load_script(script)
    monkeypatch.setattr(sys, "argv", [script] + argv)
    mod.main()


def _read_tsv(spark, out_dir: str):
    return (
        spark.read.option("sep", "\t").option("header", True)
        .option("inferSchema", True).csv(out_dir)
    )


def test_pairwise_cli_canonical_matches_reference(spark, tmp_path, monkeypatch):
    """--canonical on run_pairwise_job == the reference CLI's --canonical on
    a pair where B is a mutated REVERSE COMPLEMENT of A: near-zero Jaccard
    without the flag, high with it (so the test also proves the flag is
    actually plumbed into the kernels, not merely parsed)."""
    rng = random.Random(11)
    a = random_dna(rng, 300)
    b = _revcomp(mutate_dna(rng, a, 0.03))
    fa = tmp_path / "pair.fa"
    fa.write_text(f">A\n{a}\n>B\n{b}\n")

    with open(fa) as stdin:
        out = subprocess.run(
            [sys.executable,
             reference_script("jaccard_correction_test.py"),
             "K=16", "W=8", "--canonical", "--inhibit:correction"],
            stdin=stdin, capture_output=True, text=True, check=True,
        )
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    header = lines[0].lstrip("#").split("\t")
    vals = dict(zip(header, lines[1].split("\t")))

    out_dir = str(tmp_path / "ours")
    _run_main(monkeypatch, "run_pairwise_job",
              [str(fa), "--k", "16", "--window", "8", "--canonical",
               "--inhibit-correction", "--out", out_dir])
    r = _read_tsv(spark, out_dir).collect()
    assert len(r) == 1
    got = r[0]
    assert got["i_exact"] == int(vals["I(A,B)"])
    assert got["u_exact"] == int(vals["U(A,B)"])
    assert got["j_exact"] == pytest.approx(float(vals["J(A,B)"]), abs=1e-6)
    assert got["i_mini_avg"] == pytest.approx(float(vals["I(A,B;w)"]), abs=1e-6)
    assert got["j_mini_avg"] == pytest.approx(float(vals["J(A,B;w)"]), abs=1e-6)
    assert got["j_exact"] > 0.2  # revcomp pair only matches canonically

    # without the flag the same pair scores ~0 (flag actually changes config)
    out_nc = str(tmp_path / "ours_nc")
    _run_main(monkeypatch, "run_pairwise_job",
              [str(fa), "--k", "16", "--window", "8",
               "--inhibit-correction", "--out", out_nc])
    nc = _read_tsv(spark, out_nc).collect()[0]
    assert nc["j_exact"] < 0.05


def test_sliding_cli_canonical_matches_reference(spark, tmp_path, monkeypatch):
    """--canonical on run_sliding_job == reference sliding_jaccard.py
    --canonical, per window (query embedded reverse-complemented in the
    reference sequence)."""
    rng = random.Random(5)
    query = random_dna(rng, 50)
    ref = (random_dna(rng, 40) + _revcomp(mutate_dna(rng, query, 0.04))
           + random_dna(rng, 30))
    qf, rf = tmp_path / "q.fa", tmp_path / "r.fa"
    qf.write_text(f">query\n{query}\n")
    rf.write_text(f">ref0\n{ref}\n")

    with open(rf) as stdin:
        out = subprocess.run(
            [sys.executable, reference_script("sliding_jaccard.py"),
             str(qf), "K=16", "W=8", "--canonical", "--minimizers:local"],
            stdin=stdin, capture_output=True, text=True, check=True,
        )
    exp = {}
    for line in out.stdout.splitlines():
        if line.startswith("#") or not line.strip():
            continue
        f = line.split("\t")
        exp[int(f[3])] = (int(f[7]), int(f[8]), round(float(f[9]), 6),
                          int(f[10]), int(f[11]), round(float(f[12]), 6))
    assert exp and max(v[2] for v in exp.values()) > 0.2

    out_dir = str(tmp_path / "ours")
    _run_main(monkeypatch, "run_sliding_job",
              [str(qf), str(rf), "--k", "16", "--window", "8", "--canonical",
               "--out", out_dir])
    got = {
        r["ref_start"]: (r["i_kmer"], r["u_kmer"], round(r["j_kmer"], 6),
                         r["i_mini"], r["u_mini"], round(r["j_mini"], 6))
        for r in _read_tsv(spark, out_dir).collect()
    }
    assert set(got) == set(exp)
    for pos in exp:
        assert got[pos][:2] == exp[pos][:2], pos
        assert got[pos][2] == pytest.approx(exp[pos][2], abs=1e-6)
        assert got[pos][3:5] == exp[pos][3:5], pos
        assert got[pos][5] == pytest.approx(exp[pos][5], abs=1e-6)


def test_sliding_cli_inhibit_details(spark, tmp_path, monkeypatch, capsys):
    """--inhibit-details suppresses the per-window table: with --distribution
    only the histogram is emitted; alone, nothing is (reference
    --inhibit:details semantics — the table is the only stdout report)."""
    rng = random.Random(7)
    query = random_dna(rng, 50)
    ref = random_dna(rng, 30) + mutate_dna(rng, query, 0.05) + random_dna(rng, 20)
    qf, rf = tmp_path / "q.fa", tmp_path / "r.fa"
    qf.write_text(f">query\n{query}\n")
    rf.write_text(f">ref0\n{ref}\n")

    out_dir = str(tmp_path / "dist")
    _run_main(monkeypatch, "run_sliding_job",
              [str(qf), str(rf), "--k", "16", "--window", "8",
               "--distribution", "j_kmer", "--inhibit-details",
               "--out", out_dir])
    dist = _read_tsv(spark, out_dir)
    assert "bucket" in "".join(dist.columns).lower() or "j_kmer" in dist.columns[1].lower() \
        or len(dist.columns) < 6  # histogram shape, not the 9-col window table
    assert "ref_start" not in dist.columns

    # no distribution requested: nothing to report, loudly
    capsys.readouterr()
    _run_main(monkeypatch, "run_sliding_job",
              [str(qf), str(rf), "--k", "16", "--window", "8",
               "--inhibit-details"])
    cap = capsys.readouterr()
    assert cap.out.strip() == ""
    assert "nothing to report" in cap.err
