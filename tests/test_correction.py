"""Bias-correction parity: our vectorized correction kernel vs the reference
``jaccard_correction`` run directly on the same hash sequences (those cases
skip without a reference checkout), plus one fixed pair pinned in
``tests/golden_vectors.json`` that runs everywhere."""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pytest

from minimizer_jaccard_estimator_spark import correction as C
from minimizer_jaccard_estimator_spark import kernels as K
from minimizer_jaccard_estimator_spark import pairwise as P
from tests.conftest import mutate_dna, random_dna, reference_module, reference_script

GOLDEN = os.path.join(os.path.dirname(__file__), "golden_vectors.json")


@pytest.fixture(scope="module")
def ref_mod():
    mod = reference_module("jaccard_correction_test")
    mod.debug = []  # module global normally set in main()
    return mod


def _ref_correction(ref_mod, hash_a, hash_b, w):
    ref_mod.tVal = None  # reference caches tVal per w; reset between configs
    return ref_mod.jaccard_correction("A", tuple(int(x) for x in hash_a),
                                      "B", tuple(int(x) for x in hash_b), w)


def _dupfree_pair(seed: int, n: int, k: int, rate: float):
    """Random DNA pair (mutated copy) whose hash sequences are duplicate-free
    under minimap2 seed 0 (rejection-sampled), same length."""
    rng = random.Random(seed)
    while True:
        a = random_dna(rng, n)
        b = mutate_dna(rng, a, rate)
        ha = K.hash_dna_sequence(a, k, "minimap2", 0)
        hb = K.hash_dna_sequence(b, k, "minimap2", 0)
        if (np.unique(ha).size == ha.size) and (np.unique(hb).size == hb.size):
            return a, b, ha, hb


@pytest.mark.parametrize("w,n,rate", [(5, 80, 0.05), (8, 200, 0.02), (20, 400, 0.1), (12, 300, 0.0)])
def test_correction_parity_random_pairs(ref_mod, w, n, rate):
    a, b, ha, hb = _dupfree_pair(1000 + w, n, 16, rate)
    ours = C.jaccard_correction(ha, hb, w)
    ref = _ref_correction(ref_mod, ha, hb, w)
    assert ours.script_d == ref.scriptD
    assert ours.jaccard_from_d == pytest.approx(ref.jaccardFromD, abs=1e-12)
    assert ours.script_c == pytest.approx(ref.scriptC, rel=1e-9)
    assert ours.bias == pytest.approx(ref.bias, rel=1e-9, abs=1e-12)


@pytest.mark.parametrize("w", [4, 7])
def test_configuration_counts_parity_full_tensor(ref_mod, w):
    a, b, ha, hb = _dupfree_pair(77 + w, 120, 12, 0.08)
    ours = C.configuration_counts(ha, hb, w)
    ref = _ref_correction(ref_mod, ha, hb, w)
    ref_counts = {}
    for s, per in ref.nConfigurations.items():
        for cfg, cnt in per.items():
            if cnt:
                ref_counts[(s, *cfg)] = cnt
    assert ours == ref_counts


def test_position_map_parity_and_duplicate_detection(ref_mod):
    a, b, ha, hb = _dupfree_pair(5, 150, 14, 0.05)
    ours = C.position_map(ha, hb)
    ref_map = ref_mod.shared_hash_positions(tuple(int(x) for x in ha), tuple(int(x) for x in hb))
    expect = np.full(ha.size, -1, dtype=np.int64)
    for ap, bp in ref_map.items():
        expect[ap] = bp
    assert np.array_equal(ours, expect)
    with pytest.raises(C.DuplicateHashError):
        C.position_map(np.array([1, 2, 1], dtype=np.uint64), np.array([3], dtype=np.uint64))


def test_identical_pair_bias_zero_ish(ref_mod):
    """A vs A: every window pair on the diagonal shares everything; sanity
    bounds rather than exact values."""
    _, _, ha, _ = _dupfree_pair(9, 150, 16, 0.0)
    ours = C.jaccard_correction(ha, ha, 10)
    ref = _ref_correction(ref_mod, ha, ha, 10)
    # A vs A: car==0 & cbr==0 only on the diagonal -> scriptD = L - w
    assert ours.script_d == ref.scriptD == ha.size - 10
    assert ours.script_c == pytest.approx(ref.scriptC, rel=1e-9)


def _ref_correction_v04(hash_a, hash_b, w, debug):
    ref_v04 = reference_module("jaccard_correction_test_v_0_4")

    ref_v04.debug = debug  # module global normally set in main()
    ref_v04.g_func_hash = {}  # per-run cache (keyed on w,s,alpha,beta — safe, but reset anyway)
    return ref_v04.jaccard_correction("A", tuple(int(x) for x in hash_a),
                                      "B", tuple(int(x) for x in hash_b), w)


@pytest.mark.parametrize("w,n,rate", [(5, 80, 0.05), (8, 200, 0.02), (12, 300, 0.0)])
def test_correction_v04_parity_random_pairs(w, n, rate):
    """version='v0.4' reproduces the frozen v0.4 snapshot's g_func scriptC
    (``jaccard_correction_test_v_0_4.py:447-490``) — the earlier manuscript's
    formulas kept runnable as a regression anchor."""
    a, b, ha, hb = _dupfree_pair(4000 + w, n, 16, rate)
    ours = C.jaccard_correction(ha, hb, w, version="v0.4")
    ref = _ref_correction_v04(ha, hb, w, debug=[])
    assert ours.script_d == ref.scriptD
    assert ours.jaccard_from_d == pytest.approx(ref.jaccardFromD, abs=1e-12)
    assert ours.script_c == pytest.approx(ref.scriptC, rel=1e-9)
    assert ours.bias == pytest.approx(ref.bias, rel=1e-9, abs=1e-12)
    # v0.4 differs from v0.6 by construction on real pairs (different C)
    v06 = C.jaccard_correction(ha, hb, w)
    assert v06.script_d == ours.script_d  # D is version-independent


@pytest.mark.parametrize("w,n", [(6, 120), (10, 250)])
def test_correction_v04_omitted_term_toggle(w, n):
    """omit_0_3_0_term=True reproduces the reference's --debug=0.3.0 mode
    (the term omitted from an earlier manuscript version,
    ``jaccard_correction_test_v_0_4.py:467-470``)."""
    a, b, ha, hb = _dupfree_pair(6000 + w, n, 16, 0.05)
    ours = C.jaccard_correction(ha, hb, w, version="v0.4", omit_0_3_0_term=True)
    ref = _ref_correction_v04(ha, hb, w, debug=["0.3.0"])
    assert ours.script_c == pytest.approx(ref.scriptC, rel=1e-9)
    assert ours.bias == pytest.approx(ref.bias, rel=1e-9, abs=1e-12)
    # the toggle must actually change C whenever the (0,1,0,1) config occurs
    full = C.jaccard_correction(ha, hb, w, version="v0.4")
    has_0101 = any(k[1:] == (0, 1, 0, 1) and v for k, v in full.n_configurations.items())
    if has_0101:
        assert full.script_c != ours.script_c


def test_config_report_matches_reference_cli(spark, tmp_path):
    """config_report's long rows == the reference CLI's --report:configs
    17x(w+1) wide columns (``jaccard_correction_test.py:256-282,371-413``)."""
    import re
    import subprocess
    import sys

    from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
    from minimizer_jaccard_estimator_spark.operators.pairwise_analytics import (
        VIABLE_CONFIGURATIONS, config_report)
    w, k = 8, 16
    a, b, _, _ = _dupfree_pair(321, 150, k, 0.06)
    fa = tmp_path / "pair.fa"
    fa.write_text(f">A\n{a}\n>B\n{b}\n")

    with open(fa) as stdin:
        out = subprocess.run(
            [sys.executable, reference_script("jaccard_correction_test.py"),
             f"K={k}", f"W={w}", "--report:configs"],
            stdin=stdin, capture_output=True, text=True, check=True,
        )
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    header = lines[0].lstrip("#").split("\t")
    data = lines[1].split("\t")
    expect = {}
    pat = re.compile(r"N\((\d),(\d);(\d),(\d);(\d+)\)")
    for col, val in zip(header, data):
        m = pat.fullmatch(col)
        if m:
            cal, car, cbl, cbr, s = (int(x) for x in m.groups())
            expect[(s, cal, car, cbl, cbr)] = int(val)
    assert len(expect) == 17 * (w + 1)

    cfg = SketchConfig(k=k, w=w, hash_type="minimap2", hash_seed=0, mode="dna",
                       num_perm=1, lsh_bands=1)
    pairs = spark.createDataFrame([("A", a, "B", b)],
                                  ["name_a", "text_a", "name_b", "text_b"])
    got = {(r["s"], r["cal"], r["car"], r["cbl"], r["cbr"]): r["n"]
           for r in config_report(pairs, cfg).collect()}
    # our rows are the FULL sparse tensor (a superset: the reference computes
    # all configs but prints only the 17 its formulas use) — every reported
    # (config, s) cell must agree exactly, zeros included
    for key, n in got.items():
        if key[1:] in VIABLE_CONFIGURATIONS:
            assert expect.get(key, 0) == n, f"mismatch at {key}"
    for key, n in expect.items():
        if n:
            assert got.get(key, 0) == n, f"missing {key}"
    # total config mass == (L-w)^2 exactly (reference configurations_count)
    n_hashes = 150 - k + 1
    assert sum(got.values()) == (n_hashes - w) ** 2


def test_config_report_wide_column_layout_parity(spark, tmp_path):
    """config_report_wide == the reference CLI's --report:configs N-columns
    BYTE for byte: same column names, same header order, same integer cell
    values (``jaccard_correction_test.py:270-282,404-413``).  Uses the same
    deterministic dup-free DNA pair as the long-form parity test (the
    reference dies on pairs with duplicate hashes)."""
    import subprocess
    import sys

    from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
    from minimizer_jaccard_estimator_spark.operators.pairwise_analytics import (
        config_report_wide, wide_config_columns)
    w, k = 8, 16
    a, b, _, _ = _dupfree_pair(321, 150, k, 0.06)
    fa = tmp_path / "pair.fa"
    fa.write_text(f">A\n{a}\n>B\n{b}\n")

    with open(fa) as stdin:
        out = subprocess.run(
            [sys.executable, reference_script("jaccard_correction_test.py"),
             f"K={k}", f"W={w}", "--report:configs"],
            stdin=stdin, capture_output=True, text=True, check=True,
        )
    lines = [ln for ln in out.stdout.splitlines() if ln.strip()]
    header = lines[0].lstrip("#").split("\t")
    data = lines[1].split("\t")
    first_n = next(i for i, c in enumerate(header) if c.startswith("N("))
    ref_cols, ref_vals = header[first_n:], data[first_n:]
    assert len(ref_cols) == 17 * (w + 1)

    cfg = SketchConfig(k=k, w=w, hash_type="minimap2", hash_seed=0, mode="dna",
                       num_perm=1, lsh_bands=1)
    pairs = spark.createDataFrame([("A", a, "B", b)],
                                  ["name_a", "text_a", "name_b", "text_b"])
    wide = config_report_wide(pairs, cfg)
    # column NAMES and ORDER match the reference header exactly
    assert wide.columns[2:] == ref_cols
    assert wide_config_columns(w) == ref_cols
    # and the one data row's cells are byte-identical as printed integers
    row = wide.collect()[0]
    got_vals = [str(row[c]) for c in ref_cols]
    assert got_vals == ref_vals


def test_pairwise_report_duplicates_columns(spark, ref_mod):
    """report_duplicates=True adds the reference's --report:duplicates
    columns: per-side duplicated-hash-position counts (count_duplicates)."""
    from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
    from minimizer_jaccard_estimator_spark.operators.pairwise_analytics import (
        pairwise_report)

    rng = random.Random(61)
    clean = random_dna(rng, 180)
    dup = clean[:40] + clean[:40] + random_dna(rng, 100)
    cfg = SketchConfig(k=16, w=8, hash_type="minimap2", hash_seed=0, mode="dna",
                       num_perm=1, lsh_bands=1)
    pairs = spark.createDataFrame([("A", clean, "B", dup)],
                                  ["name_a", "text_a", "name_b", "text_b"])
    row = pairwise_report(pairs, cfg, report_duplicates=True).collect()[0]
    ha = K.hash_dna_sequence(clean, 16, "minimap2", 0)
    hb = K.hash_dna_sequence(dup, 16, "minimap2", 0)
    assert row["n_dups_a"] == ref_mod.count_duplicates(tuple(int(x) for x in ha))
    assert row["n_dups_b"] == ref_mod.count_duplicates(tuple(int(x) for x in hb))
    assert row["n_dups_b"] > 0
    # columns sit after n_hashes, mirroring the reference header order
    cols = pairwise_report(pairs, cfg, report_duplicates=True).columns
    assert cols.index("n_dups_a") == cols.index("n_hashes") + 1
    # default schema unchanged
    assert "n_dups_a" not in pairwise_report(pairs, cfg).columns


def test_check_duplicates_operator(spark, ref_mod):
    """check_duplicates == the reference's --debug=checkduplicates verdict
    (``jaccard_correction_test.py:338-347``) per document."""
    from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig
    from minimizer_jaccard_estimator_spark.operators.pairwise_analytics import (
        check_duplicates)

    rng = random.Random(5150)
    clean = random_dna(rng, 200)
    dup = clean[:50] + clean[:50] + random_dna(rng, 100)  # repeated kmers
    cfg = SketchConfig(k=16, w=8, hash_type="minimap2", hash_seed=0, mode="dna",
                       num_perm=1, lsh_bands=1)
    docs = spark.createDataFrame([("clean", clean), ("dup", dup), ("tiny", "ACG")],
                                 ["name", "text"])
    rows = {r["name"]: r for r in check_duplicates(docs, cfg).collect()}
    # cross-check against the reference's count_duplicates on the same hashes
    for name, text in (("clean", clean), ("dup", dup)):
        h = K.hash_dna_sequence(text, 16, "minimap2", 0)
        ref_dups = ref_mod.count_duplicates(tuple(int(x) for x in h))
        assert rows[name]["n_dup_positions"] == ref_dups
        assert rows[name]["dup_free"] == int(ref_dups == 0)
    assert rows["clean"]["dup_free"] == 1
    assert rows["dup"]["dup_free"] == 0
    assert rows["tiny"]["n_hashes"] == 0 and rows["tiny"]["dup_free"] == 1


def test_pairwise_jaccard_matches_reference_functions(ref_mod):
    rng = random.Random(11)
    a = random_dna(rng, 500)
    b = mutate_dna(rng, a, 0.05)
    k, w = 16, 10
    kd = ref_mod.jaccard_by_kmers(a, b, k)
    ours = P.jaccard_exact(K.pack_kmers_2bit(a, k), K.pack_kmers_2bit(b, k))
    assert (ours.n_intersection, ours.n_union) == (kd.nIntersection, kd.nUnion)
    assert ours.jaccard == pytest.approx(kd.jaccard)

    ha = K.hash_dna_sequence(a, k, "minimap2", 0)
    hb = K.hash_dna_sequence(b, k, "minimap2", 0)
    md = ref_mod.jaccard_by_minimizers(
        tuple(int(x) for x in ha), tuple(int(x) for x in hb), w, ref_mod.winnowed_minimizers_linear
    )
    ours_m = P.jaccard_minimizers(ha, hb, w)
    assert (ours_m.n_intersection, ours_m.n_union) == (md.nIntersection, md.nUnion)
    assert ours_m.jaccard == pytest.approx(md.jaccard)
    assert (ours_m.n_a, ours_m.n_b) == (md.nMinimizersA, md.nMinimizersB)


def test_golden_correction_fixed_pair():
    """Config counts and D/C/Bias (v0.6, v0.4, v0.4 without the 0.3.0 term)
    on one fixed pair with deletions, insertions and swaps, captured before
    any change to the correction kernel."""
    with open(GOLDEN) as f:
        g = json.load(f)["correction"]
    ha = np.array(g["hash_a"], dtype=np.uint64)
    hb = np.array(g["hash_b"], dtype=np.uint64)
    counts = {tuple(row[:5]): row[5] for row in g["configuration_counts"]}
    assert C.configuration_counts(ha, hb, g["w"]) == counts
    for case in g["cases"]:
        r = C.jaccard_correction(ha, hb, g["w"], version=case["version"],
                                 omit_0_3_0_term=case["omit_0_3_0_term"])
        assert r.n_configurations == counts
        assert r.script_d == case["script_d"], case
        for name in ("jaccard_from_d", "script_c", "bias"):
            assert getattr(r, name) == pytest.approx(case[name], rel=1e-12, abs=1e-15), (name, case)
