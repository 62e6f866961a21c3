"""Kernel parity tests: our numpy uint64 kernels vs the reference
implementation (the ``ref`` fixture; those cases skip without a reference
checkout) and vs naive re-derivations.  Mirrors the reference's own
dual-implementation test pattern (``jaccard_correction_test.py:653-660``)."""

from __future__ import annotations

import random
from types import SimpleNamespace

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from minimizer_jaccard_estimator_spark import kernels as K
from tests.conftest import mutate_dna, random_dna, reference_module


# --- reference oracles -----------------------------------------------------
@pytest.fixture(scope="module")
def ref():
    winnow = reference_module("winnowed_minimizers")
    return SimpleNamespace(
        minimap2=reference_module("minimap2_hash_uncompiled").minimap2_hash,
        murmur=reference_module("murmurhash3_uncompiled").murmurhash3,
        splitmix=reference_module("splitmix64_hash_uncompiled").splitmix64_hash,
        winnow=winnow.winnowed_minimizers_linear,
        winnow_circ=winnow.winnowed_minimizers_circular,
    )


U64MAX = (1 << 64) - 1

seeds_st = st.integers(min_value=0, max_value=U64MAX)
vals_st = st.integers(min_value=0, max_value=U64MAX)


@settings(max_examples=200, deadline=None)
@given(seed=seeds_st, v=vals_st, k=st.integers(min_value=2, max_value=32))
def test_minimap2_hash_parity(ref, seed, v, k):
    mask = (4 ** k) - 1
    v &= mask
    ours = K.minimap2_hash(seed, np.array([v], dtype=np.uint64), mask)[0]
    assert int(ours) == ref.minimap2(seed, v, mask)


@settings(max_examples=200, deadline=None)
@given(seed=seeds_st, v=vals_st)
def test_splitmix64_hash_parity(ref, seed, v):
    ours = K.splitmix64_hash(seed, np.array([v], dtype=np.uint64))[0]
    assert int(ours) == ref.splitmix(seed, v)


def test_splitmix64_carry_edge(ref):
    # v + (seed ^ pi_constant) overflows 2**64 — the unbounded-int carry path
    seed = U64MAX
    for v in (U64MAX, U64MAX - 1, 1 << 63, 12345):
        ours = K.splitmix64_hash(seed, np.array([v], dtype=np.uint64))[0]
        assert int(ours) == ref.splitmix(seed, v)


@settings(max_examples=200, deadline=None)
@given(seed=seeds_st, v=vals_st, which=st.sampled_from(["xor", "h1", "h2", "+"]))
def test_murmurhash3_parity(ref, seed, v, which):
    ours = K.murmurhash3(seed, np.array([v], dtype=np.uint64), which=which)[0]
    assert int(ours) == ref.murmur(seed, v, which=which)


def test_pack_kmers_2bit_vs_naive():
    rng = random.Random(1)
    nt_to_bits = {"A": 0, "C": 1, "G": 2, "T": 3}
    for k in (2, 5, 16, 31, 32):
        seq = random_dna(rng, 200)
        ours = K.pack_kmers_2bit(seq, k)
        naive = []
        for ix in range(k, len(seq) + 1):
            bits = 0
            for c in seq[ix - k:ix]:
                bits = (bits << 2) + nt_to_bits[c]
            naive.append(bits)
        assert ours.tolist() == naive


def test_pack_kmers_sentinel_and_raise():
    seq = "ACGTNACGTACGT"
    with pytest.raises(ValueError):
        K.pack_kmers_2bit(seq, 4)
    out = K.pack_kmers_2bit(seq, 4, on_invalid="sentinel")
    # kmers overlapping position 4 ('N') carry the sentinel
    sent = int(K.SENTINEL)
    expect_bad = [i for i in range(len(seq) - 3) if 4 in range(i, i + 4)]
    for i, v in enumerate(out.tolist()):
        assert (v == sent) == (i in expect_bad)


def test_canonical_kmers_match_reference_rule():
    rng = random.Random(7)
    seq = random_dna(rng, 120)
    k = 9
    ours = K.canonical_kmers_2bit(seq, k)
    rev = K.reverse_complement(seq)
    nt_to_bits = {"A": 0, "C": 1, "G": 2, "T": 3}
    naive = []
    for ix in range(k, len(seq) + 1):
        kmer = seq[ix - k:ix]
        rk = rev[len(seq) - ix:len(seq) - ix + k]
        kmer = min(kmer, rk)  # reference string-min rule, jaccard_correction_test.py:721
        bits = 0
        for c in kmer:
            bits = (bits << 2) + nt_to_bits[c]
        naive.append(bits)
    assert ours.tolist() == naive


def test_canonical_kmers_sentinel_matches_reference_rule():
    """canonical + on_invalid='sentinel' (ADVICE r05): windows containing a
    non-ACGT char carry the sentinel, exactly like the reference's canonical
    path (string-min the two strands, KeyError -> hashOfBadKmer)."""
    rng = random.Random(11)
    base = list(random_dna(rng, 120))
    for pos in (0, 17, 63, 119):
        base[pos] = "N"
    seq = "".join(base)
    k = 9
    with pytest.raises(ValueError):
        K.canonical_kmers_2bit(seq, k)  # default on_invalid stays 'raise'
    ours = K.canonical_kmers_2bit(seq, k, on_invalid="sentinel")
    rev = seq[::-1].translate(str.maketrans("ACGTN", "TGCAN"))
    nt_to_bits = {"A": 0, "C": 1, "G": 2, "T": 3}
    naive = []
    for ix in range(k, len(seq) + 1):
        kmer = seq[ix - k:ix]
        rk = rev[len(seq) - ix:len(seq) - ix + k]
        kmer = min(kmer, rk)  # reference string-min rule
        try:
            bits = 0
            for c in kmer:
                bits = (bits << 2) + nt_to_bits[c]
        except KeyError:
            bits = int(K.SENTINEL)  # reference hashOfBadKmer
        naive.append(bits)
    assert ours.tolist() == naive
    assert int(K.SENTINEL) in naive  # the planted Ns actually exercise it


def test_hash_dna_sequence_canonical_sentinel():
    """hash_dna_sequence(canonical=True, on_invalid='sentinel') keeps the
    sentinel un-hashed (the exact repro from ADVICE r05 raised before)."""
    seq = "ACGTNACGTACGTACGT"
    out = K.hash_dna_sequence(seq, 4, "splitmix64", 0,
                              canonical=True, on_invalid="sentinel")
    sent = int(K.SENTINEL)
    expect_bad = {i for i in range(len(seq) - 3) if 4 in range(i, i + 4)}
    for i, v in enumerate(out.tolist()):
        assert (int(v) == sent) == (i in expect_bad)


def test_hash_dna_sequence_parity_all_hashes(ref):
    rng = random.Random(3)
    seq = random_dna(rng, 300)
    for hash_type, ref_fn in (
        ("minimap2", lambda s, v, k: ref.minimap2(s, v, (4 ** k) - 1)),
        ("splitmix64", lambda s, v, k: ref.splitmix(s, v)),
        ("murmurhash3", lambda s, v, k: ref.murmur(s, v)),
    ):
        for k, seed in ((8, 0), (16, 0xDEADBEEF), (16, U64MAX)):
            ours = K.hash_dna_sequence(seq, k, hash_type, seed)
            nt_to_bits = {"A": 0, "C": 1, "G": 2, "T": 3}
            naive = []
            for ix in range(k, len(seq) + 1):
                bits = 0
                for c in seq[ix - k:ix]:
                    bits = (bits << 2) + nt_to_bits[c]
                naive.append(ref_fn(seed, bits, k))
            assert ours.tolist() == naive, (hash_type, k, seed)


# --- winnower ---------------------------------------------------------------

def _ref_winnow_list(ref, vals, w):
    return list(ref.winnow(tuple(vals), w))


@settings(max_examples=200, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=U64MAX), min_size=0, max_size=200),
    w=st.integers(min_value=2, max_value=30),
)
def test_winnow_parity_random(ref, vals, w):
    v, p = K.winnow_minimizers(np.array(vals, dtype=np.uint64), w)
    expect = _ref_winnow_list(ref, vals, w)
    assert list(zip(v.tolist(), p.tolist())) == expect


@settings(max_examples=100, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=5), min_size=0, max_size=100),
    w=st.integers(min_value=2, max_value=10),
)
def test_winnow_parity_heavy_duplicates(ref, vals, w):
    """The reference 'expects unique values' but its deque has well-defined
    duplicate behavior (strictly-greater pop => oldest wins); replicate it."""
    v, p = K.winnow_minimizers(np.array(vals, dtype=np.uint64), w)
    expect = _ref_winnow_list(ref, vals, w)
    assert list(zip(v.tolist(), p.tolist())) == expect


def test_winnow_short_sequence_yields_nothing():
    v, p = K.winnow_minimizers(np.arange(4, dtype=np.uint64), 5)
    assert v.size == 0 and p.size == 0


@settings(max_examples=100, deadline=None)
@given(
    vals=st.lists(st.integers(min_value=0, max_value=U64MAX), min_size=2, max_size=100, unique=True),
    w=st.integers(min_value=2, max_value=12),
)
def test_winnow_circular_parity(ref, vals, w):
    # the reference circular winnower indexes perm[ix-len] and so requires
    # w <= len(perm)+1; stay inside its valid domain
    w = min(w, len(vals))
    v, p = K.winnow_minimizers_circular(np.array(vals, dtype=np.uint64), w)
    expect = {(val, pos % len(vals)) for (val, pos) in ref.winnow_circ(tuple(vals), w)}
    assert set(zip(v.tolist(), p.tolist())) == expect


# --- seed family ------------------------------------------------------------

def test_seed_family_matches_reference_scheme():
    # re-derive the reference's loop (jaccard_correction_test.py:200-217)
    prng, user_seed, n = "20210908A", 0, 50
    random.seed(prng)
    expected = []
    for i in range(n):
        s = random.randint(0, U64MAX)
        expected.append(user_seed if i == 0 else s ^ user_seed)
    assert K.seed_family(user_seed, n, prng) == expected
    assert K.seed_family(123, 1, None) == [123]


# --- text shingles / signatures ----------------------------------------------

def test_shingle_fingerprints_basics():
    a = K.shingle_fingerprints("hello world, hello spark", 5)
    assert a.dtype == np.uint64 and a.shape[0] == len("hello world, hello spark".encode()) - 4
    # identical shingles -> identical fingerprints
    t = "abcabcabc"
    f = K.shingle_fingerprints(t, 3)
    assert f[0] == f[3] == f[6]
    assert K.shingle_fingerprints("ab", 5).size == 0


def test_minhash_signature_properties():
    f1 = K.shingle_fingerprints("the quick brown fox jumps over the lazy dog" * 4, 8)
    f2 = K.shingle_fingerprints("the quick brown fox jumped over the lazy dog" * 4, 8)
    f3 = K.shingle_fingerprints("completely different content here entirely" * 4, 8)
    seeds = np.array(K.seed_family(0, 64, "20210908A"), dtype=np.uint64)
    s1 = K.minhash_signature(f1, seeds)
    s1b = K.minhash_signature(f1, seeds)
    s2 = K.minhash_signature(f2, seeds)
    s3 = K.minhash_signature(f3, seeds)
    assert np.array_equal(s1, s1b)
    sim12 = float((s1 == s2).mean())
    sim13 = float((s1 == s3).mean())
    assert sim12 > sim13
    assert sim12 > 0.5


def test_simhash_near_vs_far():
    f1 = K.shingle_fingerprints("the quick brown fox jumps over the lazy dog" * 4, 8)
    f2 = K.shingle_fingerprints("the quick brown fox jumped over the lazy dog" * 4, 8)
    f3 = K.shingle_fingerprints("completely different content here entirely" * 4, 8)
    h1, h2, h3 = (K.simhash64(f) for f in (f1, f2, f3))
    assert K.hamming64(h1, h2) < K.hamming64(h1, h3)
    assert K.hamming64(h1, h1) == 0


def test_u64_i64_roundtrip():
    vals = np.array([0, 1, (1 << 63), U64MAX, 0xDEADBEEF], dtype=np.uint64)
    assert np.array_equal(K.i64_to_u64(K.u64_to_i64(vals)), vals)


def test_count_hash_duplicates():
    assert K.count_hash_duplicates(np.array([1, 2, 2, 3, 3, 3], dtype=np.uint64)) == 3
    assert K.count_hash_duplicates(np.array([], dtype=np.uint64)) == 0


@given(
    st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=0, max_size=40),
    st.lists(st.integers(min_value=0, max_value=(1 << 64) - 1), min_size=1, max_size=8),
)
@settings(deadline=None, max_examples=40)
def test_apply_hash_matrix_matches_looped(vals, seeds):
    v = np.array(vals, dtype=np.uint64)
    for ht in K.HASH_TYPES:
        m = K.apply_hash_matrix(ht, np.array(seeds, dtype=np.uint64), v, 16)
        for i, s in enumerate(seeds):
            expect = K.apply_hash(ht, s, v, 16)
            assert m[i].tolist() == expect.tolist(), ht


def test_minhash_signature_chunked_matches_loop():
    rng = np.random.default_rng(3)
    fp = rng.integers(0, 1 << 63, size=5000, dtype=np.uint64)
    seeds = rng.integers(0, 1 << 63, size=64, dtype=np.uint64)
    for ht in K.HASH_TYPES:
        fast = K.minhash_signature(fp, seeds, hash_type=ht)
        slow = np.array(
            [K.apply_hash(ht, int(s), np.unique(fp), 32).min() for s in seeds],
            dtype=np.uint64,
        )
        assert fast.tolist() == slow.tolist(), ht


def test_oph_signature_deterministic_and_dense():
    rng = np.random.default_rng(9)
    fp = rng.integers(0, 1 << 63, size=3000, dtype=np.uint64)
    a = K.oph_signature(fp, 128)
    b = K.oph_signature(fp, 128)
    assert a.tolist() == b.tolist()
    # all slots populated after densification
    assert (a != np.uint64(0xFFFFFFFFFFFFFFFF)).all()
    # subset invariance: slot values are mins of the hash set
    h = K.apply_hash("splitmix64", 0, np.unique(fp), 32)
    assert set(a.tolist()) <= set(h.tolist())


def test_oph_estimator_tracks_jaccard():
    rng = np.random.default_rng(11)
    base = rng.integers(0, 1 << 63, size=4000, dtype=np.uint64)
    other = rng.integers(0, 1 << 63, size=4000, dtype=np.uint64)
    for frac in (1.0, 0.8, 0.5):
        n_keep = int(4000 * frac)
        bset = np.concatenate([base[:n_keep], other[: 4000 - n_keep]])
        j_true = len(set(base.tolist()) & set(bset.tolist())) / len(
            set(base.tolist()) | set(bset.tolist())
        )
        sa = K.oph_signature(base, 256)
        sb = K.oph_signature(bset, 256)
        est = float((sa == sb).mean())
        assert abs(est - j_true) < 0.12, (frac, est, j_true)


def test_oph_densification_matches_naive_scan():
    """The vectorized reversed-cummin fill (round 4) must be bit-identical to
    the original right-to-left Python scan on sparse (short-doc) signatures —
    the case where most slots are empty and borrow cyclically."""
    rng = np.random.default_rng(31)
    for size in (1, 2, 3, 5, 17, 60, 127, 400):
        fp = rng.integers(0, 1 << 63, size=size, dtype=np.uint64)
        num_perm = 128
        got = K.oph_signature(fp, num_perm)
        # naive reference: recompute slots, then scan right-to-left cyclically
        h = K.apply_hash("splitmix64", 0, np.unique(fp), 32)
        bits = num_perm.bit_length() - 1
        slots = (h >> np.uint64(64 - bits)).astype(np.int64)
        exp = np.full(num_perm, np.uint64(0xFFFFFFFFFFFFFFFF), dtype=np.uint64)
        np.minimum.at(exp, slots, h)
        empty = exp == np.uint64(0xFFFFFFFFFFFFFFFF)
        if empty.any() and not empty.all():
            src = np.where(empty, -1, np.arange(num_perm))
            ext = np.concatenate([src, src])
            fill = np.empty(2 * num_perm, dtype=np.int64)
            nxt = -1
            for i in range(2 * num_perm - 1, -1, -1):
                if ext[i] >= 0:
                    nxt = ext[i]
                fill[i] = nxt
            exp[empty] = exp[fill[:num_perm][empty]]
        assert got.tolist() == exp.tolist(), size
        assert (got != np.uint64(0xFFFFFFFFFFFFFFFF)).all(), size


def test_oph_empty_input():
    out = K.oph_signature(np.empty(0, dtype=np.uint64), 64)
    assert (out == np.uint64(0xFFFFFFFFFFFFFFFF)).all()


def test_simhash_fast_path_matches_shift_matrix():
    rng = np.random.default_rng(21)
    fp = rng.integers(0, 1 << 63, size=500, dtype=np.uint64)
    got = K.simhash64(fp, seed=7)
    h = K.apply_hash("splitmix64", 7, np.unique(fp), 32)
    bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & np.uint64(1)).astype(np.int64)
    votes = bits.sum(axis=0) * 2 - h.shape[0]
    expect = 0
    for b in np.nonzero(votes > 0)[0]:
        expect |= 1 << int(b)
    assert got == expect


def test_int_with_unit_matches_reference():
    from minimizer_jaccard_estimator_spark.util import int_with_unit
    cases = {"10": 10, "10K": 10_000, "2.5M": 2_500_000, "1G": 1_000_000_000,
             "0.1K": 100, "7M": 7_000_000, "0.0001M": 100}
    for s, want in cases.items():
        assert int_with_unit(s) == want, s


def test_parse_hash_spec():
    from minimizer_jaccard_estimator_spark.util import parse_hash_spec
    assert parse_hash_spec("123") == ("minimap2", 123)
    assert parse_hash_spec("0xBEEF") == ("minimap2", 0xBEEF)
    assert parse_hash_spec("splitmix64.5") == ("splitmix64", 5)
    assert parse_hash_spec("murmurhash3.0x10") == ("murmurhash3", 16)


def test_oph_num_perm_one():
    rng = np.random.default_rng(2)
    fp = rng.integers(0, 1 << 63, size=100, dtype=np.uint64)
    out = K.oph_signature(fp, 1)
    h = K.apply_hash("splitmix64", 0, np.unique(fp), 32)
    assert out.shape == (1,) and out[0] == h.min()


# ---------------------------------------------------------------------------
# segmented batch kernels (kernels_batch): bit-parity vs per-document kernels
# ---------------------------------------------------------------------------

def _batch_corpus(rng: random.Random, n: int) -> list:
    """Adversarial text corpus: empty docs, docs shorter than k / than w+k-1,
    unicode, heavy shingle duplication, exact duplicates, None."""
    words = ["alpha", "beta", "gamma", "delta", "omega", "héllo", "wörld", "🦜"]
    docs = []
    for i in range(n):
        kind = i % 7
        if kind == 0:
            docs.append("")
        elif kind == 1:
            docs.append(None)
        elif kind == 2:
            docs.append("short")  # < k
        elif kind == 3:
            docs.append(" ".join(rng.choices(words, k=4)))  # few shingles < w
        elif kind == 4:
            docs.append(("dup " * 40))  # heavy duplicate shingles
        elif kind == 5 and docs:
            docs.append(docs[rng.randrange(len(docs))])  # exact duplicate
        else:
            docs.append(" ".join(rng.choices(words, k=rng.randint(10, 120))))
    return docs


FIELD_SETS = {
    "full": ("minimizers", "positions", "n_shingles", "n_dups", "minhash", "simhash"),
    "sketch": ("minimizers", "positions", "n_shingles", "n_dups"),
    "signature": ("minhash", "simhash"),
}


def _assert_batch_matches_per_document(got, docs, cfg, fields):
    """Every column of a ``batch_sketch`` result equals the per-document
    kernels: ``cfg.hash_sequence`` (hash_text_shingles / hash_dna_sequence),
    winnow_minimizers, count_hash_duplicates, ``cfg.minhash`` and simhash64."""
    assert tuple(got) == tuple(fields)
    for col in got.values():
        assert len(col) == len(docs)
    seeds = cfg.seeds()
    for i, t in enumerate(docs):
        t = t or ""
        fp = cfg.fingerprints(t)
        h = cfg.hash_sequence(t)
        v, p = K.winnow_minimizers(h, cfg.w)
        if "minimizers" in got:
            assert np.array_equal(K.i64_to_u64(got["minimizers"][i]), v), (i, t[:40])
        if "positions" in got:
            assert np.array_equal(got["positions"][i], p.astype(np.int32)), i
            assert got["positions"][i].dtype == np.int32
        if "n_shingles" in got:
            assert got["n_shingles"][i] == h.shape[0], i
        if "n_dups" in got:
            assert got["n_dups"][i] == K.count_hash_duplicates(h), i
        if "minhash" in got:
            sig = cfg.minhash(fp, seeds)
            assert np.array_equal(K.i64_to_u64(got["minhash"][i]), sig), i
        if "simhash" in got:
            sh = K.simhash64(fp, cfg.simhash_seed, cfg.hash_type)
            want = sh - (1 << 64) if sh >= (1 << 63) else sh
            assert int(got["simhash"][i]) == want, i


def _check_batch_field_set(hash_type, scheme, fields):
    """Text-mode batch_sketch with ``fields`` == the per-document kernels
    over the adversarial corpus, in one chunk and in many; an empty batch
    yields every requested column, empty."""
    from minimizer_jaccard_estimator_spark import kernels_batch as KB
    from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig

    docs = _batch_corpus(random.Random(f"batch-{hash_type}-{scheme}"), 60)
    num_perm = 16 if scheme == "seeded" else 32
    cfg = SketchConfig(k=12, w=20, hash_type=hash_type, hash_seed=7,
                       num_perm=num_perm, lsh_bands=8, minhash_scheme=scheme)
    for chunk in (1 << 30, 128):
        got = KB.batch_sketch(docs, cfg, fields, chunk_bytes=chunk)
        _assert_batch_matches_per_document(got, docs, cfg, fields)
    empty = KB.batch_sketch([], cfg, fields)
    assert tuple(empty) == fields
    assert all(len(col) == 0 for col in empty.values())


@pytest.mark.parametrize("hash_type", ["splitmix64", "minimap2", "murmurhash3"])
@pytest.mark.parametrize("scheme", ["oph", "seeded"])
def test_batch_full_sketch_bit_parity(hash_type, scheme):
    """The full-sketch field set (every column sketch_text returns)."""
    _check_batch_field_set(hash_type, scheme, FIELD_SETS["full"])


@pytest.mark.parametrize("hash_type", ["splitmix64", "minimap2", "murmurhash3"])
@pytest.mark.parametrize("scheme", ["oph", "seeded"])
def test_batch_signature_text_bit_parity(hash_type, scheme):
    """The signature-only field set (minhash and simhash, no winnowing)."""
    _check_batch_field_set(hash_type, scheme, FIELD_SETS["signature"])


@pytest.mark.parametrize("hash_type", ["splitmix64", "murmurhash3"])
def test_batch_sketch_text_bit_parity(hash_type):
    """The sketch-only field set (minimizers, positions and counts, no
    MinHash or SimHash)."""
    _check_batch_field_set(hash_type, "oph", FIELD_SETS["sketch"])


def test_batch_full_sketch_num_perm_one_and_empty_batch():
    from minimizer_jaccard_estimator_spark import kernels_batch as KB

    got = KB.batch_full_sketch_text(
        ["aaaa bbbb cccc dddd eeee ffff", ""], 4, 3, "splitmix64", 0,
        "oph", 1, None, 0x5117B6A5, "splitmix64", False,
    )
    fp = K.shingle_fingerprints("aaaa bbbb cccc dddd eeee ffff", 4)
    assert K.i64_to_u64(got["minhash"][0])[0] == K.oph_signature(fp, 1)[0]
    assert K.i64_to_u64(got["minhash"][1])[0] == K.oph_signature(K._EMPTY_U64, 1)[0]

    empty = KB.batch_full_sketch_text([], 4, 3, "splitmix64", 0, "oph", 8,
                                      None, 0, "splitmix64", True)
    assert empty["minimizers"] == [] and empty["minhash"] == []
    assert empty["n_shingles"].shape == (0,)
    with pytest.raises(ValueError, match="SimHash"):
        KB.batch_full_sketch_text([], 4, 3, "splitmix64", 0, "oph", 8,
                                  None, 0, "minimap2", True)


def test_batch_simhash_large_segment_chunking():
    """Segments larger than 255 rows must split into uint8-safe reduceat
    sub-groups whose partial sums recombine exactly (the overflow path)."""
    from minimizer_jaccard_estimator_spark import kernels_batch as KB

    rng = np.random.default_rng(9)
    uh = rng.integers(0, 1 << 63, size=3000, dtype=np.uint64)
    useg = np.zeros(3000, dtype=np.int64)
    useg[2500:] = 1
    got = KB.batch_simhash(uh, useg, 2)
    for d, sl in ((0, slice(0, 2500)), (1, slice(2500, None))):
        h = uh[sl]
        bits = ((h[:, None] >> np.arange(64, dtype=np.uint64)[None, :])
                & np.uint64(1)).astype(np.int64)
        votes = bits.sum(axis=0) * 2 - h.shape[0]
        expect = 0
        for b in np.nonzero(votes > 0)[0]:
            expect |= 1 << int(b)
        expect_i64 = expect - (1 << 64) if expect >= (1 << 63) else expect
        assert int(got[d]) == expect_i64, d


def test_batch_full_sketch_chunking_is_invisible():
    """The cache-residency document chunking (kernels_batch._CHUNK_TEXT_BYTES)
    must not change ANY per-document output: force many tiny chunks (some
    holding a single oversized doc, boundaries falling mid-corpus) and
    compare bit-for-bit against one chunk holding the whole batch."""
    from minimizer_jaccard_estimator_spark import kernels_batch as KB

    rng = random.Random(0xC1)
    docs = _batch_corpus(rng, 80)
    args = (12, 20, "splitmix64", 7, "oph", 32, None, 0x5117B6A5,
            "splitmix64", True)
    one = KB.batch_full_sketch_text(docs, *args, chunk_bytes=1 << 30)
    many = KB.batch_full_sketch_text(docs, *args, chunk_bytes=64)
    assert len(one["minimizers"]) == len(many["minimizers"]) == len(docs)
    for i in range(len(docs)):
        assert np.array_equal(one["minimizers"][i], many["minimizers"][i]), i
        assert np.array_equal(one["positions"][i], many["positions"][i]), i
        assert np.array_equal(one["minhash"][i], many["minhash"][i]), i
    for key in ("n_shingles", "n_dups", "simhash"):
        assert np.array_equal(one[key], many[key]), key


def _splitmix64_preimage(seed: int, target: int) -> int:
    """The v with ``splitmix64_hash(seed, v) == target`` (the hash is a
    bijection; each step is inverted, including the carry quirk)."""
    M = (1 << 64) - 1

    def unxorshift(x, s):
        y = x
        for _ in range(64 // s + 1):
            y = x ^ (y >> s)
        return y

    s = (seed ^ 0x3243F6A8885A308D) & M
    u = unxorshift(target, 31) * pow(0x94D049BB133111EB, -1, 1 << 64) & M
    u = unxorshift((u - (s >> 5)) & M, 27) * pow(0xBF58476D1CE4E5B9, -1, 1 << 64) & M
    for carry in (0, 1):
        u1 = unxorshift(u ^ (carry << 34), 30)
        v = (u1 - s) & M
        if (v + s > M) == bool(carry):
            return v
    raise AssertionError("no preimage")


def _dna_corpus(rng: random.Random, k: int, w: int, hash_type: str, seed: int,
                sentinel: bool) -> list:
    """DNA sequences: empty, None, shorter than k, shorter than w k-mers,
    repeats, all-T (at k=32 the all-T k-mer packs to the sentinel value),
    an exact duplicate and random sequences; with ``sentinel`` also N's,
    lowercase and a 32-mer whose splitmix64 hash IS the sentinel."""
    docs = ["", None, "ACG", random_dna(rng, k + w - 2), "ACGT" * 30,
            "A" * (k + 2 * w), "T" * (k + w + 3), "GATTACA" * 9]
    docs += [random_dna(rng, rng.randint(k, 200)) for _ in range(6)]
    docs.append(docs[-1])
    if sentinel:
        docs += ["AN", "ACGTNACGTACGTACGTNNNACGTACGTACGTACGTACGTAC" * 2,
                 "acgtACGTacgt" * 6, random_dna(rng, 40) + "N" + random_dna(rng, 40)]
        if hash_type == "splitmix64" and k == 32:
            x = _splitmix64_preimage(seed, (1 << 64) - 1)
            assert K.splitmix64_hash(seed, np.array([x], dtype=np.uint64))[0] == K.SENTINEL
            kmer = "".join("ACGT"[(x >> (2 * (31 - j))) & 3] for j in range(32))
            docs.append(kmer + "N")  # a hashed k-mer equal to a raw sentinel
    return docs


@pytest.mark.parametrize("hash_type", ["minimap2", "splitmix64", "murmurhash3"])
@pytest.mark.parametrize("canonical", [False, True])
@pytest.mark.parametrize("on_invalid", ["raise", "sentinel"])
@pytest.mark.parametrize("k", [4, 32])
def test_batch_sketch_dna_bit_parity(hash_type, canonical, on_invalid, k):
    """DNA-mode batch_sketch == the per-document kernels (hash_dna_sequence
    and the rest), for both MinHash schemes, in one chunk and in many; with
    on_invalid='raise' a non-ACGT sequence raises the same ValueError."""
    from minimizer_jaccard_estimator_spark import kernels_batch as KB
    from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig

    seed = 11
    docs = _dna_corpus(random.Random(f"dna-{hash_type}-{canonical}-{on_invalid}-{k}"),
                       k, 5, hash_type, seed, on_invalid == "sentinel")
    fields = FIELD_SETS["full"]
    for scheme in ("oph", "seeded"):
        cfg = SketchConfig(k=k, w=5, hash_type=hash_type, hash_seed=seed, mode="dna",
                           canonical=canonical, on_invalid=on_invalid, num_perm=16,
                           lsh_bands=8, minhash_scheme=scheme)
        for chunk in (1 << 30, 64):
            got = KB.batch_sketch(docs, cfg, fields, chunk_bytes=chunk)
            _assert_batch_matches_per_document(got, docs, cfg, fields)
    if on_invalid == "raise":
        bad = docs[5] + "N" + docs[4]
        with pytest.raises(ValueError) as want:
            K.hash_dna_sequence(bad, k, hash_type, seed, canonical=canonical)
        with pytest.raises(ValueError) as got_err:
            KB.batch_sketch(docs[:6] + [bad], cfg, fields)
        assert str(got_err.value) == str(want.value)


@pytest.mark.parametrize("field,value", [
    ("mode", "DNA"), ("minhash_scheme", "OPH"), ("on_invalid", "skip"),
    ("hash_type", "xxhash"),
])
def test_sketch_config_rejects_unknown_values(field, value):
    from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig

    with pytest.raises(ValueError, match=field):
        SketchConfig(**{field: value})


# ---------------------------------------------------------------------------
# golden vectors (tests/golden_vectors.json, captured from the kernels before
# the sketch layer became one batch path; see test_pipeline for the
# add_full_sketch columns)
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def golden():
    import json
    import os

    with open(os.path.join(os.path.dirname(__file__), "golden_vectors.json")) as f:
        return json.load(f)


def test_golden_apply_hash_and_winnow(golden):
    g = golden["apply_hash"]
    v = np.array(g["inputs"], dtype=np.uint64)
    for case in g["cases"]:
        out = K.apply_hash(case["hash_type"], case["seed"], v, case["k"])
        assert [int(x) for x in out] == case["out"], case["hash_type"]
    g = golden["winnow_minimizers"]
    for case in g["cases"]:
        vals, pos = K.winnow_minimizers(np.array(g["hashes"], dtype=np.uint64), case["w"])
        assert [int(x) for x in vals] == case["values"], case["w"]
        assert [int(x) for x in pos] == case["positions"], case["w"]


def test_golden_signatures(golden):
    from minimizer_jaccard_estimator_spark.functions.sketch import SketchConfig

    g = golden["signatures"]
    for case in g["cases"]:
        ht = case["hash_type"]
        cfg = SketchConfig(k=g["k"], hash_type=ht, hash_seed=g["hash_seed"],
                           num_perm=g["num_perm"], prng_seed=g["prng_seed"])
        fp = K.shingle_fingerprints(g["text"], cfg.k)
        seeds = cfg.seeds()
        assert [int(x) for x in seeds] == case["seeds"], ht
        oph = K.oph_signature(fp, cfg.num_perm, ht, cfg.hash_seed)
        assert [int(x) for x in oph] == case["oph"], ht
        mh = K.minhash_signature(fp, seeds, hash_type=ht)
        assert [int(x) for x in mh] == case["minhash"], ht
        assert K.simhash64(fp, g["simhash_seed"], ht) == case["simhash"], ht
