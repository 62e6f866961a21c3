"""Suffix-array kernels + distributed substring-duplicate pass.

Oracle strategy mirrors the reference's dual-implementation cross-checks
(``jaccard_correction_test.py:653-660``): every vectorized kernel is compared
against a naive, obviously-correct implementation on random inputs.
"""

from __future__ import annotations

import random

import numpy as np
import pytest

from minimizer_jaccard_estimator_spark.suffix import (
    _lcp_from_levels,
    _suffix_array_levels,
    lcp_array,
    substring_stats,
    suffix_array,
)


def _naive_sa(s: bytes) -> list[int]:
    return sorted(range(len(s)), key=lambda i: s[i:])


def _naive_lcp(s: bytes, sa: list[int]) -> list[int]:
    out = [0] * len(sa)
    for r in range(1, len(sa)):
        a, b = s[sa[r - 1]:], s[sa[r]:]
        h = 0
        while h < len(a) and h < len(b) and a[h] == b[h]:
            h += 1
        out[r] = h
    return out


@pytest.mark.parametrize("seed", range(8))
def test_suffix_array_vs_naive(seed):
    rng = random.Random(seed)
    n = rng.randint(0, 200)
    s = bytes(rng.choice(b"abcab") for _ in range(n))
    data = np.frombuffer(s, dtype=np.uint8)
    sa = suffix_array(data)
    assert sa.tolist() == _naive_sa(s)
    lcp = lcp_array(data, sa)
    assert lcp.tolist() == _naive_lcp(s, sa.tolist())


def test_suffix_array_degenerate():
    assert suffix_array(np.empty(0, dtype=np.uint8)).tolist() == []
    one = np.array([65], dtype=np.uint8)
    assert suffix_array(one).tolist() == [0]
    rep = np.full(50, 97, dtype=np.uint8)  # 'a'*50: worst-case ties
    sa = suffix_array(rep)
    assert sa.tolist() == list(range(49, -1, -1))
    assert lcp_array(rep, sa).tolist() == [0] + list(range(1, 50))


def _naive_best_lcp(a: str, b: str) -> list[int]:
    """best[i] = longest common prefix of a[i:] with any b[j:]."""
    best = [0] * len(a)
    for i in range(len(a)):
        for j in range(len(b)):
            h = 0
            while i + h < len(a) and j + h < len(b) and a[i + h] == b[j + h]:
                h += 1
            best[i] = max(best[i], h)
    return best


def _naive_coverage(a: str, b: str, min_len: int) -> int:
    best = _naive_best_lcp(a, b)
    covered = set()
    for i, m in enumerate(best):
        if m >= min_len:
            covered.update(range(i, i + m))
    return len(covered)


@pytest.mark.parametrize("seed", range(6))
def test_substring_stats_vs_naive(seed):
    rng = random.Random(100 + seed)
    alpha = "abcd "
    a = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 120)))
    b = "".join(rng.choice(alpha) for _ in range(rng.randint(1, 120)))
    min_len = rng.randint(3, 6)
    st = substring_stats(a, b, min_len)
    best = _naive_best_lcp(a, b)
    assert st["longest"] == max(best, default=0)
    assert st["cov_a"] == _naive_coverage(a, b, min_len)
    assert st["cov_b"] == _naive_coverage(b, a, min_len)
    # every reported span is a genuine exact match of the reported length
    for pa, pb, ln in st["spans"]:
        assert ln >= min_len
        assert a[pa:pa + ln] == b[pb:pb + ln]
    # emitted spans cover exactly the covered positions of a
    span_cover = set()
    for pa, _, ln in st["spans"]:
        span_cover.update(range(pa, pa + ln))
    naive_cover = {
        i for i, m in enumerate(best) if m >= min_len for i in range(i, i + m)
    }
    assert span_cover == naive_cover


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_vectorized_lcp_matches_kasai(seed):
    """The binary-lifting LCP (hot path) == Kasai == the naive oracle,
    including heavy-repeat and near-end padded cases."""
    rng = random.Random(900 + seed)
    alphabet = [65, 66] if seed % 2 else list(range(65, 91))
    s = bytes(rng.choice(alphabet) for _ in range(rng.randint(1, 400)))
    data = np.frombuffer(s, dtype=np.uint8).astype(np.int64)
    sa, levels = _suffix_array_levels(data)
    vec = _lcp_from_levels(sa, levels, data.shape[0])
    kasai = lcp_array(data, sa)
    assert np.array_equal(vec, kasai)
    assert vec.tolist() == _naive_lcp(s, sa.tolist())


def test_substring_stats_planted_span():
    rng = random.Random(7)
    shared = "the quick brown fox jumps over the lazy dog"
    a = "".join(rng.choice("xyz") for _ in range(50)) + shared + "qqq"
    b = "mmm" + shared + "".join(rng.choice("uvw") for _ in range(40))
    st = substring_stats(a, b, 20)
    assert st["longest"] == len(shared)
    assert (50, 3, len(shared)) in st["spans"]


def test_substring_stats_empty_and_disjoint():
    assert substring_stats("", "abc", 4)["spans"] == []
    st = substring_stats("aaaa", "bbbb", 2)
    assert st["longest"] == 0 and st["cov_a"] == 0 and st["spans"] == []


# ---------------------------------------------------------------------------
# distributed pass
# ---------------------------------------------------------------------------

def _corpus(spark, rng, n_docs=30, min_len=24):
    """Random docs; plant an exact shared span >= min_len in known pairs."""
    from pyspark.sql import Row

    alpha = "abcdefghij "
    docs, expected = [], set()
    texts = ["".join(rng.choice(alpha) for _ in range(rng.randint(80, 200)))
             for _ in range(n_docs)]
    shared = "".join(rng.choice(alpha) for _ in range(min_len + 10))
    for i in (3, 11, 17):  # plant the same span in three docs
        t = texts[i]
        cut = rng.randint(0, len(t) - 1)
        texts[i] = t[:cut] + shared + t[cut:]
    expected = {("3", "11"), ("3", "17"), ("11", "17")}
    for i, t in enumerate(texts):
        docs.append(Row(conv_id=str(i), text=t))
    return spark.createDataFrame(docs), expected


def test_duplicate_spans_finds_planted_pairs(spark):
    from minimizer_jaccard_estimator_spark.operators.substring import duplicate_spans

    rng = random.Random(42)
    docs, expected = _corpus(spark, rng, min_len=24)
    out = duplicate_spans(docs, min_len=24).collect()
    got = {(r.id_a, r.id_b) for r in out}
    normalized = {tuple(sorted(p, key=int)) for p in got}
    assert expected <= normalized
    for r in out:
        assert r.longest >= 24
        assert r.n_spans >= 1


def test_duplicate_spans_matches_kernel_exactly(spark):
    """The distributed pass reports the same stats as the local kernel."""
    from minimizer_jaccard_estimator_spark.operators.substring import duplicate_spans

    rng = random.Random(1)
    docs, _ = _corpus(spark, rng, min_len=20)
    rows = {r.conv_id: r.text for r in docs.collect()}
    out = duplicate_spans(docs, min_len=20).collect()
    assert out, "planted spans must be found"
    for r in out:
        st = substring_stats(rows[r.id_a], rows[r.id_b], 20)
        assert r.cov_a == st["cov_a"]
        assert r.cov_b == st["cov_b"]
        assert r.longest == st["longest"]

    # the anchor stage (the sketch UDF's minimizers + positions) equals the
    # per-document winnow kernel, null / empty / multi-byte text included
    from minimizer_jaccard_estimator_spark import kernels as K
    from minimizer_jaccard_estimator_spark.operators.substring import (
        anchor_params,
        anchor_table,
    )

    edge = {"null": None, "empty": "", "unicode": "naïve café ☕ 深圳市南山区 " * 3}
    texts = {**rows, **edge}
    edge_df = spark.createDataFrame(list(edge.items()), "conv_id string, text string")
    got = {cid: [] for cid in texts}
    for r in anchor_table(docs.unionByName(edge_df), 20).collect():
        got[r.id].append((r.anchor, r.pos))
    k, w = anchor_params(20)
    for cid, t in texts.items():
        v, p = K.winnow_minimizers(K.hash_text_shingles(t or "", k), w)
        assert got[cid] == list(zip(K.u64_to_i64(v).tolist(), p.tolist())), cid
    assert not got["null"] and not got["empty"] and got["unicode"]


def test_substring_dup_pairs_threshold(spark):
    from pyspark.sql import Row

    from minimizer_jaccard_estimator_spark.operators.substring import (
        duplicate_spans,
        substring_dup_pairs,
    )

    # doc 1 is a verbatim substring of doc 0 => coverage fraction 1.0 on b
    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 4
    docs = spark.createDataFrame(
        [
            Row(conv_id="0", text="PREFIX " + base + " SUFFIX"),
            Row(conv_id="1", text=base),
            Row(conv_id="2", text="completely unrelated text qqqq zzzz wwww " * 6),
        ]
    )
    spans = duplicate_spans(docs, min_len=24)
    pairs = substring_dup_pairs(spans, min_cov_frac=0.9).collect()
    assert {tuple(sorted((r.id_a, r.id_b))) for r in pairs} == {("0", "1")}


def test_anchor_guarantee_property():
    """Winnowing guarantee: docs sharing a span >= min_len share an anchor."""
    from minimizer_jaccard_estimator_spark import kernels as K
    from minimizer_jaccard_estimator_spark.operators.substring import anchor_params

    rng = random.Random(5)
    min_len = 16
    k, w = anchor_params(min_len)
    assert k + w - 1 == min_len
    for _ in range(20):
        shared = "".join(rng.choice("pqrs") for _ in range(min_len))
        a = "".join(rng.choice("abc") for _ in range(40)) + shared
        b = shared + "".join(rng.choice("xyz") for _ in range(40))
        va, _ = K.winnow_minimizers(K.hash_text_shingles(a, k), w)
        vb, _ = K.winnow_minimizers(K.hash_text_shingles(b, k), w)
        assert set(va.tolist()) & set(vb.tolist())


def test_duplicate_spans_unicode_byte_units(spark):
    """len/cov columns are both byte units: a CJK doc fully contained in
    another must give coverage fraction exactly 1.0, never > 1."""
    from pyspark.sql import Row

    from minimizer_jaccard_estimator_spark.operators.substring import (
        duplicate_spans,
        substring_dup_pairs,
    )

    inner = "深圳市南山区科技园片区软件产业基地" * 4  # 3-byte chars
    docs = spark.createDataFrame([
        Row(conv_id="0", text="PREFIX " + inner + " SUFFIX"),
        Row(conv_id="1", text=inner),
    ])
    rows = duplicate_spans(docs, min_len=24).collect()
    assert rows
    for r in rows:
        assert r.len_b == len(inner.encode("utf-8"))
        assert r.cov_b <= r.len_b
        assert r.cov_b / r.len_b == 1.0
    pairs = substring_dup_pairs(duplicate_spans(docs, min_len=24), 0.99).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {("0", "1")}
