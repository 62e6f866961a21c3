"""Pairwise Jaccard + minimizer estimate + bias correction as a Spark operator.

The reference's second CLI (``jaccard_correction_test.py``) scores a stream of
sequence pairs single-threaded: exact Jaccard (J3), N hash-replicate minimizer
Jaccards averaged (A6), and — for invertible, duplicate-free hash configs —
the scriptD / scriptC / Bias correction analytics (J5, A7–A10).

Spark-first design: the distributed axis is PAIRS.  Each input row carries
both texts; one ``mapInPandas`` pass runs the vectorized numpy kernels
(:mod:`..pairwise`, :mod:`..correction`) per pair, so a million pairs fan out
across executors while each pair's O(matches·w²) inner work stays in one
Arrow batch.  No per-row Python UDFs; no shuffle beyond the pair join that
produced the input.

Output columns mirror the reference's TSV report
(``jaccard_correction_test.py:371-413``): exact I/U/J, replicate-averaged
Ihat/Uhat/Jbar, D, Jd, C, Bias, and the error columns.  Correction columns are
NULL when unavailable (non-invertible hash or duplicate hash values — the
reference's ``--inhibit:correction`` / ValueError paths, ``:426-461``).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .. import correction as C
from .. import kernels as K
from .. import pairwise as P
from ..functions.sketch import SketchConfig

REPORT_SCHEMA = StructType(
    [
        StructField("name_a", StringType()),
        StructField("name_b", StringType()),
        StructField("replicates", IntegerType()),
        StructField("w", IntegerType()),
        StructField("k", IntegerType()),
        StructField("len_nt", LongType()),
        StructField("n_hashes", LongType()),
        StructField("i_exact", LongType()),
        StructField("u_exact", LongType()),
        StructField("j_exact", DoubleType()),
        StructField("i_mini_avg", DoubleType()),
        StructField("u_mini_avg", DoubleType()),
        StructField("j_mini_avg", DoubleType()),
        StructField("script_d", LongType()),
        StructField("jaccard_from_d", DoubleType()),
        StructField("script_c", DoubleType()),
        StructField("bias", DoubleType()),
        StructField("est_error", DoubleType()),
        StructField("corr_error", DoubleType()),
    ]
)


def _score_pair(name_a: str, text_a: str, name_b: str, text_b: str,
                cfg: SketchConfig, seeds: np.ndarray, compute_correction: bool,
                version: str = "v0.6", omit_0_3_0_term: bool = False,
                report_duplicates: bool = False) -> tuple:
    fp_a = cfg.fingerprints(text_a or "")
    fp_b = cfg.fingerprints(text_b or "")
    kd = P.jaccard_exact(fp_a, fp_b)
    mask_k = cfg.mask_k

    # replicate-0 hash sequences are needed by BOTH report_duplicates and the
    # correction branch; compute them at most once per pair
    _h0: list = []

    def rep0_hashes():
        if not _h0:
            _h0.append(K.apply_hash(cfg.hash_type, int(seeds[0]), fp_a, mask_k)
                       if fp_a.size else fp_a)
            _h0.append(K.apply_hash(cfg.hash_type, int(seeds[0]), fp_b, mask_k)
                       if fp_b.size else fp_b)
        return _h0[0], _h0[1]

    dup_cols: tuple = ()
    if report_duplicates:
        # reference --report:duplicates (hashA.dups / hashB.dups columns,
        # jaccard_correction_test.py:262,281-282): count of positions whose
        # replicate-0 hash value was seen earlier (count_duplicates, :770-778)
        ha0, hb0 = rep0_hashes()
        dup_cols = (int(K.count_hash_duplicates(ha0)), int(K.count_hash_duplicates(hb0)))
    i_r, u_r, j_r = P.jaccard_minimizers_replicates(
        fp_a, fp_b, seeds, cfg.hash_type, mask_k, cfg.w
    )
    n_rep = len(seeds)
    i_avg = float(i_r.mean())
    u_avg = float(u_r.mean())
    j_avg = float(j_r.mean())

    script_d = jaccard_from_d = script_c = bias = corr_error = None
    # the manuscript formulas assume |a| == |b| == L (reference asserts it,
    # ``jaccard_correction_test.py:297-300``) and need a non-empty hash
    # sequence; otherwise correction columns stay NULL instead of emitting
    # confidently wrong math (or dividing by zero at L=0)
    if compute_correction and fp_a.shape[0] != fp_b.shape[0]:
        compute_correction = False
    if compute_correction and (fp_a.shape[0] == 0 or fp_b.shape[0] == 0):
        compute_correction = False
    if compute_correction:
        # correction uses replicate 0 only — identical for every replicate of
        # an invertible hash (reference ``jaccard_correction_test.py:349-353``)
        try:
            ha, hb = rep0_hashes()
            cd = C.jaccard_correction(ha, hb, cfg.w, version=version,
                                      omit_0_3_0_term=omit_0_3_0_term)
            script_d = cd.script_d
            jaccard_from_d = cd.jaccard_from_d
            script_c = cd.script_c
            bias = cd.bias
            corr_error = i_avg - cd.script_c
        except C.DuplicateHashError:
            pass  # NA columns, like the reference's --inhibit:correction runs

    return (
        name_a, name_b, n_rep, cfg.w, cfg.k,
        len(text_a or ""), int(fp_a.shape[0]),
        *dup_cols,
        kd.n_intersection, kd.n_union, kd.jaccard,
        i_avg, u_avg, j_avg,
        script_d, jaccard_from_d, script_c, bias,
        j_avg - kd.jaccard, corr_error,
    )


def _report_schema(report_duplicates: bool) -> StructType:
    fields = list(REPORT_SCHEMA.fields)
    if report_duplicates:
        # dup-count columns sit after the length columns, like the
        # reference's header order (jaccard_correction_test.py:262)
        at = [f.name for f in fields].index("n_hashes") + 1
        fields[at:at] = [StructField("n_dups_a", LongType()),
                         StructField("n_dups_b", LongType())]
    return StructType(fields)


def pairwise_report(
    pairs: DataFrame,
    cfg: SketchConfig,
    correction: str = "auto",
    correction_version: str = "v0.6",
    omit_0_3_0_term: bool = False,
    report_duplicates: bool = False,
) -> DataFrame:
    """Score (name_a, text_a, name_b, text_b) pair rows.

    ``correction='auto'`` computes D/Jd/C/Bias when the hash is invertible
    (minimap2/splitmix64 — reference gate at ``jaccard_correction_test.py:429-432``)
    and the pair is duplicate-free; ``'off'`` skips it (NULL columns).
    ``correction_version='v0.4'`` uses the frozen v0.4 manuscript scriptC
    (``jaccard_correction_test_v_0_4.py``); ``omit_0_3_0_term`` is that
    snapshot's ``--debug=0.3.0`` regression toggle.
    ``report_duplicates`` adds the reference's ``--report:duplicates``
    columns (n_dups_a / n_dups_b: duplicated hash positions per side).
    """
    seeds = cfg.seeds()
    compute_corr = correction == "auto" and K.hash_is_invertible(cfg.hash_type)
    schema = _report_schema(report_duplicates)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                _score_pair(r.name_a, r.text_a, r.name_b, r.text_b,
                            cfg, seeds, compute_corr,
                            correction_version, omit_0_3_0_term,
                            report_duplicates)
                for r in pdf.itertuples(index=False)
            ]
            yield pd.DataFrame(rows, columns=[f.name for f in schema.fields])

    cols = ["name_a", "text_a", "name_b", "text_b"]
    # heavy per-pair kernels must not inherit a 1-2 split fixture scan
    # (r06; no-op on inputs already as parallel as the cluster)
    from ..util import spread_small_input

    return spread_small_input(pairs.select(*cols)).mapInPandas(run, schema=schema)


# the 17 configurations the reference's --report:configs emits
# (``jaccard_correction_test.py:271-279``); everything else provably never
# occurs (or is the subtraction-deduced dominant bucket)
VIABLE_CONFIGURATIONS = [
    (0, 0, 0, 0), (0, 1, 0, 1), (0, 1, 0, 2), (0, 2, 0, 1), (0, 2, 0, 2),
    (2, 0, 2, 0), (2, 1, 2, 1), (2, 1, 2, 2), (2, 2, 2, 1), (2, 2, 2, 2),
    (2, 1, 1, 1), (2, 2, 1, 1), (1, 1, 2, 1), (1, 1, 2, 2), (1, 0, 1, 0),
    (1, 0, 2, 0), (2, 0, 1, 0),
]

CONFIG_SCHEMA = StructType(
    [
        StructField("name_a", StringType()),
        StructField("name_b", StringType()),
        StructField("s", IntegerType()),
        StructField("cal", IntegerType()),
        StructField("car", IntegerType()),
        StructField("cbl", IntegerType()),
        StructField("cbr", IntegerType()),
        StructField("n", LongType()),
    ]
)


def config_report(pairs: DataFrame, cfg: SketchConfig, sparse: bool = True) -> DataFrame:
    """Per-pair configuration-count tensor as LONG rows — the reference's
    ``--report:configs`` surface (``jaccard_correction_test.py:256-282,
    371-413``: 17 viable configs x (w+1) s-columns) re-expressed as
    (name_a, name_b, s, cal, car, cbl, cbr, n) rows, the Spark-native shape
    for joins/aggregation.

    The rows are the FULL sparse tensor — a superset of the reference's
    report, which computes every configuration but prints only the 17
    VIABLE_CONFIGURATIONS its formulas consume (parity on those is tested
    cell-for-cell).  ``sparse=True`` omits zero counts (the wide reference
    columns are reconstructable by filling 0 over the viable set x [0, w]).
    Pairs whose correction is undefined (duplicate hashes, unequal or empty
    hash lengths) contribute no rows — matching the reference, which dies on
    such pairs before printing.
    """
    seeds = cfg.seeds()
    mask_k = cfg.mask_k
    if not K.hash_is_invertible(cfg.hash_type):
        raise ValueError(
            "config counts need an invertible, duplicate-free hash "
            "(reference gate, jaccard_correction_test.py:429-432)"
        )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                fp_a = cfg.fingerprints(r.text_a or "")
                fp_b = cfg.fingerprints(r.text_b or "")
                if fp_a.shape[0] != fp_b.shape[0] or fp_a.shape[0] == 0:
                    continue
                ha = K.apply_hash(cfg.hash_type, int(seeds[0]), fp_a, mask_k)
                hb = K.apply_hash(cfg.hash_type, int(seeds[0]), fp_b, mask_k)
                try:
                    counts = C.configuration_counts(ha, hb, cfg.w)
                except C.DuplicateHashError:
                    continue
                for (s, cal, car, cbl, cbr), n in sorted(counts.items()):
                    if sparse and n == 0:
                        continue
                    out.append((r.name_a, r.name_b, s, cal, car, cbl, cbr, n))
            yield pd.DataFrame(out, columns=[f.name for f in CONFIG_SCHEMA.fields])

    cols = ["name_a", "text_a", "name_b", "text_b"]
    return pairs.select(*cols).mapInPandas(run, schema=CONFIG_SCHEMA)


def wide_config_columns(w: int) -> list[str]:
    """The reference's 17 x (w+1) ``--report:configs`` column names in its
    exact header order (``jaccard_correction_test.py:270-282``):
    ``N(cal,car;cbl,cbr;s)`` — configurations outermost, s = 0..w inner."""
    return [
        f"N({cal},{car};{cbl},{cbr};{s})"
        for (cal, car, cbl, cbr) in VIABLE_CONFIGURATIONS
        for s in range(w + 1)
    ]


def config_report_wide(pairs: DataFrame, cfg: SketchConfig) -> DataFrame:
    """``config_report`` pivoted to the reference's WIDE ``--report:configs``
    layout: one row per pair — (name_a, name_b) followed by the 17 x (w+1)
    ``N(...)`` count columns in the reference's exact header order,
    zero-filled (``jaccard_correction_test.py:256-282,404-413``).  Column
    names and per-cell integer values are byte-parity-tested against the
    reference CLI's TSV (tests/test_correction.py).

    The pivot lists its values explicitly so Spark needs no extra
    distinct-scan pass; the long form (the Spark-native join/agg shape)
    remains the primary surface.  The reference line's leading metric
    columns (w, k, lengths, I/U/J, D/C/Bias) are ``pairwise_report``'s
    surface — join on (name_a, name_b) to reassemble the full line."""
    cols = wide_config_columns(cfg.w)
    long = config_report(pairs, cfg, sparse=True)
    label = F.format_string("N(%d,%d;%d,%d;%d)", "cal", "car", "cbl", "cbr", "s")
    wide = (
        long.withColumn("_label", label)
        # the reference prints only the 17 viable configurations; the long
        # form is the full sparse tensor (a superset)
        .where(F.col("_label").isin(cols))
        .groupBy("name_a", "name_b")
        .pivot("_label", cols)
        .agg(F.first("n"))
        .na.fill(0, cols)
    )
    return wide.select("name_a", "name_b", *[wide[c] for c in cols])


def check_duplicates(docs: DataFrame, cfg: SketchConfig,
                     name_col: str = "name", text_col: str = "text") -> DataFrame:
    """Corpus duplicate-freeness validation — the reference's
    ``--debug=checkduplicates`` mode (``jaccard_correction_test.py:338-347``)
    as a standalone operator: one row per document with the number of
    duplicated hash positions (sum of count-1 over repeated values, reference
    ``count_duplicates`` ``:770-778``).  ``dup_free = true`` documents are
    eligible for the bias correction; the reference prints the same verdict
    per pair to stderr.
    """
    schema = StructType(
        [
            StructField("name", StringType()),
            StructField("n_hashes", LongType()),
            StructField("n_dup_positions", LongType()),
            StructField("dup_free", IntegerType()),
        ]
    )
    seeds = cfg.seeds()
    mask_k = cfg.mask_k

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                name = getattr(r, name_col)
                fp = cfg.fingerprints(getattr(r, text_col) or "")
                h = K.apply_hash(cfg.hash_type, int(seeds[0]), fp, mask_k) if fp.size else fp
                n_dup = K.count_hash_duplicates(h)
                out.append((name, int(h.shape[0]), int(n_dup), int(n_dup == 0)))
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return docs.select(name_col, text_col).mapInPandas(run, schema=schema)


def replicate_report(pairs: DataFrame, cfg: SketchConfig) -> DataFrame:
    """Per-replicate rows (reference ``--report:replicates``): one row per
    (pair, replicate) with that replicate's hash seed and Ihat/Uhat/Jhat."""
    seeds = cfg.seeds()
    mask_k = cfg.mask_k

    schema = StructType(
        [
            StructField("name_a", StringType()),
            StructField("name_b", StringType()),
            StructField("replicate", IntegerType()),
            StructField("hash_seed", LongType()),
            StructField("i_mini", LongType()),
            StructField("u_mini", LongType()),
            StructField("j_mini", DoubleType()),
        ]
    )

    seeds_i64 = K.u64_to_i64(np.asarray(seeds, dtype=np.uint64))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = []
            for r in pdf.itertuples(index=False):
                fp_a = cfg.fingerprints(r.text_a or "")
                fp_b = cfg.fingerprints(r.text_b or "")
                i_r, u_r, j_r = P.jaccard_minimizers_replicates(
                    fp_a, fp_b, seeds, cfg.hash_type, mask_k, cfg.w
                )
                for rep in range(len(seeds)):
                    out.append((r.name_a, r.name_b, rep + 1, int(seeds_i64[rep]),
                                int(i_r[rep]), int(u_r[rep]), float(j_r[rep])))
            yield pd.DataFrame(out, columns=[f.name for f in schema.fields])

    return pairs.select("name_a", "text_a", "name_b", "text_b").mapInPandas(run, schema=schema)
