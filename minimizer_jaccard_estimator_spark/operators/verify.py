"""Candidate-pair verification: exact Jaccard on minimizer sets.

Reference semantics J3/J4 (``jaccard_by_kmers`` / ``jaccard_by_minimizers``,
``jaccard_correction_test.py:786-852``) as pure DataFrame expressions:
I = |array_intersect|, U = |A| + |B| − I, J = I/U (0 when U = 0).  Stays
entirely JVM-side (whole-stage codegen) — no Python in the verify hot path.

:func:`verify_pairs` is the engine's one scorer (batch, delta, streaming and
the entry queries).  Its only pruning is the exact ``min_score`` size gate:
no pair whose minimizer Jaccard can reach ``min_score`` is dropped.  A
MinHash-agreement prefilter cannot promise that — agreement estimates the
SHINGLE Jaccard, and the minimizer estimator's bias above it does not shrink
with sequence length — so there is none.  The attach form (join or zip) only
changes the plan, never the rows.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def attach_pair_columns(
    pairs: DataFrame, per_doc: DataFrame, cols: list[str], id_col: str = "conv_id"
) -> DataFrame:
    """Join per-doc columns onto (id_a, id_b) pairs as <col>_a / <col>_b."""
    a = per_doc.select(F.col(id_col).alias("id_a"), *[F.col(c).alias(f"{c}_a") for c in cols])
    b = per_doc.select(F.col(id_col).alias("id_b"), *[F.col(c).alias(f"{c}_b") for c in cols])
    return pairs.join(a, "id_a").join(b, "id_b")


def attach_pair_columns_zip(
    pairs: DataFrame, per_doc: DataFrame, cols: list[str], id_col: str = "conv_id"
) -> DataFrame:
    """attach_pair_columns through ONE payload exchange instead of three.

    The join form ships the per-doc payload across three exchanges when the
    per-doc table is too big to broadcast: the a-side projection, the b-side
    projection, and the pairs⋈a intermediate re-shuffled by id_b (measured
    2.6 GB of exchanged array payload for a 6 MB pair table at the 2.9M-turn
    transcripts shape).  This form explodes each pair into two narrow
    (doc id, pair key, side) rows, joins the per-doc table ONCE (the narrow
    side broadcasts under AQE when small, and even shuffled it is ~24 B/row),
    and reassembles both sides with a single hash aggregation — the payload
    crosses exactly one exchange, as first(side-0)/first(side-1) state
    (guide §2.3 "shuffle fewer bytes" / §2.4 "remove shuffles outright").

    PRECONDITIONS (why this is not the default): ``pairs`` rows must be
    UNIQUE per (id_a, id_b) — duplicate pair rows would collapse into one
    output row, where the join form preserves multiplicity — and the
    attached payloads must be non-null (inner-join drop of ids absent from
    ``per_doc`` is reproduced by the IS NOT NULL filters, which cannot
    distinguish a null payload from a missing doc).  Both hold for every
    dedup verify call (pairs are deduplicated, sketch columns are
    non-nullable arrays/longs).  ``pairs`` must hold only ``id_a`` and
    ``id_b``; any other column raises ``ValueError`` (the reassembly keys on
    the pair alone and could not carry it).  Under these preconditions the
    output rows and schema are identical to attach_pair_columns up to row
    order.
    """
    extra = [c for c in pairs.columns if c not in ("id_a", "id_b")]
    if extra:
        raise ValueError(
            f"attach_pair_columns_zip takes (id_a, id_b) pairs only; got extra columns {extra}"
        )
    doc = F.col("_k.doc")
    sides = pairs.select(
        F.explode(
            F.array(
                F.struct(F.col("id_a").alias("doc"), F.lit(0).alias("side")),
                F.struct(F.col("id_b").alias("doc"), F.lit(1).alias("side")),
            )
        ).alias("_k"),
        "id_a",
        "id_b",
    ).select("id_a", "id_b", doc.alias("_doc"), F.col("_k.side").alias("_side"))
    payload = per_doc.select(F.col(id_col).alias("_doc"), *cols)
    joined = sides.join(payload, "_doc")
    # first(array) aggregation buffers are not hash-able, so the reassembly
    # plans as SortAggregate.  Establishing the pair-key distribution with
    # an explicit repartition BEFORE the groupBy makes partial and final
    # aggregate run back-to-back in the post-exchange stage: the payload
    # rows are sorted ONCE (the final inherits the partial's output order)
    # instead of sorted before the exchange AND re-sorted after it — the
    # exchange destroys ordering, and the pre-exchange partial combined
    # almost nothing anyway (measured 720k -> 711k rows for ~1 GB sorted
    # twice at the 2.9M-turn shape).  Explicit N keeps the CPU-bound
    # aggregation from being AQE-coalesced to byte-sized (= too few) tasks.
    spark = pairs.sparkSession
    joined = joined.repartition(
        spark.sparkContext.defaultParallelism * 4, "id_a", "id_b"
    )
    agg = [
        F.first(
            F.when(F.col("_side") == s, F.col(c)), ignorenulls=True
        ).alias(f"{c}_{t}")
        for c in cols
        for s, t in ((0, "a"), (1, "b"))
    ]
    out = joined.groupBy("id_a", "id_b").agg(*agg)
    cond = None
    for c in cols:
        for t in ("a", "b"):
            nn = F.col(f"{c}_{t}").isNotNull()
            cond = nn if cond is None else (cond & nn)
    return out.where(cond)


def verify_pairs(
    candidates: DataFrame,
    sketches: DataFrame,
    id_col: str = "conv_id",
    set_col: str = "minimizers",
    min_score: float | None = None,
    attach: str = "join",
) -> DataFrame:
    """(id_a, id_b, i_mini, u_mini, j_mini) for each candidate pair.

    Minimizer VALUES form the comparison set (positions ignored), matching
    ``jaccard_by_minimizers``: set-of-values Jaccard, zero union → J = 0.

    ``min_score`` is an EXACT accept-side pruning gate for callers that only
    consume pairs with j_mini >= min_score (the dedup clusters path).
    I <= min(|A|,|B|) and U >= max(|A|,|B|), so I/U <= min/max as real
    numbers; correctly rounded division is monotone, so the double I/U
    never exceeds the double min/max either.  A pair with
    min(|A|,|B|) / max(|A|,|B|) < min_score therefore has j_mini below
    min_score in IEEE doubles too, and is dropped BEFORE the
    array_intersect — a divide and a compare instead of a hash-set build
    per pruned pair (r06, guide §1.2 "don't compute things you throw
    away").  Pairs at exactly the ratio bound are kept (j could equal
    min_score).  Empty-set pairs (|A|=|B|=0) pass the gate and score 0
    via the zero-union convention, same as before.  With
    ``min_score=None`` every candidate is scored (the ``verified`` output
    contract).
    """
    sets = sketches.select(
        F.col(id_col), F.array_distinct(F.col(set_col)).alias("_set")
    )
    _attach = attach_pair_columns_zip if attach == "zip" else attach_pair_columns
    joined = _attach(candidates, sets, ["_set"], id_col)
    if min_score is not None:
        # the ratio, not least >= t * greatest: that product can round up
        # (0.55 * 100 > 55) and prune a 55-in-100 pair that scores exactly t
        least = F.least(F.size("_set_a"), F.size("_set_b"))
        greatest = F.greatest(F.size("_set_a"), F.size("_set_b"))
        joined = joined.where(
            (greatest == 0) | (least / greatest >= F.lit(float(min_score)))
        )
    i = F.size(F.array_intersect("_set_a", "_set_b")).cast("long")
    u = (F.size("_set_a") + F.size("_set_b")).cast("long") - i
    return joined.select(
        "id_a",
        "id_b",
        i.alias("i_mini"),
        u.alias("u_mini"),
        F.when(u == 0, F.lit(0.0)).otherwise(i / u).alias("j_mini"),
    )


def verify_pairs_staged(
    candidates: DataFrame, sketches: DataFrame, threshold: float | None = None,
    margin: float | None = None, *, min_score: float | None = None, attach: str = "join",
) -> DataFrame:
    """Deprecated alias: :func:`verify_pairs` on ``conv_id``/``minimizers``.
    The MinHash-agreement prefilter it ran is gone, so ``threshold`` and
    ``margin`` are ignored."""
    return verify_pairs(candidates, sketches, min_score=min_score, attach=attach)
