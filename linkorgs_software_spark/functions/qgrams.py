"""Character q-gram expressions — the blocking & jaccard primitives.

Reference semantics: ``LinkOrgs/R/LinkOrgs_BuildHelpers.R:190-205`` builds a
trigram inverted index from every window start position 1..min(len, 100)
(trailing windows shorter than q are included), and the default distance is
set-based q-gram jaccard (``stringdist(method='jaccard', q=2)``, invoked at
``LinkOrgs/R/LinkOrgs_PFuzzyDiscreteInternal.R:140-142``).

All of this is native Catalyst (``transform``/``sequence``/``substring`` +
array set ops) — no UDF, stays in whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def qgram_array_expr(
    col: Column | str, q: int, *, prefix_cap: int | None = None, tails: bool = True
) -> Column:
    """Character q-gram windows of ``col`` (duplicates kept, in order).

    ``tails=True``: start positions run 1..len — every trailing window
    shorter than q is kept (what set-jaccard scoring consumes after its
    full-length filter). ``tails=False`` matches the reference's blocking
    index exactly (``BuildHelpers.R:190-205``: keep ``start_pos == 1 |
    start_pos + 2 == end_pos``): full-length windows at starts
    1..max(len−q+1, 1), i.e. full q-grams plus ONLY the position-1 short
    window when the whole string is shorter than q. ``prefix_cap`` bounds
    start positions (the reference caps at 100).
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    last = n if tails else F.greatest(n - F.lit(q - 1), F.lit(1))
    if prefix_cap is not None:
        last = F.least(last, F.lit(prefix_cap))
    # sequence(1, 0) would generate a descending sequence — guard empties.
    seq = F.sequence(F.lit(1), last)
    grams = F.transform(seq, lambda i: c.substr(i, F.lit(q)))
    return F.when(n > 0, grams).otherwise(F.array().cast("array<string>"))


def qgram_set_expr(
    col: Column | str,
    q: int,
    *,
    prefix_cap: int | None = None,
    full_only: bool = True,
    tails: bool = True,
) -> Column:
    """Distinct q-grams (set semantics — what jaccard operates over).

    ``full_only=True`` (default) keeps only full-length q-grams — the R
    ``stringdist`` jaccard convention; strings shorter than q yield the
    empty set. The blocking index instead uses ``full_only=False,
    tails=False`` — the reference index's full windows plus only the
    position-1 short window (see ``qgram_array_expr``).
    """
    grams = qgram_array_expr(col, q, prefix_cap=prefix_cap, tails=tails)
    if full_only:
        grams = F.filter(grams, lambda g: F.length(g) == q)
    return F.array_distinct(grams)


def packed_qgram_set_expr(
    col: Column | str,
    q: int,
    *,
    prefix_cap: int | None = None,
    tails: bool = True,
) -> Column:
    """Distinct full-length q-grams packed into ``array<bigint>``.

    Identical SET SEMANTICS to ``qgram_set_expr(..., full_only=True)`` —
    the pack maps each q-char gram to ``Σ codepoint_i · 2^(21·(q−i))``,
    which is injective for q ≤ 3 (Unicode code points < 2^21, and Spark's
    ``ascii()`` returns the full code point, astral plane included), so
    cardinalities and intersections are exactly those of the string form.
    The point is the per-PAIR cost downstream: ``array_intersect`` over
    bigint arrays hashes longs instead of allocating-and-hashing
    UTF8Strings — measured 4.5x faster on the 3M-pair blocked-scoring
    stage. Caller must check ``q <= 3`` and fall back to the string form
    otherwise.
    """
    if q > 3:
        raise ValueError("packed q-gram sets support q <= 3 only")
    grams = qgram_set_expr(col, q, prefix_cap=prefix_cap, tails=tails)

    def _pack(g: Column) -> Column:
        e = F.ascii(F.substring(g, 1, 1)).cast("long")
        for i in range(2, q + 1):
            e = e * F.lit(2097152) + F.ascii(F.substring(g, i, 1)).cast("long")
        return e

    return F.transform(grams, _pack)


def jaccard_qgram_dist_expr(a_set: Column | str, b_set: Column | str) -> Column:
    """Set q-gram jaccard *distance*: ``1 − |A∩B| / |A∪B|``.

    Matches R ``stringdist(method='jaccard', q=q)`` (set-based, not bag).
    Empty∪empty is defined as distance 0.0 (identical empties), like
    stringdist. ``|A∪B|`` is derived as ``|A|+|B|−|A∩B|`` so only the
    intersection array is materialized per pair (the union array build was
    ~40% of per-pair cost on the blocked-scoring hot path).
    """
    a = F.col(a_set) if isinstance(a_set, str) else a_set
    b = F.col(b_set) if isinstance(b_set, str) else b_set
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(a).cast("double") + F.size(b).cast("double") - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(F.lit(1.0) - inter / union)


def jaccard_sim_expr(a_set: Column | str, b_set: Column | str) -> Column:
    """Set jaccard *similarity*, ``1 − jaccard_qgram_dist_expr`` — the
    near-dup family's shingle-set verify score."""
    return F.lit(1.0) - jaccard_qgram_dist_expr(a_set, b_set)


def jaccard_dist_from_sizes_expr(
    a_set: Column | str, b_set: Column | str, n_a: Column | str, n_b: Column | str
) -> Column:
    """Jaccard distance when per-side set sizes are ALREADY columns —
    per-pair work drops to one array_intersect (sizes join in from the
    per-name side tables instead of being recomputed per candidate)."""
    a = F.col(a_set) if isinstance(a_set, str) else a_set
    b = F.col(b_set) if isinstance(b_set, str) else b_set
    na = (F.col(n_a) if isinstance(n_a, str) else n_a).cast("double")
    nb = (F.col(n_b) if isinstance(n_b, str) else n_b).cast("double")
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = na + nb - inter
    return F.when(union == 0, F.lit(0.0)).otherwise(F.lit(1.0) - inter / union)
