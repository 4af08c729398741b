"""Trigram inverted-index blocking — the candidate-pair generator.

Reference semantics (``LinkOrgs/R/LinkOrgs_PFuzzyDiscreteInternal.R:102-139``):
build a trigram index per side, and a pair (x, y) becomes a candidate iff the
two names share at least ``ceil(min_shared_frac * |trigrams(x)|)`` trigrams
(default 5%). This is the *fixed blocking key* of the north rule — every
scorer (q-gram jaccard, JW, OSA, embeddings) scores the same candidate set.

Spark-first design (NOT the reference's per-row loop):
  explode distinct grams → equi-join on gram → hash-agg count per (x, y)
  → threshold filter.

Scale levers (all absent from the single-node reference — SURVEY.md §4):
  * **frequency cap** (``max_block_df``): grams whose posting list exceeds
    the cap are dropped from the *join* (they are uninformative stop-grams
    like ``"inc"`` and they are exactly the keys that skew the shuffle at
    10^12-turn scale). The shared-count *denominator* still uses the uncapped
    gram count, so the filter only ever gets stricter, never admits junk.
  * **salting** (``salt_buckets``): optional explicit split of hot gram
    posting lists across S synthetic sub-keys; the x side replicates S ways,
    the y side maps each row to one bucket, so every true (x, y, gram) match
    still meets exactly once. Complements AQE skew-join splitting.
  * AQE (``spark.sql.adaptive.skewJoin.enabled``) is assumed on; the join is
    a plain shuffled hash/SMJ that AQE can re-plan.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import LinkConfig
from ..functions.normalize import NORM_COL
from ..functions.qgrams import qgram_set_expr

SHARED_COL = "shared_grams"


def gram_set_expr(name_col: str, cfg: LinkConfig) -> Column:
    """One name's distinct blocking grams (the reference index,
    ``BuildHelpers.R:190-205``). ``gram_index`` explodes it and
    ``scoring.explain_pairs`` intersects it, so a pair is explained with
    the grams it is blocked with."""
    q, cap = cfg.block_ngram, cfg.name_prefix_cap
    return qgram_set_expr(name_col, q, prefix_cap=cap, full_only=False, tails=False)


def gram_index(df: DataFrame, id_col: str, cfg: LinkConfig) -> DataFrame:
    """``(id, gram, n_grams)`` inverted index over DISTINCT ids (an
    ``scoring.index_side`` frame, the resolver's entities slices):
    ``n_grams`` is the id's gram count before any df cap.

    Ids must be distinct, and nothing here deduplicates them: a repeated
    id explodes twice, which double-counts its shared grams in
    ``shared_gram_pairs`` and lets in extra candidates."""
    sets = df.select(id_col, gram_set_expr(NORM_COL, cfg).alias("_gs"))
    sets = sets.withColumn("n_grams", F.size("_gs").cast("long"))
    return sets.select(id_col, F.explode("_gs").alias("gram"), "n_grams")


def shared_gram_rule(shared: str, n_grams: str, cfg: LinkConfig) -> Column:
    """The reference's candidate rule: at least ``ceil(min_shared_frac ·
    n_grams)`` shared grams, ``n_grams`` counted before any df cap."""
    return F.col(shared) >= F.ceil(F.lit(float(cfg.min_shared_frac)) * F.col(n_grams))


def apply_df_cap(
    index: DataFrame, gram_col: str | list[str] | tuple[str, ...], cap: int
) -> DataFrame:
    """Drop grams whose posting list exceeds ``cap`` (skew/stop-gram guard).

    Shared by every blocking-style self/pair join in the engine: trigram
    blocking here, and every near-dup bucket self-join through
    ``bucket_pairs`` below (shingle, MinHash, SimHash and embedding-LSH
    keys, batch and streaming). A key whose posting list squares inside
    one join task is the canonical 100 TB skew-killer, so the cap is
    applied before *any* key-equality pair generation.

    ``gram_col`` may be one column name or a list of them — a composite key
    (e.g. LSH ``(table_id, bucket)``) counts and anti-joins on all columns
    directly, so call sites never materialize a throwaway concatenated key.

    The broadcast side is the OVER-cap key list (``_df > cap``), removed
    with a ``left_anti`` join — never the keep-list. The over-cap set is
    small BY CONSTRUCTION at any scale: each over-cap key owns > ``cap``
    index rows, so there can be at most ``n_rows / cap`` of them. The
    keep-list has no such bound — for bucket-type keys (MinHash bands,
    embedding-LSH ``(table_id, bucket)``) distinct-key count grows
    linearly with corpus size (most buckets are singletons), and
    broadcasting it at 10^11 rows is a driver OOM, not a slowdown. Set
    algebra makes the two forms output-identical: dropping rows whose key
    is over cap ≡ keeping rows whose key is at-or-under cap (every index
    row's key is in exactly one of the two lists). A further AQE bonus of
    the anti form: when NO key exceeds the cap the broadcast side is
    empty and AQE eliminates the join outright.
    """
    cols = [gram_col] if isinstance(gram_col, str) else list(gram_col)
    counts = index.groupBy(*cols).agg(F.count(F.lit(1)).alias("_df"))
    over = counts.filter(F.col("_df") > cap).select(*cols)
    return index.join(F.broadcast(over), cols, "left_anti")


def bucket_pairs(
    index: DataFrame,
    key: str | list[str] | tuple[str, ...],
    *,
    cap: int | None = None,
    probe: Callable[[DataFrame], DataFrame] | None = None,
) -> DataFrame:
    """Candidate pairs of a bucket self-join — the near-dup family's one
    candidate step (shingle, MinHash band, SimHash block and embedding-LSH
    keys; batch operators and streaming micro-batches alike).

    ``index`` has an ``id`` column, the ``key`` column(s), and any further
    columns, which are carried to both sides of each pair. Keys over
    ``cap`` are dropped first (``apply_df_cap``). ``probe`` (for example
    ``ann.expand_probes``) then rewrites the LEFT side's keys only, after
    the cap, so a probe never resurrects an over-cap key and hamming
    distance is not counted twice. Returns ``id_a, id_b`` plus
    ``<c>_a, <c>_b`` per carried column, with ``id_a < id_b`` and one row
    per ``(id_a, id_b)`` however many keys the pair shares; verification
    is the caller's.
    """
    keys = [key] if isinstance(key, str) else list(key)
    if cap is not None:
        index = apply_df_cap(index, keys, cap)
    left = index if probe is None else probe(index)
    carried = [c for c in index.columns if c != "id" and c not in keys]
    return (
        left.alias("a")
        .join(index.alias("b"), keys)
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            *[F.col(f"a.{c}").alias(f"{c}_a") for c in carried],
            *[F.col(f"b.{c}").alias(f"{c}_b") for c in carried],
        )
        .dropDuplicates(["id_a", "id_b"])
    )


def verified_pairs(
    cand: DataFrame,
    left: DataFrame,
    right: DataFrame,
    sim: Callable[[str, str], Column],
    threshold: float,
    *,
    score: str = "sim",
) -> DataFrame:
    """The near-dup family's one verify step, after ``bucket_pairs``:
    ``cand (id_a, id_b)`` joined to each side's ``(id, <payload>)`` frame,
    the payload carried as ``<payload>_a`` / ``<payload>_b`` (the
    ``bucket_pairs`` naming), scored as ``score = sim(<payload>_a,
    <payload>_b)`` and kept where ``score >= threshold``. Both frames name
    their payload column alike."""
    (p,) = [c for c in left.columns if c != "id"]
    return (
        cand.join(left.select(F.col("id").alias("id_a"), F.col(p).alias(f"{p}_a")), "id_a")
        .join(right.select(F.col("id").alias("id_b"), F.col(p).alias(f"{p}_b")), "id_b")
        .withColumn(score, sim(f"{p}_a", f"{p}_b"))
        .filter(F.col(score) >= F.lit(float(threshold)))
    )


def recommended_block_df(n_rows: int, *, frac: float = 0.1, lo: int = 500) -> int:
    """Posting-list cap that scales with the side's row count — the
    round-6 measured law (BENCH/BASELINE.md, link_many 10x run): a FIXED
    ``max_block_df`` stops biting as the corpus grows, and any gram shared
    by a constant fraction of rows (corporate suffixes: "corp", "inc")
    then self-joins quadratically — 3-way resolution over short org names
    went 23.2x wall-clock for 10x data at the default fixed cap, vs 4.22x
    once the cap was sized to drop those grams. The rule: a gram carried
    by more than ``frac`` of a side is a stop-gram (it identifies nothing
    — same reasoning as df-based stopword induction), so cap at
    ``max(lo, ceil(frac * n_rows))``; ``lo`` keeps small corpora from
    capping informative grams. Same shape as ``ann.recommended_n_planes``:
    the skew knob must scale with the data or the hot keys square."""
    import math

    return max(lo, math.ceil(float(frac) * max(0, n_rows)))


def induced_stop_grams(
    prep: DataFrame,
    id_col: str,
    cfg: LinkConfig,
    *,
    cap: int | None = None,
) -> DataFrame:
    """The grams a df cap would DROP from the blocking join, with their
    document frequency — the inspectable face of ``max_block_df`` /
    ``recommended_block_df``: the stop-gram vocabulary (``"corp"``,
    ``"inc"``, shared suffix trigrams) whose posting lists would otherwise
    square inside the gram join, exactly the grams ``apply_df_cap``
    removes at this cap. Sibling of ``assess.skew_profile``, which
    profiles an arbitrary pre-aggregated key.

    ``prep`` is a prepared side (``functions.normalize.prepare_side``
    output). ``cap=None`` sizes the cap by ``recommended_block_df(n_names)``
    — one scalar count, the price ``ann.recommended_n_planes`` pays.

    Returns ``(gram, df, df_share, cap)``: posting-list size, its share
    of the side's distinct names, and the cap used. Scale shape: explode
    → one map-side-combinable groupBy(gram) count → filter.
    """
    from .scoring import index_side  # scoring imports this module

    index = gram_index(index_side(prep, id_col, cfg), id_col, cfg)
    n_names = index.select(id_col).distinct().count()
    used_cap = recommended_block_df(n_names) if cap is None else int(cap)
    return (
        index.groupBy("gram")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") > used_cap)
        .select(
            "gram",
            F.col("df").cast("long").alias("df"),
            F.round(F.col("df") / F.lit(float(max(1, n_names))), 6).alias(
                "df_share"
            ),
            F.lit(used_cap).cast("long").alias("cap"),
        )
    )


def shared_gram_pairs(
    x_tri: DataFrame,
    y_tri: DataFrame,
    cfg: LinkConfig,
    *,
    x_id: str,
    y_id: str,
    x_count: int | None = None,
    y_count: int | None = None,
) -> DataFrame:
    """The blocking rule over two prebuilt ``gram_index`` frames, and the
    engine's one way from gram indexes to name-pair candidates. Ids must
    be distinct per side: a repeated id double-counts its shared grams and
    lets in extra candidates. In order: the df cap
    (``apply_df_cap``) per side, which keeps x's pre-cap ``n_grams`` so
    the >= ceil(frac · n) contract stays monotone under capping; salting
    when ``cfg.salt_buckets > 1``; the gram equi-join, shared count per
    (x, y) and ``shared_gram_rule``. ``y_tri`` needs only ``(y_id,
    gram)``.

    ``x_count`` / ``y_count``: an already-known upper bound on the distinct
    ids of that side's index. A gram's posting list is bounded by it, so
    ``count <= max_block_df`` proves the cap a no-op and its aggregate +
    broadcast + anti-join subtree is pruned outright (round-7 measure: the
    cap subtrees were ~40% of candidate-generation wall on sides far under
    the cap). ``None`` (unknown) keeps the cap unconditionally.

    Returns ``(x_id, y_id, shared_grams, n_grams_x)``. A self-join passes
    one index under two id names and filters ``x_id < y_id`` afterwards;
    Catalyst pushes that filter into the gram join.
    """
    x_tri = x_tri.withColumnRenamed("n_grams", "n_grams_x")
    y_tri = y_tri.drop("n_grams")
    if cfg.max_block_df is not None:
        if x_count is None or x_count > cfg.max_block_df:
            x_tri = apply_df_cap(x_tri, "gram", cfg.max_block_df)
        if y_count is None or y_count > cfg.max_block_df:
            y_tri = apply_df_cap(y_tri, "gram", cfg.max_block_df)

    if cfg.salt_buckets and cfg.salt_buckets > 1:
        s = cfg.salt_buckets
        y_tri = y_tri.withColumn("_salt", F.pmod(F.xxhash64(F.col(y_id)), F.lit(s)))
        x_tri = x_tri.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(s - 1))))
        join_keys = ["gram", "_salt"]
    else:
        join_keys = ["gram"]

    return (
        x_tri.join(y_tri, join_keys)
        .groupBy(x_id, y_id, "n_grams_x")
        .agg(F.count(F.lit(1)).alias(SHARED_COL))
        .filter(shared_gram_rule(SHARED_COL, "n_grams_x", cfg))
        .select(x_id, y_id, SHARED_COL, "n_grams_x")
    )


def candidate_pairs(
    x_prep: DataFrame,
    y_prep: DataFrame,
    cfg: LinkConfig,
    *,
    x_id: str = "x_id",
    y_id: str = "y_id",
    x_count: int | None = None,
    y_count: int | None = None,
) -> DataFrame:
    """Blocked candidate pairs ``(x_id, y_id, shared_grams, n_grams_x)``
    of two prepared sides (``functions.normalize.prepare_side`` output):
    a wrapper that indexes each side (``scoring.index_side``, then
    ``gram_index``) and runs ``shared_gram_pairs``.

    ``x_count`` / ``y_count`` bound the distinct values of that side's id
    column (see ``shared_gram_pairs``); never add an action just to learn
    one. A calibration's distinct-NAME counts qualify only for
    ``prepare_side`` ids (content hashes of the name); ids supplied from
    outside can outnumber names.
    """
    from .scoring import index_side  # scoring imports this module

    x_tri = gram_index(index_side(x_prep, x_id, cfg), x_id, cfg)
    y_tri = gram_index(index_side(y_prep, y_id, cfg), y_id, cfg)
    kw = dict(x_id=x_id, y_id=y_id, x_count=x_count, y_count=y_count)
    return shared_gram_pairs(x_tri, y_tri, cfg, **kw)


def sorted_neighborhood_pairs(
    prep: DataFrame,
    y_prep: DataFrame | None = None,
    *,
    id_col: str = "x_id",
    y_id_col: str = "y_id",
    window: int = 5,
    prefix_len: int = 2,
) -> DataFrame:
    """Sorted-neighborhood (SNM) candidate pairs — the OTHER classic
    blocking family (Hernandez-Stolfo 1995): sort the records by key and
    pair every record with its ``window - 1`` successors. Complements the
    trigram join: SNM catches near-names that share a sort-key PREFIX but
    few grams, costs at most ``n * (window-1)`` pairs, and its recall
    knob (window width) is independent of token statistics.

    One-sided (``y_prep=None``): self-pairs over ``prep``'s distinct
    normalized names. Two-sided (the classic linkage form): both sides
    INTERLEAVE into one sort order — ties on equal names break x-side
    first — and only CROSS-side pairs within the window are emitted, so
    an x name and a near-identical y name pair even when many same-side
    names sit between them... up to the window, as SNM semantics demand.

    Returns ``(x_id, y_id, pos_x, pos_y)`` with ``|pos_y - pos_x|`` in
    ``[1, window)`` over the global sort positions (one-sided output is
    oriented ``pos_x < pos_y``; two-sided output puts the x-side record
    first regardless of position order).

    Scale shape — the global rank WITHOUT a single-partition window
    (the same distributed-prefix-sum idiom as ``corpus.pack_chunks``):
    records bucket by their ``prefix_len``-char key prefix (prefix blocks
    are CONTIGUOUS in sort order), per-bucket ``row_number`` runs
    bucket-parallel, and the only global window orders the tiny
    per-bucket count frame (|buckets| rows, broadcast back). Pairing is
    an equi-join on position bands (each record probes its own band and
    the next — never an OR/theta join). A pathologically hot prefix
    (every name starting "aa") skews one bucket's window; deepen
    ``prefix_len`` the way you would tighten ``max_block_df``.
    """
    if window < 2:
        raise ValueError("sorted_neighborhood_pairs needs window >= 2")
    if prefix_len < 1:
        raise ValueError("prefix_len must be >= 1")
    from pyspark.sql import Window

    base = (
        prep.select(F.col(id_col).alias("_sid"), F.col(NORM_COL).alias("_k"))
        .dropDuplicates(["_sid"])
        .withColumn("_side", F.lit(0))
    )
    if y_prep is not None:
        base = base.unionByName(
            y_prep.select(
                F.col(y_id_col).alias("_sid"), F.col(NORM_COL).alias("_k")
            )
            .dropDuplicates(["_sid"])
            .withColumn("_side", F.lit(1))
        )
    d = base.withColumn("_bk", F.substring("_k", 1, prefix_len))
    btot = d.groupBy("_bk").agg(F.count(F.lit(1)).alias("_bt"))
    wb = Window.orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "_bk",
        F.coalesce(F.sum("_bt").over(wb), F.lit(0)).cast("long").alias("_boff"),
    )
    wi = Window.partitionBy("_bk").orderBy("_k", "_side", "_sid")
    pos = (
        d.join(F.broadcast(boff), "_bk")
        .withColumn("_pos", (F.col("_boff") + F.row_number().over(wi)).cast("long"))
        .withColumn("_g", F.floor((F.col("_pos") - 1) / F.lit(int(window))))
    )
    probe = pos.select(
        F.col("_sid").alias("_id_a"),
        F.col("_side").alias("_side_a"),
        F.col("_pos").alias("_pos_a"),
        F.explode(F.array(F.col("_g"), F.col("_g") + 1)).alias("_gj"),
    )
    build = pos.select(
        F.col("_sid").alias("_id_b"),
        F.col("_side").alias("_side_b"),
        F.col("_pos").alias("_pos_b"),
        F.col("_g").alias("_gj"),
    )
    cand = probe.join(build, "_gj").filter(
        (F.col("_pos_b") > F.col("_pos_a"))
        & (F.col("_pos_b") - F.col("_pos_a") < F.lit(int(window)))
    )
    if y_prep is None:
        return cand.select(
            F.col("_id_a").alias(id_col),
            F.col("_id_b").alias(y_id_col),
            F.col("_pos_a").alias("pos_x"),
            F.col("_pos_b").alias("pos_y"),
        )
    # cross-side only, oriented x-side first whatever the position order
    flip = F.col("_side_a") == 1
    return cand.filter(F.col("_side_a") != F.col("_side_b")).select(
        F.when(flip, F.col("_id_b")).otherwise(F.col("_id_a")).alias(id_col),
        F.when(flip, F.col("_id_a")).otherwise(F.col("_id_b")).alias(y_id_col),
        F.when(flip, F.col("_pos_b")).otherwise(F.col("_pos_a")).alias("pos_x"),
        F.when(flip, F.col("_pos_a")).otherwise(F.col("_pos_b")).alias("pos_y"),
    )
