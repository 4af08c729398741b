"""Pairwise scoring of blocked candidates.

Reference: candidates surviving the shared-trigram filter are scored with
``stringdist`` and kept when ``dist <= MaxDist``
(``LinkOrgs/R/LinkOrgs_PFuzzyDiscreteInternal.R:140-148``) — a theta join
realized, as in every Spark ER engine, as block → score → filter.

Each input is indexed once (``index_side``: its distinct names with their
q-gram sets) and every match it takes part in probes that one build. The
names are attached to a pair by two equi-joins against the indexed sides
(the reference's positional ``cbind(x[ix,], y[iy,])`` re-join —
``PFuzzyDiscreteFullFxn.R:84-88``).
"""

from __future__ import annotations

from typing import NamedTuple, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist
from ..config import LinkConfig
from ..functions.normalize import NORM_COL
from ..functions.qgrams import (
    jaccard_dist_from_sizes_expr,
    packed_qgram_set_expr,
    qgram_set_expr,
)
from ..functions.scorers import distance_expr
from .blocking import (
    SHARED_COL,
    gram_index,
    gram_set_expr,
    shared_gram_pairs,
    shared_gram_rule,
)

DIST_COL = "stringdist"


def name_sets(names: DataFrame, cfg: LinkConfig) -> DataFrame:
    """The per-name scoring frame: ``names`` (any id columns plus
    ``name_norm``) with, for jaccard, each row's q-gram set ``_g`` and
    its size ``_n``. Built once per distinct name (n rows) instead of per
    candidate pair (can be 1000x more rows), so the per-pair work drops to
    ONE array_intersect — the union size is |A|+|B|−|A∩B| from the
    joined-in sizes. For q <= 3 the sets are PACKED bigint arrays
    (injective code-point pack, identical cardinalities/intersections):
    long hashing makes the per-pair intersect ~4.5x cheaper than
    UTF8String hashing. Other measures score the name strings directly,
    so their frame comes back unchanged."""
    if cfg.distance_measure != "jaccard":
        return names
    set_expr = packed_qgram_set_expr if cfg.qgram <= 3 else qgram_set_expr
    return names.withColumn("_g", set_expr(NORM_COL, cfg.qgram)).withColumn(
        "_n", F.size("_g")
    )


def index_side(
    prep: DataFrame, id_col: str, cfg: LinkConfig, *, carry: Sequence[str] = ()
) -> DataFrame:
    """The one per-input build of name-pair matching, and the only place a
    side is deduplicated: ``prep``'s ``(id_col, name_norm, *carry)`` rows,
    one per id, with their ``name_sets``. ``carry`` columns (the
    directory's ``canonical_id``) spare a match a join back to its input."""
    return name_sets(prep.select(id_col, NORM_COL, *carry).dropDuplicates([id_col]), cfg)


class IndexedSide(NamedTuple):
    """One input, built once for every match it takes part in."""

    names: DataFrame
    grams: DataFrame
    id: str


def indexed(names: DataFrame, id_col: str, cfg: LinkConfig) -> IndexedSide:
    """``names`` (``index_side`` rows) with their ``gram_index``."""
    return IndexedSide(names, gram_index(names, id_col, cfg), id_col)


def match_sides(
    x: IndexedSide,
    y: IndexedSide,
    cfg: LinkConfig,
    *,
    x_count: int | None = None,
    y_count: int | None = None,
    max_dist: float | None = None,
) -> DataFrame:
    """``shared_gram_pairs`` over two indexed sides' gram indexes, then
    ``score_name_pairs`` over their rows."""
    kw = dict(x_id=x.id, y_id=y.id)
    cands = shared_gram_pairs(x.grams, y.grams, cfg, x_count=x_count, y_count=y_count, **kw)
    return score_name_pairs(cands, x.names, y.names, cfg, max_dist=max_dist, **kw)


def match_self(
    side: IndexedSide,
    cfg: LinkConfig,
    *,
    count: int | None = None,
    max_dist: float | None = None,
) -> DataFrame:
    """Blocked and scored pairs of one indexed side with itself, its id
    renamed to ``x_id`` / ``y_id``, one row per unordered pair (``x_id <
    y_id``, which Catalyst pushes into the gram join); ``count`` bounds
    the side's ids."""
    x, y = (
        IndexedSide(*(f.withColumnRenamed(side.id, c) for f in (side.names, side.grams)), c)
        for c in ("x_id", "y_id")
    )
    cands = shared_gram_pairs(
        x.grams, y.grams, cfg, x_id="x_id", y_id="y_id", x_count=count, y_count=count
    ).filter(F.col("x_id") < F.col("y_id"))
    return score_name_pairs(cands, x.names, y.names, cfg, max_dist=max_dist)


def score_name_pairs(
    pairs: DataFrame,
    x_names: DataFrame,
    y_names: DataFrame,
    cfg: LinkConfig,
    *,
    x_id: str = "x_id",
    y_id: str = "y_id",
    max_dist: float | None = None,
) -> DataFrame:
    """Score id pairs against two per-name frames (``name_sets`` output) —
    the engine's one name-pair scorer: ``match_sides``, ``score_pairs``
    and both steps of the streaming resolver call it.

    ``x_names`` is keyed by ``x_id`` and ``y_names`` by ``y_id``. Each of
    their other columns comes out once per side, suffixed ``_x`` / ``_y``
    (``name_norm`` → ``name_norm_x``; the set columns ``_g`` / ``_n`` →
    ``_gx`` / ``_nx``, dropped after scoring), beside ``stringdist``:
    ``cfg.distance_measure`` over the two names. A frame is joined as
    given, so a key repeated in it (an alias listed under two entities)
    repeats its pairs.
    """

    def side(names: DataFrame, id_col: str, sfx: str) -> DataFrame:
        # "name_norm" -> "name_norm_x", "_g" -> "_gx"; the id keeps its name
        cols = [(c, f"{c}{sfx}" if c.startswith("_") else f"{c}_{sfx}") for c in names.columns]
        return names.select(*[F.col(c).alias(c if c == id_col else t) for c, t in cols])

    if cfg.distance_measure == "jaccard":
        dist = jaccard_dist_from_sizes_expr("_gx", "_gy", "_nx", "_ny")
    else:
        dist = distance_expr(
            cfg.distance_measure, "name_norm_x", "name_norm_y", qgram=cfg.qgram
        )
    scored = (
        pairs.select(x_id, y_id)
        .join(side(x_names, x_id, "x"), x_id)
        .join(side(y_names, y_id, "y"), y_id)
        .withColumn(DIST_COL, dist)
        .drop("_gx", "_gy", "_nx", "_ny")
    )
    if max_dist is not None and max_dist != float("inf"):
        # Materialization barrier before the filter: Catalyst otherwise
        # pushes the predicate INTO the scoring join's condition, where the
        # distance expression is evaluated on every probe row twice
        # (condition + projection) — measured ~8x slower than scoring once.
        scored = persist(scored).filter(F.col(DIST_COL) <= F.lit(float(max_dist)))
    return scored


def score_pairs(
    pairs: DataFrame,
    x_prep: DataFrame,
    y_prep: DataFrame,
    cfg: LinkConfig,
    *,
    x_id: str = "x_id",
    y_id: str = "y_id",
    max_dist: float | None = None,
) -> DataFrame:
    """Attach normalized names, score, and (optionally) threshold-filter
    arbitrary id pairs of two prepared sides: a wrapper that indexes each
    side (``index_side``) and runs ``score_name_pairs``.

    Returns ``(x_id, y_id, name_norm_x, name_norm_y, stringdist)``.
    """
    xn, yn = index_side(x_prep, x_id, cfg), index_side(y_prep, y_id, cfg)
    return score_name_pairs(pairs, xn, yn, cfg, x_id=x_id, y_id=y_id, max_dist=max_dist)


def explain_pairs(
    pairs: DataFrame,
    cfg: LinkConfig,
    *,
    name_x: str = "name_x",
    name_y: str = "name_y",
    measures: tuple = ("jaccard", "levenshtein", "jw", "osa"),
) -> DataFrame:
    """Match EXPLAINABILITY surface: for each raw name pair, the
    normalized forms, the blocking evidence (shared / total blocking-gram
    counts and whether the pair passes the blocking rule, both from
    ``blocking.gram_set_expr`` and ``blocking.shared_gram_rule`` — the
    df cap aside, what ``candidate_pairs`` decides), and the full panel
    of distances — what an ER practitioner reads to understand why a pair
    did (or did not) match, and to pick thresholds. A debugging/triage
    tool, not a pipeline stage: run it on a HANDFUL of pairs (it scores
    every requested measure per row).
    """
    from ..functions.normalize import normalize_expr

    d = pairs
    for sfx, raw in (("x", name_x), ("y", name_y)):
        norm = normalize_expr(
            raw,
            to_lower=cfg.to_lower,
            norm_space=cfg.norm_space,
            remove_punct=cfg.remove_punct,
        )
        d = d.withColumn(f"name_norm_{sfx}", norm)
        d = d.withColumn(f"_g{sfx}", gram_set_expr(f"name_norm_{sfx}", cfg))
    d = (
        d.withColumn("n_grams_x", F.size("_gx"))
        .withColumn("n_grams_y", F.size("_gy"))
        .withColumn(SHARED_COL, F.size(F.array_intersect("_gx", "_gy")))
        .withColumn("would_block", shared_gram_rule(SHARED_COL, "n_grams_x", cfg))
    )
    for m in measures:
        d = d.withColumn(
            f"dist_{m}",
            distance_expr(m, "name_norm_x", "name_norm_y", qgram=cfg.qgram),
        )
    return d.drop("_gx", "_gy")


def tfidf_cosine_scores(
    pairs: DataFrame,
    x_prep: DataFrame,
    y_prep: DataFrame,
    *,
    x_id: str = "x_id",
    y_id: str = "y_id",
    min_sim: float | None = None,
) -> DataFrame:
    """IDF-weighted token cosine over blocked candidate pairs — the
    classic TF-IDF name matcher (Cohen-Ravikumar-Fienberg 2003's TFIDF
    baseline, exact-token variant). Corporate boilerplate ("inc", "llc",
    "corp") appears in a huge fraction of org names, so edit and set
    distances over-credit suffix agreement; IDF weighting makes a shared
    RARE token worth far more than a shared ubiquitous one — the
    scoring-side counterpart of the blocking df-cap's stop-gram rule
    (``blocking.apply_df_cap`` drops those grams from CANDIDATE
    generation; this down-weights them in the SCORE).

    Definitions (all replicated by the DuckDB oracle): the corpus is the
    DISTINCT normalized names of both sides together (N names); token
    df = number of distinct names containing the token; idf =
    ln((N+1)/(df+1)) + 1 (the sklearn smooth convention this repo's
    ``tfidf_top_terms`` already uses); per-name weights tf·idf,
    L2-normalized, so ``tfidf_sim`` = Σ shared-token wx·wy ∈ [0, 1]
    (rounded to 6 dp — float-sum order differs across engines).

    Returns ``(x_id, y_id, name_norm_x, name_norm_y, tfidf_sim)``; pairs
    sharing NO token score 0.0. ``min_sim`` filters (a SIMILARITY, so >=).

    Scale shape: tokenization and weights are computed per DISTINCT NAME
    (n rows, never per pair); the pair score is two id-equi-joins — pairs
    to x token rows, then y token rows on (id, token) — so per-pair work
    is bounded by shared-token count. No UDFs, no cross products; the
    idf table is one bounded-vocabulary aggregate.
    """
    xn = x_prep.select(F.col(x_id), F.col(NORM_COL).alias("_nx")).dropDuplicates([x_id])
    yn = y_prep.select(F.col(y_id), F.col(NORM_COL).alias("_ny")).dropDuplicates([y_id])
    corpus = (
        xn.select(F.col("_nx").alias("_name"))
        .unionByName(yn.select(F.col("_ny").alias("_name")))
        .distinct()
    )
    n_names = corpus.groupBy().agg(F.count(F.lit(1)).alias("_n"))
    tok = corpus.select(
        "_name", F.explode(F.split("_name", " ")).alias("_tok")
    ).filter(F.length("_tok") > 0)
    tf = tok.groupBy("_name", "_tok").agg(F.count(F.lit(1)).alias("_tf"))
    idf = (
        tf.groupBy("_tok")
        .agg(F.count(F.lit(1)).alias("_df"))
        .crossJoin(F.broadcast(n_names))
        .select(
            "_tok",
            (F.log((F.col("_n") + F.lit(1.0)) / (F.col("_df") + F.lit(1.0))) + F.lit(1.0)).alias("_idf"),
        )
    )
    w = tf.join(idf, "_tok").select(
        "_name", "_tok", (F.col("_tf") * F.col("_idf")).alias("_w")
    )
    norm = w.groupBy("_name").agg(F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_l2"))
    unit = w.join(norm, "_name").select(
        "_name", "_tok", (F.col("_w") / F.col("_l2")).alias("_u")
    )
    px = pairs.select(x_id, y_id).join(xn, x_id).join(yn, y_id)
    shared = (
        px.join(unit.withColumnRenamed("_name", "_nx").withColumnRenamed("_u", "_ux"), ["_nx"])
        .join(
            unit.withColumnRenamed("_name", "_ny").withColumnRenamed("_u", "_uy"),
            ["_ny", "_tok"],
        )
        .groupBy(x_id, y_id)
        .agg(F.sum(F.col("_ux") * F.col("_uy")).alias("_sim"))
    )
    out = (
        px.join(shared, [x_id, y_id], "left")
        .select(
            x_id,
            y_id,
            F.col("_nx").alias("name_norm_x"),
            F.col("_ny").alias("name_norm_y"),
            F.round(F.coalesce(F.col("_sim"), F.lit(0.0)), 6).alias("tfidf_sim"),
        )
    )
    if min_sim is not None:
        out = out.filter(F.col("tfidf_sim") >= F.lit(float(min_sim)))
    return out


def triage_pairs(
    scored: DataFrame,
    *,
    match_max: float,
    review_max: float,
    dist_col: str = DIST_COL,
) -> DataFrame:
    """Three-zone decision over scored pairs (the Fellegi-Sunter link /
    possible-link / non-link partition, distance-thresholded): distance
    <= ``match_max`` ⇒ ``"match"``; <= ``review_max`` ⇒ ``"review"`` (the
    clerical-review queue a production ER pipeline exports for humans);
    else ``"non_match"``. NULL distances (a scorer that could not compare)
    land in ``"review"`` too — an uncomparable pair is exactly what a
    human should see, never a silent drop.

    Pure projection (one CASE column appended); thresholds are validated
    (``match_max <= review_max``) so the zones cannot silently invert."""
    if match_max > review_max:
        raise ValueError(
            f"match_max ({match_max}) must be <= review_max ({review_max})"
        )
    d = F.col(dist_col)
    return scored.withColumn(
        "decision",
        F.when(d.isNull(), F.lit("review"))
        .when(d <= F.lit(float(match_max)), F.lit("match"))
        .when(d <= F.lit(float(review_max)), F.lit("review"))
        .otherwise(F.lit("non_match")),
    )
