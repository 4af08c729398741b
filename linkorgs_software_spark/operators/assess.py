"""Match-quality evaluation — the F1 >= 0.99 gate.

Reference semantics (``LinkOrgs/R/LinkOrgs_AssessMatches.R:51-91``): dedup
both pair sets, then count membership — TP = predicted ∩ truth,
FP = predicted \\ truth, FN = truth \\ predicted, and
TN = n_distinct(x) * n_distinct(y) − TP − FP − FN. The reference's hashed
``%fin%`` membership becomes semi/anti joins (its own Spark analogue).
F1 = 2TP / (2TP + FP + FN), computed on the driver from four counts.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist, scoped_caches


@dataclass(frozen=True)
class MatchAssessment:
    tp: int
    fp: int
    fn: int
    tn: int

    @property
    def precision(self) -> float:
        d = self.tp + self.fp
        return self.tp / d if d else 0.0

    @property
    def recall(self) -> float:
        d = self.tp + self.fn
        return self.tp / d if d else 0.0

    @property
    def f1(self) -> float:
        d = 2 * self.tp + self.fp + self.fn
        return 2 * self.tp / d if d else 0.0


def _dedup_pairs(df: DataFrame, name_x: str, name_y: str) -> DataFrame:
    return df.select(
        F.col(name_x).alias("name_x"), F.col(name_y).alias("name_y")
    ).dropDuplicates(["name_x", "name_y"])


def assess_match_performance(
    z: DataFrame,
    z_true: DataFrame,
    *,
    n_x: int,
    n_y: int,
    name_x: str = "name_x",
    name_y: str = "name_y",
) -> MatchAssessment:
    """Confusion counts for predicted pairs ``z`` against truth ``z_true``.

    ``n_x`` / ``n_y`` are the distinct-name counts of the two input tables
    (the TN universe, ``AssessMatches.R:64``).
    """
    # Cache both deduped pair sets for the two counts: ``z`` is typically
    # the full linkage plan — without the cache each confusion count would
    # re-run the whole pipeline (blocking + scoring + windows) once per
    # count. Released on return: the counts are all that escape.
    with scoped_caches():
        pred = persist(_dedup_pairs(z, name_x, name_y))
        truth = persist(_dedup_pairs(z_true, name_x, name_y))

        keys = ["name_x", "name_y"]
        # TP and FP in one pass over pred; FN in one pass over truth.
        marked = pred.join(truth.withColumn("_t", F.lit(1)), keys, "left")
        row = marked.agg(
            F.count(F.when(F.col("_t").isNotNull(), 1)).alias("tp"),
            F.count(F.when(F.col("_t").isNull(), 1)).alias("fp"),
        ).collect()[0]
        tp, fp = row["tp"], row["fp"]
        fn = truth.join(pred, keys, "left_anti").count()
    tn = n_x * n_y - tp - fp - fn
    return MatchAssessment(tp=tp, fp=fp, fn=fn, tn=tn)


def assess_blocking(
    cand_pairs: DataFrame,
    truth_pairs: DataFrame,
    *,
    n_x: int,
    n_y: int,
    name_x: str = "name_x",
    name_y: str = "name_y",
) -> DataFrame:
    """Blocking-stage quality as one summary row (standard ER blocking
    metrics): ``pairs_completeness`` = fraction of true pairs surviving
    candidate generation (recall ceiling for every downstream scorer) and
    ``reduction_ratio`` = 1 − candidates / (n_x·n_y) (how much of the
    quadratic comparison space blocking eliminated).

    Tuning blocking keys at scale IS the trade between these two numbers —
    a df-cap or a tighter shared-gram threshold moves both, so the engine
    exposes them as a first-class measurement rather than leaving candidate
    quality to be discovered from end-to-end F1 regressions. Returns a
    1-row DataFrame (no driver-side collect; the three aggregates are
    scalar frames joined by cross product, each a map-side count).
    """
    cand = _dedup_pairs(cand_pairs, name_x, name_y)
    truth = _dedup_pairs(truth_pairs, name_x, name_y)
    keys = ["name_x", "name_y"]
    covered = truth.join(cand, keys, "left_semi")
    a = cand.agg(F.count(F.lit(1)).alias("n_candidates"))
    b = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    c = covered.agg(F.count(F.lit(1)).alias("n_covered"))
    return (
        a.crossJoin(b)
        .crossJoin(c)
        .select(
            "n_candidates",
            "n_truth",
            "n_covered",
            F.round(
                F.when(F.col("n_truth") > 0, F.col("n_covered") / F.col("n_truth"))
                .otherwise(F.lit(0.0)),
                6,
            ).alias("pairs_completeness"),
            F.round(
                F.lit(1.0) - F.col("n_candidates") / F.lit(float(n_x) * float(n_y)), 6
            ).alias("reduction_ratio"),
        )
    )


def skew_profile(
    df: DataFrame,
    key_cols,
    *,
    top_n: int = 10,
) -> DataFrame:
    """Join/groupBy key skew diagnostics: the ``top_n`` heaviest keys with
    their share of all rows and a skew factor vs the mean key — the
    measurement to run BEFORE committing a big shuffle at 100 TB, and the
    evidence for choosing a df-cap, salting, or AQE skew handling (every
    LSH/blocking family in this engine caps exactly the keys this report
    surfaces).

    Returns ``(key, n_rows, row_share, skew_factor, rank)``:
    ``skew_factor`` = key rows / mean rows per key (1.0 = average key).

    Scale shape: one count aggregate on the key (the same shuffle the
    diagnosed join would do, but map-side reduced), one scalar totals row,
    and an ``orderBy().limit()`` top-n (TakeOrderedAndProject — no global
    window over the key vocabulary); the ranked frame is ``top_n`` rows,
    so the rank window is a deliberate tiny single task. round(·, 6) and
    (count desc, key asc) tie order keep it oracle-portable.
    """
    from pyspark.sql import Window

    keys = [key_cols] if isinstance(key_cols, str) else list(key_cols)
    key = F.concat_ws("|", *[F.col(c).cast("string") for c in keys])
    # persisted (cache.release_caches lifecycle): the eager totals collect
    # below and the returned top-n plan otherwise each run the full
    # key-count shuffle — doubling the cost of the very shuffle this
    # diagnostic exists to measure
    counts = persist(
        df.select(key.alias("key")).groupBy("key").agg(F.count(F.lit(1)).alias("n_rows"))
    )
    tot = counts.agg(
        F.sum("n_rows").alias("_t"), F.count(F.lit(1)).alias("_k")
    ).collect()[0]
    total, nkeys = int(tot["_t"] or 0), int(tot["_k"] or 0)
    if total == 0:
        return counts.select(
            "key",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.lit(0.0).alias("row_share"),
            F.lit(0.0).alias("skew_factor"),
            F.lit(0).cast("long").alias("rank"),
        )
    mean = total / nkeys
    w = Window.orderBy(F.col("n_rows").desc(), F.col("key").asc())
    return (
        counts.orderBy(F.col("n_rows").desc(), F.col("key").asc())
        .limit(top_n)
        .withColumn("rank", F.row_number().over(w))
        .select(
            "key",
            F.col("n_rows").cast("long").alias("n_rows"),
            F.round(F.col("n_rows") / F.lit(float(total)), 6).alias("row_share"),
            F.round(F.col("n_rows") / F.lit(float(mean)), 6).alias("skew_factor"),
            F.col("rank").cast("long").alias("rank"),
        )
    )


def b3_scores(
    pred: DataFrame,
    truth: DataFrame,
    *,
    id_col: str = "id",
    pred_col: str = "pred_cluster",
    true_col: str = "true_cluster",
    unmatched: str = "drop",
) -> DataFrame:
    """B-cubed clustering precision/recall/F1 (Bagga & Baldwin 1998) — the
    standard CLUSTER-level entity-resolution metric, complementing the
    pairwise F1 gate (``assess_match_performance``): pairwise F1 weights
    big clusters quadratically, B³ averages per RECORD, so a handful of
    giant merged clusters can no longer hide many small mistakes.

    One row ``(n_records, b3_precision, b3_recall, b3_f1)``. For record e:
    P(e) = |pred(e) ∩ true(e)| / |pred(e)|, R(e) = the same over
    |true(e)|; scores are means over records.

    ``unmatched`` controls records present in only one assignment:
    ``"drop"`` (default, the historical behavior) keeps only records both
    clusterings cover (inner join); ``"singleton"`` keeps every record,
    treating a record missing from one side as a singleton cluster there
    (full outer join + a per-record unique label) — the standard
    extension for partial system output, where an unclustered record is
    "its own entity". Under it a record the system skipped scores
    R(e) = 1/|true(e)| (recall debt) and P(e) = 1, and vice versa —
    coverage gaps now show up in the score instead of vanishing.
    Synthetic singleton labels are prefixed with a control character
    (``\\x01``) so they cannot collide with real cluster ids; cluster
    labels are compared as strings.

    Scale shape: never materializes cluster MEMBER PAIRS — three count
    aggregates (per (pred,true) cell, per pred, per true) and one
    weighted sum: Σ_cells n_pt·(n_pt/n_p) / N. All shuffles are keyed on
    cluster ids; a viral cluster costs one count, not |cluster|² rows.
    Singleton mode adds no new shuffle shape: each one-sided record
    becomes a size-1 cell keyed by its own id. round(·, 6) for oracle
    parity.
    """
    if unmatched not in ("drop", "singleton"):
        raise ValueError(
            f"unmatched must be 'drop' or 'singleton', got {unmatched!r}"
        )
    a = pred.select(
        F.col(id_col).alias("_id"), F.col(pred_col).cast("string").alias("_p")
    )
    b = truth.select(
        F.col(id_col).alias("_id"), F.col(true_col).cast("string").alias("_t")
    )
    if unmatched == "singleton":
        joined = (
            a.join(b, "_id", "full_outer")
            .withColumn(
                "_p",
                F.coalesce(
                    F.col("_p"),
                    F.concat(F.lit("\x01solo_p:"), F.col("_id").cast("string")),
                ),
            )
            .withColumn(
                "_t",
                F.coalesce(
                    F.col("_t"),
                    F.concat(F.lit("\x01solo_t:"), F.col("_id").cast("string")),
                ),
            )
        )
    else:
        joined = a.join(b, "_id")
    cells = joined.groupBy("_p", "_t").agg(F.count(F.lit(1)).alias("n_pt"))
    np_ = cells.groupBy("_p").agg(F.sum("n_pt").alias("n_p"))
    nt_ = cells.groupBy("_t").agg(F.sum("n_pt").alias("n_t"))
    agg = (
        cells.join(np_, "_p")
        .join(nt_, "_t")
        .agg(
            F.sum("n_pt").alias("n"),
            F.sum(F.col("n_pt") * F.col("n_pt") / F.col("n_p")).alias("_sp"),
            F.sum(F.col("n_pt") * F.col("n_pt") / F.col("n_t")).alias("_sr"),
        )
    )
    p = F.col("_sp") / F.col("n")
    r = F.col("_sr") / F.col("n")
    return agg.select(
        F.col("n").cast("long").alias("n_records"),
        F.round(p, 6).alias("b3_precision"),
        F.round(r, 6).alias("b3_recall"),
        F.round(
            F.when(p + r > 0, F.lit(2.0) * p * r / (p + r)).otherwise(F.lit(0.0)), 6
        ).alias("b3_f1"),
    )


def pairwise_scores(
    pred: DataFrame,
    truth: DataFrame,
    *,
    id_col: str = "id",
    pred_col: str = "pred_cluster",
    true_col: str = "true_cluster",
) -> DataFrame:
    """Pairwise clustering precision/recall/F1 plus the Adjusted Rand
    Index between two cluster assignments of the same records — the
    PAIR-level ER metric family, the classical complement to ``b3_scores``
    (B³ averages per record; pairwise weights a cluster's contribution by
    its C(n,2) pair count, so it is the score a downstream consumer of
    *merged pairs* actually experiences; Hubert & Arabie 1985 for ARI).

    One row ``(n_records, n_pairs_pred, n_pairs_true, n_pairs_both,
    pair_precision, pair_recall, pair_f1, adjusted_rand)`` over the
    records both assignments cover (inner join on ``id_col``).

    Scale shape — identical to ``b3_scores`` and for the same reason:
    NEVER materializes member pairs (``clusters_to_pairs`` squares per
    cluster; a viral entity would explode). Everything reduces to the
    (pred, true) contingency CELL counts: with n_pt the cell sizes,
    n_p / n_t the marginals, every term is a sum of C(k, 2) = k(k-1)/2
    over cells or marginals — three map-side-combined count aggregates
    and one scalar row out. ARI comes from the same four sums:
    (Σ_cells C(n_pt,2) − E) / (½(ΣC(n_p,2)+ΣC(n_t,2)) − E) with
    E = ΣC(n_p,2)·ΣC(n_t,2)/C(n,2). round(·, 6) for oracle parity;
    degenerate denominators (no pairs on a side, or both clusterings
    all-singleton / all-one-cluster where ARI's denominator is 0) score
    0.0 rather than NULL so the row is always complete.
    """
    a = pred.select(
        F.col(id_col).alias("_id"), F.col(pred_col).cast("string").alias("_p")
    )
    b = truth.select(
        F.col(id_col).alias("_id"), F.col(true_col).cast("string").alias("_t")
    )
    cells = a.join(b, "_id").groupBy("_p", "_t").agg(F.count(F.lit(1)).alias("n_pt"))
    np_ = cells.groupBy("_p").agg(F.sum("n_pt").alias("n_p"))
    nt_ = cells.groupBy("_t").agg(F.sum("n_pt").alias("n_t"))

    def _c2(col):  # C(k, 2) as double to keep the big sums overflow-safe
        return F.sum(col.cast("double") * (col.cast("double") - 1) / 2)

    agg = (
        cells.agg(F.sum("n_pt").alias("n"), _c2(F.col("n_pt")).alias("both"))
        .crossJoin(np_.agg(_c2(F.col("n_p")).alias("pp")))
        .crossJoin(nt_.agg(_c2(F.col("n_t")).alias("pt")))
    )
    prec = F.when(F.col("pp") > 0, F.col("both") / F.col("pp")).otherwise(F.lit(0.0))
    rec = F.when(F.col("pt") > 0, F.col("both") / F.col("pt")).otherwise(F.lit(0.0))
    total = F.col("n").cast("double") * (F.col("n").cast("double") - 1) / 2
    e = F.when(total > 0, F.col("pp") * F.col("pt") / total).otherwise(F.lit(0.0))
    denom = (F.col("pp") + F.col("pt")) / 2 - e
    ari = F.when(denom != 0, (F.col("both") - e) / denom).otherwise(F.lit(0.0))
    return agg.select(
        F.col("n").cast("long").alias("n_records"),
        F.col("pp").cast("long").alias("n_pairs_pred"),
        F.col("pt").cast("long").alias("n_pairs_true"),
        F.col("both").cast("long").alias("n_pairs_both"),
        F.round(prec, 6).alias("pair_precision"),
        F.round(rec, 6).alias("pair_recall"),
        F.round(
            F.when(prec + rec > 0, F.lit(2.0) * prec * rec / (prec + rec)).otherwise(
                F.lit(0.0)
            ),
            6,
        ).alias("pair_f1"),
        F.round(ari, 6).alias("adjusted_rand"),
    )


def resolution_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "id",
    old_col: str = "cluster",
    new_col: str = "cluster",
) -> DataFrame:
    """Split/merge audit between two entity-resolution runs over the same
    records — the regression report for a re-resolution (new model, new
    threshold, new blocking cap): did entities fragment, fuse, or hold?

    One row: ``n_records`` (covered by both runs), ``n_only_old`` /
    ``n_only_new`` (coverage churn), ``n_clusters_old`` /
    ``n_clusters_new`` (over the common records), ``n_split`` (old
    clusters whose members land in ≥2 new clusters), ``n_merged`` (new
    clusters drawing from ≥2 old clusters), and ``n_unchanged`` (old
    clusters whose member set is EXACTLY one new cluster — the old
    cluster maps to a single cell that is simultaneously its whole old
    marginal and that new cluster's whole new marginal).

    A cluster can count in both ``n_split`` and (via its fragments' new
    homes) feed ``n_merged`` — splits and merges are independent axes,
    which is exactly what a threshold change does (break weak edges,
    forge new ones). Scale shape: the same (old, new) contingency-cell
    counts as ``pairwise_scores`` / ``b3_scores`` — per-cell and marginal
    aggregates only, no member-pair joins; coverage churn comes from the
    same single full-outer join that feeds the cells, and the whole
    report is ONE declarative plan (every branch is a one-row aggregate,
    stitched back with broadcast-trivial crossJoins), so the driver runs
    one action, not a count per statistic. The cell frame is persisted
    (``cache.persist``) because five branches read it.
    """
    a = old.select(
        F.col(id_col).alias("_id"), F.col(old_col).cast("string").alias("_o")
    )
    b = new.select(
        F.col(id_col).alias("_id"), F.col(new_col).cast("string").alias("_n")
    )
    joined = a.join(b, "_id", "full_outer")
    cov = joined.agg(
        F.sum(
            (F.col("_o").isNotNull() & F.col("_n").isNull()).cast("long")
        ).alias("n_only_old"),
        F.sum(
            (F.col("_n").isNotNull() & F.col("_o").isNull()).cast("long")
        ).alias("n_only_new"),
    )
    cells = persist(
        joined.filter(F.col("_o").isNotNull() & F.col("_n").isNotNull())
        .groupBy("_o", "_n")
        .agg(F.count(F.lit(1)).alias("n_cell"))
    )
    per_old = cells.groupBy("_o").agg(
        F.sum("n_cell").alias("n_o"),
        F.count(F.lit(1)).alias("fanout"),
        F.max("n_cell").alias("max_cell"),
        F.max_by("_n", F.struct(F.col("n_cell"), F.col("_n"))).alias("_n_top"),
    )
    per_new = cells.groupBy("_n").agg(
        F.sum("n_cell").alias("n_n"), F.count(F.lit(1)).alias("fanin")
    )
    # an old cluster is unchanged iff it has exactly one cell and that cell
    # is also the entirety of its new cluster (n_cell == n_o == n_n)
    unchanged = (
        per_old.filter(F.col("fanout") == 1)
        .join(per_new, per_old["_n_top"] == per_new["_n"])
        .filter(F.col("max_cell") == F.col("n_n"))
        .agg(F.count(F.lit(1)).alias("n_unchanged"))
    )
    stats = cells.agg(
        F.coalesce(F.sum("n_cell"), F.lit(0)).cast("long").alias("n_records"),
        F.countDistinct("_o").alias("n_clusters_old"),
        F.countDistinct("_n").alias("n_clusters_new"),
    )
    splits = per_old.agg(
        F.coalesce(F.sum((F.col("fanout") > 1).cast("long")), F.lit(0)).alias(
            "n_split"
        )
    )
    merges = per_new.agg(
        F.coalesce(F.sum((F.col("fanin") > 1).cast("long")), F.lit(0)).alias(
            "n_merged"
        )
    )
    return (
        stats.crossJoin(cov)
        .crossJoin(splits)
        .crossJoin(merges)
        .crossJoin(unchanged)
        .select(
            "n_records",
            F.coalesce(F.col("n_only_old"), F.lit(0)).cast("long").alias("n_only_old"),
            F.coalesce(F.col("n_only_new"), F.lit(0)).cast("long").alias("n_only_new"),
            F.col("n_clusters_old").cast("long").alias("n_clusters_old"),
            F.col("n_clusters_new").cast("long").alias("n_clusters_new"),
            F.col("n_split").cast("long").alias("n_split"),
            F.col("n_merged").cast("long").alias("n_merged"),
            F.col("n_unchanged").cast("long").alias("n_unchanged"),
        )
    )
