"""Deterministic, engine-portable sampling & dataset splitting.

Training-data pipelines need samples and train/val/test splits that are
(a) reproducible run-to-run, (b) independent of partitioning/row order, and
(c) recomputable by any engine from the row content alone — none of which
``DataFrame.sample`` guarantees (it samples per partition with a seed, so a
repartition changes the sample). Here membership is a pure function of the
row's key: ``u = int(md5(seed || key)[0:8], 16) / 2^32 ∈ [0, 1)`` — the
same content hash the dedup suite uses, so the DuckDB oracle reproduces
every decision bit-for-bit.

This is the engine's seeded-sampling story at the API surface; the internal
calibration sampler (``operators/calibrate._seeded_sample``) uses the same
hash-mod idea (md5 for string rows, xxhash64 for embedding rows).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HASH_SPACE = float(2**32)


def _unit_hash_expr(key: Column, seed: int) -> Column:
    """Deterministic u ∈ [0, 1) from the row key — md5-based, SQL-portable."""
    h8 = F.substring(F.md5(F.concat(F.lit(f"{seed}:"), key)), 1, 8)
    return F.conv(h8, 16, 10).cast("double") / F.lit(_HASH_SPACE)


def _key_expr(df: DataFrame, key_cols) -> Column:
    cols = list(key_cols) if key_cols else df.columns
    return F.concat_ws("|", *[F.col(c).cast("string") for c in cols])


def deterministic_sample(
    df: DataFrame,
    fraction: float,
    *,
    seed: int = 42,
    key_cols=None,
) -> DataFrame:
    """Keep rows with u < fraction — a content-keyed Bernoulli sample.

    Stable under repartition/reorder and across engines; the kept set only
    grows monotonically as ``fraction`` increases (nested samples — useful
    for scaling-law subsets).
    """
    return df.filter(_unit_hash_expr(_key_expr(df, key_cols), seed) < F.lit(float(fraction)))


def stratified_sample(
    df: DataFrame,
    n_per_stratum: int,
    *,
    strata_cols=("source",),
    seed: int = 42,
    key_cols=None,
) -> DataFrame:
    """Exactly ``min(n_per_stratum, |stratum|)`` rows per stratum — quota
    sampling, the curation move that gives every source an equal budget no
    matter how skewed the crawl is (a web-scale corpus is dominated by a
    handful of giant domains; a plain Bernoulli sample inherits that skew).

    Selection is content-keyed like every sampler here: rank within the
    stratum by ``md5(seed || key)`` (hex string order — engine-portable),
    keep the first n. Stable under repartition/reorder, nested in n (the
    n=100 sample contains the n=10 sample), and reproducible by the DuckDB
    oracle bit-for-bit.

    Scale shape: ONE window partitioned by the strata columns — no global
    window, no join; per-stratum ranking parallelizes across strata. A
    single pathologically hot stratum ranks inside one task; cap strata
    cardinality upstream if a stratum exceeds task memory (at that point
    the quota itself is the wrong tool).
    """
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit(f"{seed}:"), _key_expr(df, key_cols)))
    w = Window.partitionBy(*list(strata_cols)).orderBy(h.asc())
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= int(n_per_stratum))
        .drop("_rn")
    )


def deterministic_split(
    df: DataFrame,
    weights=(0.9, 0.05, 0.05),
    *,
    seed: int = 42,
    key_cols=None,
    split_col: str = "split",
) -> DataFrame:
    """Attach a ``split`` index (0..len(weights)-1) by hash-bucket ranges.

    The canonical train/val/test assignment: disjoint, exhaustive,
    content-keyed (a given document always lands in the same split, even
    across reshuffles or engines — no train/test leakage on re-runs).
    """
    total = float(sum(weights))
    u = _unit_hash_expr(_key_expr(df, key_cols), seed)
    expr = F.lit(len(weights) - 1)
    cum = 0.0
    # evaluate ranges from the last boundary backwards so each WHEN wraps
    # the previous (u < cum_i => split i for the smallest matching i)
    boundaries = []
    for w in weights[:-1]:
        # round the running sum so accumulated fp error cannot make the
        # boundary differ from the decimal literal an external engine (or a
        # user's SQL) would write (0.8 + 0.1 != 0.9 in IEEE doubles)
        cum = round(cum + float(w) / total, 12)
        boundaries.append(cum)
    for i in reversed(range(len(boundaries))):
        expr = F.when(u < F.lit(boundaries[i]), F.lit(i)).otherwise(expr)
    return df.withColumn(split_col, expr.cast("int"))


def group_aware_split(
    df: DataFrame,
    assignments: DataFrame,
    *,
    weights=(0.9, 0.05, 0.05),
    seed: int = 42,
    id_col: str = "doc_id",
    group_col: str = "dup_group",
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test split: the split is a hash of the
    DUP-GROUP key (from ``exact_dup_groups`` / ``near_dup_groups``), so
    every member of a duplicate or near-duplicate cluster lands in the
    SAME split — the eval-contamination rule plain per-doc splitting
    violates (a near-copy of a test doc in train is leakage; Lee et al.
    2022 measure exactly this). Docs absent from ``assignments`` fall
    back to their own id as a singleton group, so the split stays
    exhaustive.

    Scale shape: one key-equality join on the doc id (both sides
    corpus-sized — the one inherent shuffle), then the same pure-hash
    range assignment as ``deterministic_split``. No window, no collect.
    """
    g = assignments.select(
        F.col(id_col), F.col(group_col).cast("string").alias("_grp")
    )
    joined = df.join(g, id_col, "left")
    key = F.coalesce(F.col("_grp"), F.concat(F.lit("solo:"), F.col(id_col).cast("string")))
    total = float(sum(weights))
    u = _unit_hash_expr(key, seed)
    expr = F.lit(len(weights) - 1)
    cum = 0.0
    boundaries = []
    for w in weights[:-1]:
        cum = round(cum + float(w) / total, 12)
        boundaries.append(cum)
    for i in reversed(range(len(boundaries))):
        expr = F.when(u < F.lit(boundaries[i]), F.lit(i)).otherwise(expr)
    return joined.withColumn(split_col, expr.cast("int")).drop("_grp")


def mixture_sample(
    df: DataFrame,
    budgets: dict,
    *,
    default_budget: int = 0,
    seed: int = 42,
    id_col: str = "doc_id",
    strata_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Token-budget mixture construction: for each stratum (source), keep
    documents in deterministic ``md5(seed || id)`` order until the
    stratum's token budget is met — the data-mixing move that turns
    "40% web, 30% books, 30% code BY TOKENS" into a reproducible doc
    selection. A doc is selected while the running token total BEFORE it
    is under budget (so a nonempty stratum with a positive budget always
    yields at least one doc, and overshoot is bounded by one document —
    the same packing rule as ``pack_chunks``). Sources missing from
    ``budgets`` get ``default_budget``.

    Returns ``(id, stratum, n_tokens, cum_before, selected)`` for every
    doc — a plan, not a filter, so the caller can audit budget fill
    before materializing.

    Scale shape: ONE window partitioned by the stratum (per-source
    cumulative sums parallelize across sources; no global window, no
    join); the budget map is a literal CASE expression, never a table.
    """
    from ..functions.text import token_count_expr

    h = F.md5(F.concat(F.lit(f"{seed}:"), F.col(id_col).cast("string")))
    from pyspark.sql import Window

    w = (
        Window.partitionBy(strata_col)
        .orderBy(F.col("_h").asc())
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budget = F.lit(int(default_budget))
    for src, b in sorted(budgets.items()):
        budget = F.when(F.col(strata_col) == src, F.lit(int(b))).otherwise(budget)
    return (
        df.select(
            F.col(id_col),
            F.col(strata_col),
            token_count_expr(text_col).cast("long").alias("n_tokens"),
            h.alias("_h"),
        )
        .withColumn(
            "cum_before", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)).cast("long")
        )
        .withColumn("selected", F.col("cum_before") < budget)
        .drop("_h")
    )
