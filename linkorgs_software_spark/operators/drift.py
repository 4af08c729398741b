"""Distribution-drift diagnostics: categorical divergence vs the pooled
distribution, and its time-windowed application to event streams.

Not present in the reference (strictly batch org-linkage); this is the
"did the input distribution move?" monitor a continuously-ingesting
training-data pipeline runs over its event/telemetry feed, and the
shared math behind the per-source ``vocab_divergence`` in
``operators/corpus.py``. All divergences are computed from
per-(group, key) counts only — the pooled-side halves of JSD and total
variation are decomposed so keys ABSENT from a group are never
materialized as rows (their JSD remainder collapses to
``ln 2 · (1 − coverage)`` and their TVD remainder to ``1 − coverage``),
keeping every plan linear in observed (group, key) pairs with no
group × vocabulary cross join.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist


def categorical_divergence(
    counts: DataFrame,
    *,
    group_col: str = "group",
    key_col: str = "key",
    count_col: str = "n",
) -> DataFrame:
    """Per-group divergence of a categorical distribution vs the POOLED
    (all-groups) distribution, from a per-(group, key) count frame:
    ``(group, n_obs, n_keys, pooled_mass_coverage, kl_vs_pooled,
    jsd_vs_pooled, tvd_vs_pooled)``.

    ``kl_vs_pooled`` is KL(P_g ‖ P_pooled) in nats — finite without
    smoothing because every group key occurs in the pool.
    ``jsd_vs_pooled`` is the Jensen–Shannon divergence (bounded by
    ln 2); ``tvd_vs_pooled`` the total variation distance
    ``½·Σ|p_g − p_pool|`` (bounded by 1). ``pooled_mass_coverage`` is
    the share of pooled probability mass on keys the group exhibits at
    all.

    Scale shape: the input count frame is persisted (three consumers:
    pooled key counts, per-group totals, the scored join) through
    ``cache.persist``; the pooled total is ONE collected scalar;
    per-group totals broadcast (group cardinality is a config/window
    constant). Keys a group lacks contribute via the
    closed-form remainders above, never as rows. round(·, 6) for
    oracle parity.
    """
    st = persist(
        counts.select(
            F.col(group_col).alias("grp"),
            F.col(key_col).alias("key"),
            F.col(count_col).cast("double").alias("c"),
        )
        .filter(F.col("grp").isNotNull() & F.col("key").isNotNull() & (F.col("c") > 0))
    )
    n_total = st.agg(F.sum("c")).collect()[0][0] or 0.0
    ct = st.groupBy("key").agg(F.sum("c").alias("c_t"))
    ns = st.groupBy("grp").agg(
        F.sum("c").alias("n_g"), F.count(F.lit(1)).alias("n_keys")
    )
    p_g = F.col("c") / F.col("n_g")
    p_c = F.col("c_t") / F.lit(float(max(n_total, 1.0)))
    j = (
        st.join(ct, "key")
        .join(F.broadcast(ns), "grp")
        .select(
            "grp",
            "n_g",
            "n_keys",
            p_g.alias("p_g"),
            p_c.alias("p_c"),
        )
    )
    agg = j.groupBy("grp", "n_g", "n_keys").agg(
        F.sum(F.col("p_g") * F.log(F.col("p_g") / F.col("p_c"))).alias("_kl"),
        F.sum(
            F.col("p_g")
            * F.log(F.lit(2.0) * F.col("p_g") / (F.col("p_g") + F.col("p_c")))
            + F.col("p_c")
            * F.log(F.lit(2.0) * F.col("p_c") / (F.col("p_g") + F.col("p_c")))
        ).alias("_jin"),
        F.sum(F.abs(F.col("p_g") - F.col("p_c"))).alias("_adiff"),
        F.sum("p_c").alias("_cov"),
    )
    return agg.select(
        F.col("grp").alias("group"),
        F.col("n_g").cast("long").alias("n_obs"),
        F.col("n_keys").cast("long").alias("n_keys"),
        F.round(F.col("_cov"), 6).alias("pooled_mass_coverage"),
        F.round(F.col("_kl"), 6).alias("kl_vs_pooled"),
        F.round(
            F.lit(0.5) * F.col("_jin")
            + F.lit(0.5 * math.log(2.0)) * (F.lit(1.0) - F.col("_cov")),
            6,
        ).alias("jsd_vs_pooled"),
        F.round(
            F.lit(0.5) * (F.col("_adiff") + (F.lit(1.0) - F.col("_cov"))),
            6,
        ).alias("tvd_vs_pooled"),
    )


def distribution_drift(
    events: DataFrame,
    *,
    ts_col: str = "ts",
    key_col: str = "event_type",
    window_seconds: int = 86400,
) -> DataFrame:
    """Per-time-window drift of a categorical column vs the whole
    stream: ``(win, n_events, n_keys, pooled_mass_coverage,
    kl_vs_overall, jsd_vs_overall, tvd_vs_overall)`` — the input
    monitor an always-on ingestion pipeline alarms on ("today's
    event-type mix moved 0.3 TVD from normal" → a producer broke or a
    new source came online).

    Windows are epoch-bucketed integers (``floor(epoch / window)``),
    the same engine-wide convention as ``tumbling_window`` and the
    streaming aggregates — bit-portable to the SQL oracle with no
    timezone/origin alignment concerns. One (window, key) count
    aggregate feeds ``categorical_divergence``; NULL keys/timestamps
    are dropped.
    """
    epoch = F.col(ts_col).cast("timestamp").cast("double")
    win = F.floor(epoch / F.lit(float(window_seconds))).cast("long")
    counts = (
        events.filter(F.col(ts_col).isNotNull() & F.col(key_col).isNotNull())
        .groupBy(win.alias("win"), F.col(key_col).alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = categorical_divergence(
        counts, group_col="win", key_col="key", count_col="n"
    )
    return out.select(
        F.col("group").alias("win"),
        F.col("n_obs").alias("n_events"),
        "n_keys",
        "pooled_mass_coverage",
        F.col("kl_vs_pooled").alias("kl_vs_overall"),
        F.col("jsd_vs_pooled").alias("jsd_vs_overall"),
        F.col("tvd_vs_pooled").alias("tvd_vs_overall"),
    )
