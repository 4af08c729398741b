"""The batched calibration core against the Spark formulation it replaced.

``_spark_oracle`` is that formulation, kept here as the oracle: distinct
names per side, exact counts, the md5-seeded samples, a cross join of the
samples' q-gram STRING sets scored by ``jaccard_dist_from_sizes_expr``, and
the ⌈q·n⌉-th smallest distance picked by a Spark top-k. The core must return
the same thresholds and counts bit for bit.
"""

import math

import pytest
from pyspark.sql import functions as F

from linkorgs_software_spark.config import LinkConfig
from linkorgs_software_spark.functions.normalize import NORM_COL
from linkorgs_software_spark.functions.qgrams import jaccard_dist_from_sizes_expr, qgram_set_expr
from linkorgs_software_spark.operators.calibrate import (
    _gram_sets,
    _jaccard_dists,
    _rank_pick,
    _seeded_sample,
    calibrate,
    calibrated_threshold,
)


def _spark_oracle(x, y, cfg, k):
    x_all = x.select(NORM_COL).dropDuplicates()
    y_all = y.select(F.col(NORM_COL).alias("_ynorm")).dropDuplicates()
    nx, ny = x_all.count(), y_all.count()
    if nx == 0 or ny == 0:
        return float("inf"), nx, ny
    xs = _seeded_sample(x_all, cfg.calibration_sample, cfg.seed, n=nx)
    ys = _seeded_sample(y_all, cfg.calibration_sample, cfg.seed + 1, n=ny)
    xs = xs.select(qgram_set_expr(NORM_COL, cfg.qgram).alias("_gx")).withColumn("_nx", F.size("_gx"))
    ys = ys.select(qgram_set_expr("_ynorm", cfg.qgram).alias("_gy")).withColumn("_ny", F.size("_gy"))
    dists = xs.crossJoin(ys).select(
        jaccard_dist_from_sizes_expr("_gx", "_gy", "_nx", "_ny").alias("dist")
    )
    n = dists.count()
    if n == 0:
        return float("inf"), nx, ny
    q = min(max(k / math.sqrt(float(nx) * float(ny)), 0.0), 1.0)
    kk = max(1, min(n, math.ceil(q * n)))
    thr = dists.orderBy("dist").limit(kk).agg(F.max("dist")).collect()[0][0]
    return max(float(thr), 1e-6), nx, ny


def _names(spark, names):
    return spark.createDataFrame([(n,) for n in names], f"{NORM_COL} string")


_ORGS = [f"acme {w} holdings {i}" for i, w in enumerate("alpha beta gamma delta".split() * 12)]
_ORGS_Y = [f"acme {w} holding co {i}" for i, w in enumerate("beta gamma delta omega".split() * 11)]
_INTL = [
    "café crème société",
    "東京大学研究所",
    "𝔘𝔫𝔦𝔠𝔬𝔡𝔢 labs",
    "emoji 🚀🚀 rocket co",
    "mañana s.a.",
    "ü",
    "𝔘",
    "straße gmbh",
]

CASES = {
    "unsampled": (_ORGS, _ORGS_Y, dict(), 3.0),
    "sampled": (_ORGS, _ORGS_Y, dict(calibration_sample=7), 3.0),
    "q_at_least_one": (_ORGS[:5], _ORGS_Y[:4], dict(), 50.0),
    "shorter_than_q": (["a", "b", "ab", "x"], ["a", "bb", "c", "ab"], dict(), 1.0),
    "shorter_than_q3": (["ab", "abc", "zz"], ["ab", "abcd", "q"], dict(qgram=3), 1.0),
    "non_ascii": (_INTL, _INTL[::-1] + ["𝔘𝔫𝔦 labs", "東京"], dict(), 2.0),
    "non_ascii_sampled": (_INTL + _ORGS, _INTL + _ORGS_Y, dict(calibration_sample=9), 2.0),
    "duplicates": (["acme corp"] * 5 + ["beta inc"] * 3, ["acme co", "acme co", "beta"], dict(), 1.0),
}


@pytest.mark.parametrize("case", sorted(CASES))
def test_core_matches_spark_formulation(spark, case):
    xs, ys, kw, k = CASES[case]
    cfg = LinkConfig(**kw)
    x, y = _names(spark, xs), _names(spark, ys)
    want = _spark_oracle(x, y, cfg, k)
    # the core takes one row per value; the public wrapper deduplicates
    [got] = calibrate([(x.distinct(), y.distinct(), k)], cfg)
    assert got == want
    assert calibrated_threshold(x, y, cfg, k=k, return_counts=True) == want


@pytest.mark.parametrize("q", [2, 3])
def test_jaccard_kernel_matches_spark_expression_per_pair(spark, q):
    """Every pairwise distance, not only the picked quantile, equals the
    Spark expression's bit for bit."""
    xs = _ORGS[:20] + _INTL + ["a", "", "ab", "acme corp"]
    ys = _ORGS_Y[:20] + _INTL[::-1] + ["ab", "acme co", "zz"]

    def side(names, name):
        g = qgram_set_expr(NORM_COL, q).alias(f"_g{name}")
        return _names(spark, names).select(F.col(NORM_COL).alias(name), g).withColumn(
            f"_n{name}", F.size(f"_g{name}")
        )

    pairs = side(xs, "a").crossJoin(side(ys, "b"))
    dist = jaccard_dist_from_sizes_expr("_ga", "_gb", "_na", "_nb").alias("d")
    want = {(r.a, r.b): r.d for r in pairs.select("a", "b", dist).collect()}
    got = _jaccard_dists(_gram_sets(xs, q), _gram_sets(ys, q)).reshape(len(xs), len(ys))
    assert {(a, b): float(got[i, j]) for i, a in enumerate(xs) for j, b in enumerate(ys)} == want


def test_empty_side_returns_inf_and_counts(spark):
    cfg = LinkConfig()
    x, y = _names(spark, []), _names(spark, ["a name", "other name"])
    assert calibrated_threshold(x, y, cfg, return_counts=True) == (float("inf"), 0, 2)
    assert calibrated_threshold(y, x, cfg, return_counts=True) == (float("inf"), 2, 0)
    assert calibrated_threshold(x, y, cfg) == float("inf")


def test_batched_call_equals_single_calls(spark):
    """Three requests sharing sides (the alias path's shape: x↔y, x↔dir,
    y↔dir) return exactly what three separate calls return."""
    cfg = LinkConfig(calibration_sample=11)
    x, y = _names(spark, _ORGS), _names(spark, _ORGS_Y)
    d = _names(spark, _ORGS[::2] + _ORGS_Y[1::3] + _INTL)
    reqs = [(x, y, 3.0), (x, d, 1.0), (y, d, 1.0)]
    batched = calibrate(reqs, cfg)
    assert batched == [calibrate([r], cfg)[0] for r in reqs]
    assert batched == [_spark_oracle(a, b, cfg, k) for a, b, k in reqs]
    # k=None only counts (a pinned threshold's bounds), in the same batch
    counted = calibrate([(y, d, None), *reqs], cfg)
    assert counted == [(None, batched[2][1], batched[2][2]), *batched]


def test_rank_pick_is_exact_kth_smallest():
    import numpy as np

    d = (np.arange(10_000) % 997).astype(np.float64)
    values = sorted(d)
    for q in (0.0, 50 / 10_000, 0.5, 1.0):
        assert _rank_pick(d, q) == values[max(1, math.ceil(q * 10_000)) - 1]
    assert _rank_pick(np.empty(0), 0.5) is None


def test_alias_path_calibrations_job_count(spark, fixture_tables):
    """``link_orgs`` builds a lazy plan; the only actions it runs itself
    are the calibrations, so every job of the call is a calibration job.
    The alias path's three calibrations run as one batch: one count action,
    one sample collect, and driver-side scoring."""
    from linkorgs_software_spark import link_orgs

    sc = spark.sparkContext
    group = "alias-path-calibrations"
    sc.setJobGroup(group, "link_orgs alias path")
    try:
        link_orgs(
            fixture_tables["org_x"],
            fixture_tables["org_y"],
            LinkConfig(),
            algorithm="alias",
            directory=fixture_tables["alias_directory"],
            one_to_one=True,
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 0 < len(jobs) <= 12, jobs
