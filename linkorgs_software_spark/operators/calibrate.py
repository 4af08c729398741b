"""Sampling-based distance-threshold calibration.

Reference semantics (``LinkOrgs/R/LinkOrgs_CalibrateDistThres.R:37-104``):
take <=1000 rows per side, score ALL sample pairs (MaxDist=Inf), and set the
threshold to the distance quantile that would yield, on average,
``AveMatchNumberPerAlias`` matches per left row:

    q = k * sqrt(nx*ny) / (nx*ny)  =  k / sqrt(nx*ny)

clamped to [1e-6, inf); empty input => +inf (match nothing... reference
returns Inf meaning no constraint on an empty side). Unlike the reference's
unseeded ``sample()``, ours is **seeded** (SURVEY.md §7.4 risk 3) so the
threshold — and therefore F1 — is reproducible run-to-run.

Every side holds ONE ROW PER VALUE it counts (an indexed side's distinct
names; an embedded side's one vector per distinct name): ``calibrate``
neither deduplicates nor persists, so a side's ``n`` is its row count.
``link_orgs`` passes the indexed sides it already persists; the public
``calibrated_threshold`` deduplicates its two inputs at entry.

The work is bounded (≤ ``calibration_sample`` names per side), so Spark
does only what needs the full data: for a batch of requests ``(side_a,
side_b, k)``, ONE action counts every side's rows and ONE collect gathers
every ``(side, seed)`` sample, each shared by all requests naming it.
The driver scores jaccard sample matrices in numpy; other measures
(Catalyst and registered scorers, embedding L2) score their sample pairs in
one Spark job per request and collect the ≤ cap² distances. Either way the
threshold is the ⌈q·n⌉-th smallest distance, picked with ``np.partition``.
"""

from __future__ import annotations

import math
from functools import reduce
from typing import Callable, NamedTuple, Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from ..config import LinkConfig
from ..functions.normalize import NORM_COL
from ..functions.scorers import distance_expr

# vocabulary columns per dense block of the jaccard kernel: driver memory
# stays at (sample rows) × this many float32s per side
_VOCAB_CHUNK = 4096


class Side(NamedTuple):
    """``frame[col]`` with one row per value counted (a distinct name):
    ``calibrate`` takes the rows as given, so its count is the row count.
    Requests naming the same (frame, col) share one count and one sample
    per seed."""

    frame: DataFrame
    col: str = NORM_COL


def _seeded_sample(df: DataFrame, cap: int, seed: int, n: int | None = None) -> DataFrame:
    """~cap rows, deterministic under (input, seed): a seeded hash-mod
    filter with NO global limit (``limit`` is a single-partition barrier).
    The cap is approximate, which only affects quantile precision; the
    quantile target uses the exact counts.

    All-string frames hash with an ENGINE-PORTABLE, collision-resistant key
    so an ANSI-SQL oracle reproduces the membership: each column becomes
    its fixed-width md5 hex (NULL -> '-', which no md5 can produce), the
    seed and the digests concatenate with no separator, and the top 60 bits
    of that md5 are the hash (a ``concat_ws('|')`` key would correlate rows
    ('a|b','c') and ('a','b|c'), or (NULL,'x') and ('x',NULL)). Other
    frames (embedding calibration) use the engine-native xxhash64.
    """
    n = df.count() if n is None else n
    if n <= cap:
        return df
    buckets = max(2, (n + cap // 2) // cap)  # integer half-up: SQL-portable
    cols = [F.col(c) for c in df.columns]
    if all(isinstance(f.dataType, StringType) for f in df.schema.fields):
        enc = [F.coalesce(F.md5(c), F.lit("-")) for c in cols]
        h = F.conv(F.substring(F.md5(F.concat(F.lit(str(seed)), *enc)), 1, 15), 16, 10)
        h = h.cast("long")
    else:
        h = F.xxhash64(*cols, F.lit(seed))
    return df.filter(F.pmod(h, F.lit(buckets)) == 0)


def _rank_pick(dists: np.ndarray, q: float) -> float | None:
    """Exact rank quantile: the ⌈q·n⌉-th smallest of ``dists`` (clamped to
    [1, n]), None when empty — deterministic and SQL-expressible, which is
    what lets the calibrated flagship query be oracle-checked."""
    n = dists.size
    if n == 0:
        return None
    kk = max(1, min(n, math.ceil(q * n)))
    return float(np.partition(dists, kk - 1)[kk - 1])


def _gram_sets(names: list, q: int) -> list[frozenset]:
    """``qgram_set_expr(col, q)`` on the driver: distinct full-length
    code-point windows; NULL and names shorter than q give the empty set."""
    return [frozenset(s[i : i + q] for i in range(len(s) - q + 1)) if s else frozenset() for s in names]


def _jaccard_dists(gx: list[frozenset], gy: list[frozenset]) -> np.ndarray:
    """All pairwise jaccard distances, bit-identical to
    ``jaccard_dist_from_sizes_expr``: exact integer intersections (0/1
    float32 matmuls are exact below 2^24) over the grams both sides share,
    in ``_VOCAB_CHUNK``-column blocks, then the Spark expression's IEEE
    double op order — union = na + nb − inter, 1 − inter/union, 0.0 on an
    empty union."""
    vocab = {g: j for j, g in enumerate(set().union(*gx) & set().union(*gy))}

    def block(sets, lo, w):
        hits = [(i, vocab[g] - lo) for i, s in enumerate(sets) for g in s if lo <= vocab.get(g, -1) < lo + w]
        m = np.zeros((len(sets), w), dtype=np.float32)
        m[tuple(np.array(hits, dtype=np.int64).reshape(-1, 2).T)] = 1.0
        return m

    inter = np.zeros((len(gx), len(gy)), dtype=np.float32)
    for lo in range(0, len(vocab), _VOCAB_CHUNK):
        w = min(_VOCAB_CHUNK, len(vocab) - lo)
        inter += block(gx, lo, w) @ block(gy, lo, w).T
    inter = inter.astype(np.float64)
    na = np.array([len(s) for s in gx], dtype=np.float64)
    nb = np.array([len(s) for s in gy], dtype=np.float64)
    union = (na[:, None] + nb[None, :]) - inter
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(union == 0, 0.0, 1.0 - inter / union).ravel()


def _spark_dists(spark, xs: list, ys: list, dtype, pair_dist) -> np.ndarray:
    """Score every sample pair in ONE Spark job; NULL/NaN distances dropped."""
    a = spark.createDataFrame([(v,) for v in xs], StructType([StructField("_a", dtype)]))
    b = spark.createDataFrame([(v,) for v in ys], StructType([StructField("_b", dtype)]))
    d = a.crossJoin(b).select(pair_dist("_a", "_b").cast("double")).toArrow().column(0).to_numpy()
    return d[~np.isnan(d)]  # to_numpy maps NULL to NaN


def calibrate(
    requests: Sequence[tuple[Side | DataFrame, Side | DataFrame, float | None]],
    cfg: LinkConfig,
    *,
    measure: str | None = None,
    pair_dist: Callable[[str, str], Column] | None = None,
) -> list[tuple[float | None, int, int]]:
    """One ``(thr, n_a, n_b)`` per request ``(side_a, side_b, k)``, in order.
    ``k=None`` only counts: ``thr`` is None and nothing is sampled.

    A bare frame means ``Side(frame)``. ``side_a`` samples with
    ``cfg.seed``, ``side_b`` with ``cfg.seed + 1``. ``pair_dist(a, b) ->
    Column`` scores sample pairs in Spark; without it ``measure`` (default
    ``cfg.distance_measure``) does, on the driver for ``jaccard``.

    ``n_a`` / ``n_b`` are the sides' row counts. For ``index_side`` frames
    they are exact distinct-id counts, the bound ``shared_gram_pairs``
    takes.
    """
    measure = cfg.distance_measure if measure is None else measure
    if pair_dist is None and measure != "jaccard":
        pair_dist = lambda a, b: distance_expr(measure, a, b, qgram=cfg.qgram)  # noqa: E731
    reqs = [[s if isinstance(s, Side) else Side(s) for s in (a, b)] + [k] for a, b, k in requests]
    uniq = {(id(s.frame), s.col): s for r in reqs for s in r[:2]}
    if not uniq:
        return []
    pos = {key: i for i, key in enumerate(uniq)}
    index = [[pos[(id(s.frame), s.col)] for s in r[:2]] + r[2:] for r in reqs]
    vals = [s.frame.select(F.col(s.col).alias("_v")) for s in uniq.values()]

    tagged = [v.select(F.lit(i).alias("_side"), "_v") for i, v in enumerate(vals)]
    got = dict(reduce(DataFrame.unionAll, tagged).groupBy("_side").count().collect())
    counts = [got.get(i, 0) for i in range(len(vals))]
    live = [(a, b) for a, b, k in index if k is not None and counts[a] and counts[b]]
    draws = sorted({(a, cfg.seed) for a, _ in live} | {(b, cfg.seed + 1) for _, b in live})
    samples: dict[tuple[int, int], list] = {d: [] for d in draws}
    parts = [
        _seeded_sample(vals[i], cfg.calibration_sample, seed, counts[i]).select(
            F.lit(t).alias("_t"), "_v"
        )
        for t, (i, seed) in enumerate(draws)
    ]
    for r in reduce(DataFrame.unionAll, parts).collect() if parts else []:
        samples[draws[r["_t"]]].append(r["_v"])

    grams = {d: _gram_sets(v, cfg.qgram) for d, v in samples.items()} if pair_dist is None else {}
    out = []
    for a, b, k in index:
        na, nb = counts[a], counts[b]
        if k is None:
            out.append((None, na, nb))
            continue
        if na == 0 or nb == 0:
            out.append((float("inf"), na, nb))
            continue
        xs, ys = (a, cfg.seed), (b, cfg.seed + 1)
        if pair_dist is None:
            dists = _jaccard_dists(grams[xs], grams[ys])
        else:
            dtype = vals[a].schema["_v"].dataType
            dists = _spark_dists(vals[a].sparkSession, samples[xs], samples[ys], dtype, pair_dist)
        thr = _rank_pick(dists, min(max(k / math.sqrt(float(na) * float(nb)), 0.0), 1.0))
        out.append((float("inf") if thr is None else max(thr, 1e-6), na, nb))
    return out


def calibrated_threshold(
    x_prep: DataFrame,
    y_prep: DataFrame,
    cfg: LinkConfig,
    *,
    k: float | None = None,
    measure: str | None = None,
    return_counts: bool = False,
) -> float | tuple[float, int, int]:
    """Data-dependent MaxDist for ``measure`` at budget ``k`` matches/row
    over the distinct ``name_norm`` values of two frames;
    ``return_counts=True`` returns ``(thr, nx, ny)`` with the exact
    distinct-name counts. They bound a side's distinct ids — and so may
    be passed to ``candidate_pairs`` — only for ``prepare_side`` frames,
    whose ids are content hashes of the name."""
    k = cfg.ave_match_number_per_alias if k is None else k
    x, y = (p.select(NORM_COL).distinct() for p in (x_prep, y_prep))
    [res] = calibrate([(x, y, k)], cfg, measure=measure)
    return res if return_counts else res[0]
