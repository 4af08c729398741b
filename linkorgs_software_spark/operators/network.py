"""Alias-bridge ("network") matching — 2-hop linkage through a directory.

Reference semantics (``LinkOrgs/R/LinkOrgs_LinkOrgs.R:604-674``): fuzzy-match
each input side against an alias directory ``(alias_name, canonical_id)``
(LinkedIn-derived in the reference; any broadcastable dim table here), keep
the closest hit per ``(name, canonical_id)`` (``:625-632``), then bridge the
two sides with an equi-join on ``canonical_id`` (``:664``) — pairs link
because both sides hit aliases of the same entity. Score fusion
(``:680-741``): network distances scale by ``RelThresNetwork``; a pair's
``minDist`` = na20(scaled max of the two network sides) + na20(raw
stringdist); minimum per pair wins.

Spark-first: both directional matches reuse the SAME trigram blocking +
scoring operators (the north rule's fixed blocking key), so no new join
machinery exists here. The directory is treated as a regular (possibly
huge — 0.5e9 aliases in the reference) side: AQE broadcasts it when it is
actually small; nothing forces a broadcast. ``link_orgs`` indexes the
directory once for both directions and calibrates them in one
``calibrate`` batch with its raw match.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..config import FALLBACK_MAX_DIST, LinkConfig
from ..functions.normalize import NORM_COL, prepare_side
from .calibrate import calibrate
from .dedup import keep_min_per_group
from .scoring import DIST_COL, IndexedSide, index_side, indexed, match_sides

ALIAS_ID = "alias_id"


def prepare_directory(directory: DataFrame, cfg: LinkConfig, *, alias_col: str = "alias_name",
                      canonical_col: str = "canonical_id") -> DataFrame:
    """Normalize + id the alias directory; drop blank/duplicate aliases.

    Reference pruning at ``LinkOrgs_LinkOrgs.R:571-576`` (P4/P5 in
    SURVEY.md §2.2).
    """
    d = prepare_side(directory, alias_col, ALIAS_ID, cfg)
    d = d.select(ALIAS_ID, NORM_COL, F.col(canonical_col).alias("canonical_id"))
    return keep_min_per_group(d, [NORM_COL], "canonical_id", tiebreak_cols=[ALIAS_ID])


def match_to_directory(
    side_prep: DataFrame,
    dir_prep: DataFrame,
    cfg: LinkConfig,
    *,
    side_id: str,
    out_dist: str,
    calibration: tuple[float, int, int] | None = None,
) -> DataFrame:
    """Closest directory entities per input name, from a prepared side and
    a ``prepare_directory`` frame: a wrapper that indexes both and runs
    ``directory_matches``.

    ``calibration``: a precomputed ``(thr, n_side, n_dir)``; None
    calibrates here, over the two indexed sides, when
    ``cfg.ave_match_number_per_alias_network`` is set (their row counts
    bound the blocking cap).
    """
    side = indexed(index_side(side_prep, side_id, cfg), side_id, cfg)
    dir_side = indexed(index_side(dir_prep, ALIAS_ID, cfg, carry=("canonical_id",)), ALIAS_ID, cfg)
    if calibration is None and cfg.ave_match_number_per_alias_network is not None:
        k = cfg.ave_match_number_per_alias_network
        [calibration] = calibrate([(side.names, dir_side.names, k)], cfg)
    return directory_matches(side, dir_side, cfg, out_dist=out_dist, calibration=calibration)


def directory_matches(
    side: IndexedSide,
    directory: IndexedSide,
    cfg: LinkConfig,
    *,
    out_dist: str,
    calibration: tuple[float, int | None, int | None] | None = None,
) -> DataFrame:
    """Closest directory entities per input name, over an indexed side and
    an indexed directory (``index_side`` rows carrying ``canonical_id``).

    Returns ``(<side id>, name_norm, canonical_id, <out_dist>)`` — one row
    per (name, canonical_id), the minimum distance among that entity's
    aliases. ``calibration``: ``(thr, n_side, n_dir)``; None uses the
    fixed threshold (``cfg.max_dist_network``, else the reference default).
    """
    # Same threshold priority as the raw stage (reference passes
    # MaxDist_network + AveMatchNumberPerAlias_network through the identical
    # code path, LinkOrgs_LinkOrgs.R:610-617).
    if calibration is None:
        fixed = cfg.max_dist_network
        calibration = (FALLBACK_MAX_DIST if fixed is None else fixed, None, None)
    thr, n_side, n_dir = calibration
    scored = match_sides(side, directory, cfg, x_count=n_side, y_count=n_dir, max_dist=thr)
    hits = scored.select(
        F.col(side.id),
        F.col("name_norm_x").alias(NORM_COL),
        F.col("canonical_id_y").alias("canonical_id"),
        F.col(DIST_COL).alias(out_dist),
    )
    return keep_min_per_group(
        hits, [side.id, "canonical_id"], out_dist, tiebreak_cols=[NORM_COL]
    )


def bridge(x2net: DataFrame, y2net: DataFrame) -> DataFrame:
    """x-entity hits ⋈ y-entity hits on ``canonical_id`` → network pairs."""
    x = x2net.select(
        "x_id", F.col(NORM_COL).alias("name_norm_x"), "canonical_id", "netdist_x"
    )
    y = y2net.select(
        "y_id", F.col(NORM_COL).alias("name_norm_y"), "canonical_id", "netdist_y"
    )
    return x.join(y, "canonical_id")


def fuse_scores(
    z_raw: DataFrame | None,
    z_network: DataFrame | None,
    cfg: LinkConfig,
) -> DataFrame:
    """Union raw + network pairs and compute the fused ``minDist``.

    ``minDist = na20(RelThresNetwork * greatest(netdist_x, netdist_y))
              + na20(stringdist)`` per row (``LinkOrgs_LinkOrgs.R:726-741``);
    the per-pair minimum and dedup happen downstream.
    """
    parts = [p for p in (z_raw, z_network) if p is not None]
    if not parts:
        raise ValueError("fuse_scores: need at least one of z_raw / z_network")
    z = parts[0] if len(parts) == 1 else z_raw.unionByName(z_network, allowMissingColumns=True)
    for c in (DIST_COL, "netdist_x", "netdist_y"):
        if c not in z.columns:
            z = z.withColumn(c, F.lit(None).cast("double"))
    na20 = lambda c: F.coalesce(c, F.lit(0.0))  # noqa: E731 — reference na20()
    max_net = F.greatest(F.col("netdist_x"), F.col("netdist_y")) * F.lit(
        float(cfg.rel_thres_network)
    )
    return z.withColumn("minDist", na20(max_net) + na20(F.col(DIST_COL)))
