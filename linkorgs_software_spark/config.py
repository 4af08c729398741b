"""Configuration for the PySpark-native record-linkage engine.

Mirrors the knob surface of the reference R package (parameter list at
``LinkOrgs/R/LinkOrgs_LinkOrgs.R:113-134``) without copying its code: the
reference exposes ``MaxDist``, ``AveMatchNumberPerAlias`` (raw + network),
``DistanceMeasure``, ``qgram``, ``RelThresNetwork`` and normalization flags.
We re-express them as one frozen dataclass consumed by every stage.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class LinkConfig:
    """All knobs for one linkage run.

    Defaults follow the reference defaults (``LinkOrgs_LinkOrgs.R:123-127``):
    jaccard over q=2 grams, AveMatchNumberPerAlias=10 raw / 2 network,
    RelThresNetwork=1.5, lower/space/punct normalization on.
    """

    # --- name columns -------------------------------------------------
    # ``by`` is the reference's shorthand (LinkOrgs_LinkOrgs.R:113: a single
    # shared column name sets both sides).
    by_x: str = "name"
    by_y: str = "name"
    by: str | None = None

    def __post_init__(self):
        if self.by is not None:
            object.__setattr__(self, "by_x", self.by)
            object.__setattr__(self, "by_y", self.by)

    # --- normalization flags (LinkOrgs_LinkOrgs.R:541-568) -------------
    to_lower: bool = True
    norm_space: bool = True
    remove_punct: bool = True

    # --- scoring -------------------------------------------------------
    # Threshold priority mirrors the reference exactly
    # (``LinkOrgs_PFuzzyDiscreteFullFxn.R:67-76``, documented at
    # ``LinkOrgs_LinkOrgs.R:37-44``): a non-None ``ave_match_number_per_alias``
    # RECOMPUTES the threshold by calibration and overrides ``max_dist``; to
    # pin a fixed ``max_dist`` set the ave knob to None (R: pass
    # ``AveMatchNumberPerAlias = NULL``). Both None => the reference's
    # ``pDistMatch_discrete`` default MaxDist = 0.20.
    distance_measure: str = "jaccard"  # see functions/scorers.available_measures()
    qgram: int = 2                      # q for the jaccard measure
    max_dist: float | None = None
    ave_match_number_per_alias: float | None = 10.0
    # network (alias-bridge) stage — same priority rule
    max_dist_network: float | None = None
    ave_match_number_per_alias_network: float | None = 2.0
    rel_thres_network: float = 1.5

    # --- blocking (PFuzzyDiscreteInternal.R:102-139 semantics) ---------
    block_ngram: int = 3                # trigram inverted index
    min_shared_frac: float = 0.05       # candidate needs >= ceil(frac * |trigrams(x)|) shared
    name_prefix_cap: int = 100          # trigram windows only over chars 1..100 (BuildHelpers.R:194)
    max_block_df: int | None = 10_000   # drop trigrams whose posting list exceeds this (skew guard)
    salt_buckets: int = 0               # >0 => explicit salting of the blocking join

    # --- calibration (CalibrateDistThres.R:37-104 semantics) -----------
    calibration_sample: int = 1000
    seed: int = 42

    def with_(self, **kw) -> "LinkConfig":
        """``dataclasses.replace`` with correct ``by`` shorthand semantics.

        ``__post_init__`` re-runs on every replace, so with ``by`` set a
        plain replace would snap an explicit ``by_x``/``by_y`` override back
        to ``by``. An explicit per-side override therefore clears ``by``
        (the untouched side keeps its current value); passing ``by``
        together with a per-side override is ambiguous and raises.
        """
        if ("by_x" in kw or "by_y" in kw) and kw.get("by") is not None:
            raise ValueError("pass either by= or by_x=/by_y=, not both")
        if ("by_x" in kw or "by_y" in kw) and self.by is not None:
            kw.setdefault("by", None)
        return replace(self, **kw)


# Reference fallback when BOTH max_dist and ave_match_number_per_alias are
# None: pDistMatch_discrete's own default (LinkOrgs_PFuzzyDiscreteInternal.R:72).
FALLBACK_MAX_DIST = 0.20


def fixed_threshold_config(
    max_dist: float,
    max_dist_network: float | None = None,
    **kw,
) -> LinkConfig:
    """A config with PINNED thresholds (no calibration) — the equivalent of
    the reference call ``LinkOrgs(..., MaxDist=d, AveMatchNumberPerAlias=NULL)``."""
    return LinkConfig(
        max_dist=max_dist,
        ave_match_number_per_alias=None,
        max_dist_network=max_dist_network,
        ave_match_number_per_alias_network=None,
        **kw,
    )


DEFAULT = LinkConfig()
