"""linkorgs_software_spark — a from-scratch PySpark-native record-linkage
and corpus-processing engine with the capabilities of cjerzak/LinkOrgs-software.

Blocked fuzzy matching, alias-bridged (network) matching, embedding-space
matching, transitive clustering, and match evaluation — re-expressed as
idiomatic Spark DataFrame plans (SURVEY.md is the blueprint), plus the
corpus operators a 100 TB training-data pipeline needs (dedup families,
ANN, text analysis).
"""

from .cache import release_caches, scoped_caches
from .config import DEFAULT, LinkConfig, fixed_threshold_config
from .operators.assess import MatchAssessment, assess_match_performance
from .operators.calibrate import calibrated_threshold
from .operators.cluster import clusters_to_pairs, connected_components, edges_from_matches
from .plans.multi import apply_entity_remap, link_many, merge_entities
from .plans.pipeline import link_orgs

__all__ = [
    "DEFAULT",
    "LinkConfig",
    "fixed_threshold_config",
    "link_orgs",
    "link_many",
    "merge_entities",
    "apply_entity_remap",
    "calibrated_threshold",
    "connected_components",
    "edges_from_matches",
    "clusters_to_pairs",
    "assess_match_performance",
    "MatchAssessment",
    "release_caches",
    "scoped_caches",
]
