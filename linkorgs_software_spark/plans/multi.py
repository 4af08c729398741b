"""Multi-source entity resolution: N name tables → one entity id space.

The reference links exactly two tables per call (``LinkOrgs(x, y, ...)``,
``LinkOrgs/R/LinkOrgs_LinkOrgs.R:150-168``); resolving MANY sources with it
means hand-chaining pairwise runs and reconciling ids. ``link_many`` does
that as one plan: every source pair is blocked + scored with the same
trigram/q-gram machinery as ``link_orgs``, accepted pairs become edges,
and connected components assign one ``entity_id`` per transitively-linked
name group across ALL sources — the N-way generalization of the alias
directory's precomputed ``canonical_id``.

Scale shape: one index per source, C(N,2) pairwise matches over them (each
df-capped exactly like the 2-way path — sources are typically few, so the
pair count is small while each join is large), one union of edges, and the
O(log diameter) pointer-jumping components. Node keys are
``"<side:02d>:<name_norm>"`` strings, so the component label (min node
key) is deterministic and ANSI-SQL-portable; singleton names (no accepted
edge) keep their own key as ``entity_id``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist
from ..config import LinkConfig
from ..functions.normalize import NORM_COL, prepare_side
from ..operators.cluster import connected_components
from ..operators.scoring import DIST_COL, index_side, indexed, match_self, match_sides


def _node_key(side: int, norm_col) -> F.Column:
    return F.concat(F.lit(f"{side:02d}:"), norm_col)


def merge_entities(
    directory: DataFrame,
    cfg: LinkConfig,
    *,
    max_dist: float = 0.5,
    entity_col: str = "entity_id",
    name_col: str = "name",
    return_edges: bool = False,
) -> DataFrame:
    """Fold an alias directory's near-named entities together: from
    ``(entity_id, name)`` alias rows, returns the remap
    ``(entity_id, merged_entity_id)`` — one row per distinct input entity,
    where entities whose aliases match under ``cfg``'s blocking + scoring
    at ``max_dist`` (or that share a normalized alias outright) land on
    one ``merged_entity_id`` = the component-minimum entity id.

    This is the offline merge step an APPEND-ONLY directory needs: the
    streaming resolver (``streaming/resolve.py``) never fuses two existing
    entities online — a mention near the aliases of two entities joins the
    closest and the entities stay split. Periodically electing the
    transitive closure over alias similarity and remapping ids is the
    batch analogue of the reference regenerating its shipped directory
    (``LinkOrgs/R/LinkOrgs_LinkOrgs.R:460-477`` consumes a PREBUILT
    ``canonical_id``; this builds that id from the directory itself).

    Scale shape: one df-capped gram self-join over one index of the
    distinct alias names (``scoring.match_self``), alias pairs lifted to
    entity pairs at candidate volume, pointer-jumping
    ``connected_components`` over the (tiny) entity graph.

    ``return_edges=True`` returns the accepted entity-edge evidence frame
    ``(entity_x, entity_y, name_norm_x, name_norm_y, stringdist)`` instead
    (``stringdist`` NULL for shared-exact-alias edges) — the audit surface
    for "why did these two merge", same discipline as ``link_many``.
    """
    prep = prepare_side(
        directory.select(F.col(entity_col).alias("_ent"), F.col(name_col)),
        name_col,
        "_aid",
        cfg,
    )
    a2e = prep.select("_aid", NORM_COL, "_ent").distinct()
    # one index of the distinct names serves both sides of the self-join
    scored = match_self(indexed(index_side(a2e, "_aid", cfg), "_aid", cfg), cfg, max_dist=max_dist)
    ex = a2e.select(F.col("_aid").alias("x_id"), F.col("_ent").alias("_ex"))
    ey = a2e.select(F.col("_aid").alias("y_id"), F.col("_ent").alias("_ey"))
    # canonical orientation entity_x < entity_y (the alias self-join orders
    # by name hash, which is unrelated to entity order — without this, one
    # entity pair reached through two alias pairs could survive dedup twice
    # in opposite orientations)
    flip = F.col("_ex") > F.col("_ey")
    fuzzy = (
        scored.join(ex, "x_id")
        .join(ey, "y_id")
        .filter(F.col("_ex") != F.col("_ey"))
        .select(
            F.when(flip, F.col("_ey")).otherwise(F.col("_ex")).alias("_ex"),
            F.when(flip, F.col("_ex")).otherwise(F.col("_ey")).alias("_ey"),
            F.when(flip, F.col("name_norm_y"))
            .otherwise(F.col("name_norm_x"))
            .alias("name_norm_x"),
            F.when(flip, F.col("name_norm_x"))
            .otherwise(F.col("name_norm_y"))
            .alias("name_norm_y"),
            DIST_COL,
        )
    )
    # the x<y self-join never pairs a name with itself, so two entities
    # sharing one exact normalized alias need their own (distance-0ish)
    # edge; NULL stringdist marks them in the evidence frame
    exact = (
        a2e.select(F.col("_aid"), F.col("_ent").alias("_ex"))
        .join(a2e.select(F.col("_aid"), NORM_COL, F.col("_ent").alias("_ey")), "_aid")
        .filter(F.col("_ex") < F.col("_ey"))
        .select(
            "_ex",
            "_ey",
            F.col(NORM_COL).alias("name_norm_x"),
            F.col(NORM_COL).alias("name_norm_y"),
            F.lit(None).cast("double").alias(DIST_COL),
        )
    )
    edges = fuzzy.unionByName(exact).dropDuplicates(["_ex", "_ey"])
    if return_edges:
        return edges.select(
            F.col("_ex").alias("entity_x"),
            F.col("_ey").alias("entity_y"),
            "name_norm_x",
            "name_norm_y",
            DIST_COL,
        )
    comp = connected_components(
        edges.select("_ex", "_ey"), src="_ex", dst="_ey"
    )
    return (
        a2e.select("_ent").distinct()
        .join(comp.withColumnRenamed("id", "_ent"), "_ent", "left")
        .select(
            F.col("_ent").alias(entity_col),
            F.coalesce("component", F.col("_ent")).alias("merged_entity_id"),
        )
    )


def apply_entity_remap(
    df: DataFrame, remap: DataFrame, *, entity_col: str = "entity_id"
) -> DataFrame:
    """Rewrite ``df[entity_col]`` through a ``merge_entities`` remap.
    Entities absent from the remap keep their id (a remap computed before
    new entities were minted stays applicable)."""
    r = remap.select(
        F.col(remap.columns[0]).alias(entity_col),
        F.col("merged_entity_id").alias("_merged"),
    )
    return (
        df.join(r, entity_col, "left")
        .withColumn(entity_col, F.coalesce("_merged", F.col(entity_col)))
        .drop("_merged")
    )


def link_many(
    sides: Sequence[DataFrame],
    cfg: LinkConfig,
    *,
    by: str | Sequence[str] = "name",
    max_dist: float = 0.5,
    return_edges: bool = False,
) -> DataFrame:
    """Resolve entities across ``sides``: returns one row per distinct
    normalized name per source — ``(side, name, name_norm, entity_id)``,
    where ``name`` is the representative (minimum) original spelling of
    the normalized group and ``entity_id`` is shared by every name in the
    same transitive match component across all sources.

    ``by`` is the name column (one string for all sides, or one per
    side). Matching is the fuzzy path at the pinned ``max_dist`` (pairs
    are edges, so no one-to-one pruning — clustering replaces it).

    ``return_edges=True`` returns the ACCEPTED-EDGE frame instead —
    ``(side_x, side_y, name_norm_x, name_norm_y, stringdist, src, dst)``,
    one row per accepted cross-source pair with the side indices and the
    component node keys — so an N-way merge is auditable the same way
    2-way matches are: feed the (name_norm_x, name_norm_y) pairs to
    ``operators.scoring.explain_pairs`` for the full per-pair evidence
    panel, or join ``src``/``dst`` back to the resolved frame's
    ``entity_id`` to see which edges built a suspicious mega-entity.
    """
    if len(sides) < 2:
        raise ValueError("link_many needs at least two sources")
    by_cols = [by] * len(sides) if isinstance(by, str) else list(by)
    if len(by_cols) != len(sides):
        raise ValueError("one `by` column per side (or a single string)")

    indexes = []
    nodes = None
    for i, (df, col) in enumerate(zip(sides, by_cols)):
        # indexed once, persisted: each of its N-1 matches reads it twice
        p = prepare_side(df.select(F.col(col).alias("name")), "name", f"m{i}", cfg)
        indexes.append(indexed(persist(index_side(p, f"m{i}", cfg)), f"m{i}", cfg))
        n = (
            p.groupBy(F.col(NORM_COL).alias("name_norm"))
            .agg(F.min("name").alias("name"))
            .select(
                F.lit(i).alias("side"),
                "name",
                "name_norm",
                _node_key(i, F.col("name_norm")).alias("_node"),
            )
        )
        nodes = n if nodes is None else nodes.unionByName(n)

    edges = None
    for i in range(len(sides)):
        for j in range(i + 1, len(sides)):
            scored = match_sides(indexes[i], indexes[j], cfg, max_dist=max_dist)
            e = scored.select(
                F.lit(i).cast("int").alias("side_x"),
                F.lit(j).cast("int").alias("side_y"),
                "name_norm_x",
                "name_norm_y",
                DIST_COL,
                _node_key(i, F.col("name_norm_x")).alias("src"),
                _node_key(j, F.col("name_norm_y")).alias("dst"),
            ).dropDuplicates(["src", "dst"])
            edges = e if edges is None else edges.unionByName(e)

    if return_edges:
        return edges

    comp = connected_components(
        edges.select("src", "dst"), src="src", dst="dst"
    )
    return (
        nodes.join(comp.withColumnRenamed("id", "_node"), "_node", "left")
        .select(
            "side",
            "name",
            "name_norm",
            # singletons (no accepted edge) are their own entity
            F.coalesce("component", F.col("_node")).alias("entity_id"),
        )
    )
