"""Top-level linkage plans — the ``LinkOrgs()`` equivalent, Spark-first.

Algorithms (reference whitelist at ``LinkOrgs/R/LinkOrgs_LinkOrgs.R:164-168``):
  * ``fuzzy``    — blocked q-gram fuzzy match (lifecycle SURVEY.md §3.1)
  * ``lookup``   — exact normalized-name join through the alias directory
                   (``LinkOrgs_LinkOrgs.R:619-623``)
  * ``alias``    — alias-bridged match: raw fuzzy + 2-hop network bridge with
                   score fusion (reference ``bipartite``/``markov``,
                   lifecycle §3.2; both reference variants differ only in
                   which precomputed directory they download, so one
                   algorithm + a caller-supplied directory covers both)
  * ``embed``    — embedding-space match: L2 scoring over hash or
                   user-supplied embeddings; candidates from the trigram
                   key, vector-space LSH, or all-pairs (``embed_blocking``;
                   reference ``ml`` path, lifecycle §3.3)

Every stage is a pure DataFrame → DataFrame function; the physical plan is
Catalyst's business (broadcast for the directory, SMJ/AQE for the pair
joins). The returned frame has one row per distinct matched *name pair*
(reference granularity — ids are name hashes, ``LinkOrgs_LinkOrgs.R:530-535``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import call_caches, persist
from ..config import DEFAULT, FALLBACK_MAX_DIST, LinkConfig
from ..functions.embedding import l2_dist_udf, make_hash_embed_udf
from ..functions.normalize import NORM_COL, pair_id_expr, prepare_side
from ..operators.blocking import gram_index, shared_gram_pairs
from ..operators.calibrate import Side, calibrate
from ..operators.dedup import keep_min_per_group, min_over_group
from ..operators.network import (
    ALIAS_ID,
    bridge,
    directory_matches,
    fuse_scores,
    prepare_directory,
)
from ..operators.scoring import DIST_COL, index_side, indexed, match_sides

ALGORITHMS = ("fuzzy", "lookup", "alias", "embed")


def _rep_rows(prep: DataFrame, id_col: str, by_col: str, suffix: str) -> DataFrame:
    """One deterministic representative original row per name-hash id."""
    others = [c for c in prep.columns if c not in (id_col, NORM_COL)]
    w = Window.partitionBy(id_col).orderBy(*[F.col(c).asc_nulls_last() for c in [by_col] + [c for c in others if c != by_col]])
    rep = prep.withColumn("_rn", F.row_number().over(w)).filter(F.col("_rn") == 1).drop("_rn", NORM_COL)
    renames = {c: f"{c}{suffix}" for c in others}
    for old, new in renames.items():
        rep = rep.withColumnRenamed(old, new)
    return rep


def _resolve_thresholds(
    xs: DataFrame, ys: DataFrame, cfg: LinkConfig, ds: DataFrame | None = None
) -> tuple[tuple[float, int, int], tuple | None, tuple | None]:
    """Reference threshold priority (``LinkOrgs_PFuzzyDiscreteFullFxn.R:67-76``):
    a non-None ``ave_match_number_per_alias`` recomputes the threshold by
    calibration and OVERRIDES ``max_dist``; ``max_dist`` applies only when the
    ave knob is None; both None falls back to the reference's internal
    default MaxDist = 0.20. The network pair follows the same rule.

    ``xs``, ``ys`` and ``ds`` are the x, y and directory ``index_side``
    rows (one per distinct name); ``ds`` is None when there is no
    directory or its matches are already checkpointed.

    Returns ``(thr, nx, ny)`` for the raw match, then ``(thr, nx, nd)`` and
    ``(thr, ny, nd)`` for the x→ and y→directory matches (None without
    ``ds``). The counts are the sides' row counts, which bound their
    distinct ids for ``shared_gram_pairs``. Calibrations and counts run
    as ONE ``calibrate`` batch, so a pinned threshold costs the same one
    count action."""
    raw_k = cfg.ave_match_number_per_alias
    reqs = [(xs, ys, raw_k)]
    pins = [cfg.max_dist]
    if ds is not None:
        net_k = cfg.ave_match_number_per_alias_network
        reqs += [(xs, ds, net_k), (ys, ds, net_k)]
        pins += [cfg.max_dist_network] * 2
    got = [
        ((FALLBACK_MAX_DIST if pin is None else pin) if thr is None else thr, *n)
        for (thr, *n), pin in zip(calibrate(reqs, cfg), pins)
    ]
    return got[0], *(got[1:] or (None, None))


def _embedded_side(prep: DataFrame, cfg: LinkConfig, embed_col: str | None) -> DataFrame:
    """``(<NORM_COL>, _emb)`` per distinct normalized name.

    ``embed_col`` names a user-supplied ``array<float>`` column carried on the
    input (the reference's precomputed ``embedx``/``embedy`` matrices,
    ``LinkOrgs_LinkOrgs.R:114,197-200``); otherwise the deterministic hash
    kernel computes one vector per distinct name. User embeddings must be
    functionally dependent on the name — one deterministic row per name is
    kept, mirroring the reference's row alignment by name.
    """
    if embed_col is not None:
        return (
            prep.select(NORM_COL, F.col(embed_col).alias("_emb"))
            .dropDuplicates([NORM_COL])
        )
    embed = make_hash_embed_udf(seed=cfg.seed)
    return prep.select(NORM_COL).dropDuplicates().withColumn("_emb", embed(F.col(NORM_COL)))


def _embed_match(
    x_prep: DataFrame,
    y_prep: DataFrame,
    xe: DataFrame,
    ye: DataFrame,
    cfg: LinkConfig,
    max_dist: float | None,
    blocking: str = "trigram",
    dim: int | None = None,
    multiprobe: int = 0,
) -> DataFrame:
    """L2 scoring over per-name embeddings (reference ``ml`` analogue).

    ``dim`` is the embedding width the ANN hyperplanes need. The hash-kernel
    path passes its constant; only user-supplied vectors fall back to a
    one-row probe of the (persisted) ``ye`` frame — guarded so an empty y
    side yields an empty result like the other blocking modes instead of a
    TypeError.

    Candidate generation (``blocking``):
      * ``"trigram"`` — the engine's fixed lexical blocking key (default:
        cheapest, and the north rule's shared-candidate-set contract).
      * ``"ann"``     — hyperplane-LSH buckets over the embeddings
        themselves: candidates are vector-space neighbors, so semantically
        similar names with NO shared trigrams still match — the
        scale-correct analogue of the reference's all-pairs euclidean scan
        (``LinkOrgs_PFuzzyEuclideanInternal.R:133-163`` scores every (ix,
        iy); O(n²) is fine single-node, not at 10^9 names). ``multiprobe``
        > 0 additionally probes the x side's hamming-1/2 neighbor buckets
        (``ann.expand_probes``) so moderately-similar vectors match
        without all-pairs.
      * ``"none"``    — the reference's literal all-pairs semantics
        (bounded inputs only).
    """
    xs, ys = index_side(x_prep, "x_id", cfg), index_side(y_prep, "y_id", cfg)
    xn = xs.join(xe, NORM_COL).select(
        "x_id", F.col(NORM_COL).alias("name_norm_x"), F.col("_emb").alias("_emb_x")
    )
    yn = ys.join(ye, NORM_COL).select(
        "y_id", F.col(NORM_COL).alias("name_norm_y"), F.col("_emb").alias("_emb_y")
    )
    if blocking == "trigram":
        cands = shared_gram_pairs(
            gram_index(xs, "x_id", cfg), gram_index(ys, "y_id", cfg), cfg, x_id="x_id", y_id="y_id"
        )
        scored = cands.select("x_id", "y_id").join(xn, "x_id").join(yn, "y_id")
    elif blocking == "ann":
        from ..operators.ann import expand_probes, lsh_buckets

        if dim is None:
            head = ye.select("_emb").head(1)
            if not head:  # empty y side: no candidates, like the other modes
                return (
                    xn.crossJoin(yn)
                    .where(F.lit(False))
                    .withColumn(DIST_COL, F.lit(None).cast("double"))
                    .drop("_emb_x", "_emb_y")
                )
            dim = len(head[0]["_emb"])
        kw = dict(vec_col="_emb_b", dim=dim, n_planes=8, num_tables=4, seed=cfg.seed)
        xb = lsh_buckets(xn.withColumnRenamed("_emb_x", "_emb_b"), **kw).withColumnRenamed(
            "_emb_b", "_emb_x"
        )
        yb = lsh_buckets(yn.withColumnRenamed("_emb_y", "_emb_b"), **kw).withColumnRenamed(
            "_emb_b", "_emb_y"
        )
        xb = expand_probes(xb, n_planes=8, multiprobe=multiprobe)
        scored = (
            xb.join(yb, ["table_id", "bucket"])
            .drop("table_id", "bucket")
            .dropDuplicates(["x_id", "y_id"])
        )
    elif blocking == "none":
        scored = xn.crossJoin(yn)
    else:
        raise ValueError(f"embed_blocking must be trigram|ann|none, got {blocking!r}")
    scored = scored.withColumn(
        DIST_COL, l2_dist_udf(F.col("_emb_x"), F.col("_emb_y"))
    ).drop("_emb_x", "_emb_y")
    if max_dist is not None and max_dist != float("inf"):
        scored = scored.filter(F.col(DIST_COL) <= F.lit(float(max_dist)))
    return scored


@call_caches()
def link_orgs(
    x: DataFrame,
    y: DataFrame,
    cfg: LinkConfig = DEFAULT,
    *,
    algorithm: str = "fuzzy",
    directory: DataFrame | None = None,
    decomposition: bool = False,
    one_to_one: bool = False,
    checkpointer=None,
    embed_col_x: str | None = None,
    embed_col_y: str | None = None,
    embed_blocking: str = "trigram",
    embed_multiprobe: int = 0,
    export_embeddings_only: bool = False,
    return_diagnostics: bool = False,
):
    """Link two org-name tables; returns the matched-pair DataFrame.

    With ``decomposition=True`` returns ``{"z": ..., "z_raw_names": ...,
    "z_network": ...}`` (reference return list, ``LinkOrgs_LinkOrgs.R:785-787``).

    ``embed_col_x`` / ``embed_col_y`` name user-supplied ``array<float>``
    columns on ``x`` / ``y`` — the reference's precomputed ``embedx``/
    ``embedy`` matrices (``LinkOrgs_LinkOrgs.R:114,197-200``; exercised by
    ``tests/testthat/test-linkorgs-workflows.R:65-88``). Passing them
    switches matching to the embedding path, exactly as a non-NULL
    ``embedx`` switches the reference to ``pFuzzyMatch_euclidean``.

    ``embed_blocking`` picks the embedding path's candidate generator:
    ``"trigram"`` (fixed lexical key), ``"ann"`` (hyperplane-LSH over the
    vectors — semantic neighbors without shared trigrams still match, the
    scale analogue of the reference's all-pairs euclidean scan), or
    ``"none"`` (literal all-pairs, bounded inputs only).
    ``embed_multiprobe`` (ann blocking only) probes hamming-1/2 neighbor
    sign buckets on the x side, extending recall to moderately-similar
    vectors without the all-pairs fallback.

    ``export_embeddings_only=True`` early-returns ``{"embedx": DataFrame,
    "embedy": DataFrame}`` — each ``(<by col>, embedding)`` per input name —
    without matching (reference ``LinkOrgs_LinkOrgs.R:130,325-338``).

    ``return_diagnostics=False`` (the reference default,
    ``LinkOrgs_LinkOrgs.R:775-779``) keeps only the back-merged input
    columns plus ``stringdist`` and ``minDist``; ``True`` adds the
    match-level diagnostics (ids, normalized names, network distances,
    canonical_id).

    ``checkpointer`` (a ``sources.io.StageCheckpointer``) makes the run
    resumable: the scored-pairs stage, each directory-match stage, and the
    final pair table are materialized with row-count metrics; a re-run
    detects completed stages and skips their computation entirely (north
    rule: resumable from checkpoint with lineage + metrics — Iceberg
    snapshots at prod, parquet + ``_metrics.jsonl`` here).

    The returned frame is lazy and reads the stages this call persisted
    (prepared and indexed sides, scored barriers, directory matches);
    they stay cached until the next ``link_orgs`` call or
    ``release_caches()`` (``cache.call_caches``).
    """
    # Input validation mirrors the reference's public checks
    # (tests/testthat/test-input-validation.R): a missing match column and a
    # bad algorithm fail fast with a clear message instead of a deep
    # AnalysisException mid-plan.
    if cfg.by_x not in x.columns:
        raise ValueError(f"by_x column {cfg.by_x!r} not found in x (has {x.columns})")
    if cfg.by_y not in y.columns:
        raise ValueError(f"by_y column {cfg.by_y!r} not found in y (has {y.columns})")
    if (embed_col_x is None) != (embed_col_y is None):
        raise ValueError("embed_col_x and embed_col_y must be passed together")
    if embed_col_x is not None and embed_col_x not in x.columns:
        raise ValueError(f"embed_col_x column {embed_col_x!r} not found in x")
    if embed_col_y is not None and embed_col_y not in y.columns:
        raise ValueError(f"embed_col_y column {embed_col_y!r} not found in y")
    if embed_col_x is not None:
        algorithm = "embed"  # reference: non-NULL embedx forces the euclidean matcher
    if algorithm not in ALGORITHMS:
        raise ValueError(f"algorithm must be one of {ALGORITHMS}, got {algorithm!r}")
    if algorithm in ("lookup", "alias") and directory is None:
        raise ValueError(f"algorithm {algorithm!r} requires a directory DataFrame")

    # The prepared sides feed several plan branches (the indexed or
    # embedded sides, representative-row back-merge) — cache them so each
    # branch reads the normalized frame instead of re-deriving it.
    x_prep = persist(prepare_side(x, cfg.by_x, "x_id", cfg))
    y_prep = persist(prepare_side(y, cfg.by_y, "y_id", cfg))

    if export_embeddings_only:
        xe = _embedded_side(x_prep, cfg, embed_col_x)
        ye = _embedded_side(y_prep, cfg, embed_col_y)
        return {
            "embedx": x_prep.join(xe, NORM_COL).select(
                F.col(cfg.by_x), F.col("_emb").alias("embedding")
            ),
            "embedy": y_prep.join(ye, NORM_COL).select(
                F.col(cfg.by_y), F.col("_emb").alias("embedding")
            ),
        }

    def _stage(name, build):
        return checkpointer.run(name, build) if checkpointer is not None else build()

    z_raw = None
    z_net = None

    if algorithm == "embed":
        # Embed (or take user-supplied vectors) per DISTINCT name once: the
        # kernel never runs per candidate pair, and calibration samples
        # pre-embedded rows (1000x1000 sample pairs would otherwise pay 2M
        # kernel invocations for 2000 names). Persisted: the embedded frames
        # feed calibration counts + sampling AND the match join — without a
        # persist the pandas-UDF hash kernel would run 2-3x.
        xe = persist(_embedded_side(x_prep, cfg, embed_col_x))
        ye = persist(_embedded_side(y_prep, cfg, embed_col_y))
        if cfg.ave_match_number_per_alias is not None:
            # one sampled row per distinct NAME: n counts names, and two
            # names sharing a vector are two rows
            sides = Side(xe, "_emb"), Side(ye, "_emb")
            [(thr, _, _)] = calibrate(
                [(*sides, cfg.ave_match_number_per_alias)],
                cfg,
                pair_dist=lambda a, b: l2_dist_udf(F.col(a), F.col(b)),
            )
        elif cfg.max_dist is not None:
            thr = cfg.max_dist
        else:
            thr = FALLBACK_MAX_DIST
        from ..functions.embedding import DEFAULT_DIM

        z_raw = _embed_match(
            x_prep,
            y_prep,
            xe,
            ye,
            cfg,
            thr,
            blocking=embed_blocking,
            # hash-kernel width is a compile-time constant; only user-supplied
            # vectors need the (guarded, persisted) one-row probe
            dim=DEFAULT_DIM if embed_col_x is None else None,
            multiprobe=embed_multiprobe,
        )
    elif algorithm == "lookup":
        dir_prep = persist(prepare_directory(directory, cfg))
        # no forced broadcast: directories can be ~0.5e9 aliases; AQE
        # broadcasts small ones automatically
        xd = index_side(x_prep, "x_id", cfg).join(dir_prep, NORM_COL).select(
            "x_id", F.col(NORM_COL).alias("name_norm_x"), "canonical_id"
        )
        yd = index_side(y_prep, "y_id", cfg).join(dir_prep, NORM_COL).select(
            "y_id", F.col(NORM_COL).alias("name_norm_y"), "canonical_id"
        )
        z_net = xd.join(yd, "canonical_id").withColumn(
            "netdist_x", F.lit(0.0)
        ).withColumn("netdist_y", F.lit(0.0))
    else:
        # One indexed side per input (distinct names, scoring sets, gram
        # index), persisted here and probed by every match it takes part in.
        def index(prep, id_col, carry=()):
            return indexed(persist(index_side(prep, id_col, cfg, carry=carry)), id_col, cfg)

        # The calibrations sample these indexed sides, and their one count
        # action materializes the persists the matches read next.
        xs, ys = index(x_prep, "x_id"), index(y_prep, "y_id")
        ds = None
        if algorithm == "alias":
            ds = index(prepare_directory(directory, cfg), ALIAS_ID, ("canonical_id",))
        # a resumed run skips the calibrations of completed directory stages
        done = checkpointer is not None and all(map(checkpointer.is_complete, ("x2net", "y2net")))
        cal_dir = None if ds is None or done else ds.names
        (thr, nxc, nyc), x_cal, y_cal = _resolve_thresholds(xs.names, ys.names, cfg, cal_dir)
        z_raw = _stage(
            "scored_raw",
            lambda: match_sides(xs, ys, cfg, x_count=nxc, y_count=nyc, max_dist=thr),
        )
        if ds is not None:
            x2net = _stage(
                "x2net",
                lambda: directory_matches(xs, ds, cfg, out_dist="netdist_x", calibration=x_cal),
            )
            y2net = _stage(
                "y2net",
                lambda: directory_matches(ys, ds, cfg, out_dist="netdist_y", calibration=y_cal),
            )
            z_net = bridge(x2net, y2net)

    fused = fuse_scores(z_raw, z_net, cfg)
    fused = fused.withColumn("pair_id", pair_id_expr("x_id", "y_id"))
    fused = min_over_group(fused, ["pair_id"], "minDist", "minDist_pair")
    fused = fused.withColumn("minDist", F.col("minDist_pair")).drop("minDist_pair")
    z = keep_min_per_group(
        fused, ["pair_id"], "minDist", tiebreak_cols=[DIST_COL, "name_norm_x", "name_norm_y"]
    )

    if one_to_one:
        # Mutual-best selection: a pair survives iff it is the closest match
        # for BOTH its x and its y (deterministic tiebreaks). This is the
        # assignment the F1 >= 0.99 gate evaluates; the default (budgeted
        # many-to-many) mirrors the reference's AveMatchNumberPerAlias
        # semantics instead. Expressed as two consecutive window ranks in
        # ONE linear plan — a self-join formulation would fan the upstream
        # DAG into three concurrently-scheduled branches that race to
        # populate the same cache and recompute blocking+scoring ~3x.
        wx = Window.partitionBy("x_id").orderBy(
            F.col("minDist").asc_nulls_last(), F.col("name_norm_y").asc()
        )
        wy = Window.partitionBy("y_id").orderBy(
            F.col("minDist").asc_nulls_last(), F.col("name_norm_x").asc()
        )
        z = (
            z.withColumn("_rx", F.row_number().over(wx))
            .withColumn("_ry", F.row_number().over(wy))
            .filter((F.col("_rx") == 1) & (F.col("_ry") == 1))
            .drop("_rx", "_ry")
        )

    # attach original columns (reference back-merge, LinkOrgs_LinkOrgs.R:643-653)
    x_rep = _rep_rows(x_prep, "x_id", cfg.by_x, "_x")
    y_rep = _rep_rows(y_prep, "y_id", cfg.by_y, "_y")
    out = _stage("z_final", lambda: z.join(x_rep, "x_id").join(y_rep, "y_id"))

    if not return_diagnostics:
        # Reference default output (LinkOrgs_LinkOrgs.R:775-779): input
        # columns + stringdist + minDist only; ids / normalized names /
        # network distances / canonical_id are diagnostics.
        rep_cols = [c for c in x_rep.columns if c != "x_id"] + [
            c for c in y_rep.columns if c != "y_id"
        ]
        out = out.select(*rep_cols, DIST_COL, "minDist")

    if decomposition:
        return {"z": out, "z_raw_names": z_raw, "z_network": z_net}
    return out
