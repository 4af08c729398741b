"""End-to-end linkage workflows — mirrors reference
test-linkorgs-workflows.R, test-network-cache.R, test-integration.R,
test-edge-cases.R (SURVEY.md §5)."""

import collections
import pathlib
import sys

import pytest
from pyspark.sql import functions as F

from linkorgs_software_spark import (
    LinkConfig,
    assess_match_performance,
    link_orgs,
)
from linkorgs_software_spark.config import fixed_threshold_config


def test_fuzzy_perfect_recall(spark, fixture_tables):
    z = link_orgs(
        fixture_tables["org_x"], fixture_tables["org_y"], LinkConfig(), algorithm="fuzzy"
    )
    a = assess_match_performance(
        z.selectExpr("name_x", "name_y"),
        fixture_tables["z_true"],
        n_x=60,
        n_y=60,
    )
    assert a.recall == 1.0


def test_alias_one_to_one_f1_gate(spark, fixture_tables):
    """The north-rule quality gate: pairwise F1 >= 0.99 on labeled pairs."""
    z = link_orgs(
        fixture_tables["org_x"],
        fixture_tables["org_y"],
        LinkConfig(),
        algorithm="alias",
        directory=fixture_tables["alias_directory"],
        one_to_one=True,
    )
    a = assess_match_performance(
        z.selectExpr("name_x", "name_y"),
        fixture_tables["z_true"],
        n_x=60,
        n_y=60,
    )
    assert a.f1 >= 0.99


def _alias_call(fixture_tables):
    return link_orgs(
        fixture_tables["org_x"],
        fixture_tables["org_y"],
        LinkConfig(),
        algorithm="alias",
        directory=fixture_tables["alias_directory"],
        one_to_one=True,
    )


def test_alias_call_indexes_each_input_once(spark, fixture_tables, monkeypatch):
    """One alias call builds one indexed side per input (x, y and the
    directory): one ``index_side``, one ``name_sets`` and one
    ``gram_index`` each, and no match deduplicates a side again."""
    from linkorgs_software_spark.operators import blocking, scoring

    calls = collections.Counter()
    for mod, name in ((scoring, "index_side"), (scoring, "name_sets"), (blocking, "gram_index")):
        orig = getattr(mod, name, None)

        def counted(*a, _orig=orig, _name=name, **kw):
            calls[_name] += 1
            return _orig(*a, **kw)

        for m in [m for n, m in sys.modules.items() if n.startswith("linkorgs_software_spark")]:
            if orig is not None and getattr(m, name, None) is orig:
                monkeypatch.setattr(m, name, counted)

    # side dedupes, by the blocking / scoring / network / calibrate function
    # issuing them: calibration samples the indexed sides as they are
    dedupes = collections.Counter()
    frame = type(spark.range(1))
    for meth in ("dropDuplicates", "distinct"):

        def traced(self, *a, _orig=getattr(frame, meth), **kw):
            code = sys._getframe(1).f_code
            path = pathlib.Path(code.co_filename)
            if path.parent.name == "operators" and path.stem in ("blocking", "scoring", "network", "calibrate"):
                dedupes[code.co_name] += 1
            return _orig(self, *a, **kw)

        monkeypatch.setattr(frame, meth, traced)
    _alias_call(fixture_tables)
    assert calls == {"index_side": 3, "name_sets": 3, "gram_index": 3}, calls
    assert dedupes == {"index_side": 3}, dedupes


# Most Spark jobs seen for one ``_alias_call`` plus the collect of its
# result on local[4], over N runs (the layout before one indexed side per
# input ran 53 in every run; before calibration sampled the indexed sides,
# 40).
_ALIAS_CALL_JOBS = 35


def test_alias_call_jobs(spark, fixture_tables):
    """One alias one-to-one call, result collected, runs no more Spark jobs
    than the measured count."""
    sc = spark.sparkContext
    group = "alias-call-jobs"
    sc.setJobGroup(group, "link_orgs alias one_to_one")
    try:
        rows = _alias_call(fixture_tables).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert rows and 0 < jobs <= _ALIAS_CALL_JOBS, jobs


def test_fixed_threshold_counts_prune_df_caps(spark, fixture_tables):
    """A pinned-threshold call counts its indexed sides in one action and
    passes the counts as ``shared_gram_pairs`` bounds: sides under
    ``max_block_df`` lose their df-cap subtrees (the cap's anti-join),
    sides over it keep them."""

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")

    def call(cfg):
        return link_orgs(
            fixture_tables["org_x"], fixture_tables["org_y"], cfg, algorithm="alias",
            directory=fixture_tables["alias_directory"], one_to_one=True,
        )

    cfg = fixed_threshold_config(max_dist=0.4, max_dist_network=0.3)
    pruned = call(cfg)
    assert "LeftAnti" not in plan_of(pruned) and pruned.count() == 60
    assert "LeftAnti" in plan_of(call(cfg.with_(max_block_df=59)))  # 60 names per side


def test_network_bridge_links_tiny_directory(spark):
    """Reference test-network-cache.R:5-169 canonical case: alias bridging
    links 'apple llc' <-> 'apple corp' through canonical_id A."""
    x = spark.createDataFrame([(1, "apple llc"), (2, "oracle x")], "id long, name string")
    y = spark.createDataFrame([(1, "apple corp"), (2, "zzz qqq")], "id long, name string")
    directory = spark.createDataFrame(
        [
            ("apple llc", "A", 1.0),
            ("apple corp", "A", 1.0),
            ("microsoft inc", "M", 1.0),
            ("microsoft corporation", "M", 1.0),
        ],
        "alias_name string, canonical_id string, weights double",
    )
    cfg = fixed_threshold_config(max_dist=0.2, max_dist_network=0.0)
    z = link_orgs(x, y, cfg, algorithm="alias", directory=directory,
                  return_diagnostics=True)
    pairs = {(r.name_x, r.name_y) for r in z.collect()}
    assert ("apple llc", "apple corp") in pairs
    # raw fuzzy at 0.2 would never match them; evidence is network-only
    row = z.filter(F.col("name_x") == "apple llc").first()
    assert row.netdist_x == 0.0 and row.netdist_y == 0.0
    assert row.minDist == 0.0


def test_lookup_exact_alias_join(spark):
    x = spark.createDataFrame([(1, "Apple LLC")], "id long, name string")
    y = spark.createDataFrame([(1, "apple corp")], "id long, name string")
    directory = spark.createDataFrame(
        [("apple llc", "A", 1.0), ("apple corp", "A", 1.0)],
        "alias_name string, canonical_id string, weights double",
    )
    z = link_orgs(x, y, LinkConfig(), algorithm="lookup", directory=directory)
    assert z.count() == 1


def test_decomposition_slots(spark, fixture_tables):
    out = link_orgs(
        fixture_tables["org_x"],
        fixture_tables["org_y"],
        fixed_threshold_config(max_dist=0.5, max_dist_network=0.5),
        algorithm="alias",
        directory=fixture_tables["alias_directory"],
        decomposition=True,
    )
    assert set(out) == {"z", "z_raw_names", "z_network"}
    assert out["z"].count() > 0
    assert out["z_network"].count() > 0


def test_score_fusion_arithmetic(spark):
    """minDist = RelThres * max(netx, nety) + stringdist when both present."""
    x = spark.createDataFrame([(1, "acme corp")], "id long, name string")
    y = spark.createDataFrame([(1, "acme corp")], "id long, name string")
    directory = spark.createDataFrame(
        [("acme corp", "A", 1.0)], "alias_name string, canonical_id string, weights double"
    )
    z = link_orgs(
        x, y, fixed_threshold_config(max_dist=0.4, max_dist_network=0.4),
        algorithm="alias", directory=directory,
    )
    row = z.first()
    # exact name both ways: raw dist 0, net dists 0 -> fused 0
    assert row.minDist == 0.0


def test_empty_inputs(spark):
    empty = spark.createDataFrame([], "id long, name string")
    y = spark.createDataFrame([(1, "name a")], "id long, name string")
    assert link_orgs(empty, y, fixed_threshold_config(max_dist=0.5)).count() == 0


def test_single_row_self_match(spark):
    x = spark.createDataFrame([(1, "solo company")], "id long, name string")
    z = link_orgs(x, x.selectExpr("id", "name"), fixed_threshold_config(max_dist=0.0))
    assert z.count() == 1
    assert z.first().stringdist == 0.0


def test_very_long_names(spark):
    # reference: test-edge-cases.R 1200-char names
    long_name = "a b " * 300
    x = spark.createDataFrame([(1, long_name)], "id long, name string")
    z = link_orgs(x, x.selectExpr("id", "name"), fixed_threshold_config(max_dist=0.0))
    assert z.count() == 1


def test_duplicate_names_single_pair(spark):
    x = spark.createDataFrame(
        [(1, "dup co"), (2, "dup co"), (3, "dup co")], "id long, name string"
    )
    z = link_orgs(x, x.selectExpr("id", "name"), fixed_threshold_config(max_dist=0.0))
    # ids are name hashes: output granularity is distinct name pairs
    assert z.count() == 1


def test_embed_algorithm_runs(spark, fixture_tables):
    z = link_orgs(
        fixture_tables["org_x"],
        fixture_tables["org_y"],
        LinkConfig(),
        algorithm="embed",
        one_to_one=True,
    )
    a = assess_match_performance(
        z.selectExpr("name_x", "name_y"), fixture_tables["z_true"], n_x=60, n_y=60
    )
    assert a.recall >= 0.9  # hash-embedding kernel is a stand-in, not the gate


def test_deterministic_across_runs(spark, fixture_tables):
    cfg = LinkConfig()
    z1 = link_orgs(fixture_tables["org_x"], fixture_tables["org_y"], cfg, one_to_one=True)
    z2 = link_orgs(fixture_tables["org_x"], fixture_tables["org_y"], cfg, one_to_one=True)
    p1 = sorted((r.name_x, r.name_y) for r in z1.collect())
    p2 = sorted((r.name_x, r.name_y) for r in z2.collect())
    assert p1 == p2


def test_ave_match_number_overrides_max_dist(spark, fixture_tables):
    """Reference priority (PFuzzyDiscreteFullFxn.R:67-76): a non-None
    ave_match_number_per_alias recalibrates the threshold and OVERRIDES an
    explicit max_dist; max_dist applies only with ave=None."""
    x, y = fixture_tables["org_x"], fixture_tables["org_y"]
    both_set = link_orgs(x, y, LinkConfig(max_dist=0.0, ave_match_number_per_alias=10.0))
    pinned = link_orgs(x, y, fixed_threshold_config(max_dist=0.0))
    # max_dist=0.0 keeps only exact matches; the calibrated override admits more
    assert both_set.count() > pinned.count()


def test_diagnostics_hidden_by_default(spark, fixture_tables):
    """Reference ReturnDiagnostics=F default (LinkOrgs_LinkOrgs.R:775-779)."""
    x, y = fixture_tables["org_x"], fixture_tables["org_y"]
    z = link_orgs(x, y, fixed_threshold_config(max_dist=0.5))
    hidden = {"x_id", "y_id", "pair_id", "name_norm_x", "name_norm_y",
              "netdist_x", "netdist_y", "canonical_id"}
    assert hidden.isdisjoint(z.columns)
    assert {"name_x", "name_y", "stringdist", "minDist"} <= set(z.columns)
    zd = link_orgs(x, y, fixed_threshold_config(max_dist=0.5), return_diagnostics=True)
    assert {"x_id", "y_id", "name_norm_x", "netdist_x"} <= set(zd.columns)


def test_precomputed_embeddings_passthrough(spark):
    """Reference embedx/embedy matrices (LinkOrgs_LinkOrgs.R:114,197-200;
    test-linkorgs-workflows.R:65-88): matching must score the USER vectors,
    not the hash kernel — identical names with orthogonal vectors must not
    match; identical vectors must match at distance 0."""
    x = spark.createDataFrame(
        [(1, "alpha systems", [1.0, 0.0]), (2, "beta partners", [0.0, 1.0])],
        "id long, name string, vec array<float>",
    )
    y = spark.createDataFrame(
        [(1, "alpha systems", [0.0, 1.0]), (2, "beta partners", [0.0, 1.0])],
        "id long, name string, vec array<float>",
    )
    z = link_orgs(
        x, y, fixed_threshold_config(max_dist=0.1),
        embed_col_x="vec", embed_col_y="vec",
    )
    pairs = {(r.name_x, r.name_y): r.stringdist for r in z.collect()}
    assert ("beta partners", "beta partners") in pairs
    assert pairs[("beta partners", "beta partners")] == 0.0
    assert ("alpha systems", "alpha systems") not in pairs  # orthogonal vectors


def test_embed_calibration_counts_and_samples_names(spark, monkeypatch):
    """The embedding calibration's unit is the distinct NAME: two names
    sharing one user-supplied vector are two rows, both in ``n`` and in the
    sample. Rows: x (a, b share [1, 0]; c is [0, 1]) × y ([1, 0], [0, 3])
    give distances 0, 0, √2, 2, √10, √10; q = 0.3 picks the 2nd smallest
    (0, clamped to 1e-6). Distinct vectors would give 0, √2, 2, √10 and
    pick √2."""
    import math

    from linkorgs_software_spark.plans import pipeline

    got = []

    def recorded(*a, _orig=pipeline.calibrate, **kw):
        got.extend(_orig(*a, **kw))
        return got[-1:]

    monkeypatch.setattr(pipeline, "calibrate", recorded)
    x = spark.createDataFrame(
        [(1, "acme corp", [1.0, 0.0]), (2, "acme co", [1.0, 0.0]), (3, "beta inc", [0.0, 1.0])],
        "id long, name string, vec array<float>",
    )
    y = spark.createDataFrame(
        [(1, "acme corporation", [1.0, 0.0]), (2, "zeta llc", [0.0, 3.0])],
        "id long, name string, vec array<float>",
    )
    cfg = LinkConfig(ave_match_number_per_alias=0.3 * math.sqrt(6))
    z = link_orgs(x, y, cfg, embed_col_x="vec", embed_col_y="vec", embed_blocking="none")
    pairs = {(r.name_x, r.name_y) for r in z.collect()}
    assert pairs == {("acme corp", "acme corporation"), ("acme co", "acme corporation")}
    assert got == [(1e-6, 3, 2)]


def test_embed_ann_blocking_matches_without_shared_trigrams(spark):
    """The reference euclidean path scores ALL pairs (no trigram blocking,
    PFuzzyEuclideanInternal.R:133-163) — names with identical embeddings but
    zero lexical overlap must match. embed_blocking='ann' (vector-space LSH
    candidates) and 'none' (literal all-pairs) both recover the pair; the
    default trigram key, by design, cannot."""
    x = spark.createDataFrame(
        [(1, "zzzzz qqqqq", [1.0, 0.0]), (2, "other one", [0.0, 1.0])],
        "id long, name string, vec array<float>",
    )
    y = spark.createDataFrame(
        [(1, "aaaa bbbb", [1.0, 0.0])], "id long, name string, vec array<float>"
    )
    kw = dict(embed_col_x="vec", embed_col_y="vec")
    cfg = fixed_threshold_config(max_dist=0.1)
    for mode in ("ann", "none"):
        z = link_orgs(x, y, cfg, embed_blocking=mode, **kw)
        pairs = {(r.name_x, r.name_y) for r in z.collect()}
        assert pairs == {("zzzzz qqqqq", "aaaa bbbb")}, mode
    z_tri = link_orgs(x, y, cfg, embed_blocking="trigram", **kw)
    assert z_tri.count() == 0  # no shared trigrams -> no candidates


def test_embed_ann_empty_y_returns_empty(spark):
    """embed_blocking='ann' with an EMPTY y side must yield an empty result
    like the other blocking modes — the hyperplane-dimension probe must not
    blow up on a missing first row."""
    x = spark.createDataFrame(
        [(1, "alpha systems", [1.0, 0.0])], "id long, name string, vec array<float>"
    )
    y = spark.createDataFrame([], "id long, name string, vec array<float>")
    z = link_orgs(
        x, y, fixed_threshold_config(max_dist=0.5),
        embed_col_x="vec", embed_col_y="vec", embed_blocking="ann",
    )
    assert z.count() == 0


def test_with_per_side_override_beats_by_shorthand(spark):
    """cfg.with_(by_x=...) on a config built with the ``by`` shorthand must
    keep the explicit per-side value instead of snapping it back to ``by``
    when __post_init__ re-runs; by= together with by_x= is ambiguous."""
    cfg = LinkConfig(by="name")
    over = cfg.with_(by_x="other")
    assert over.by_x == "other" and over.by_y == "name"
    with pytest.raises(ValueError):
        cfg.with_(by="a", by_x="b")


@pytest.mark.parametrize("algorithm", ["fuzzy", "alias"])
def test_repeated_link_calls_release_prior_caches(spark, stored_rdds, algorithm):
    """A long-lived session calling link_orgs in a loop must not accumulate
    cached stages: each call releases everything the previous call
    persisted (the score_pairs barriers and directory matches included), so
    executor storage stays bounded at one call's working set, and
    release_caches() frees the last call's stages. Every call links
    DIFFERENT inputs: Spark's CacheManager dedupes persists of identical
    plans, so repeating one input would hide a leak."""
    from linkorgs_software_spark import release_caches
    from linkorgs_software_spark.sources.fixtures import gen_linkage_fixture

    release_caches()
    before = stored_rdds()
    sizes = []
    for seed in (101, 102, 103):
        fx = gen_linkage_fixture(spark, n_entities=60, seed=seed)
        directory = fx["alias_directory"] if algorithm == "alias" else None
        z = link_orgs(fx["org_x"], fx["org_y"], LinkConfig(), algorithm=algorithm, directory=directory)
        z.count()
        sizes.append(len(stored_rdds()))
    assert sizes[2] <= sizes[0]  # no growth call-over-call
    assert release_caches() > 0
    assert stored_rdds() <= before


def test_assess_releases_its_pair_sets(spark, stored_rdds, fixture_tables):
    """assess_match_performance caches its two deduped pair sets for the
    confusion counts; only the counts escape, so both are released before
    it returns."""
    truth = fixture_tables["z_true"]
    before = stored_rdds()
    a = assess_match_performance(truth.where("name_x < 'm'"), truth, n_x=60, n_y=60)
    assert a.fp == 0 and a.tp > 0 and a.fn > 0
    assert stored_rdds() <= before


def test_embed_cols_must_come_together(spark, fixture_tables):
    with pytest.raises(ValueError):
        link_orgs(
            fixture_tables["org_x"], fixture_tables["org_y"], LinkConfig(),
            embed_col_x="vec",
        )


def test_export_embeddings_only(spark, fixture_tables):
    """Reference ExportEmbeddingsOnly early-return (LinkOrgs_LinkOrgs.R:130,
    325-338): embeddings per input name, no matching performed."""
    out = link_orgs(
        fixture_tables["org_x"], fixture_tables["org_y"], LinkConfig(),
        algorithm="embed", export_embeddings_only=True,
    )
    assert set(out) == {"embedx", "embedy"}
    ex = out["embedx"]
    assert set(ex.columns) == {"name", "embedding"}
    first = ex.first()
    assert len(first.embedding) == 64
    assert ex.count() == fixture_tables["org_x"].count()


def test_input_validation_clear_errors(spark):
    """Mirrors reference test-input-validation.R: missing match columns and
    bad algorithms fail fast with readable messages."""
    x = spark.createDataFrame([(1, "a co")], "id long, name string")
    y = spark.createDataFrame([(1, "a co")], "id long, org string")
    with pytest.raises(ValueError, match="not found"):
        link_orgs(x, y, LinkConfig(by_x="nonexistent", by_y="org"))
    with pytest.raises(ValueError, match="not found"):
        link_orgs(x, y, LinkConfig(by_x="name", by_y="nonexistent"))
    with pytest.raises(ValueError, match="algorithm"):
        link_orgs(x, y, LinkConfig(by_x="name", by_y="org"), algorithm="invalid_algo")
    with pytest.raises(ValueError, match="not found"):
        link_orgs(
            x, y.withColumnRenamed("org", "name"), LinkConfig(),
            embed_col_x="vec", embed_col_y="vec",
        )


def test_by_shorthand_sets_both_sides(spark):
    """Reference ``by=`` shorthand (LinkOrgs_LinkOrgs.R:113)."""
    cfg = LinkConfig(by="org", max_dist=0.0, ave_match_number_per_alias=None)
    assert cfg.by_x == cfg.by_y == "org"
    x = spark.createDataFrame([(1, "solo co")], "id long, org string")
    z = link_orgs(x, x.selectExpr("id", "org"), cfg)
    assert z.count() == 1


def test_na_in_non_name_columns_does_not_crash(spark):
    # reference test-edge-cases.R:57-68
    x = spark.createDataFrame(
        [(None, "acme corp"), (2, None), (3, "acme corp")], "id long, name string"
    )
    z = link_orgs(
        x, x.selectExpr("id", "name"), fixed_threshold_config(max_dist=0.0)
    )
    assert z.count() == 1  # null names dropped; null ids carried through


def test_deconflict_names_utility(spark):
    """Mirrors reference DeconflictNames test (test-utilities.R): identical
    twins collapse, conflicting twins survive."""
    from linkorgs_software_spark.functions.normalize import deconflict_names

    same = spark.createDataFrame(
        [("apple", "apple"), ("msft", "msft")], "name_x string, name_y string"
    )
    out = deconflict_names(same)
    assert out.columns == ["name"]
    diff = spark.createDataFrame(
        [("apple", "apple"), ("microsoft", "msft")], "name_x string, name_y string"
    )
    out2 = deconflict_names(diff)
    assert set(out2.columns) == {"name_x", "name_y"}


def test_no_per_row_python_in_default_plan(spark, fixture_tables):
    """North rule: no per-row Python. Default (jaccard) plan must contain no
    BatchEvalPython (row-at-a-time UDF) nodes at all."""
    z = link_orgs(
        fixture_tables["org_x"], fixture_tables["org_y"], fixed_threshold_config(max_dist=0.5)
    )
    plan = z._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_embed_ann_multiprobe_recovers_moderate_neighbors(spark):
    """embed_multiprobe extends the ann blocking path's recall: a pair of
    moderately-similar vectors whose sign codes differ by one hyperplane
    bit in every table is missed by exact-bucket candidates but recovered
    at multiprobe=1 — without falling back to all-pairs blocking."""
    import numpy as np

    rng = np.random.RandomState(5)
    dim = 16
    # build a pair at cosine ~0.85 plus filler vectors; hunt (seeded,
    # deterministic) for a pair the exact buckets miss at these seeds
    def make_pair(k):
        v = rng.normal(size=dim); v /= np.linalg.norm(v)
        w = rng.normal(size=dim); w -= w.dot(v) * v; w /= np.linalg.norm(w)
        ang = np.arccos(0.85)
        t = np.cos(ang) * v + np.sin(ang) * w
        return v, t

    from linkorgs_software_spark.operators.ann import _hyperplanes

    found = None
    for k in range(200):
        v, t = make_pair(k)
        # want: EVERY of the 4 tables at sign-code hamming exactly 1 —
        # guarantees exact buckets miss in all tables while multiprobe=1
        # catches in all (conservative, but easy to hunt for)
        miss_all = True
        for tbl in range(4):
            planes = _hyperplanes(dim, 8, 42 + 1000 * tbl)
            if np.sum((planes @ v > 0) != (planes @ t > 0)) != 1:
                miss_all = False
                break
        if miss_all:
            found = (v, t)
            break
    assert found is not None
    v, t = found
    x = spark.createDataFrame(
        [(1, "zz qq", [float(a) for a in v])], "id long, name string, vec array<float>"
    )
    y = spark.createDataFrame(
        [(1, "aa bb", [float(a) for a in t])], "id long, name string, vec array<float>"
    )
    cfg = fixed_threshold_config(max_dist=1.0)
    kw = dict(embed_col_x="vec", embed_col_y="vec", embed_blocking="ann")
    assert link_orgs(x, y, cfg, **kw).count() == 0  # exact buckets miss
    z = link_orgs(x, y, cfg, embed_multiprobe=1, **kw)
    assert {(r.name_x, r.name_y) for r in z.collect()} == {("zz qq", "aa bb")}


def test_link_many_three_sources_transitive_entities(spark):
    """N-way resolution: names that match pairwise across three sources
    collapse into ONE entity even when some pairs only connect through a
    middle source (transitive closure); unrelated names stay singletons;
    punctuation/case variants unify through normalization."""
    from linkorgs_software_spark import LinkConfig, link_many

    a = spark.createDataFrame(
        [("Acme Corporation",), ("Globex Industries",), ("Lonely Org A",)],
        "name string",
    )
    b = spark.createDataFrame(
        [("acme corporation!",), ("Globex Industry",), ("Other Co",)],
        "name string",
    )
    c = spark.createDataFrame(
        [("ACME CORPORATION",), ("Globex Industrys",), ("Third Thing Entirely",)],
        "name string",
    )
    out = link_many([a, b, c], LinkConfig(), max_dist=0.4)
    rows = out.collect()
    ent = {(r.side, r.name_norm): r.entity_id for r in rows}
    # acme: identical after normalization across all three sources
    acme_ids = {v for (s, n), v in ent.items() if n.startswith("acme")}
    assert len(acme_ids) == 1
    # globex variants chain into one entity across the three spellings
    globex_ids = {v for (s, n), v in ent.items() if n.startswith("globex")}
    assert len(globex_ids) == 1
    # unrelated names each keep their own entity
    singles = {v for (s, n), v in ent.items()
               if not (n.startswith("acme") or n.startswith("globex"))}
    assert len(singles) == 3
    # entity ids are the deterministic min node key
    assert min(acme_ids) == "00:acme corporation"
    # every (side, name_norm) appears exactly once
    assert len(rows) == 9


def test_link_many_return_edges_audit_surface(spark):
    """``return_edges=True`` exposes the accepted scored pairs with side
    indices and node keys — the N-way audit surface: every edge ties back
    to the resolved entity frame via src/dst, and its distance respects the
    pinned max_dist."""
    from linkorgs_software_spark import LinkConfig, link_many

    a = spark.createDataFrame(
        [("Acme Corporation",), ("Lonely Org A",)], "name string"
    )
    b = spark.createDataFrame(
        [("acme corporation!",), ("Other Co",)], "name string"
    )
    c = spark.createDataFrame([("ACME CORPORATION",)], "name string")
    edges = link_many([a, b, c], LinkConfig(), max_dist=0.4, return_edges=True)
    assert edges.columns == [
        "side_x", "side_y", "name_norm_x", "name_norm_y", "stringdist",
        "src", "dst",
    ]
    rows = edges.collect()
    # acme matches pairwise across all three sources: C(3,2) edges
    assert {(r.side_x, r.side_y) for r in rows} == {(0, 1), (0, 2), (1, 2)}
    assert all(r.stringdist <= 0.4 for r in rows)
    assert all(r.src == f"{r.side_x:02d}:{r.name_norm_x}" for r in rows)
    assert all(r.dst == f"{r.side_y:02d}:{r.name_norm_y}" for r in rows)
    # edges join back to the resolved frame: both endpoints share entity_id
    ent = link_many([a, b, c], LinkConfig(), max_dist=0.4)
    key2ent = {
        f"{r.side:02d}:{r.name_norm}": r.entity_id for r in ent.collect()
    }
    assert all(key2ent[r.src] == key2ent[r.dst] for r in rows)


def test_merge_entities_remap_and_edges(spark):
    """Offline directory merge: entities whose aliases are near-named (or
    exactly shared) collapse onto the component-minimum entity id;
    unrelated entities map to themselves; ``return_edges=True`` exposes
    the per-pair evidence (NULL stringdist for shared-exact edges)."""
    from linkorgs_software_spark import LinkConfig, merge_entities

    directory = spark.createDataFrame(
        [
            # e1/e2: fuzzy pair ("acme corporation" vs "acme corporation x")
            (10, "Acme Corporation"),
            (20, "Acme Corporation x"),
            # e3/e4: share an exact normalized alias
            (30, "Globex Inc"),
            (40, "globex inc!"),
            (40, "Globex Incorporated"),
            # e5: unrelated singleton
            (50, "Initech LLC"),
        ],
        "entity_id long, name string",
    )
    remap = {
        r.entity_id: r.merged_entity_id
        for r in merge_entities(directory, LinkConfig(), max_dist=0.4).collect()
    }
    assert remap == {10: 10, 20: 10, 30: 30, 40: 30, 50: 50}

    edges = merge_entities(
        directory, LinkConfig(), max_dist=0.4, return_edges=True
    ).collect()
    by_pair = {(r.entity_x, r.entity_y): r for r in edges}
    assert set(by_pair) == {(10, 20), (30, 40)}
    assert by_pair[(10, 20)].stringdist is not None
    assert by_pair[(10, 20)].stringdist <= 0.4
    assert by_pair[(30, 40)].stringdist is None  # shared exact alias


def test_apply_entity_remap_partial_coverage(spark):
    """Entities absent from the remap keep their id — a remap computed
    before newer entities were minted still applies cleanly."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark import apply_entity_remap

    assigns = spark.createDataFrame(
        [("a", 10), ("b", 20), ("c", 99)], "name string, entity_id long"
    )
    remap = spark.createDataFrame(
        [(20, 10)], "entity_id long, merged_entity_id long"
    )
    out = {
        r.name: r.entity_id
        for r in apply_entity_remap(assigns, remap).collect()
    }
    assert out == {"a": 10, "b": 10, "c": 99}
