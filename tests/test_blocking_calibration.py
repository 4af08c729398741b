"""Blocking-join + calibration semantics — mirrors reference
PFuzzyDiscreteInternal.R:102-139 blocking and test-calibration.R."""

import math

import pytest
from pyspark.sql import functions as F

from linkorgs_software_spark.config import LinkConfig
from linkorgs_software_spark.functions.normalize import prepare_side
from linkorgs_software_spark.operators.blocking import candidate_pairs
from linkorgs_software_spark.operators.calibrate import calibrated_threshold


def _sides(spark, xs, ys, cfg):
    x = spark.createDataFrame([(i, n) for i, n in enumerate(xs)], "id long, name string")
    y = spark.createDataFrame([(i, n) for i, n in enumerate(ys)], "id long, name string")
    return (
        prepare_side(x, "name", "x_id", cfg),
        prepare_side(y, "name", "y_id", cfg),
    )


def test_blocking_recovers_similar_pairs(spark):
    cfg = LinkConfig()
    xp, yp = _sides(
        spark,
        ["stellar dynamics corp", "unrelated zq"],
        ["stellar dynamics inc", "totally different name"],
        cfg,
    )
    pairs = candidate_pairs(xp, yp, cfg)
    joined = (
        pairs.join(xp.select("x_id", F.col("name_norm").alias("nx")), "x_id")
        .join(yp.select("y_id", F.col("name_norm").alias("ny")), "y_id")
        .select("nx", "ny")
        .collect()
    )
    assert ("stellar dynamics corp", "stellar dynamics inc") in {
        (r.nx, r.ny) for r in joined
    }


def test_blocking_shared_fraction_threshold(spark):
    # with min_shared_frac=1.0, only (near-)identical gram sets survive
    cfg = LinkConfig(min_shared_frac=1.0)
    xp, yp = _sides(spark, ["acme corp"], ["acme corp", "acme corx"], cfg)
    pairs = candidate_pairs(xp, yp, cfg)
    names = {
        r.ny
        for r in pairs.join(
            yp.select("y_id", F.col("name_norm").alias("ny")), "y_id"
        ).collect()
    }
    # reference index (full trigrams only): "acme corx" lacks x's trigram
    # "orp", so full containment of x's 7 grams fails.
    assert "acme corp" in names
    assert "acme corx" not in names


def test_blocking_df_cap_drops_stop_grams(spark):
    cfg = LinkConfig(max_block_df=2, min_shared_frac=0.05)
    xs = [f"inc {c}{c}{c}" for c in "abcdefgh"]  # "inc" gram everywhere
    xp, yp = _sides(spark, xs, xs, cfg)
    pairs = candidate_pairs(xp, yp, cfg)
    # every name still matches itself through its unique ccc grams
    self_pairs = pairs.join(
        xp.select("x_id", F.col("name_norm").alias("nx")), "x_id"
    ).join(yp.select("y_id", F.col("name_norm").alias("ny")), "y_id")
    sames = self_pairs.filter(F.col("nx") == F.col("ny")).count()
    assert sames == len(xs)


def test_blocking_salted_equals_unsalted(spark):
    cfg = LinkConfig()
    cfg_salt = LinkConfig(salt_buckets=4)
    xp, yp = _sides(
        spark,
        ["alpha beta systems", "gamma delta corp", "epsilon zeta llc"],
        ["alpha beta systems inc", "gamma delta co", "something else"],
        cfg,
    )
    plain = {
        (r.x_id, r.y_id, r.shared_grams)
        for r in candidate_pairs(xp, yp, cfg).collect()
    }
    salted = {
        (r.x_id, r.y_id, r.shared_grams)
        for r in candidate_pairs(xp, yp, cfg_salt).collect()
    }
    assert plain == salted


@pytest.mark.parametrize("cfg_kw", [{}, {"max_block_df": 2}], ids=["default", "cap2"])
def test_repeated_names_block_and_score_as_their_distinct_names(spark, cfg_kw):
    """A prepared side may repeat a name (raw duplicates, or spellings that
    normalize alike): ``candidate_pairs`` and ``score_pairs`` index each
    side's distinct names, so repeats add no shared grams, no df-cap
    weight and no pair."""
    from linkorgs_software_spark.operators.scoring import score_pairs

    cfg = LinkConfig(**cfg_kw)
    xs = ["Acme Corp", "ACME corp.", "Acme Corp", "Globex Inc", "Initech LLC", "Initech LLC"]
    ys = ["acme corporation", "Globex Inc", "globex inc", "Globex", "initech"]
    xp, yp = _sides(spark, xs, ys, cfg)
    xd, yd = xp.dropDuplicates(["x_id"]), yp.dropDuplicates(["y_id"])
    assert (xp.count(), yp.count()) == (6, 5) and (xd.count(), yd.count()) == (3, 4)

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    cands = rows(candidate_pairs(xp, yp, cfg))
    assert cands and cands == rows(candidate_pairs(xd, yd, cfg))
    pairs = candidate_pairs(xd, yd, cfg)
    scored = rows(score_pairs(pairs, xp, yp, cfg))
    assert len(scored) == len(cands) and scored == rows(score_pairs(pairs, xd, yd, cfg))


def test_calibration_positive_and_clamped(spark, fixture_tables):
    cfg = LinkConfig()
    xp = prepare_side(fixture_tables["org_x"], "name", "x_id", cfg)
    yp = prepare_side(fixture_tables["org_y"], "name", "y_id", cfg)
    thr = calibrated_threshold(xp, yp, cfg)
    assert thr >= 1e-6
    assert math.isfinite(thr)


def test_calibration_monotone_in_k(spark, fixture_tables):
    # reference: test-calibration.R:38-58 — threshold(k=1) <= threshold(k=20)
    cfg = LinkConfig()
    xp = prepare_side(fixture_tables["org_x"], "name", "x_id", cfg)
    yp = prepare_side(fixture_tables["org_y"], "name", "y_id", cfg)
    t1 = calibrated_threshold(xp, yp, cfg, k=1.0)
    t20 = calibrated_threshold(xp, yp, cfg, k=20.0)
    assert t1 <= t20


def test_calibration_empty_is_inf(spark):
    cfg = LinkConfig()
    xp, yp = _sides(spark, [], ["a name"], cfg)
    assert calibrated_threshold(xp, yp, cfg) == float("inf")


def test_calibration_deterministic(spark, fixture_tables):
    cfg = LinkConfig()
    xp = prepare_side(fixture_tables["org_x"], "name", "x_id", cfg)
    yp = prepare_side(fixture_tables["org_y"], "name", "y_id", cfg)
    assert calibrated_threshold(xp, yp, cfg) == calibrated_threshold(xp, yp, cfg)


def test_seeded_sample_encoding_not_separator_sensitive(spark):
    """Collision-resistance of the portable sample key: pipe-shifted twins
    ('a|b','c') vs ('a','b|c') and null-shifted twins (NULL,'x') vs
    ('x',NULL) must NOT get perfectly correlated sample membership — each
    column is encoded as its fixed-width md5 ('-' for NULL) before the
    outer hash, so no value content can alias the column boundary."""
    from linkorgs_software_spark.operators.calibrate import _seeded_sample

    rows = [("a|b", "c"), ("a", "b|c"), (None, "x"), ("x", None)] + [
        (f"f{i}", f"g{i}") for i in range(60)
    ]
    df = spark.createDataFrame(rows, "u string, v string")

    def membership(seed):
        got = {
            (r.u, r.v)
            for r in _seeded_sample(df, 8, seed).collect()
        }
        return [
            ("a|b", "c") in got,
            ("a", "b|c") in got,
            (None, "x") in got,
            ("x", None) in got,
        ]

    ms = [membership(s) for s in range(40)]
    # pipe twins and null twins each disagree for at least one seed
    assert any(m[0] != m[1] for m in ms)
    assert any(m[2] != m[3] for m in ms)


def test_recommended_block_df_scales_with_corpus():
    """The round-6 measured law as a knob: the cap tracks a constant
    FRACTION of the side (a gram on >10% of rows is a stop-gram), with a
    floor so small corpora keep informative grams."""
    from linkorgs_software_spark.operators.blocking import recommended_block_df

    assert recommended_block_df(1_000) == 500          # floor
    assert recommended_block_df(20_000) == 2_000       # the measured 10x config
    assert recommended_block_df(200_000) == 20_000     # scales 10x with data
    assert recommended_block_df(20_000, frac=0.05) == 1_000
    assert recommended_block_df(0) == 500
    # at the measured workload, the rule drops the suffix stop-grams
    # (df ~2,500 on a 20k side) that the fixed default cap admitted
    assert recommended_block_df(20_000) < 2_500 <= 10_000


def test_induced_stop_grams_matches_apply_df_cap(spark):
    """The diagnostic must report EXACTLY the grams apply_df_cap removes
    at the same cap — the two are the same rule, inspected vs applied."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark import LinkConfig
    from linkorgs_software_spark.functions.normalize import prepare_side
    from linkorgs_software_spark.operators.blocking import (
        apply_df_cap,
        gram_index,
        induced_stop_grams,
    )

    cfg = LinkConfig()
    names = [(f"acme corp {i}",) for i in range(12)] + [
        ("zebra widgets",),
        ("zebra gadgets",),
    ]
    df = spark.createDataFrame(names, "name string")
    prep = prepare_side(df, "name", "rec_id", cfg)

    cap = 5
    reported = {
        r.gram for r in induced_stop_grams(prep, "rec_id", cfg, cap=cap).collect()
    }
    idx = gram_index(prep, "rec_id", cfg)
    kept = {r.gram for r in apply_df_cap(idx, "gram", cap).select("gram").distinct().collect()}
    all_grams = {r.gram for r in idx.select("gram").distinct().collect()}
    assert reported == all_grams - kept
    assert reported  # the shared "acme corp" grams must be over a cap of 5

    row = induced_stop_grams(prep, "rec_id", cfg, cap=cap).first()
    assert row.cap == cap
    # df_share is df over the side's distinct-name count (14 here)
    full = {
        r.gram: r for r in induced_stop_grams(prep, "rec_id", cfg, cap=cap).collect()
    }
    for g, r in full.items():
        assert abs(r.df_share - r.df / 14.0) < 1e-6


def test_induced_stop_grams_auto_cap_uses_recommended_rule(spark):
    """cap=None sizes the cap from the side's name count via
    recommended_block_df — tiny corpus => floor of 500 => nothing over."""
    from linkorgs_software_spark import LinkConfig
    from linkorgs_software_spark.functions.normalize import prepare_side
    from linkorgs_software_spark.operators.blocking import induced_stop_grams

    cfg = LinkConfig()
    df = spark.createDataFrame([(f"name {i}",) for i in range(20)], "name string")
    prep = prepare_side(df, "name", "rec_id", cfg)
    assert induced_stop_grams(prep, "rec_id", cfg).count() == 0


def test_sorted_neighborhood_pairs_window_and_bucket_boundaries(spark):
    """SNM pairs = every record with its window-1 successors in global
    key order — INCLUDING pairs whose members land in different prefix
    buckets (the banding is by global position, not by bucket)."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    names = ["aa corp", "ab corp", "ba corp", "bb corp", "ca corp"]
    prep = spark.createDataFrame(
        [(i + 1, n) for i, n in enumerate(names)], "x_id long, name_norm string"
    )
    out = sorted_neighborhood_pairs(prep, window=3).collect()
    got = {(r.pos_x, r.pos_y) for r in out}
    # window=3: all (i, j) with 1 <= j - i <= 2 over 5 positions
    assert got == {(1, 2), (1, 3), (2, 3), (2, 4), (3, 4), (3, 5), (4, 5)}
    # positions follow global name order; cross-prefix pairs exist
    by_pos = {r.pos_x: r.x_id for r in out}
    assert by_pos[1] == 1 and by_pos[2] == 2  # "aa..." then "ab..."
    ids = {(r.x_id, r.y_id) for r in out}
    assert (2, 3) in ids  # "ab corp" (bucket ab) x "ba corp" (bucket ba)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        sorted_neighborhood_pairs(prep, window=1)


def test_sorted_neighborhood_two_sided_cross_pairs_only(spark):
    """Two-sided SNM: both sides interleave into one sort order (equal
    names tie x-side first), only cross-side pairs within the window
    emit, and output is oriented x-side first even when the y record
    sorts earlier."""
    from linkorgs_software_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    xp = spark.createDataFrame(
        [(1, "acme corp"), (2, "zz unrelated")], "x_id long, name_norm string"
    )
    yp = spark.createDataFrame(
        [(10, "acme corp"), (11, "acme corpx"), (12, "mm middle")],
        "y_id long, name_norm string",
    )
    out = sorted_neighborhood_pairs(xp, yp, window=3).collect()
    got = {(r.x_id, r.y_id) for r in out}
    # positions: 1="acme corp"(x), 2="acme corp"(y), 3="acme corpx"(y),
    #            4="mm middle"(y), 5="zz unrelated"(x)
    # window=3 cross pairs (|delta| <= 2, sides differ):
    # (1,2) (1,3) -> x=1; (3,5) (4,5) -> x-side is pos 5
    assert got == {(1, 10), (1, 11), (2, 11), (2, 12)}
    rows = {(r.x_id, r.y_id): (r.pos_x, r.pos_y) for r in out}
    assert rows[(1, 10)] == (1, 2)  # x-side ties first on the equal name
    assert rows[(2, 12)] == (5, 4)  # oriented x first though y sorts earlier
    # every pair is cross-side by construction: no (x,x) or (y,y) ids
    assert all(x in (1, 2) and y in (10, 11, 12) for x, y in got)
