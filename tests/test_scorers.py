"""Scorer oracle constants — mirrors reference test-fuzzy-matching.R /
test-euclidean-matching.R / test-distance-calculation.R (SURVEY.md §5)."""

import math

import pytest
from pyspark.sql import functions as F

from linkorgs_software_spark.functions.embedding import (
    cosine_sim_expr,
    l2_dist_expr,
    l2_dist_udf,
)
from linkorgs_software_spark.functions.scorers import (
    _jaro_pair,
    _osa_pair,
    available_measures,
    distance_expr,
)


def _one(spark, a, b, measure, q=2):
    df = spark.createDataFrame([(a, b)], "a string, b string")
    return df.select(distance_expr(measure, "a", "b", qgram=q).alias("d")).first().d


def test_identical_strings_zero(spark):
    # reference: test-fuzzy-matching.R:5-17 ("test company" vs itself -> 0)
    for m in ("jaccard", "osa", "jw", "levenshtein"):
        assert _one(spark, "test company", "test company", m) == 0.0


def test_osa_single_insertion_is_one(spark):
    # reference: test-fuzzy-matching.R:72-84
    d = _one(spark, "apple incorporated company", "appple incorporated company", "osa")
    assert d == 1.0


def test_osa_transposition_counts_once(spark):
    assert _one(spark, "ab", "ba", "osa") == 1.0
    assert _one(spark, "abcd", "abdc", "osa") == 1.0


def test_jw_small_positive(spark):
    # reference: test-fuzzy-matching.R:86-99 (jw in (0, 0.5))
    d = _one(spark, "apple incorporated company", "appple incorporated company", "jw")
    assert 0.0 < d < 0.5


def test_jaro_known_value():
    # classic MARTHA/MARHTA Jaro similarity = 0.944444
    assert _jaro_pair("martha", "marhta") == pytest.approx(0.9444444, abs=1e-6)


def test_osa_vs_levenshtein_difference():
    # OSA counts transposition as 1; plain levenshtein as 2
    assert _osa_pair("ca", "ac") == 1.0


def test_levenshtein_native(spark):
    assert _one(spark, "kitten", "sitting", "levenshtein") == 3.0


def test_jaccard_qgram_set_semantics(spark):
    # q=2 grams: "aaa" -> {aa, a}; "aa" -> {aa, a}  => distance 0 (sets!)
    assert _one(spark, "aaa", "aa", "jaccard") == 0.0
    # disjoint grams -> 1.0
    assert _one(spark, "abab", "cdcd", "jaccard") == 1.0


def test_hamming_semantics(spark):
    # stringdist hamming: positional mismatches; Inf on unequal lengths
    assert _one(spark, "abc", "abd", "hamming") == 1.0
    assert _one(spark, "abc", "abc", "hamming") == 0.0
    assert _one(spark, "ab", "abc", "hamming") == float("inf")


def test_qgram_bag_distance(spark):
    # q=2 bags: "abc"={ab,bc}, "abd"={ab,bd} -> |bc|+|bd| = 2
    assert _one(spark, "abc", "abd", "qgram") == 2.0
    # bag (not set!) semantics: "aaa"={aa,aa}, "aa"={aa} -> 1
    assert _one(spark, "aaa", "aa", "qgram") == 1.0
    assert _one(spark, "abc", "abc", "qgram") == 0.0


def test_qgram_cosine_distance(spark):
    assert _one(spark, "abc", "abc", "cosine") == pytest.approx(0.0, abs=1e-12)
    # disjoint gram profiles -> 1
    assert _one(spark, "abab", "cdcd", "cosine") == pytest.approx(1.0, abs=1e-12)
    # one profile empty (string shorter than q) -> 1; both empty -> 0
    assert _one(spark, "a", "abc", "cosine") == 1.0
    assert _one(spark, "a", "b", "cosine") == 0.0


def test_soundex_distance(spark):
    assert _one(spark, "robert", "rupert", "soundex") == 0.0  # both R163
    assert _one(spark, "robert", "smith", "soundex") == 1.0


def test_dl_and_lcs_through_registry(spark):
    assert _one(spark, "ca", "abc", "dl") == 2.0
    assert _one(spark, "ca", "abc", "osa") == 3.0
    assert _one(spark, "kitten", "sitting", "lcs") == 5.0
    assert _one(spark, "kitten", "sitting", "lv") == 3.0


def test_unknown_measure_raises():
    with pytest.raises(ValueError, match="unknown distance measure"):
        distance_expr("nope", F.lit("a"), F.lit("b"))


def test_available_measures_contains_core():
    ms = available_measures()
    for m in ("jaccard", "levenshtein", "lv", "osa", "dl", "lcs", "jw",
              "jw_winkler", "jaro", "hamming", "qgram", "cosine", "soundex"):
        assert m in ms


def test_l2_identity_and_orthogonal(spark):
    # reference: test-euclidean-matching.R:5-34 (identity ~0, orthogonal sqrt2)
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0])],
        "a array<float>, b array<float>",
    )
    rows = df.select(
        l2_dist_udf("a", "b").alias("udf"), l2_dist_expr("a", "b").alias("native")
    ).collect()
    assert rows[0].udf == pytest.approx(0.0, abs=1e-6)
    assert rows[0].native == pytest.approx(0.0, abs=1e-6)
    assert rows[1].udf == pytest.approx(math.sqrt(2), abs=1e-3)
    assert rows[1].native == pytest.approx(math.sqrt(2), abs=1e-3)


def test_cosine_expr(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [1.0, 0.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 1.0])],
        "a array<float>, b array<float>",
    )
    vals = [r.c for r in df.select(cosine_sim_expr("a", "b").alias("c")).collect()]
    assert vals[0] == pytest.approx(1.0, abs=1e-6)
    assert vals[1] == pytest.approx(0.0, abs=1e-6)
    assert vals[2] == 0.0  # zero-vector convention


def test_explain_pairs_debug_surface(spark):
    """The explainability view: identical pair scores 0 on every measure
    and would block; a disjoint pair shows jaccard 1, no shared grams,
    and would NOT block; normalization evidence is visible."""
    from linkorgs_software_spark.config import LinkConfig
    from linkorgs_software_spark.operators.scoring import explain_pairs

    pairs = spark.createDataFrame(
        [("Acme Corp.", "acme corp"), ("Acme Corp.", "zzz qqq vvv")],
        "name_x string, name_y string",
    )
    out = {r.name_y: r for r in explain_pairs(pairs, LinkConfig()).collect()}
    same = out["acme corp"]
    assert same.name_norm_x == same.name_norm_y == "acme corp"
    assert same.would_block and same.shared_grams == same.n_grams_x
    assert same.dist_jaccard == 0.0 and same.dist_levenshtein == 0.0
    assert same.dist_jw == 0.0 and same.dist_osa == 0.0
    diff = out["zzz qqq vvv"]
    assert diff.shared_grams == 0 and not diff.would_block
    assert diff.dist_jaccard == 1.0
    assert diff.dist_levenshtein > 0


# Two names of 147 characters whose only shared trigrams start after
# position 100: the 100-character prefix cap keeps them out of blocking.
_CAPPED_X = ("abcdefghijklm" * 8)[:102] + "zyxwvutsrqponmlkjihgfedcbaqwertyuiopasdfghjkl"
_CAPPED_Y = ("nopqrstuvwxyz" * 8)[:102] + "zyxwvutsrqponmlkjihgfedcbaqwertyuiopasdfghjkl"


@pytest.mark.parametrize(
    "name_x,name_y,cfg_kw",
    [(_CAPPED_X, _CAPPED_Y, {}), ("ab xy", "ab zq", {"block_ngram": 2})],
    ids=["prefix_cap", "bigram"],
)
def test_explain_pairs_blocking_evidence_matches_candidate_pairs(
    spark, name_x, name_y, cfg_kw
):
    """``explain_pairs``' gram counts and verdict are the ones blocking
    uses: the blocking gram index's size for x, the grams both indexes
    share, and whether ``candidate_pairs`` yields the pair."""
    from linkorgs_software_spark.config import LinkConfig
    from linkorgs_software_spark.functions.normalize import prepare_side
    from linkorgs_software_spark.operators.blocking import candidate_pairs, gram_index
    from linkorgs_software_spark.operators.scoring import explain_pairs

    cfg = LinkConfig(**cfg_kw)
    ex = explain_pairs(
        spark.createDataFrame([(name_x, name_y)], "name_x string, name_y string"), cfg
    ).first()
    xp = prepare_side(spark.createDataFrame([(name_x,)], "name string"), "name", "x_id", cfg)
    yp = prepare_side(spark.createDataFrame([(name_y,)], "name string"), "name", "y_id", cfg)
    xg, yg = gram_index(xp, "x_id", cfg), gram_index(yp, "y_id", cfg)
    n_x, shared = xg.count(), xg.join(yg, "gram").count()
    cands = candidate_pairs(xp, yp, cfg).collect()
    assert (ex.n_grams_x, ex.shared_grams, ex.would_block) == (n_x, shared, bool(cands))
    if cands:
        assert (cands[0].n_grams_x, cands[0].shared_grams) == (n_x, shared)
