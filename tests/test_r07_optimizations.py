"""Focused tests for the round-7 optimization internals.

Each optimization that changed an operator's internals gets a direct
check here: the scale-adaptive input spread, the history-bucket sizing
rule, the packed q-gram sets' exact equivalence to the string form, and
the df-cap's over-cap broadcast direction (VERDICT r6 "Next round #1"
asked for precisely that plan assertion).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# _spread_small_input: fires only on provably-small file-backed inputs
# ---------------------------------------------------------------------------


def test_spread_fires_on_small_file_input(spark, tmp_path):
    from linkorgs_software_spark.operators.corpus import _spread_small_input

    path = str(tmp_path / "docs")
    spark.range(500).select(
        F.col("id").alias("doc_id"), F.concat(F.lit("text "), F.col("id")).alias("text")
    ).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    out = _spread_small_input(df, "doc_id")
    assert out is not df  # small estimate => repartitioned
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "hashpartitioning(doc_id" in plan
    # row-identical
    assert sorted(r.doc_id for r in out.collect()) == list(range(500))


def test_duplicated_spans_uses_shared_spread_guard(spark, tmp_path):
    """duplicated_spans delegates its small-input spread to
    _spread_small_input (round-7 "Not yet optimized #5" unification): on a
    one-split file input the explode runs behind a KEYED repartition — the
    legacy inline guard's round-robin Exchange (and its file-COUNT probe,
    which missed the one-huge-file case) is gone."""
    from linkorgs_software_spark.operators.corpus import duplicated_spans

    path = str(tmp_path / "docs")
    spark.range(200).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("one two three four five six seven eight x"),
                 F.col("id")).alias("text"),
    ).coalesce(1).write.parquet(path)
    docs = spark.read.parquet(path)
    out = duplicated_spans(docs, k=8)
    plan = out._sc._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    assert "hashpartitioning(doc_id" in plan
    assert "roundrobin" not in plan.lower()
    rows = {r.doc_id: r for r in out.collect()}
    assert len(rows) == 200 and all(r.n_spans == 2 for r in rows.values())


def test_spread_noop_on_large_estimates_and_unknown_sources(spark):
    from linkorgs_software_spark.operators.corpus import _spread_small_input

    # large estimated size (range is numeric, estimate = rows x width — far
    # past parallelism x 32MB): guard must NOT add a shuffle
    big = spark.range(2_000_000_000).select(F.col("id").alias("doc_id"))
    assert _spread_small_input(big, "doc_id") is big
    # in-memory frames report Spark's unknown-size sentinel on some plans;
    # a stats failure or absurd estimate must leave the frame untouched
    # rather than repartitioning a possibly-huge stream (covered by the
    # sentinel branch; here we just assert no exception and row identity)
    mem = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id long, text string")
    out = _spread_small_input(mem, "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [1, 2]


# ---------------------------------------------------------------------------
# recommended_history_buckets: floor on unknown, clamped rule on real stats
# ---------------------------------------------------------------------------


def test_history_buckets_floor_and_clamp(spark, tmp_path):
    from linkorgs_software_spark.streaming.history import recommended_history_buckets

    # small file-backed batch -> floor
    path = str(tmp_path / "batch")
    spark.range(100).select(F.col("id").alias("doc_id")).write.parquet(path)
    small = spark.read.parquet(path)
    assert recommended_history_buckets(small) == 8
    # unknown-size sentinel (no-stats source) -> floor, never the hi clamp
    # (the first implementation trusted the sentinel and created a
    # 4096-bucket table for an in-memory micro-batch — regression test)
    mem = spark.createDataFrame([("a",)], "name string")
    assert recommended_history_buckets(mem) == 8
    # a genuinely large estimate scales with target_bytes and clamps at hi
    big = spark.range(1_000_000_000).select(F.col("id").alias("v"))
    assert recommended_history_buckets(big, target_bytes=1024 * 1024) == 4096
    assert 8 <= recommended_history_buckets(big) <= 4096


def test_plan_size_probe_failure_reads_as_unknown(spark, monkeypatch):
    """Both size guards share one probe: a frame whose JVM plan cannot be
    read (as on Spark Connect) has an unknown size, so the spread guard
    returns its input and the history bucket rule returns ``lo``."""
    from linkorgs_software_spark.operators.corpus import _spread_small_input
    from linkorgs_software_spark.sources.io import plan_size_bytes
    from linkorgs_software_spark.streaming.history import recommended_history_buckets

    class _NoPlan:
        def queryExecution(self):
            raise RuntimeError("no JVM plan")

    df = spark.range(10).select(F.col("id").alias("doc_id"))
    assert plan_size_bytes(df) > 0
    monkeypatch.setattr(df, "_jdf", _NoPlan())
    assert plan_size_bytes(df) is None
    assert _spread_small_input(df, "doc_id") is df
    assert recommended_history_buckets(df, lo=5) == 5


# ---------------------------------------------------------------------------
# packed q-gram sets: exact equivalence with the string form
# ---------------------------------------------------------------------------


def test_packed_qgram_sets_match_string_sets(spark):
    from linkorgs_software_spark.functions.qgrams import (
        packed_qgram_set_expr,
        qgram_set_expr,
    )

    names = [
        "acme systems inc",
        "ab",
        "a",
        "",
        "acme  systems",
        "日本語テスト株式会社",
        "emoji 😀😀 name",  # astral-plane code points
        "€uro side",
        "aaaaaaaaaa",
    ]
    df = spark.createDataFrame([(n,) for n in names], "name string")
    for q in (2, 3):
        checked = df.select(
            F.size(qgram_set_expr("name", q)).alias("n_str"),
            F.size(packed_qgram_set_expr("name", q)).alias("n_packed"),
            F.size(
                F.array_distinct(packed_qgram_set_expr("name", q))
            ).alias("n_packed_distinct"),
        ).collect()
        for r in checked:
            # same cardinality, and the pack introduced no collisions
            assert r.n_str == r.n_packed == r.n_packed_distinct
    # pairwise intersections agree too (the quantity jaccard consumes)
    a = df.select(F.col("name").alias("na"))
    b = df.select(F.col("name").alias("nb"))
    pairs = a.crossJoin(b)
    diff = pairs.select(
        (
            F.size(
                F.array_intersect(qgram_set_expr("na", 2), qgram_set_expr("nb", 2))
            )
            - F.size(
                F.array_intersect(
                    packed_qgram_set_expr("na", 2), packed_qgram_set_expr("nb", 2)
                )
            )
        ).alias("d")
    ).filter("d != 0")
    assert diff.count() == 0


def test_packed_qgram_rejects_wide_q(spark):
    from linkorgs_software_spark.functions.qgrams import packed_qgram_set_expr

    with pytest.raises(ValueError):
        packed_qgram_set_expr("name", 4)


# ---------------------------------------------------------------------------
# apply_df_cap: broadcasts the OVER-cap side, anti-joins, same output
# ---------------------------------------------------------------------------


def test_df_cap_broadcasts_overcap_side_and_matches_keep_semantics(spark):
    from linkorgs_software_spark.operators.blocking import apply_df_cap

    rows = [("hot", i) for i in range(50)] + [
        (f"g{i}", i) for i in range(20)
    ]
    idx = spark.createDataFrame(rows, "gram string, id long")
    capped = apply_df_cap(idx, "gram", 10)
    plan = capped._sc._jvm.PythonSQLUtils.explainString(
        capped._jdf.queryExecution(), "formatted"
    )
    # the join is LeftAnti with a broadcast build side, and the build side
    # filters on _df > cap (the over-cap list) — never a keep-list
    assert "LeftAnti" in plan and "BroadcastExchange" in plan
    assert "LeftSemi" not in plan
    assert "(_df" in plan and "> 10" in plan.replace("#", " ").replace("L", " ")
    # output identical to the keep-list formulation by construction
    counts = idx.groupBy("gram").count()
    keep = counts.filter(F.col("count") <= 10).select("gram")
    expected = sorted(
        (r.gram, r.id) for r in idx.join(keep, "gram", "left_semi").collect()
    )
    got = sorted((r.gram, r.id) for r in capped.collect())
    assert got == expected
    assert all(g != "hot" for g, _ in got) and len(got) == 20


def test_candidate_pairs_known_count_prunes_cap_subtree(spark):
    """candidate_pairs(x_count=..., y_count=...): a side whose distinct-name
    count is known to be <= max_block_df skips that side's df-cap outright
    (posting lists are bounded by the distinct-id count, so the cap is a
    provable no-op) — and the pair output is row-identical either way."""
    from linkorgs_software_spark.config import LinkConfig
    from linkorgs_software_spark.functions.normalize import prepare_side
    from linkorgs_software_spark.operators.blocking import candidate_pairs

    cfg = LinkConfig()
    x = spark.createDataFrame(
        [("acme corp",), ("acme inc",), ("zeta llc",)], "name string"
    )
    y = spark.createDataFrame(
        [("acme corporation",), ("zeta l l c",)], "name string"
    )
    xp = prepare_side(x, "name", "x_id", cfg)
    yp = prepare_side(y, "name", "y_id", cfg)

    def plan_of(df):
        return df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )

    capped = candidate_pairs(xp, yp, cfg)
    skipped = candidate_pairs(xp, yp, cfg, x_count=3, y_count=2)
    assert "LeftAnti" in plan_of(capped)      # unknown counts: cap stays
    assert "LeftAnti" not in plan_of(skipped)  # proven under cap: pruned
    # a claimed count ABOVE the cap must keep the cap on that side
    over = candidate_pairs(
        xp, yp, cfg.with_(max_block_df=2), x_count=3, y_count=2
    )
    assert "LeftAnti" in plan_of(over)
    rows = lambda df: sorted(
        (r.x_id, r.y_id, r.shared_grams, r.n_grams_x) for r in df.collect()
    )
    assert rows(skipped) == rows(capped) and len(rows(capped)) > 0
