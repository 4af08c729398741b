"""Physical-plan shape assertions: pushdown, pruning, and no per-row
Python — the scale invariants the engine promises (SURVEY.md §4)."""

import re

from pyspark.sql import functions as F

from linkorgs_software_spark.functions.qgrams import (
    jaccard_qgram_dist_expr,
    qgram_set_expr,
)

SF = "/root/testdata/sf0.001"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_filter_pushdown_reaches_scan(spark):
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("user_id") == 7)
        .select("event_id", "value")
    )
    plan = _plan(ev)
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]" in plan


def test_column_pruning_reaches_scan(spark):
    ev = (
        spark.read.parquet(f"{SF}/events.parquet")
        .filter(F.col("user_id") == 7)
        .select("event_id", "value")
    )
    m = re.search(r"ReadSchema: (\S+)", _plan(ev))
    assert m is not None
    # only the referenced columns are read, not the full 6-column schema
    assert m.group(1) == "struct<event_id:bigint,user_id:bigint,value:double>"


def test_jaccard_plan_has_no_python(spark):
    df = spark.read.parquet(f"{SF}/part.parquet").select(
        qgram_set_expr(F.col("p_name"), 2).alias("g1"),
        qgram_set_expr(F.concat_ws(" ", "p_name", "p_brand"), 2).alias("g2"),
    )
    scored = df.select(jaccard_qgram_dist_expr("g1", "g2").alias("d"))
    plan = _plan(scored)
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan  # fully native


def test_scoring_barrier_is_memory_and_disk_deserialized(spark):
    """The scoring barrier must persist MEMORY_AND_DISK deserialized: spill
    (never OOM) on oversize, no ser/deser tax on the cached read path."""
    from linkorgs_software_spark.config import LinkConfig
    from linkorgs_software_spark.functions.normalize import prepare_side
    from linkorgs_software_spark.operators.blocking import candidate_pairs
    from linkorgs_software_spark.operators.scoring import score_pairs

    spark.catalog.clearCache()
    cfg = LinkConfig()
    x = spark.createDataFrame([(1, "acme corp"), (2, "zeta ltd")], "id long, name string")
    xp = prepare_side(x, "name", "x_id", cfg)
    yp = prepare_side(x.selectExpr("id", "name"), "name", "y_id", cfg)
    scored = score_pairs(candidate_pairs(xp, yp, cfg), xp, yp, cfg, max_dist=0.5)
    scored.count()  # materialize the persisted barrier
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    assert len(infos) > 0
    descs = [i.storageLevel().description() for i in infos]
    assert any("Disk" in d and "Memory" in d and "Deserialized" in d for d in descs), descs
    spark.catalog.clearCache()


def test_small_dim_join_broadcasts(spark):
    big = spark.read.parquet(f"{SF}/orders.parquet")
    small = spark.read.parquet(f"{SF}/region.parquet")
    joined = big.join(small, big.o_orderkey % 5 == small.r_regionkey)
    assert "Broadcast" in _plan(joined)


def test_span_and_blocking_quality_plans_have_no_python(spark):
    """The round-3 operators (span detection/triage, blocking metrics) are
    pure Catalyst: no Python evaluation node may appear in their plans —
    whole-stage codegen handles the window transforms and md5 hashing."""
    from linkorgs_software_spark.operators.assess import assess_blocking
    from linkorgs_software_spark.operators.corpus import (
        duplicated_spans,
        top_boilerplate_spans,
    )

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    pairs = spark.createDataFrame([("a", "b")], "name_x string, name_y string")
    for df in (
        duplicated_spans(docs, k=8),
        top_boilerplate_spans(docs, k=8),
        assess_blocking(pairs, pairs, n_x=10, n_y=10),
    ):
        plan = _plan(df)
        assert "BatchEvalPython" not in plan
        assert "ArrowEvalPython" not in plan


def test_top_spans_is_distributed_top_n(spark):
    """The boilerplate triage top-n must compile to TakeOrderedAndProject
    (per-partition partial top-k), NOT a global row_number window — a
    no-partitionBy window funnels the entire qualifying span vocabulary
    through one task at corpus scale."""
    from linkorgs_software_spark.operators.corpus import top_boilerplate_spans

    docs = spark.createDataFrame(
        [(i, "one two three four five six seven eight nine") for i in range(3)],
        "doc_id long, text string",
    )
    plan = _plan(top_boilerplate_spans(docs, k=8, top_n=5))
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan


def test_no_rdd_access_in_package():
    """The engine is pure-DataFrame: a ``.rdd`` probe forces driver-side
    physical planning (and escapes Catalyst), so none may exist anywhere in
    the package source."""
    import pathlib

    pkg = pathlib.Path(__file__).resolve().parents[1] / "linkorgs_software_spark"
    # attribute access only (``df.rdd``); prose mentions in comments are fine
    pat = re.compile(r"\w\.rdd\b")
    offenders = [str(p) for p in pkg.rglob("*.py") if pat.search(p.read_text())]
    assert offenders == [], offenders


def test_dedup_passages_single_tokens_scan(spark, tmp_path):
    """``dedup_passages`` must consume the detector's carried ``head_span``
    instead of re-tokenizing: exactly TWO scans of the corpus remain (the
    span detector's explode + the final per-doc token filter). The old
    shape had a THIRD scan that re-tokenized every doc and joined full
    token arrays onto the runs frame — the plan's widest shuffle at
    corpus scale."""
    from linkorgs_software_spark.operators.corpus import dedup_passages

    p = str(tmp_path / "docs.parquet")
    spark.createDataFrame(
        [(i, "one two three four five six seven eight nine ten") for i in range(4)],
        "doc_id long, text string",
    ).write.parquet(p)
    docs = spark.read.parquet(p)
    plan = _plan(dedup_passages(docs, k=8))
    # exactly one operator materializes the token array outside the
    # detector's posexplode generate (the final per-doc filter projection);
    # the old head-recompute branch added a second one
    tok_lines = [
        ln
        for ln in plan.splitlines()
        if "split(trim(lower" in ln and "posexplode" not in ln
    ]
    assert len(tok_lines) == 1, plan
    # and no md5 re-hash outside the detector: head spans are CARRIED, not
    # recomputed from a runs ⋈ tokens join
    assert all("posexplode" in ln for ln in plan.splitlines() if "md5(" in ln), plan


def test_round5_ops_plans_have_no_global_window_or_cartesian(spark, tmp_path):
    """The round-5 analysis operators must stay distributed: tfidf's
    top-k window is PARTITIONED by doc (no single-task global window),
    and decontamination/LM scoring join on hash/vocabulary keys (no
    cartesian product anywhere)."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import (
        decontaminate_flags,
        lm_quality_scores,
        tfidf_top_terms,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta iota") for i in range(6)],
        "doc_id long, text string",
    )
    tfidf_plan = _plan(tfidf_top_terms(docs, k=2))
    # every window spec names a partition key (no windowspec starting with
    # an empty partition list => no SinglePartition exchange feeding it)
    assert "Window" in tfidf_plan
    assert "Exchange SinglePartition" not in tfidf_plan, tfidf_plan

    for df in (
        lm_quality_scores(docs),
        decontaminate_flags(
            docs.filter(F.col("doc_id") % 2 == 0),
            docs.filter(F.col("doc_id") % 2 == 1),
            k=8,
        ),
    ):
        plan = _plan(df)
        assert "CartesianProduct" not in plan, plan
        assert "BatchEvalPython" not in plan, plan


def test_link_many_plan_is_distributed(spark):
    """The N-way resolution plan must stay clean: no cartesian product
    (every pairwise join is the blocked gram equi-join), no per-row
    Python, and no single-partition exchange anywhere."""
    from linkorgs_software_spark import LinkConfig, link_many

    part = spark.read.parquet(f"{SF}/part.parquet")
    a = part.selectExpr("p_name as name").distinct()
    b = part.selectExpr("p_name || ' ' || p_brand as name").distinct()
    c = part.selectExpr("upper(p_name) as name").distinct()
    plan = _plan(link_many([a, b, c], LinkConfig(), max_dist=0.5))
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    assert "Exchange SinglePartition" not in plan, plan


def test_pack_chunks_prefix_sum_is_distributed(spark):
    """Sequence packing must NOT be the naive global-window cumsum: the
    only SinglePartition exchange feeds the tiny bucket-totals window
    (inside a BroadcastExchange subtree), while the corpus-side cumulative
    window is hash-partitioned by the bucket key. No Python anywhere."""
    from linkorgs_software_spark.operators.corpus import pack_chunks

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(pack_chunks(docs, budget=512))
    assert plan.count("Exchange SinglePartition") == 1
    # the corpus window is partitioned by _bk (bucket), not global
    assert re.search(r"windowspecdefinition\(_bk#\d+L, doc_id", plan)
    assert "BroadcastExchange" in plan  # bucket offsets re-attach by broadcast
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_repetition_profile_counts_not_lambdas(spark):
    """The repetition signals must come from explode+aggregate (map-side
    combinable), not per-doc O(n^2) array lambdas, and stay Python-free."""
    from linkorgs_software_spark.operators.corpus import repetition_profile

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = _plan(repetition_profile(docs))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert plan.count("Generate explode") == 2  # tokens once, bigrams once
    assert "CartesianProduct" not in plan


def test_sorted_neighborhood_rank_is_distributed(spark):
    """The SNM global rank must not be a naive global-window row_number:
    the only SinglePartition exchange feeds the tiny per-prefix count
    window (broadcast back), the record-side window is hash-partitioned
    by the prefix bucket, and pairing is an equi-join (no cartesian /
    range theta join). No Python anywhere."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    part = spark.read.parquet(f"{SF}/part.parquet")
    prep = part.select(
        F.col("p_partkey").cast("long").alias("x_id"),
        F.lower(F.col("p_name")).alias("name_norm"),
    )
    plan = _plan(sorted_neighborhood_pairs(prep, window=5))
    # the pair self-join references the position frame twice, so the tiny
    # bucket-count subtree prints twice (identical exchanges dedupe at
    # execution via spark.sql.exchange.reuse); what matters is that BOTH
    # SinglePartition exchanges sit above the |buckets|-row aggregate,
    # never above the record frame
    assert plan.count("Exchange SinglePartition") == 2
    assert plan.count("HashAggregate(keys=[_bk") >= 2  # per-prefix counts
    # record-side rank window is PARTITIONED by the prefix bucket (the
    # partition column precedes the ASC order columns)...
    assert re.search(r"windowspecdefinition\(_bk#\d+, _k#\d+ ASC", plan)
    # ...and the only globally-ordered windows are the bucket-offset ones
    global_specs = re.findall(r"windowspecdefinition\(_bk#\d+ ASC", plan)
    all_specs = re.findall(r"windowspecdefinition\(", plan)
    partitioned = re.findall(r"windowspecdefinition\(_bk#\d+, _k#\d+ ASC", plan)
    assert len(all_specs) == len(global_specs) + len(partitioned)
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
