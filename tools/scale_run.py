"""Order-of-magnitude scale run (round-5 VERDICT task 6): the dedup family
at 1x (5k docs / 5k vecs) and 10x (50k / 50k) on the deterministic
`gen_scale_corpus` fixtures, interleaved reps so slow load drift hits both
sizes equally. Prints one JSON line with per-query seconds + counts at
both sizes and the 10x/1x time ratio (~10 = linear; ~100 = a quadratic
blowup the df-caps were supposed to prevent).

Usage: python tools/gen_scale_corpus.py && python tools/scale_run.py [reps]
"""

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SCALE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale"
)


def q_minhash(spark, tag):
    from linkorgs_software_spark.operators.corpus import minhash_lsh_dups

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    return minhash_lsh_dups(docs, threshold=0.5).count()


def q_embedding_lsh(spark, tag):
    from linkorgs_software_spark.operators.corpus import embedding_neardup_lsh

    emb = spark.read.parquet(f"{SCALE}/embeddings_{tag}.parquet")
    return embedding_neardup_lsh(emb, threshold=0.99, num_tables=4).count()


def q_dup_spans(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import duplicated_spans

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    return int(
        duplicated_spans(docs, k=8).agg(F.sum("n_dup_spans")).collect()[0][0]
    )


def q_dedup_passages(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import dedup_passages

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    return int(dedup_passages(docs, k=8).agg(F.sum("n_removed")).collect()[0][0])


def q_tfidf(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import tfidf_top_terms

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    return tfidf_top_terms(docs, k=3).count()


def q_lm_quality(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import lm_quality_scores

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    return int(
        lm_quality_scores(docs).agg(F.sum("n_bigrams")).collect()[0][0]
    )


def q_decontaminate(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import decontaminate_flags

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    out = decontaminate_flags(
        docs.filter(F.col("doc_id") % 50 != 0),
        docs.filter(F.col("doc_id") % 50 == 0),
        k=8,
    )
    return int(out.agg(F.sum("n_contaminated_windows")).collect()[0][0])


# per-batch second lists for the streaming queries, keyed "<name>_<tag>"
# (appended per rep) — the round-6 evidence that per-batch cost tracks the
# BATCH volume, not stream lifetime
PER_BATCH: dict = {}


def _stream_text(spark, tag, *, name, compact_every):
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from linkorgs_software_spark.streaming import neardup_batch

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    out = tempfile.mkdtemp(prefix="scale_nd_")
    times = []
    try:
        for b in range(4):
            t0 = time.time()
            neardup_batch(
                docs.filter(F.col("doc_id") % 4 == b), b, out,
                threshold=0.5, compact_every=compact_every,
            )
            times.append(round(time.time() - t0, 2))
        kept = spark.read.parquet(f"{out}/docs").count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    PER_BATCH.setdefault(f"{name}_{tag}", []).append(times)
    return kept


def q_incremental_neardup(spark, tag):
    return _stream_text(spark, tag, name="incremental_neardup", compact_every=None)


def q_incremental_neardup_compact(spark, tag):
    return _stream_text(
        spark, tag, name="incremental_neardup_compact", compact_every=2
    )


def q_incremental_embed(spark, tag):
    """Embedding stream at a STREAM-CONSTANT plane count sized for the 10x
    corpus (recommended_n_planes(50k) = 12): bucket ids must not change
    mid-stream, so a stream expected to reach N vectors starts at N's plane
    count — the same rule the occupancy guardrail enforces (a fixed 8-plane
    stream at this volume is exactly the measured quadratic regime)."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from linkorgs_software_spark.streaming import embed_neardup_batch

    emb = spark.read.parquet(f"{SCALE}/embeddings_{tag}.parquet")
    out = tempfile.mkdtemp(prefix="scale_embnd_")
    times = []
    try:
        for b in range(4):
            t0 = time.time()
            embed_neardup_batch(
                emb.filter(F.col("vec_id") % 4 == b), b, out,
                dim=64, threshold=0.99, n_planes=12,
            )
            times.append(round(time.time() - t0, 2))
        kept = spark.read.parquet(f"{out}/docs").count()
    finally:
        shutil.rmtree(out, ignore_errors=True)
    PER_BATCH.setdefault(f"incremental_embed_neardup_{tag}", []).append(times)
    return kept


def q_incremental_resolve(spark, tag):
    """Evolving-directory resolver at 1x/10x: batch 0 ingests the base org
    names (create path — within-batch blocking + CC + directory
    bootstrap), batches 1-3 ingest one deterministic variant form each
    (case fold, char drop, suffix swap) that should MATCH the directory.
    Same df-cap as q_link_many and for the same measured reason: these
    short names share 8 corporate suffixes, so at the default
    max_block_df=10_000 the suffix posting lists square inside BOTH the
    create self-join and the history match join; max_block_df=2000 drops
    exactly those stop-grams at 10x. create_max_dist is strict (0.3) so
    distinct base names stay distinct entities; max_dist 0.6 admits the
    variant forms."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from linkorgs_software_spark import LinkConfig
    from linkorgs_software_spark.streaming import resolve_batch

    base = spark.read.parquet(f"{SCALE}/names_{tag}.parquet").select("name")
    variants = [
        base.selectExpr("upper(name) as name"),
        base.selectExpr("substr(name, 2) as name"),
        base.selectExpr(
            "concat(regexp_replace(name, ' [a-z]+$', ''), ' co') as name"
        ),
    ]
    cfg = LinkConfig(max_block_df=2000)
    out = tempfile.mkdtemp(prefix="scale_resolve_")
    times = []
    try:
        for b, batch in enumerate([base] + variants):
            t0 = time.time()
            resolve_batch(
                batch, b, out, cfg=cfg, max_dist=0.6, create_max_dist=0.3
            )
            times.append(round(time.time() - t0, 2))
        n_ent = (
            spark.read.parquet(f"{out}/assignments")
            .select("entity_id").distinct().count()
        )
    finally:
        shutil.rmtree(out, ignore_errors=True)
    PER_BATCH.setdefault(f"incremental_resolve_{tag}", []).append(times)
    return n_ent


def q_tfidf_name_sim(spark, tag):
    """TF-IDF token-cosine scoring over blocked org-name pairs at 1x/10x:
    idf and unit weights are per-DISTINCT-NAME aggregates and the pair
    score is shared-token equi-joins, so the ratio should track the
    blocked-pair volume (df-capped like every name workload here)."""
    from linkorgs_software_spark import LinkConfig
    from linkorgs_software_spark.functions.normalize import prepare_side
    from linkorgs_software_spark.operators.blocking import candidate_pairs
    from linkorgs_software_spark.operators.scoring import tfidf_cosine_scores

    cfg = LinkConfig(max_block_df=2000)
    base = spark.read.parquet(f"{SCALE}/names_{tag}.parquet")
    xp = prepare_side(base.selectExpr("name"), "name", "x_id", cfg)
    yp = prepare_side(
        base.selectExpr("name || ' x' as name"), "name", "y_id", cfg
    )
    pairs = candidate_pairs(xp, yp, cfg)
    return tfidf_cosine_scores(pairs, xp, yp).count()


def q_snm_pairs(spark, tag):
    """Sorted-neighborhood blocking at 1x/10x: the distributed global
    rank (prefix buckets + tiny offset window) and band equi-join emit
    exactly n*(window-1) - window*(window-1)/2 pairs; time should track
    the two bucket-partitioned windows, i.e. ~linear."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.blocking import (
        sorted_neighborhood_pairs,
    )

    base = spark.read.parquet(f"{SCALE}/names_{tag}.parquet")
    prep = base.select(
        F.xxhash64("name").alias("x_id"), F.col("name").alias("name_norm")
    )
    return sorted_neighborhood_pairs(prep, window=5).count()


def q_directory_merge(spark, tag):
    """merge_entities at 1x/10x: a two-entities-per-name directory (base
    name and its ' x' variant as separate entities) self-linked and
    folded. Same df-cap rule as the other name workloads (the 8 shared
    corporate suffixes would square otherwise). Expected output: entity
    count halves (each base absorbs its variant), so counts are the
    correctness read and the time ratio is the scale read — the alias
    self-join is the same df-capped blocked join link_many uses, plus the
    entity-graph CC, which is tiny (2-node components)."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark import LinkConfig, merge_entities

    base = spark.read.parquet(f"{SCALE}/names_{tag}.parquet").select("name")
    d = base.select(
        F.concat(F.lit("a:"), F.col("name")).alias("entity_id"), "name"
    ).unionByName(
        base.select(
            F.concat(F.lit("b:"), F.col("name")).alias("entity_id"),
            F.concat(F.col("name"), F.lit(" x")).alias("name"),
        )
    )
    remap = merge_entities(d, LinkConfig(max_block_df=2000), max_dist=0.4)
    return remap.select("merged_entity_id").distinct().count()


def q_link_many(spark, tag):
    """3-way resolution at a df-cap that BITES on this corpus: the names
    share 8 corporate suffixes, and short names make the reference's
    >= ceil(5% of trigrams) rule admit any pair sharing ONE trigram — at
    the default max_block_df=10_000 the suffix grams (df ~2,500/side at
    10x) all join and candidates go quadratic (measured: 23x time for 10x
    data). max_block_df=2000 drops exactly those stop-grams at 10x; this
    is the measured law the cap exists for (see BENCH/BASELINE.md)."""
    from linkorgs_software_spark import LinkConfig, link_many

    base = spark.read.parquet(f"{SCALE}/names_{tag}.parquet")
    a = base.selectExpr("name").distinct()
    b = base.selectExpr("name || ' x' as name").distinct()
    c = base.selectExpr("upper(name) as name").distinct()
    out = link_many([a, b, c], LinkConfig(max_block_df=2000), max_dist=0.5)
    return out.select("entity_id").distinct().count()


def q_pack_chunks(spark, tag):
    from linkorgs_software_spark.operators.corpus import pack_chunks

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    return pack_chunks(docs, budget=2048).count()


def q_repetition(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import repetition_profile

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    return int(
        repetition_profile(docs).agg(F.sum("n_tokens")).collect()[0][0]
    )


def q_pii(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import pii_profile

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    # sum over a computed column so Catalyst cannot prune the regex work
    return int(pii_profile(docs).agg(F.sum("n_pii")).collect()[0][0])


def q_quality(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import quality_rule_flags

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    return int(
        quality_rule_flags(docs)
        .agg(F.sum(F.col("keep").cast("int")))
        .collect()[0][0]
    )


def q_group_split(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import exact_dup_groups
    from linkorgs_software_spark.operators.sampling import group_aware_split

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    out = group_aware_split(docs, exact_dup_groups(docs), weights=(0.8, 0.1, 0.1))
    return int(out.agg(F.sum("split")).collect()[0][0])


def q_mixture(spark, tag):
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.sampling import mixture_sample

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet").withColumn(
        "source", F.concat(F.lit("src"), (F.col("doc_id") % 16).cast("string"))
    )
    out = mixture_sample(docs, {"src0": 5000, "src1": 2500}, default_budget=1000)
    return int(
        out.agg(F.sum(F.col("selected").cast("int"))).collect()[0][0]
    )


def q_canonicalize(spark, tag):
    """Survivorship at scale: group the org names by their base token and
    elect each group's canonical full form — the (cluster, name) count
    reduction plus a window over DISTINCT names only, so 10x members with
    the same variety should cost ~10x the count aggregate and nothing
    quadratic."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.cluster import canonicalize_clusters

    names = spark.read.parquet(f"{SCALE}/names_{tag}.parquet")
    recs = names.select(
        F.split(F.col("name"), " ").getItem(0).alias("component"), "name"
    )
    return canonicalize_clusters(recs).count()


def _doc_assignments(spark, tag):
    from pyspark.sql import functions as F

    docs = spark.read.parquet(f"{SCALE}/documents_{tag}.parquet")
    old = docs.select(
        F.col("doc_id").alias("id"), F.md5(F.col("text")).alias("cluster")
    )
    new = docs.select(
        F.col("doc_id").alias("id"),
        F.md5(
            F.concat_ws(" ", F.slice(F.split(F.lower(F.col("text")), "\\s+"), 1, 8))
        ).alias("cluster"),
    )
    return old, new


def q_pairwise(spark, tag):
    """Pair-level metrics between the exact-hash and first-8-token-prefix
    clusterings of the corpus: pure contingency-cell aggregates, so the
    10x ratio should sit at the shuffle's linear cost."""
    from linkorgs_software_spark.operators.assess import pairwise_scores

    old, new = _doc_assignments(spark, tag)
    r = pairwise_scores(
        old.withColumnRenamed("cluster", "pred_cluster"),
        new.withColumnRenamed("cluster", "true_cluster"),
    ).collect()[0]
    return int(r.n_pairs_both)


def q_resolution_diff(spark, tag):
    from linkorgs_software_spark.operators.assess import resolution_diff

    old, new = _doc_assignments(spark, tag)
    r = resolution_diff(old, new).collect()[0]
    return int(r.n_merged)


QUERIES = {
    "minhash_lsh_dedup": q_minhash,
    "embedding_lsh_dedup": q_embedding_lsh,
    "dup_spans": q_dup_spans,
    "dedup_passages": q_dedup_passages,
    "tfidf_top_terms": q_tfidf,
    "lm_quality": q_lm_quality,
    "decontaminate": q_decontaminate,
    "pack_chunks": q_pack_chunks,
    "repetition_profile": q_repetition,
    "pii_profile": q_pii,
    "quality_rules": q_quality,
    "group_split": q_group_split,
    "mixture_sample": q_mixture,
    "incremental_neardup": q_incremental_neardup,
    "incremental_neardup_compact": q_incremental_neardup_compact,
    "incremental_embed_neardup": q_incremental_embed,
    "incremental_resolve": q_incremental_resolve,
    "directory_merge": q_directory_merge,
    "tfidf_name_sim": q_tfidf_name_sim,
    "snm_pairs": q_snm_pairs,
    "link_many_3way": q_link_many,
    "canonicalize_clusters": q_canonicalize,
    "pairwise_scores": q_pairwise,
    "resolution_diff": q_resolution_diff,
}


def main() -> None:
    reps = int(sys.argv[1]) if len(sys.argv) > 1 else 2
    global QUERIES
    names = [a for a in sys.argv[2:] if a in QUERIES]
    if names:
        QUERIES = {n: QUERIES[n] for n in names}
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "32g")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    secs: dict = {}
    counts: dict = {}
    for rep in range(reps):
        for name, fn in QUERIES.items():
            for tag in ("1x", "10x"):
                t0 = time.time()
                c = fn(spark, tag)
                dt = time.time() - t0
                key = f"{name}_{tag}"
                secs.setdefault(key, []).append(round(dt, 2))
                counts[key] = c
    best = {k: min(v) for k, v in secs.items()}
    ratios = {
        name: round(best[f"{name}_10x"] / best[f"{name}_1x"], 2)
        for name in QUERIES
    }
    out = {
        "best_sec": best,
        "all_sec": secs,
        "counts": counts,
        "time_ratio_10x_over_1x": ratios,
    }
    if PER_BATCH:
        out["per_batch_sec"] = PER_BATCH
    print(json.dumps(out))


if __name__ == "__main__":
    main()
