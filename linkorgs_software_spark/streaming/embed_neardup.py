"""Incremental EMBEDDING near-dup dedup for a streaming vector feed.

Completes the streaming dedup trio: exact (content hash), text near-dup
(MinHash-LSH), and — here — vector-space near-dup: a new embedding is
dropped when its cosine similarity to ANY previously kept embedding is
>= ``threshold``. This is how a training pipeline suppresses semantic
re-posts (same content, different words) as the corpus streams in.

State on disk, same shape as the text variant:
  * ``history/buckets``    — (table_id, bucket, vec_id): hyperplane-LSH
    bucket posting lists of every kept vector (``num_tables`` rows per
    vector), stored as a catalog table partitioned by ``batch_id`` and
    hash-bucketed on (table_id, bucket) (``streaming/history.py``) — the
    candidate equi-join's history side is an Exchange-free bucketed scan,
    so per-batch join cost tracks the batch, not the corpus lifetime.
  * ``history/embeddings`` — (vec_id, embedding): read only for candidate
    verification (exact cosine), so verify cost tracks candidate volume.

Replay-safe like its siblings: history reads enumerate PRIOR ``batch_id``
partitions only, so a re-executed batch cannot anti-join its own previous
attempt and delete its output. Hyperplanes are seeded and ``dim`` is an
explicit parameter (the stream owner knows the embedding width) — every
batch hashes into the SAME bucket space, which is what makes cross-batch
candidates meaningful.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist, scoped_caches
from ..functions.embedding import cosine_sim_expr
from ..operators.ann import expand_probes, lsh_buckets, lsh_occupancy_guard
from ..operators.blocking import apply_df_cap
from .history import (
    history_table_name,
    list_batch_ids,
    maybe_compact,
    prior_batch_paths,
    read_prior_history,
    recommended_history_buckets,
    write_history_bucketed,
)
from .incremental import bind_batch, run_stream


@scoped_caches()
def embed_neardup_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    *,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 8,
    num_tables: int = 4,
    seed: int = 42,
    max_bucket_df: int | None = 5000,
    num_history_buckets: int | None = None,
    multiprobe: int = 0,
    compact_every: int | None = None,
    occupancy_warn_factor: float | None = 4.0,
) -> None:
    """Process one micro-batch (public, so replay behaviour is testable).

    Decorated with ``scoped_caches()`` like the text sibling: every frame
    persisted during the batch is released when the batch ends, so a
    long-running stream cannot accumulate pinned frames batch over batch.

    ``multiprobe`` mirrors ``embedding_neardup_lsh(multiprobe=)``: > 0
    additionally probes hamming-1 (or -2) neighbor buckets so moderately
    similar vectors (cosine ~0.8, where exact-bucket recall sags) are
    caught. Probes expand the MICRO-BATCH side only — the small side of
    both joins, and expanding one side is also the correct side count-wise
    (both sides would double-count hamming distance). Caps apply to exact
    buckets before expansion, so a probe can never resurrect an over-cap
    bucket.

    ``compact_every`` folds committed history partitions older than this
    batch into one snapshot partition once ``compact_every`` of them
    accumulate — same lifecycle bound as the text sibling (file count,
    MSCK recovery, and scan metadata stay O(compact_every)).

    ``occupancy_warn_factor``: a stream is pinned to its start-time
    ``n_planes`` (bucket ids must be stream-constant), so as kept history
    accumulates into the FIXED ``num_tables * 2**n_planes`` vocabulary,
    mean occupancy — and with it candidate volume, quadratically — grows
    (the round-5 measured law behind ``ann.recommended_n_planes``). Each
    batch therefore checks the vocabulary-bound occupancy of
    batch + kept history rows and emits a ``RuntimeWarning`` naming the
    plane count to restart the stream with when it exceeds
    ``occupancy_warn_factor`` x the 16-rows/bucket target (one cheap row
    count per batch; ``None`` disables).
    """
    if num_history_buckets is None:  # scale-adaptive default; only the
        # table-creating first batch actually consumes the resolved value
        num_history_buckets = recommended_history_buckets(batch_df)
    buckets_dir = os.path.join(out_dir, "history", "buckets")
    emb_dir = os.path.join(out_dir, "history", "embeddings")
    docs_dir = os.path.join(out_dir, "docs")
    spark = batch_df.sparkSession
    if compact_every is not None:
        maybe_compact(
            spark,
            watermark=batch_id,
            every=compact_every,
            bucketed=(history_table_name(out_dir, "embuckets"), buckets_dir),
            plain_paths=(emb_dir,),
        )
    lsh_kw = dict(
        vec_col=vec_col, dim=dim, n_planes=n_planes, num_tables=num_tables, seed=seed
    )

    new_b = persist(
        lsh_buckets(batch_df.select(F.col(id_col), F.col(vec_col)), **lsh_kw).select(
            F.col(id_col).alias("_id"), "table_id", "bucket"
        )
    )
    # materialize the persist AND take the cap's free no-op guard in one
    # action: new_b has exactly num_tables rows per vector, so no single
    # (table_id, bucket) group can exceed n_new / num_tables — for any
    # normally-sized micro-batch the df-cap is provably a no-op and its
    # aggregate + broadcast-semi-join subtree (which sits on BOTH sides
    # of the self-join and would otherwise be re-evaluated action after
    # action — the round-5 1.6x regression) is skipped entirely.
    n_new = new_b.count()
    # intra-batch: drop the larger id of every verified near-dup pair;
    # df-cap the EXACT buckets first (text-sibling symmetry — a viral
    # vector in one oversized micro-batch must not square inside one
    # bucket task), then probe-expand ONE self-join side only (see
    # docstring; probes can never resurrect an over-cap bucket)
    b_in = new_b
    if max_bucket_df is not None and n_new > max_bucket_df * max(1, num_tables):
        # oversized batch: the cap does real work — persist ITS output
        # too (scoped_caches releases it at batch end), or the capped
        # subtree is recomputed once per self-join side per action
        b_in = persist(apply_df_cap(new_b, ["table_id", "bucket"], max_bucket_df))
    probed_in = expand_probes(b_in, n_planes=n_planes, multiprobe=multiprobe)
    cand_in = (
        probed_in.alias("a")
        .join(b_in.alias("b"), ["table_id", "bucket"])
        .filter(F.col("a._id") < F.col("b._id"))
        .select(F.col("a._id").alias("_id_a"), F.col("b._id").alias("_id_b"))
        .distinct()
    )
    vecs = batch_df.select(F.col(id_col).alias("_v_id"), F.col(vec_col).alias("_v"))
    sim = cosine_sim_expr("_va", "_vb")
    dropped_in = (
        cand_in.join(vecs.select(F.col("_v_id").alias("_id_a"), F.col("_v").alias("_va")), "_id_a")
        .join(vecs.select(F.col("_v_id").alias("_id_b"), F.col("_v").alias("_vb")), "_id_b")
        .filter(sim >= F.lit(float(threshold)))
        .select(F.col("_id_b").alias(id_col))
        .distinct()
    )
    # persisted like the text sibling's survivors: the frame appears
    # three times in fresh's lineage (anti-join base, history semi-join
    # source, verify side), and without the persist the whole intra-batch
    # verify subtree is recomputed at each occurrence
    survivors = persist(batch_df.join(dropped_in, id_col, "left_anti"))

    # cross-batch: candidates from the PRIOR bucket history, verified by
    # exact cosine against the stored embeddings
    fresh = survivors
    hist_tbl = history_table_name(out_dir, "embuckets")
    prior = read_prior_history(spark, hist_tbl, buckets_dir, batch_id)
    if occupancy_warn_factor is not None:
        # one cheap row count per batch: warn (with the restart plane
        # count) when batch + kept history have outgrown the fixed
        # 2**n_planes bucket vocabulary — see the public docstring
        hist_rows = prior.count() if prior is not None else 0
        lsh_occupancy_guard(
            n_new + hist_rows,
            n_planes=n_planes,
            num_tables=num_tables,
            warn_factor=occupancy_warn_factor,
            context=f"embed near-dup stream batch {batch_id}",
        )
    # embeddings slice is written in lockstep with the bucket table; an
    # empty prior listing = no PRIOR batch (first-batch replay) — skip
    prior_emb = prior_batch_paths(spark, emb_dir, batch_id)
    if prior is not None and prior_emb:
        old_b = prior.select(
            "table_id", "bucket", F.col("vec_id").alias("_old_id")
        )
        if max_bucket_df is not None:
            old_b = apply_df_cap(old_b, ["table_id", "bucket"], max_bucket_df)
        surv_b = new_b.join(
            survivors.select(F.col(id_col).alias("_id")), "_id", "left_semi"
        )
        # probes expand the micro-batch side (small side); the history
        # side stays exact buckets so its bucketed scan stays pruned
        surv_b = expand_probes(surv_b, n_planes=n_planes, multiprobe=multiprobe)
        cand = (
            surv_b.join(old_b, ["table_id", "bucket"])
            .select(F.col("_id").alias("_new_id"), "_old_id")
            .distinct()
        )
        old_v = spark.read.parquet(*prior_emb).select(
            F.col("vec_id").alias("_old_id"), F.col("embedding").alias("_vb")
        )
        new_v = survivors.select(
            F.col(id_col).alias("_new_id"), F.col(vec_col).alias("_va")
        )
        dup_new = (
            cand.join(new_v, "_new_id")
            .join(old_v, "_old_id")
            .filter(cosine_sim_expr("_va", "_vb") >= F.lit(float(threshold)))
            .select(F.col("_new_id").alias(id_col))
            .distinct()
        )
        fresh = survivors.join(dup_new, id_col, "left_anti")
    fresh = persist(fresh)
    fresh.write.mode("overwrite").parquet(f"{docs_dir}/batch_id={batch_id}")
    # history = the kept rows' slice of the ALREADY-computed batch
    # bucket frame (persisted new_b) — no second lsh_buckets pass
    write_history_bucketed(
        new_b.join(
            fresh.select(F.col(id_col).alias("_id")), "_id", "left_semi"
        ).select("table_id", "bucket", F.col("_id").alias("vec_id")),
        hist_tbl,
        buckets_dir,
        batch_id,
        bucket_cols=("table_id", "bucket"),
        num_buckets=num_history_buckets,
    )
    fresh.select(
        F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
    ).write.mode("overwrite").parquet(f"{emb_dir}/batch_id={batch_id}")


def rebucket_embed_history(
    spark,
    out_dir: str,
    *,
    dim: int,
    n_planes: int,
    num_tables: int = 4,
    seed: int = 42,
    num_history_buckets: int = 64,
) -> int:
    """OFFLINE plane-count migration for a stopped embed near-dup stream —
    the action the occupancy guardrail's warning calls for. A running
    stream is pinned to its start-time ``n_planes`` (bucket ids must be
    stream-constant for cross-batch candidates to mean anything), so when
    kept history outgrows the fixed ``2**n_planes`` vocabulary (the
    measured round-5 law), the operator: stops the stream, runs this, and
    restarts with the NEW plane count — keeping every kept vector's dedup
    history instead of starting blind.

    Mechanics: the embeddings slice (``history/embeddings/batch_id=N``,
    plain parquet, written in lockstep with the bucket table) is the
    ground truth; each partition's vectors re-hash through ``lsh_buckets``
    at the new geometry and idempotently overwrite the SAME ``batch_id``
    partition of the bucket table (``write_history_bucketed`` dynamic
    partition overwrite), so replay exclusion, compaction snapshots
    (negative ids), and the Exchange-free bucketed join all behave exactly
    as before — only the bucket values change. Re-running after a crash
    just overwrites the same partitions again. Returns the number of
    history partitions rebucketed.

    Scale shape: one read + one bucketed write per history partition —
    O(kept history) total, the unavoidable cost of any re-hash, paid
    OFFLINE once instead of per-batch forever via a saturated vocabulary.
    """
    buckets_dir = os.path.join(out_dir, "history", "buckets")
    emb_dir = os.path.join(out_dir, "history", "embeddings")
    hist_tbl = history_table_name(out_dir, "embuckets")
    lsh_kw = dict(
        vec_col="embedding", dim=dim, n_planes=n_planes,
        num_tables=num_tables, seed=seed,
    )
    ids = list_batch_ids(spark, emb_dir)
    for b in ids:
        vecs = spark.read.parquet(os.path.join(emb_dir, f"batch_id={b}"))
        new_b = lsh_buckets(vecs.select("vec_id", "embedding"), **lsh_kw)
        write_history_bucketed(
            new_b.select("table_id", "bucket", "vec_id"),
            hist_tbl,
            buckets_dir,
            b,
            bucket_cols=("table_id", "bucket"),
            num_buckets=num_history_buckets,
        )
    return len(ids)


def incremental_embed_neardup(
    vec_stream: DataFrame,
    out_dir: str,
    checkpoint_path: str,
    *,
    available_now: bool = False,
    **batch_kw,
):
    """Start a streaming query keeping only vectors that are not cosine
    near-dups of anything previously kept. Kept rows land in
    ``out_dir/docs/batch_id=N``; LSH state under ``out_dir/history``.
    ``batch_kw`` are ``embed_neardup_batch``'s keywords (``dim`` is
    required; ``threshold``, ``n_planes``, ``multiprobe``, ...), applied
    to every micro-batch."""
    batch = bind_batch(embed_neardup_batch, out_dir, batch_kw)
    return run_stream(vec_stream, batch, checkpoint_path, available_now=available_now)
