"""Incremental NEAR-dup dedup for a streaming document feed.

``incremental_exact_dedup`` drops byte-identical re-ingestions; this is its
fuzzy sibling: a new document is dropped when it is a MinHash-LSH near-dup
(verified shingle jaccard >= threshold) of ANY document already ingested —
lightly-edited recrawls, boilerplate variants, re-posts.

State on disk, both append-only and narrow:
  * ``history/buckets``  — (bucket, doc_id): the band-bucket posting lists
    of every KEPT doc (``bands`` rows per doc). Candidate generation is a
    bucket equi-join of the micro-batch against this table — never a scan
    of past text.
  * ``history/shingles`` — (doc_id, shingles): the shingle sets needed to
    VERIFY candidates exactly. Only candidates' rows are read (the bucket
    join's doc_ids semi-join this table), so verification cost scales with
    candidate volume, not history size.

Per micro-batch N:
  1. intra-batch: MinHash-LSH pairs within the batch; any doc that is a
     verified near-dup of a smaller-id batch doc is dropped (pairwise
     canonical-min rule — chains within ONE micro-batch collapse to the
     smallest id; cross-batch chains are handled naturally because only
     kept docs enter history).
  2. cross-batch: survivors' band buckets join the PRIOR history buckets
     (``batch_id != N`` — same replay-safety rule as ``dedup.py``: a replay
     must not anti-join its own previous attempt), verified by exact
     jaccard against the stored shingle sets.
  3. idempotent overwrite of ``docs/batch_id=N`` and both history slices.

Hot buckets are df-capped exactly like the batch operator — a viral
boilerplate document otherwise turns one bucket's posting list into a
quadratic candidate task.

At 100 TB the per-batch cost is dominated by the bucket equi-join against
an ever-growing history, so ``history/buckets`` is a catalog table
partitioned by ``batch_id`` AND hash-bucketed on ``bucket``
(``streaming/history.py``; the checkpointer's ``run_bucketed`` pattern /
Iceberg bucket partitioning): the history side of the candidate join is an
Exchange-free bucketed scan — only the micro-batch side shuffles, into
``num_history_buckets`` partitions — and replay exclusion is ``batch_id``
partition pruning. The shingle slice stays plain ``batch_id=N`` parquet:
it is only read id-joined at candidate volume, never scanned.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..cache import persist, scoped_caches
from ..functions.qgrams import jaccard_qgram_dist_expr
from ..functions.text import word_shingles_expr
from ..operators.blocking import apply_df_cap
from ..operators.corpus import minhash_band_buckets
from .history import (
    history_table_name,
    maybe_compact,
    prior_batch_paths,
    read_prior_history,
    recommended_history_buckets,
    write_history_bucketed,
)
from .incremental import bind_batch, run_stream


@scoped_caches()
def neardup_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_df: int | None = 5000,
    num_history_buckets: int | None = None,
    compact_every: int | None = None,
) -> None:
    """Process one micro-batch (public, so replay behaviour is testable).

    Decorated with ``scoped_caches()``: the batch persists its banded frame,
    shingle sets, survivors and kept docs, and a stream runs one batch per
    trigger — without per-batch release a long-running query would pin
    those frames batch over batch (growing executor storage AND the driver
    registry without bound).

    ``compact_every``: when set, once ``compact_every`` committed batch
    partitions accumulate, the bucket-table partitions older than this
    batch (which can never replay — only the LAST uncommitted batch
    re-executes) plus any prior snapshot fold into ONE new snapshot
    partition with the same bucket spec, and the shingle slice folds in
    lockstep. This bounds file count, ``MSCK`` recovery time, and
    per-batch scan metadata at O(compact_every) instead of O(stream
    lifetime); without it a year-long stream accumulates
    O(batches · num_history_buckets) files.
    """
    if num_history_buckets is None:  # scale-adaptive default; only the
        # table-creating first batch actually consumes the resolved value
        num_history_buckets = recommended_history_buckets(batch_df)
    buckets_dir = os.path.join(out_dir, "history", "buckets")
    shingles_dir = os.path.join(out_dir, "history", "shingles")
    docs_dir = os.path.join(out_dir, "docs")
    spark = batch_df.sparkSession
    if compact_every is not None:
        # before reading history: the cheapest moment (this batch's join
        # then scans the compacted layout). Watermark = this batch id —
        # strictly-older batches are committed and can never replay.
        maybe_compact(
            spark,
            watermark=batch_id,
            every=compact_every,
            bucketed=(history_table_name(out_dir, "buckets"), buckets_dir),
            plain_paths=(shingles_dir,),
        )

    # The batch's banded frame (signature aggregation — the expensive
    # explode+groupBy) and its shingle sets are each computed ONCE and
    # shared by every stage: intra-batch candidates, cross-batch
    # candidates, both verifies, and both history writes. The previous
    # layout recomputed the signature shuffle three times per batch (once
    # inside minhash_lsh_dups, once for survivors, once for the history
    # write) — a 3x fixed cost per micro-batch that set the streaming
    # latency floor.
    banded = persist(
        minhash_band_buckets(
            batch_df,
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
        ).select(F.col("id").alias(id_col), "bucket")
    )
    sh = persist(
        batch_df.select(F.col(id_col), word_shingles_expr(text_col, shingle_k).alias("shingles"))
    )
    # materialize the persist and take the cap's free no-op guard in
    # one action (embed-sibling symmetry, round 6): each doc emits
    # exactly `bands` bucket rows, so no bucket's posting list can
    # exceed n_banded / bands — for a normally-sized micro-batch the
    # cap is provably a no-op and its aggregate+broadcast subtree
    # (sitting on BOTH self-join sides) is skipped entirely
    n_banded = banded.count()
    # 1. intra-batch near-dups: drop the larger id of every verified
    # pair (same semantics as the batch minhash_lsh_dups operator)
    b = banded
    if max_bucket_df is not None and n_banded > max_bucket_df * max(1, bands):
        # oversized batch: the cap does real work — persist its output
        # (scoped_caches releases at batch end) so the aggregate +
        # broadcast-semi-join subtree isn't evaluated once per
        # self-join side (the round-5 embed-path lesson)
        b = persist(apply_df_cap(banded, "bucket", max_bucket_df))
    cand_in = (
        b.alias("a")
        .join(b.alias("b"), "bucket")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("_id_a"), F.col(f"b.{id_col}").alias("_id_b")
        )
        .distinct()
    )
    sim = F.lit(1.0) - jaccard_qgram_dist_expr("sh_a", "sh_b")
    dropped = (
        cand_in.join(
            sh.select(F.col(id_col).alias("_id_a"), F.col("shingles").alias("sh_a")),
            "_id_a",
        )
        .join(
            sh.select(F.col(id_col).alias("_id_b"), F.col("shingles").alias("sh_b")),
            "_id_b",
        )
        .filter(sim >= F.lit(float(threshold)))
        .select(F.col("_id_b").alias(id_col))
        .distinct()
    )
    survivors = persist(batch_df.join(dropped, id_col, "left_anti"))
    # 2. cross-batch: candidates from the PRIOR bucket history
    # (bucketed table — history side joins without an Exchange; see
    # history.py), verified by exact jaccard vs stored shingle sets
    fresh = survivors
    hist_tbl = history_table_name(out_dir, "buckets")
    prior = read_prior_history(spark, hist_tbl, buckets_dir, batch_id)
    # the shingle slice is written in lockstep with the bucket
    # table, so an empty prior-shingle listing means no PRIOR batch
    # exists (e.g. a replay of the very first batch) — skip
    prior_shingles = prior_batch_paths(spark, shingles_dir, batch_id)
    if prior is not None and prior_shingles:
        new_b = banded.join(survivors.select(id_col), id_col, "left_semi")
        old_b = prior.select("bucket", F.col("doc_id").alias("_old_id"))
        if max_bucket_df is not None:
            old_b = apply_df_cap(old_b, "bucket", max_bucket_df)
        cand = (
            new_b.join(old_b, "bucket")
            .select(F.col(id_col).alias("_new_id"), "_old_id")
            .distinct()
        )
        new_sh = sh.select(
            F.col(id_col).alias("_new_id"), F.col("shingles").alias("sh_a")
        )
        old_sh = spark.read.parquet(*prior_shingles).select(
            F.col("doc_id").alias("_old_id"), F.col("shingles").alias("sh_b")
        )
        dup_new = (
            cand.join(new_sh, "_new_id")
            .join(old_sh, "_old_id")
            .withColumn("_sim", sim)
            .filter(F.col("_sim") >= F.lit(float(threshold)))
            .select(F.col("_new_id").alias(id_col))
            .distinct()
        )
        fresh = survivors.join(dup_new, id_col, "left_anti")
    fresh = persist(fresh)
    # 3. idempotent per-batch overwrites: docs + history slices
    # (history = the KEPT docs' slices of the shared frames)
    fresh.write.mode("overwrite").parquet(f"{docs_dir}/batch_id={batch_id}")
    fresh_ids = fresh.select(id_col)
    write_history_bucketed(
        banded.join(fresh_ids, id_col, "left_semi").select(
            "bucket", F.col(id_col).alias("doc_id")
        ),
        hist_tbl,
        buckets_dir,
        batch_id,
        bucket_cols=("bucket",),
        num_buckets=num_history_buckets,
    )
    sh.join(fresh_ids, id_col, "left_semi").select(
        F.col(id_col).alias("doc_id"), "shingles"
    ).write.mode("overwrite").parquet(f"{shingles_dir}/batch_id={batch_id}")


def incremental_neardup_dedup(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_path: str,
    *,
    available_now: bool = False,
    **batch_kw,
):
    """Start a streaming query that keeps only documents which are not
    near-dups of anything previously ingested. Kept docs land in
    ``out_dir/docs/batch_id=N``; LSH state under ``out_dir/history``.
    ``batch_kw`` are ``neardup_batch``'s keywords (``threshold``,
    ``bands``, ``compact_every``, ...), applied to every micro-batch."""
    batch = bind_batch(neardup_batch, out_dir, batch_kw)
    return run_stream(docs_stream, batch, checkpoint_path, available_now=available_now)
