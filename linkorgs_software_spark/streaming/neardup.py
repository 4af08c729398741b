"""Incremental NEAR-dup dedup for streaming feeds: text and embeddings.

``incremental_exact_dedup`` drops byte-identical re-ingestions; its two
fuzzy siblings here drop a new row that is a verified near-dup of ANY row
already kept. Text (``neardup_batch``) uses MinHash-LSH band buckets and
shingle jaccard — lightly-edited recrawls, boilerplate variants, re-posts.
Embeddings (``embed_neardup_batch``) use hyperplane-LSH buckets and cosine
— semantic re-posts. Both run one flow (``_lsh_dedup_batch``) and differ
only in their bucket keys and the payload they verify.

State on disk, append-only and narrow:
  * ``history/buckets`` — bucket posting lists of every KEPT row:
    ``(bucket, doc_id)`` in catalog table ``history_table_name(out_dir,
    "buckets")``, or ``(table_id, bucket, vec_id)`` in ``"embuckets"``.
    Candidates come from a bucket equi-join of the micro-batch against
    it — never a scan of past text or vectors.
  * ``history/shingles`` ``(doc_id, shingles)`` or ``history/embeddings``
    ``(vec_id, embedding)`` — the payload to VERIFY candidates exactly,
    read id-joined, so verify cost tracks candidate volume.

Per micro-batch N:
  1. intra-batch: one ``bucket_pairs`` self-join; a row that is a verified
     near-dup of a smaller-id batch row is dropped (chains within ONE
     micro-batch collapse to the smallest id; cross-batch chains resolve
     because only kept rows enter history).
  2. cross-batch: survivors' buckets join the PRIOR history buckets
     (``batch_id != N`` — a replay must not anti-join its own previous
     attempt, as in ``dedup.py``), verified against the stored payload.
  3. idempotent overwrite of ``docs/batch_id=N`` and both history slices,
     the bucketed insert last (``write_history_bucketed``).

Hot buckets are df-capped like the batch operators (a viral document
otherwise squares one posting list); embedding probes expand the
micro-batch side only, after the cap. The bucket table is partitioned by
``batch_id`` AND hash-bucketed on its key (``streaming/history.py``), so
the history side of the candidate join is an Exchange-free bucketed scan
and replay exclusion is partition pruning; the payload slice stays plain
``batch_id=N`` parquet. Hyperplanes are seeded and ``dim`` explicit, so
every batch hashes into the SAME bucket space.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..cache import persist, scoped_caches
from ..functions.embedding import cosine_sim_expr
from ..functions.qgrams import jaccard_sim_expr
from ..functions.text import word_shingles_expr
from ..operators.ann import expand_probes, lsh_buckets, lsh_occupancy_guard
from ..operators.blocking import apply_df_cap, bucket_pairs, verified_pairs
from ..operators.corpus import minhash_band_buckets
from .history import (
    history_table_name,
    list_batch_ids,
    maybe_compact,
    read_prior_history,
    read_prior_slices,
    recommended_history_buckets,
    write_history_bucketed,
)
from .incremental import bind_batch, run_stream


def _lsh_dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    keys: DataFrame,
    payload: Column,
    *,
    cache_payload: bool,
    id_col: str,
    history: tuple[str, str, str, str],
    sim,
    threshold: float,
    rows_per_id: int,
    max_bucket_df: int | None,
    probe,
    num_history_buckets: int | None,
    compact_every: int | None,
    check_prior=None,
) -> None:
    """The flow both near-dup batches share (module docstring, steps 1-3).

    ``keys`` is the persisted ``(id, <key cols>)`` bucket frame of the
    batch (``rows_per_id`` rows per id); ``payload`` is the expression over
    the batch's columns that ``sim`` verifies. A derived payload (shingle
    sets) is costly to recompute, so with ``cache_payload`` it is built
    once for the whole batch, persisted, and restricted by id; a stored
    column (vectors) is projected from whichever rows are at hand.
    ``history`` names the history slices: (bucket table slice, payload
    dir, history id column, history payload column).
    ``check_prior(n_keys, prior)`` runs between the intra- and cross-batch
    steps.
    """
    if num_history_buckets is None:  # scale-adaptive default; only the
        # table-creating first batch actually consumes the resolved value
        num_history_buckets = recommended_history_buckets(batch_df)
    spark = batch_df.sparkSession
    table_slice, plain, hist_id, hist_p = history
    buckets_dir = os.path.join(out_dir, "history", "buckets")
    plain_dir = os.path.join(out_dir, "history", plain)
    hist_tbl = history_table_name(out_dir, table_slice)
    if compact_every is not None:
        # before reading history: the cheapest moment (this batch's join
        # then scans the compacted layout). Watermark = this batch id —
        # strictly-older batches are committed and can never replay.
        maybe_compact(
            spark,
            watermark=batch_id,
            every=compact_every,
            bucketed=(hist_tbl, buckets_dir),
            plain_paths=(plain_dir,),
        )
    key_cols = [c for c in keys.columns if c != "id"]

    def payload_of(rows: DataFrame) -> DataFrame:
        return rows.select(F.col(id_col).alias("id"), payload.alias("p"))

    def as_slice(p: DataFrame) -> DataFrame:  # an (id, p) frame as a payload slice
        return p.select(F.col("id").alias(hist_id), F.col("p").alias(hist_p))

    batch_p = persist(payload_of(batch_df)) if cache_payload else payload_of(batch_df)
    # materialize the persist AND take the cap's free no-op guard in one
    # action: each id emits exactly `rows_per_id` bucket rows, so no
    # bucket's posting list can exceed n_keys / rows_per_id — for a
    # normally-sized micro-batch the cap is provably a no-op and its
    # aggregate + broadcast subtree (sitting on BOTH self-join sides) is
    # skipped entirely
    n_keys = keys.count()
    capped = keys
    if max_bucket_df is not None and n_keys > max_bucket_df * max(1, rows_per_id):
        # oversized batch: the cap does real work — persist its output
        # (scoped_caches releases it at batch end) so the aggregate +
        # broadcast-semi-join subtree isn't evaluated once per self-join
        # side per action (the round-5 embed-path lesson)
        capped = persist(apply_df_cap(keys, key_cols, max_bucket_df))
    # 1. intra-batch near-dups: drop the larger id of every verified pair
    # (same semantics as the batch operators)
    cand_in = bucket_pairs(capped, key_cols, probe=probe)
    dropped = (
        verified_pairs(cand_in, batch_p, batch_p, sim, threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    # persisted: the frame appears three times in fresh's lineage
    # (anti-join base, history semi-join source, verify side), and without
    # the persist the intra-batch verify subtree is recomputed at each
    survivors = persist(batch_df.join(dropped, id_col, "left_anti"))
    # 2. cross-batch: candidates from the PRIOR bucket history (bucketed
    # table — history side joins without an Exchange; see history.py),
    # verified against the stored payload
    fresh = survivors
    prior = read_prior_history(spark, hist_tbl, buckets_dir, batch_id)
    if check_prior is not None:
        check_prior(n_keys, prior)
    # the payload slice is written in lockstep with the bucket table, so no
    # prior slice means no PRIOR batch exists (e.g. a replay of the very
    # first batch) — skip; it is read with the schema this batch writes
    prior_plain = read_prior_slices(spark, plain_dir, batch_id, as_slice(batch_p).schema)
    if prior is not None and prior_plain is not None:
        new_b = keys.join(survivors.select(F.col(id_col).alias("id")), "id", "left_semi")
        if probe is not None:
            # probes expand the micro-batch side (small side); the history
            # side stays exact buckets so its bucketed scan stays pruned
            new_b = probe(new_b)
        old_b = prior.select(*key_cols, F.col(hist_id).alias("id_b"))
        if max_bucket_df is not None:
            old_b = apply_df_cap(old_b, key_cols, max_bucket_df)
        cand = (
            new_b.select(F.col("id").alias("id_a"), *key_cols)
            .join(old_b, key_cols)
            .select("id_a", "id_b")
            .distinct()
        )
        # the candidates restrict a cached batch payload to survivors
        new_p = batch_p if cache_payload else payload_of(survivors)
        old_p = prior_plain.select(F.col(hist_id).alias("id"), F.col(hist_p).alias("p"))
        dup_new = (
            verified_pairs(cand, new_p, old_p, sim, threshold)
            .select(F.col("id_a").alias(id_col))
            .distinct()
        )
        fresh = survivors.join(dup_new, id_col, "left_anti")
    fresh = persist(fresh)
    # 3. idempotent per-batch overwrites: docs + history slices (history =
    # the KEPT rows' slices of the shared frames — no second hashing pass);
    # the insert last, as its refresh clears `fresh` (it reads the table)
    fresh.write.mode("overwrite").parquet(os.path.join(out_dir, "docs", f"batch_id={batch_id}"))
    kept = fresh.select(F.col(id_col).alias("id"))
    kept_p = batch_p.join(kept, "id", "left_semi") if cache_payload else payload_of(fresh)
    as_slice(kept_p).write.mode("overwrite").parquet(os.path.join(plain_dir, f"batch_id={batch_id}"))
    write_history_bucketed(
        keys.join(kept, "id", "left_semi").select(*key_cols, F.col("id").alias(hist_id)),
        hist_tbl,
        buckets_dir,
        batch_id,
        bucket_cols=tuple(key_cols),
        num_buckets=num_history_buckets,
    )


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

    Decorated with ``scoped_caches()``: every frame the batch persists is
    released when it ends, so a stream never pins frames batch over batch.

    ``compact_every``: when set, once ``compact_every`` committed batch
    partitions accumulate, the bucket-table partitions older than this
    batch (which can never replay — only the LAST uncommitted batch
    re-executes) plus any prior snapshot fold into ONE new snapshot
    partition with the same bucket spec, and the shingle slice folds in
    lockstep. This bounds file count, catalog recovery time, and
    per-batch scan metadata at O(compact_every) instead of O(stream
    lifetime); without it a year-long stream accumulates
    O(batches · num_history_buckets) files.
    """
    # The banded frame (signature aggregation — the expensive
    # explode+groupBy) is computed ONCE and shared by both candidate joins
    # and the bucket-history write; the shingle sets are cached once for
    # both verifies and the shingle-history write (cache_payload).
    banded = persist(minhash_band_buckets(
        batch_df, id_col=id_col, text_col=text_col,
        num_hashes=num_hashes, bands=bands, shingle_k=shingle_k,
    ))
    _lsh_dedup_batch(
        batch_df, batch_id, out_dir, banded, word_shingles_expr(text_col, shingle_k),
        cache_payload=True,
        id_col=id_col,
        history=("buckets", "shingles", "doc_id", "shingles"),
        sim=jaccard_sim_expr,
        threshold=threshold,
        rows_per_id=bands,
        max_bucket_df=max_bucket_df,
        probe=None,
        num_history_buckets=num_history_buckets,
        compact_every=compact_every,
    )


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
    catalog recovery, and scan metadata stay O(compact_every)).

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
    new_b = persist(
        lsh_buckets(
            batch_df.select(F.col(id_col), F.col(vec_col)),
            vec_col=vec_col, dim=dim, n_planes=n_planes, num_tables=num_tables, seed=seed,
        ).select(F.col(id_col).alias("id"), "table_id", "bucket")
    )

    def check_occupancy(n_new: int, prior: DataFrame | None) -> None:
        # one cheap row count per batch: warn (with the restart plane
        # count) when batch + kept history have outgrown the fixed
        # 2**n_planes bucket vocabulary — see the public docstring
        if occupancy_warn_factor is None:
            return
        lsh_occupancy_guard(
            n_new + (prior.count() if prior is not None else 0),
            n_planes=n_planes,
            num_tables=num_tables,
            warn_factor=occupancy_warn_factor,
            context=f"embed near-dup stream batch {batch_id}",
        )

    _lsh_dedup_batch(
        batch_df, batch_id, out_dir, new_b, F.col(vec_col),
        cache_payload=False,
        id_col=id_col,
        history=("embuckets", "embeddings", "vec_id", "embedding"),
        sim=cosine_sim_expr,
        threshold=threshold,
        rows_per_id=num_tables,
        max_bucket_df=max_bucket_df,
        probe=lambda d: expand_probes(d, n_planes=n_planes, multiprobe=multiprobe),
        num_history_buckets=num_history_buckets,
        compact_every=compact_every,
        check_prior=check_occupancy,
    )


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
