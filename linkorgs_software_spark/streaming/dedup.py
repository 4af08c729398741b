"""Incremental exact dedup for a streaming document feed.

Training corpora arrive continuously; a new batch must be deduplicated
against EVERYTHING already ingested, not just within itself. foreachBatch
keeps a content-hash history table on disk: each micro-batch
  1. drops its own intra-batch duplicates (keep min id per hash),
  2. anti-joins the accumulated hash history,
  3. appends the surviving docs to ``out_dir/batch_id=N`` (idempotent
     overwrite — replays cannot duplicate) and their hashes to the history.

The history table holds one narrow row (hash, doc_id) per unique document
ever seen — the only state this needs, and the same content-hash key the
batch ``exact_dup_groups`` operator uses, so batch and streaming dedup
agree on what counts as a duplicate.

Replay safety: a re-executed micro-batch N must produce the same output as
its first attempt. The history read therefore enumerates only PRIOR batch
partitions (``batch_id != N``) — if it read the whole history dir, a replay
would anti-join against its own previous attempt's hashes, drop every doc,
and overwrite ``docs/batch_id=N`` with an empty frame (silent data loss).
Partition enumeration uses the Hadoop FileSystem API so the same code works
on HDFS/S3 at scale; a genuinely unreadable history (corrupt file,
permissions) FAILS the batch so the checkpoint retries it, instead of being
mistaken for "no history yet" and admitting duplicates.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructType

from ..cache import persist, scoped_caches
from .history import maybe_compact, read_prior_slices
from .incremental import bind_batch, run_stream

# the history column the cross-batch anti-join reads
_SEEN_SCHEMA = StructType().add("_h", StringType())


@scoped_caches()
def dedup_batch(
    batch_df: DataFrame,
    batch_id: int,
    out_dir: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    compact_every: int | None = None,
) -> None:
    """Process one micro-batch: intra-batch dedup, anti-join prior history,
    idempotent overwrite of this batch's docs + history slices.

    Public (not just a closure) so replay behaviour is directly testable.

    ``compact_every`` folds committed hash-history partitions older than
    this batch into one snapshot partition once that many accumulate
    (``history.compact_plain_history``) — bounds directory/file count at
    O(compact_every) over the stream's lifetime.
    """
    history_dir = os.path.join(out_dir, "history")
    docs_dir = os.path.join(out_dir, "docs")
    spark = batch_df.sparkSession
    if compact_every is not None:
        maybe_compact(
            spark,
            watermark=batch_id,
            every=compact_every,
            plain_paths=(history_dir,),
        )
    hashed = batch_df.withColumn("_h", F.md5(F.col(text_col)))
    # intra-batch: keep the min-id doc per hash
    w = Window.partitionBy("_h")
    hashed = hashed.withColumn("_keep", F.col(id_col) == F.min(id_col).over(w)).filter(
        "_keep"
    )
    # cross-batch: drop anything whose hash is already in PRIOR history
    seen = read_prior_slices(spark, history_dir, batch_id, _SEEN_SCHEMA)
    fresh = hashed if seen is None else hashed.join(seen, "_h", "left_anti")
    fresh = persist(fresh)  # both writes read the persisted frame
    fresh.drop("_h", "_keep").write.mode("overwrite").parquet(
        f"{docs_dir}/batch_id={batch_id}"
    )
    fresh.select("_h", F.col(id_col)).write.mode("overwrite").parquet(
        f"{history_dir}/batch_id={batch_id}"
    )


def incremental_exact_dedup(
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_path: str,
    *,
    available_now: bool = False,
    **batch_kw,
):
    """Start a streaming query writing only never-seen-before documents.

    ``docs_stream`` needs (id_col, text_col, ...). Kept docs land in
    ``out_dir/docs/batch_id=N``; the hash history in ``out_dir/history``.
    ``batch_kw`` are ``dedup_batch``'s keywords (``id_col``, ``text_col``,
    ``compact_every``), applied to every micro-batch.
    """
    batch = bind_batch(dedup_batch, out_dir, batch_kw)
    return run_stream(docs_stream, batch, checkpoint_path, available_now=available_now)
