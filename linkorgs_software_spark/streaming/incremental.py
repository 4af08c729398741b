"""Incremental linkage over a transcript stream (foreachBatch).

Batch logic is reused verbatim — the whole pipeline is DataFrame →
DataFrame, so `foreachBatch` is the natural streaming adapter: each
micro-batch of arriving turns has mentions extracted and linked against the
static y-side.

Sink semantics: foreachBatch itself is **at-least-once** (a micro-batch can
replay after a failure). The parquet sink here is made *effectively
exactly-once* by writing each batch to a ``batch_id=N`` subdirectory with
``overwrite`` — a replayed batch overwrites its own output instead of
appending duplicates (the standard idempotent-foreachBatch pattern; an
Iceberg/Delta sink would use a transactional MERGE keyed on batch_id
instead). Readers load ``sink_path`` as a partitioned parquet table.

Every streaming operator in this package starts through ``run_stream``
with a batch function that honours that contract.
"""

from __future__ import annotations

import functools
import inspect

from pyspark.sql import DataFrame

from ..config import DEFAULT, LinkConfig
from ..plans.pipeline import link_orgs
from ..plans.transcripts import extract_mentions


def run_stream(stream: DataFrame, batch_fn, checkpoint_path: str, *, available_now: bool = False):
    """Start ``stream`` with ``batch_fn(batch_df, batch_id)`` as its
    foreachBatch sink, checkpointed at ``checkpoint_path``;
    ``available_now`` drains what is available, then stops."""
    writer = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def bind_batch(batch_fn, out_dir: str, batch_kw: dict):
    """``batch_fn`` with ``out_dir`` and ``batch_kw`` bound; a misspelt
    keyword raises ``TypeError`` now, not inside the first micro-batch."""
    inspect.signature(batch_fn).bind(None, 0, out_dir, **batch_kw)
    return functools.partial(batch_fn, out_dir=out_dir, **batch_kw)


def incremental_link(
    transcripts_stream: DataFrame,
    y_static: DataFrame,
    sink_path: str,
    checkpoint_path: str,
    cfg: LinkConfig = DEFAULT,
    *,
    max_dist: float = 0.4,
):
    """Start a streaming query linking each micro-batch's mentions to y.

    ``max_dist`` must be fixed (calibration samples are a batch concept);
    pass a threshold calibrated offline on a representative batch.
    """
    # pin the threshold: ave=None keeps calibration (a batch concept) out
    # of the per-micro-batch path (see LinkConfig priority rule)
    run_cfg = cfg.with_(max_dist=max_dist, ave_match_number_per_alias=None)

    def _link_batch(batch_df: DataFrame, batch_id: int) -> None:
        mentions = extract_mentions(batch_df).withColumnRenamed("name", cfg.by_x)
        if not mentions.take(1):
            return
        z = link_orgs(mentions, y_static, run_cfg, algorithm="fuzzy")
        # idempotent per-batch path: replays overwrite, never duplicate
        z.write.mode("overwrite").parquet(f"{sink_path}/batch_id={batch_id}")

    return run_stream(transcripts_stream, _link_batch, checkpoint_path)
