"""Streaming surface.

The reference is strictly batch — no watermarks, windows, state, or
late-data handling anywhere in ``LinkOrgs/R/`` (SURVEY.md §2.9) — so batch
with resumable checkpoints is the primary mode here too. For continuously
arriving transcripts, ``incremental_link`` wires the same batch pipeline
into Structured Streaming via ``foreachBatch``: each micro-batch of new
mentions links against a static reference side and appends to the sink;
``sessionize_stream`` is the custom *stateful* operator
(``applyInPandasWithState``) giving cross-micro-batch session continuity.
"""

from .dedup import dedup_batch, incremental_exact_dedup  # noqa: F401
from .incremental import incremental_link  # noqa: F401
from .resolve import (  # noqa: F401
    compact_directory,
    incremental_resolve,
    resolve_batch,
)
from .neardup import (  # noqa: F401
    embed_neardup_batch,
    incremental_embed_neardup,
    incremental_neardup_dedup,
    neardup_batch,
    rebucket_embed_history,
)
from .sessions import sessionize_stream  # noqa: F401
from .windows import windowed_event_stats  # noqa: F401
