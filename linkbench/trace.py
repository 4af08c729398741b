"""Per-layer tracing from the benchmark's own code.

``Tracer.layer(name)`` times one call into a package layer and tags the
Spark jobs it starts through the ``spark.job.description`` local property.
``fold_event_log`` reads the Spark event log written around the traced pass
(``host.event_log``) and folds ``SparkListenerJobStart``,
``SparkListenerStageSubmitted`` and ``SparkListenerTaskEnd`` events per tag
into jobs, executor CPU, shuffle bytes, spill and task skew.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field

TAG_KEY = "spark.job.description"
MB = 2**20


@dataclass
class TagStats:
    """What the event log says about the jobs of one tag."""

    jobs: int = 0
    cpu_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    # per stage: executor run time (ms) of each finished task
    task_ms: dict = field(default_factory=lambda: defaultdict(list))

    @property
    def skew(self) -> float:
        """max / median task run time of the tag's costliest stage (the
        stage with the largest summed task run time); 1.0 when that stage
        ran fewer than two tasks."""
        if not self.task_ms:
            return 0.0
        times = max(self.task_ms.values(), key=sum)
        if len(times) < 2:
            return 1.0
        return max(times) / max(statistics.median(times), 1.0)


def fold_event_log(log_dir: str) -> dict[str | None, TagStats]:
    """Fold every finished event-log file under ``log_dir`` per job tag.

    Untagged jobs fold under ``None``. A stage is charged to the tag of the
    job that submitted it, so a stage skipped by a later job (its shuffle
    output reused) is not charged twice.
    """
    stats: dict[str | None, TagStats] = defaultdict(TagStats)
    stage_tag: dict[int, str | None] = {}
    files = sorted(f for f in os.listdir(log_dir) if not f.endswith(".inprogress"))
    if not files:
        raise FileNotFoundError(f"no finished event log under {log_dir}")
    for name in files:
        with open(os.path.join(log_dir, name)) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    stats[(ev.get("Properties") or {}).get(TAG_KEY)].jobs += 1
                elif kind == "SparkListenerStageSubmitted":
                    sid = ev["Stage Info"]["Stage ID"]
                    stage_tag[sid] = (ev.get("Properties") or {}).get(TAG_KEY)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    if not m:
                        continue
                    sid = ev["Stage ID"]
                    s = stats[stage_tag.get(sid)]
                    s.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    w = m.get("Shuffle Write Metrics") or {}
                    s.shuffle_mb += w.get("Shuffle Bytes Written", 0) / MB
                    s.spill_mb += m.get("Disk Bytes Spilled", 0) / MB
                    s.task_ms[sid].append(m.get("Executor Run Time", 0))
    return stats


@contextmanager
def tagged(spark, tag: str):
    """Tag every Spark job started inside the block with ``tag``."""
    sc = spark.sparkContext
    prev = sc.getLocalProperty(TAG_KEY)
    sc.setLocalProperty(TAG_KEY, tag)
    try:
        yield
    finally:
        sc.setLocalProperty(TAG_KEY, prev)


class Tracer:
    """Wall time and output rows per layer, summed over that layer's calls."""

    def __init__(self, spark):
        self.spark = spark
        self.wall_s: dict[str, float] = defaultdict(float)
        self.rows_out: dict[str, int] = defaultdict(int)

    @contextmanager
    def layer(self, name: str):
        """Time and tag one call into layer ``name``. The block must
        materialize the call's output and add its row count to
        ``self.rows_out[name]``."""
        with tagged(self.spark, name):
            t0 = time.perf_counter()
            try:
                yield
            finally:
                self.wall_s[name] += time.perf_counter() - t0

    def metrics(self, layers, folded: dict[str | None, TagStats]) -> dict[str, float]:
        """``<layer>.<metric>`` for every layer in ``layers``; a layer this
        run never called reports zeros."""
        out: dict[str, float] = {}
        for name in layers:
            s = folded.get(name, TagStats())
            out.update(
                {
                    f"{name}.wall_s": self.wall_s.get(name, 0.0),
                    f"{name}.jobs": s.jobs,
                    f"{name}.cpu_s": s.cpu_s,
                    f"{name}.shuffle_mb": s.shuffle_mb,
                    f"{name}.spill_mb": s.spill_mb,
                    f"{name}.skew": s.skew,
                    f"{name}.rows_out": self.rows_out.get(name, 0),
                }
            )
        return out


def materialize(df):
    """Persist ``df`` and count it; returns ``(df, rows)``."""
    from pyspark.storagelevel import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK_DESER)
    return df, df.count()
