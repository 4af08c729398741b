"""Sinks: resumable stage checkpoints.

The reference ingests in-memory data.frames and cached ``.Rdata`` downloads
(``LinkOrgs/R/LinkOrgs_LinkOrgs.R:150-163,460-477``; ``BuildHelpers.R:31-69``)
and returns a merged data.frame. Our engine reads/writes columnar tables and
checkpoints every stage for resumability (north rule): in production these
are Iceberg tables (snapshot lineage comes free); in this sandbox the same
API runs on parquet directories with an explicit ``_metrics.json`` per stage
carrying row counts — a re-run detects a completed stage and skips it.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession


def hadoop_fs(spark: SparkSession, path: str):
    """``(FileSystem, Path(path), Path class)``: local disk, HDFS or S3."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    hpath = Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath, Path


def plan_size_bytes(df: DataFrame) -> int | None:
    """The optimizer's size estimate for ``df`` (no action, no ``.rdd``), or
    None when unknown: no JVM plan to probe (Spark Connect frames), or the
    defaultSizeInBytes sentinel (~2^63) of a source without statistics."""
    try:
        raw = df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        size = int(raw if isinstance(raw, int) else raw.toString())
    except Exception:
        return None
    return size if 0 < size < 1 << 50 else None


class StageCheckpointer:
    """Resumable per-stage materialization with row-count metrics.

    ``run(name, build)`` returns the stage's DataFrame: read back from a
    completed checkpoint if one exists (parquet ``_SUCCESS`` marker — the
    Iceberg analogue is a committed snapshot), else computed via ``build()``,
    written, and logged to ``<base>/_metrics.jsonl`` with rows + wall time.
    """

    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base_dir = base_dir
        os.makedirs(base_dir, exist_ok=True)

    def _path(self, name: str) -> str:
        return os.path.join(self.base_dir, name)

    def is_complete(self, name: str) -> bool:
        return os.path.exists(os.path.join(self._path(name), "_SUCCESS"))

    def run(self, name: str, build, *, min_files: int = 16) -> DataFrame:
        """``min_files`` guards the re-read side: a stage written as one
        file reads back as ONE input split, silently serializing every
        downstream job (observed: a 10M-row stage ran a '32-core' scoring
        job on a single core). Stages end up with at least this many files:
        the first write runs at the plan's natural parallelism, and only a
        stage that landed as too few files is re-split — from the already
        MATERIALIZED parquet (a cheap read+write of a small stage), never by
        recomputing the build. The probe is the reader's file listing, not
        ``.rdd`` (an RDD conversion forces driver-side physical planning)."""
        path = self._path(name)
        if self.is_complete(name):
            # re-check min_files here too: a crash between the first write's
            # _SUCCESS commit and the resplit swap below leaves a COMPLETE-
            # looking checkpoint with too few files — without this check
            # every later run would return the under-split stage forever,
            # silently reintroducing the one-file-split serialization trap
            # this mechanism exists to prevent
            return self._ensure_min_files(path, min_files)
        t0 = time.time()
        df = build()
        df.write.mode("overwrite").parquet(path)
        out = self._ensure_min_files(path, min_files)
        # Per-partition lineage (north rule): one row count per output file,
        # derived in a single pass from input_file_name() — the parquet
        # stand-in for Iceberg's per-data-file manifest statistics. The same
        # pass yields the stage total (no extra count() action).
        from pyspark.sql import functions as F

        per_file = (
            out.groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        rows = sum(r.rows for r in per_file)
        rec = {
            "stage": name,
            "rows": rows,
            "partitions": len(out.inputFiles()),
            "secs": round(time.time() - t0, 3),
            "files": {os.path.basename(r.file): r.rows for r in per_file},
        }
        with open(os.path.join(self.base_dir, "_metrics.jsonl"), "a") as f:
            f.write(json.dumps(rec) + "\n")
        return out

    def _ensure_min_files(self, path: str, min_files: int) -> DataFrame:
        """Read ``path`` back, re-splitting from the materialized parquet
        when it landed as fewer than ``min_files`` files (tmp write + atomic
        Hadoop-FS rename — never recomputes the build).

        A ``_resplit_done`` marker (underscore-prefixed: invisible to the
        parquet reader) makes the resplit happen AT MOST ONCE per stage: a
        tiny stage can never reach ``min_files`` non-empty files (empty
        shuffle partitions write no file), so a file-count-only trigger
        would delete-and-rewrite the stage on EVERY call, invalidating
        DataFrames returned by earlier calls (observed: a second
        ``run()`` broke the first run's frame mid-test)."""
        out = self.spark.read.parquet(path)
        if not min_files or len(out.inputFiles()) >= min_files:
            return out
        fs, hpath, Path = hadoop_fs(self.spark, path)
        marker = Path(path, "_resplit_done")
        if fs.exists(marker):
            return out
        tmp = path + "__resplit"
        out.repartition(min_files).write.mode("overwrite").parquet(tmp)
        fs.delete(hpath, True)
        fs.rename(Path(tmp), hpath)
        fs.create(marker, True).close()
        return self.spark.read.parquet(path)

    def metrics(self) -> list[dict]:
        p = os.path.join(self.base_dir, "_metrics.jsonl")
        if not os.path.exists(p):
            return []
        with open(p) as f:
            return [json.loads(line) for line in f if line.strip()]
