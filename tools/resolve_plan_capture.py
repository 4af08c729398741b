"""Capture the streaming resolver's create-path scoring plan, before/after.

The resolver's scoring frames are internal to ``resolve_batch``, so
the declared-query plan capture can't show them. This tool rebuilds the
create-path `scored` frame on the bench fixture in BOTH formulations —
the round-start form (per-pair ``distance_expr("jaccard")`` over joined
name strings) and the current form (the resolver's own calls: candidates
from ``blocking.shared_gram_pairs``, scores from
``scoring.score_name_pairs`` over one ``scoring.index_side`` frame) — and
writes their ``explain("formatted")`` to
``plans/r07/resolve_scored_{before,after}.txt``. Both formulations are
asserted row- and value-identical first.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    from bench import _session
    from pyspark.sql import functions as F

    spark = _session(int(os.environ.get("SPARK_GRAFT_CPUS", "32")))
    spark.sparkContext.setLogLevel("ERROR")

    from linkorgs_software_spark.config import DEFAULT
    from linkorgs_software_spark.functions.normalize import NORM_COL, prepare_side
    from linkorgs_software_spark.functions.scorers import distance_expr
    from linkorgs_software_spark.operators.blocking import gram_index, shared_gram_pairs
    from linkorgs_software_spark.operators.scoring import index_side, score_name_pairs
    from linkorgs_software_spark.sources.fixtures import gen_linkage_fixture

    cfg = DEFAULT
    fx = gen_linkage_fixture(spark, n_entities=1500, seed=42)
    prep = prepare_side(fx["org_x"].select("name"), "name", "_rid", cfg)
    names = index_side(prep.withColumnRenamed("_rid", "_nid"), "_nid", cfg).persist()
    n_names = names.count()
    tri = gram_index(names, "_nid", cfg).persist()
    cand = (
        shared_gram_pairs(
            tri.withColumnRenamed("_nid", "x_id"),
            tri.withColumnRenamed("_nid", "y_id"),
            cfg,
            x_id="x_id",
            y_id="y_id",
            x_count=n_names,
            y_count=n_names,
        )
        .filter(F.col("x_id") < F.col("y_id"))
        .persist()
    )
    before = (
        cand.join(
            names.select(F.col("_nid").alias("x_id"), F.col(NORM_COL).alias("_nx")),
            "x_id",
        )
        .join(
            names.select(F.col("_nid").alias("y_id"), F.col(NORM_COL).alias("_ny")),
            "y_id",
        )
        .select(
            "x_id",
            "y_id",
            distance_expr("jaccard", "_nx", "_ny", qgram=cfg.qgram).alias(
                "stringdist"
            ),
        )
    )
    after = score_name_pairs(
        cand,
        names.withColumnRenamed("_nid", "x_id"),
        names.withColumnRenamed("_nid", "y_id"),
        cfg,
    ).select("x_id", "y_id", "stringdist")
    mismatch = (
        before.withColumnRenamed("stringdist", "d1")
        .join(after.withColumnRenamed("stringdist", "d2"), ["x_id", "y_id"])
        .filter(F.abs(F.col("d1") - F.col("d2")) > 1e-12)
        .count()
    )
    print(f"pairs={cand.count()} value mismatches={mismatch}")
    assert mismatch == 0
    outdir = "plans/r07"
    os.makedirs(outdir, exist_ok=True)
    for name, df in (("before", before), ("after", after)):
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"resolve_scored_{name}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
