"""Transcript invariants (driver input_hint), mention extraction and
checkpointer resumability."""

from pyspark.sql import Window
from pyspark.sql import functions as F

from linkorgs_software_spark.config import fixed_threshold_config
from linkorgs_software_spark.plans.pipeline import link_orgs
from linkorgs_software_spark.plans.transcripts import extract_mentions
from linkorgs_software_spark.sources.fixtures import gen_linkage_fixture, gen_transcripts
from linkorgs_software_spark.sources.io import StageCheckpointer


def test_transcript_schema_and_turn_ordering(spark):
    tr = gen_transcripts(spark, n_conversations=10)
    assert tr.schema.simpleString() == (
        "struct<conv_id:string,turn_idx:int,role:string,text:string,"
        "tool:string,ts:timestamp>"
    )
    # turn_idx dense & unique per conv; ts monotone within conv
    w = Window.partitionBy("conv_id").orderBy("turn_idx")
    checked = tr.withColumn("prev_ts", F.lag("ts").over(w)).withColumn(
        "prev_idx", F.lag("turn_idx").over(w)
    )
    bad = checked.filter(
        (F.col("prev_idx").isNotNull())
        & ((F.col("turn_idx") != F.col("prev_idx") + 1) | (F.col("ts") < F.col("prev_ts")))
    )
    assert bad.count() == 0


def test_linkage_preserves_transcripts(spark):
    """Per-turn text equality: deriving mentions and linking must not perturb
    the transcripts table (north rule per-row invariant)."""
    tr = gen_transcripts(spark, n_conversations=15).cache()
    before = [(r.conv_id, r.turn_idx, r.text) for r in tr.orderBy("conv_id", "turn_idx").collect()]

    mentions = extract_mentions(tr).withColumnRenamed("name", "name")
    fx = gen_linkage_fixture(spark, n_entities=20, seed=42)
    link_orgs(
        mentions.select(F.col("name"), F.lit("m").alias("conv_id")),
        fx["org_y"],
        fixed_threshold_config(max_dist=0.6),
    ).count()

    after = [(r.conv_id, r.turn_idx, r.text) for r in tr.orderBy("conv_id", "turn_idx").collect()]
    assert before == after


def test_mentions_exactly_recoverable(spark):
    tr = gen_transcripts(spark, n_conversations=10)
    m = extract_mentions(tr)
    assert m.count() > 0
    # every extracted mention literally appears bracketed in its turn text
    joined = m.join(tr, ["conv_id", "turn_idx"])
    bad = joined.filter(
        ~F.col("text").contains(F.concat(F.lit("[["), F.col("name"), F.lit("]]")))
    )
    assert bad.count() == 0


def test_checkpointer_resumes(spark, tmp_path):
    ckpt = StageCheckpointer(spark, str(tmp_path / "stages"))
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5)

    df1 = ckpt.run("stage_a", build)
    df2 = ckpt.run("stage_a", build)  # must NOT rebuild
    assert calls["n"] == 1
    assert df1.count() == df2.count() == 5
    m = ckpt.metrics()
    assert m[0]["stage"] == "stage_a" and m[0]["rows"] == 5
