"""Resumable pipeline: link_orgs with a StageCheckpointer skips completed
stages on re-run (north rule: resume from checkpoint with metrics)."""

from linkorgs_software_spark.config import LinkConfig, fixed_threshold_config
from linkorgs_software_spark.plans.pipeline import link_orgs
from linkorgs_software_spark.sources.fixtures import gen_linkage_fixture
from linkorgs_software_spark.sources.io import StageCheckpointer


def test_link_orgs_resumes_from_checkpoints(spark, tmp_path, fixture_tables):
    cfg = fixed_threshold_config(max_dist=0.5, max_dist_network=0.3)
    ckpt = StageCheckpointer(spark, str(tmp_path / "stages"))

    z1 = link_orgs(
        fixture_tables["org_x"],
        fixture_tables["org_y"],
        cfg,
        algorithm="alias",
        directory=fixture_tables["alias_directory"],
        checkpointer=ckpt,
    )
    n1 = z1.count()
    stages = {m["stage"] for m in ckpt.metrics()}
    assert {"scored_raw", "x2net", "y2net", "z_final"} <= stages
    assert all(m["rows"] >= 0 for m in ckpt.metrics())

    # re-run: all stages complete -> no new metrics entries, same output
    n_metrics_before = len(ckpt.metrics())
    z2 = link_orgs(
        fixture_tables["org_x"],
        fixture_tables["org_y"],
        cfg,
        algorithm="alias",
        directory=fixture_tables["alias_directory"],
        checkpointer=ckpt,
    )
    assert z2.count() == n1
    assert len(ckpt.metrics()) == n_metrics_before


def test_checkpointed_equals_uncheckpointed(spark, tmp_path, fixture_tables):
    cfg = fixed_threshold_config(max_dist=0.5)
    ckpt = StageCheckpointer(spark, str(tmp_path / "stages2"))
    plain = link_orgs(fixture_tables["org_x"], fixture_tables["org_y"], cfg)
    ck = link_orgs(
        fixture_tables["org_x"], fixture_tables["org_y"], cfg, checkpointer=ckpt
    )
    a = sorted((r.name_x, r.name_y, round(r.minDist, 9)) for r in plain.collect())
    b = sorted((r.name_x, r.name_y, round(r.minDist, 9)) for r in ck.collect())
    assert a == b


def test_complete_checkpoint_with_too_few_files_is_resplit(spark, tmp_path):
    """Crash-window regression: a checkpoint that committed _SUCCESS but
    crashed BEFORE the resplit swap looks complete with too few files. The
    is_complete read-back path must re-split it (from the materialized
    parquet — never by recomputing the build) or every later run would
    silently serialize downstream jobs on one input split."""
    from linkorgs_software_spark.sources.io import StageCheckpointer

    ckpt = StageCheckpointer(spark, str(tmp_path / "stages3"))
    # simulate the crash artifact: a complete single-file stage
    spark.range(0, 1000).coalesce(1).write.parquet(ckpt._path("s"))
    assert ckpt.is_complete("s")

    def build_must_not_run():
        raise AssertionError("resplit must read the materialized stage back")

    out = ckpt.run("s", build_must_not_run, min_files=8)
    assert len(out.inputFiles()) >= 8
    assert out.count() == 1000
    # and the on-disk stage itself was fixed, not just this read
    assert len(spark.read.parquet(ckpt._path("s")).inputFiles()) >= 8


def test_bucketed_checkpoint_table_names_distinguish_colliding_dirs(tmp_path):
    """/x/a-b and /x/a_b sanitize identically; the digest suffix must keep
    their streaming history tables apart. Tables re-register by name after a
    driver restart, so the names are pinned."""
    import hashlib
    import os
    import re

    from linkorgs_software_spark.streaming.history import history_table_name

    a, b = str(tmp_path / "a-b"), str(tmp_path / "a_b")
    assert re.sub(r"\W+", "_", a) == re.sub(r"\W+", "_", b)  # the collision
    assert history_table_name(a, "buckets") != history_table_name(b, "buckets")
    # deterministic under re-invocation (same path -> same name)
    assert history_table_name(a, "buckets") == history_table_name(a, "buckets")
    digest = hashlib.md5(os.path.abspath(a).encode()).hexdigest()[:8]
    assert digest in history_table_name(a, "buckets")
    assert history_table_name("/data/a-b", "buckets") == (
        "stream_hist_data_a_b_d011d5a0_buckets"
    )
