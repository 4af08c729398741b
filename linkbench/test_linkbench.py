"""Tests for the benchmark's own code: the generators, the output-check
helpers, the scalar references, the event-log fold and the metric catalog.

    python3 -m pytest linkbench -q
"""

from __future__ import annotations

import json
import os

import pyarrow.parquet as pq
import pytest

from linkbench import gen, reference, run
from linkbench.trace import Tracer, fold_event_log, tagged
from linkbench.workloads import WORKLOADS, pairwise_f1, set_f1

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "make",
    [
        lambda seed: [gen.score_pairs_table(seed, 500, n_names=100)],
        lambda seed: list(gen.corpus_tables(seed, 200, n_passages=10, n_reposts=10)),
        lambda seed: list(gen.mention_stream_tables(seed, 50)),
    ],
    ids=["score_bulk", "corpus_dedup", "resolve_stream"],
)
def test_generators_repeat_per_seed(make):
    assert all(a.equals(b) for a, b in zip(make(3), make(3)))
    assert not all(a.equals(b) for a, b in zip(make(3), make(4)))


def test_planted_passages_are_one_run_per_host():
    docs, passages, reposts = gen.corpus_tables(5, 200, n_passages=10, n_reposts=10)
    texts = [f" {t} " for t in docs.column("text").to_pylist()]
    for p in passages.column("passage").to_pylist():
        hosts = [t for t in texts if f" {p} " in t]
        assert len(hosts) >= 2
        # the word before (and after) the passage differs between hosts
        before = {t.split(f" {p} ")[0].split()[-1] for t in hosts}
        after = {t.split(f" {p} ")[1].split()[0] for t in hosts}
        assert len(before) == len(after) == len(hosts)
    for a, b in zip(reposts.column("id_a").to_pylist(), reposts.column("id_b").to_pylist()):
        wa, wb = texts[a].split(), texts[b].split()
        assert len(wa) == len(wb)
        assert 1 <= sum(x != y for x, y in zip(wa, wb)) <= 2


def test_mention_stream_batches():
    mentions, labels = gen.mention_stream_tables(1, 40, n_batches=3)
    batch = mentions.column("batch").to_pylist()
    assert batch.count(0) == 40 and set(batch) == {0, 1, 2}
    assert labels.column("mention_id").to_pylist() == mentions.column("mention_id").to_pylist()


def test_references_known_values():
    assert reference.osa("ca", "abc") == 3.0  # no substring edited twice
    assert reference.osa("abcd", "abdc") == 1.0
    assert reference.osa("", "abc") == 3.0
    assert reference.jaro("martha", "marhta") == pytest.approx(0.944444, abs=1e-6)
    assert reference.jaro_winkler_dist("martha", "marhta") == pytest.approx(1 - 0.961111, abs=1e-6)
    assert reference.jaro_winkler_dist("abc", "abc") == 0.0
    assert reference.jaccard_dist("abc", "abd") == pytest.approx(1 - 1 / 3)
    assert reference.jaccard_dist("a", "b") == 0.0


def test_quality_helpers():
    truth = {1: "a", 2: "a", 3: "b", 4: "b"}
    assert pairwise_f1(truth, truth) == 1.0
    assert pairwise_f1({1: 0, 2: 0, 3: 0, 4: 0}, truth) == pytest.approx(2 * (2 / 6) / (1 + 2 / 6))
    assert pairwise_f1({1: 1, 2: 2, 3: 3, 4: 4}, truth) == 0.0
    assert set_f1({(1, 2)}, {(1, 2), (3, 4)}) == pytest.approx(2 / 3)


def test_benchmark_json_matches_catalog():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for w in spec["workloads"]:
        assert WORKLOADS[w["name"]].why == w["why"]
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert len(spec["per_layer"]) <= 128


@pytest.fixture(scope="module")
def session_dir(tmp_path_factory):
    return str(tmp_path_factory.mktemp("linkbench"))


def test_event_log_fold_per_tag(session_dir):
    from pyspark.sql import functions as F

    from linkbench import host

    log_dir = os.path.join(session_dir, "eventlog")
    spark = host.start_session(session_dir, 2)
    spark.range(10).collect()  # before the log is attached: not recorded
    tracer = Tracer(spark)
    with host.event_log(spark, log_dir):
        with tracer.layer("narrow"):
            tracer.rows_out["narrow"] += len(spark.range(0, 1000, 1, 4).filter("id % 2 = 0").collect())
        with tracer.layer("wide"):
            rows = spark.range(0, 1000, 1, 4).groupBy((F.col("id") % 7).alias("k")).count().collect()
            tracer.rows_out["wide"] += len(rows)
        with tagged(spark, "outer"):
            with tagged(spark, "inner"):
                spark.range(10).count()
            spark.range(10).count()
        spark.range(10).count()
    with tracer.layer("after"):
        spark.range(10).count()

    folded = fold_event_log(log_dir)
    assert folded["narrow"].jobs >= 1 and folded["wide"].jobs >= 1
    # the same action under each tag: leaving the inner block restores "outer"
    assert folded["inner"].jobs == folded["outer"].jobs >= 1
    assert folded[None].jobs >= 1
    assert folded["narrow"].shuffle_mb == 0.0
    assert folded["wide"].shuffle_mb > 0.0
    assert folded["narrow"].cpu_s > 0.0 and folded["narrow"].skew >= 1.0
    m = tracer.metrics(("narrow", "wide", "absent"), folded)
    assert m["narrow.rows_out"] == 500 and m["wide.rows_out"] == 7
    assert m["wide.wall_s"] > 0.0
    assert m["absent.jobs"] == 0 and m["absent.wall_s"] == 0.0
    assert "after" not in folded
    spark.stop()


def test_link_alias_inputs_repeat_per_seed(tmp_path):
    wl = WORKLOADS["link_alias"]()
    wl.n_entities = 20

    def tables(seed, rep):
        dest = str(tmp_path / f"link-{seed}-{rep}")
        wl.generate(None, seed, dest)
        return [pq.read_table(os.path.join(dest, k)) for k in ("org_x", "org_y", "alias_directory", "z_true")]

    first = tables(1, 0)
    assert [t.num_rows for t in first[:2]] == [20, 20]
    assert all(a.equals(b) for a, b in zip(first, tables(1, 1)))
    assert not all(a.equals(b) for a, b in zip(first, tables(2, 0)))
