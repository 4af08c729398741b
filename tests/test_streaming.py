"""Structured Streaming smoke: incremental linkage over a file-source
transcript stream via foreachBatch (streaming/incremental.py)."""

import os

import pytest
from pyspark.sql import functions as F

from linkorgs_software_spark.config import LinkConfig
from linkorgs_software_spark.sources.fixtures import (
    TRANSCRIPT_SCHEMA,
    gen_linkage_fixture,
    gen_transcripts,
)
from linkorgs_software_spark.streaming import incremental_link


def test_incremental_link_file_stream(spark, tmp_path):
    fx = gen_linkage_fixture(spark, n_entities=15, seed=42)
    names = [r.name for r in fx["org_x"].collect()]
    tr = gen_transcripts(spark, n_conversations=12, seed=42, org_names=names)

    src = str(tmp_path / "stream_src")
    sink = str(tmp_path / "stream_sink")
    ckpt = str(tmp_path / "stream_ckpt")
    tr.write.mode("overwrite").parquet(src)

    stream = (
        spark.readStream.schema(TRANSCRIPT_SCHEMA)
        .parquet(src)
    )
    cfg = LinkConfig(by_x="name", by_y="name")
    q = incremental_link(stream, fx["org_x"], sink, ckpt, cfg, max_dist=0.3)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    out = spark.read.parquet(sink)
    assert out.count() > 0
    # linked mentions are verbatim org names at max_dist 0.3 -> exact pairs
    assert out.filter(F.col("minDist") > 0.3).count() == 0
    # idempotent sink layout: one batch_id=N partition per micro-batch
    assert "batch_id" in out.columns


def test_sessionize_stream_state_spans_micro_batches(spark, tmp_path):
    """The stateful sessionizer must continue a session across micro-batches
    (event within the gap of the user's last event from the PREVIOUS batch)
    and open a new one after a long silence."""
    import datetime as dt

    from linkorgs_software_spark.streaming import sessionize_stream

    src = str(tmp_path / "sess_src")
    sink = str(tmp_path / "sess_sink")
    ckpt = str(tmp_path / "sess_ckpt")
    os.makedirs(src, exist_ok=True)
    schema = "event_id long, user_id long, ts timestamp"
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def _write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    # batch A: two events 10 min apart (one session)
    _write("a", [(1, 7, t0), (2, 7, t0 + dt.timedelta(minutes=10))])
    stream = spark.readStream.schema(schema).option(
        "pathGlobFilter", "*.parquet"
    ).parquet(f"{src}/*")
    q = (
        sessionize_stream(stream, gap_minutes=30.0)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    # batch B: +20 min (same session, continuity lives in state) and +3 h (new)
    _write("b", [(3, 7, t0 + dt.timedelta(minutes=30)),
                 (4, 7, t0 + dt.timedelta(hours=3))])
    q2 = (
        sessionize_stream(stream, gap_minutes=30.0)
        .writeStream.format("parquet")
        .option("path", sink)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q2.awaitTermination(120)

    out = {r.event_id: r.session_seq for r in spark.read.parquet(sink).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 2}


def test_incremental_dedup_replay_is_idempotent(spark, tmp_path):
    """A re-executed micro-batch (failure before checkpoint commit) must
    reproduce its first attempt's output — NOT anti-join against its own
    previous attempt's history slice and overwrite itself with nothing."""
    from linkorgs_software_spark.streaming import dedup_batch

    out = str(tmp_path / "rp_out")
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, "alpha"), (2, "beta")], schema)
    b1 = spark.createDataFrame([(3, "beta"), (4, "gamma")], schema)

    dedup_batch(b0, 0, out)
    dedup_batch(b1, 1, out)
    kept_first = sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=1").collect()
    )
    assert kept_first == [4]  # beta is a cross-batch dup

    dedup_batch(b1, 1, out)  # replay of batch 1 with identical data
    kept_replay = sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=1").collect()
    )
    assert kept_replay == [4]  # same output, not silently emptied
    hist = spark.read.parquet(f"{out}/history")
    assert hist.count() == 3  # alpha, beta, gamma — each exactly once


def test_incremental_dedup_corrupt_history_fails_batch(spark, tmp_path):
    """An unreadable history file must FAIL the batch (so the checkpoint
    retries) rather than be treated as 'no history yet' and admit dups."""
    import pytest

    from linkorgs_software_spark.streaming import dedup_batch

    out = str(tmp_path / "cr_out")
    schema = "doc_id long, text string"
    dedup_batch(spark.createDataFrame([(1, "alpha")], schema), 0, out)
    # corrupt batch 0's history partition
    part_dir = f"{out}/history/batch_id=0"
    for name in os.listdir(part_dir):
        if name.endswith(".parquet"):
            with open(os.path.join(part_dir, name), "wb") as fh:
                fh.write(b"not a parquet file")
    with pytest.raises(Exception):
        dedup_batch(spark.createDataFrame([(2, "alpha")], schema), 1, out)


_BASE = (
    "the quick brown fox jumps over the lazy dog while the sun shines over "
    "the quiet green valley near the old stone bridge"
)
_EDITED = _BASE.replace("lazy dog", "sleepy dog")  # near-dup: one token edit
_OTHER = (
    "completely different subject matter entirely about spacecraft engines "
    "and orbital mechanics with no shared phrasing whatsoever in any window"
)


def test_incremental_neardup_drops_cross_batch_edits(spark, tmp_path):
    """A lightly-EDITED re-ingestion (not byte-identical — exact dedup
    would miss it) must be dropped against the LSH history; genuinely new
    docs pass; intra-batch near-dups collapse to the min id."""
    from linkorgs_software_spark.streaming import neardup_batch

    out = str(tmp_path / "nd_out")
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(1, _BASE), (2, _OTHER)], schema)
    genuinely_new = (
        "a recipe for sourdough bread requires patient fermentation of the "
        "starter culture and careful folding of the wet dough overnight"
    )
    b1 = spark.createDataFrame([(4, _EDITED), (5, genuinely_new)], schema)

    neardup_batch(b0, 0, out, threshold=0.5)
    neardup_batch(b1, 1, out, threshold=0.5)
    kept0 = sorted(r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=0").collect())
    kept1 = sorted(r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=1").collect())
    assert kept0 == [1, 2]
    assert kept1 == [5]  # 4 is a near-dup of doc 1 from batch 0


def test_incremental_neardup_intra_batch_and_replay(spark, tmp_path):
    """Within one micro-batch the smaller id of a verified near-dup pair is
    kept; replaying a batch reproduces its first output (history reads
    exclude the current batch_id)."""
    from linkorgs_software_spark.streaming import neardup_batch

    out = str(tmp_path / "nd_rp")
    schema = "doc_id long, text string"
    b0 = spark.createDataFrame([(7, _BASE), (8, _EDITED), (9, _OTHER)], schema)
    neardup_batch(b0, 0, out, threshold=0.5)
    kept = sorted(r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=0").collect())
    assert kept == [7, 9]  # 8 collapsed into 7 intra-batch

    neardup_batch(b0, 0, out, threshold=0.5)  # replay
    kept_replay = sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=0").collect()
    )
    assert kept_replay == [7, 9]  # not emptied by its own prior history


def _drain_case(kind):
    """One history starter's two-drain scenario: (starter, schema, drain-1
    rows, drain-2 rows, starter keywords, kept ids, the history slice
    holding one row per kept record)."""
    from linkorgs_software_spark import streaming

    text = "doc_id long, text string"
    if kind == "exact":
        return (
            streaming.incremental_exact_dedup, text,
            [(1, "alpha"), (2, "alpha"), (3, "beta")],  # 2 is intra dup
            [(4, "alpha"), (5, "gamma")],  # 4 is cross dup
            {}, [1, 3, 5], "history",  # one history row per unique content
        )
    if kind == "neardup":
        return (
            streaming.incremental_neardup_dedup, text,
            [(1, _BASE)],
            [(2, _EDITED), (3, _OTHER)],  # 2 is an edited re-post of 1
            {"threshold": 0.5}, [1, 3], "history/shingles",
        )
    import numpy as np

    rng = np.random.RandomState(3)
    base, other = rng.normal(size=16), rng.normal(size=16)
    pert = base + rng.normal(scale=1e-3, size=16)
    return (
        streaming.incremental_embed_neardup, "vec_id long, embedding array<float>",
        [(1, [float(x) for x in base])],
        [(2, [float(x) for x in pert]), (3, [float(x) for x in other])],  # 2 ~ 1
        {"dim": 16, "threshold": 0.99}, [1, 3], "history/embeddings",
    )


@pytest.mark.parametrize("kind", ["exact", "neardup", "embed"])
def test_history_stream_two_drains(spark, tmp_path, kind):
    """The writeStream wiring: two availableNow drains over a file source.
    A record seen in an earlier drain is not emitted again, even under a
    different id (or, for the near-dup starters, lightly edited);
    intra-batch dups collapse to the min id."""
    starter, schema, rows_a, rows_b, kw, want, hist = _drain_case(kind)
    src, out, ckpt = (str(tmp_path / d) for d in ("src", "out", "ckpt"))

    def _drain(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")
        stream = spark.readStream.schema(schema).parquet(f"{src}/*")
        q = starter(stream, out, ckpt, available_now=True, **kw)
        q.awaitTermination(180)

    _drain("a", rows_a)
    _drain("b", rows_b)
    id_col = schema.split()[0]
    kept = sorted(r[id_col] for r in spark.read.parquet(f"{out}/docs").collect())
    assert kept == want
    assert spark.read.parquet(f"{out}/{hist}").count() == len(want)


def test_starters_check_arguments_before_start(spark, tmp_path):
    """A bad starter argument fails before the stream starts, not inside a
    micro-batch after earlier ones committed: ``merge_every=0`` (a modulo
    by zero in batch 1) raises ValueError, and a misspelt batch keyword
    raises TypeError in every history starter."""
    from linkorgs_software_spark import streaming

    os.makedirs(tmp_path / "src")
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(tmp_path / "src")
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    with pytest.raises(ValueError, match="merge_every"):
        streaming.incremental_resolve(stream, out, ckpt, merge_every=0)
    for starter, kw in [
        (streaming.incremental_exact_dedup, {}),
        (streaming.incremental_neardup_dedup, {}),
        (streaming.incremental_embed_neardup, {"dim": 16}),
        (streaming.incremental_resolve, {}),
    ]:
        with pytest.raises(TypeError, match="compact_evry"):
            starter(stream, out, ckpt, compact_evry=2, **kw)
    assert not spark.streams.active
    assert not os.path.exists(ckpt)


def test_incremental_embed_neardup_cross_batch_and_replay(spark, tmp_path):
    """Vector-space streaming dedup: a perturbed re-post of a batch-0
    embedding (cosine ~1) is dropped in batch 1 while an orthogonal-ish new
    vector passes; replaying a batch reproduces its first output."""
    import numpy as np

    from linkorgs_software_spark.streaming import embed_neardup_batch

    rng = np.random.RandomState(3)
    base = rng.normal(size=16)
    other = rng.normal(size=16)
    pert = base + rng.normal(scale=1e-3, size=16)

    def _df(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    out = str(tmp_path / "ev_out")
    embed_neardup_batch(_df([(1, base), (2, other)]), 0, out, dim=16, threshold=0.99)
    b1 = _df([(3, pert), (4, rng.normal(size=16))])
    embed_neardup_batch(b1, 1, out, dim=16, threshold=0.99)
    kept0 = sorted(r.vec_id for r in spark.read.parquet(f"{out}/docs/batch_id=0").collect())
    kept1 = sorted(r.vec_id for r in spark.read.parquet(f"{out}/docs/batch_id=1").collect())
    assert kept0 == [1, 2]
    assert kept1 == [4]  # 3 is a cosine near-dup of vector 1

    embed_neardup_batch(b1, 1, out, dim=16, threshold=0.99)  # replay
    kept_replay = sorted(
        r.vec_id for r in spark.read.parquet(f"{out}/docs/batch_id=1").collect()
    )
    assert kept_replay == [4]


def test_incremental_embed_neardup_intra_batch(spark, tmp_path):
    import numpy as np

    from linkorgs_software_spark.streaming import embed_neardup_batch

    rng = np.random.RandomState(5)
    v = rng.normal(size=16)
    rows = [(7, v), (8, v + rng.normal(scale=1e-3, size=16)), (9, rng.normal(size=16))]
    df = spark.createDataFrame(
        [(i, [float(x) for x in w]) for i, w in rows],
        "vec_id long, embedding array<float>",
    )
    out = str(tmp_path / "ei_out")
    embed_neardup_batch(df, 0, out, dim=16, threshold=0.99)
    kept = sorted(r.vec_id for r in spark.read.parquet(f"{out}/docs/batch_id=0").collect())
    assert kept == [7, 9]  # 8 collapsed into 7


def test_neardup_oversized_batch_still_caps(spark, tmp_path):
    """Text-path twin of the embed cap-guard test: a micro-batch flood of
    identical documents exceeding max_bucket_df may not pair-join itself
    (all flood rows kept), while a distinct planted near-dup pair still
    collapses — the no-op guard must not disable the cap."""
    from linkorgs_software_spark.streaming import neardup_batch

    flood = [(i, "the flooded viral boilerplate document body") for i in range(120)]
    pair_text = "a genuinely distinct planted near duplicate passage here"
    rows = flood + [(1000, pair_text), (1001, pair_text)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = str(tmp_path / "tcap_out")
    neardup_batch(df, 0, out, threshold=0.5, max_bucket_df=50)
    kept = sorted(r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=0").collect())
    assert set(range(120)) <= set(kept)  # flood bucket over cap: no self-pairs
    assert 1000 in kept and 1001 not in kept


def test_embed_neardup_oversized_batch_still_caps(spark, tmp_path):
    """The round-6 df-cap no-op guard (skip when batch rows <= max_bucket_df)
    must NOT disable the cap on a genuinely oversized micro-batch: a flood of
    identical vectors exceeding the cap may not pair-join itself (all flood
    rows kept — the over-cap bucket is excluded from candidates), while a
    planted near-dup pair in a small bucket still collapses."""
    import numpy as np

    from linkorgs_software_spark.streaming import embed_neardup_batch

    rng = np.random.RandomState(11)
    v = rng.normal(size=16)
    rows = [(i, v) for i in range(120)]  # identical flood, one bucket
    w = rng.normal(size=16)
    rows += [(1000, w), (1001, w + rng.normal(scale=1e-3, size=16))]
    df = spark.createDataFrame(
        [(i, [float(x) for x in u]) for i, u in rows],
        "vec_id long, embedding array<float>",
    )
    out = str(tmp_path / "ecap_out")
    embed_neardup_batch(df, 0, out, dim=16, threshold=0.99, max_bucket_df=50)
    kept = sorted(r.vec_id for r in spark.read.parquet(f"{out}/docs/batch_id=0").collect())
    assert set(range(120)) <= set(kept)  # flood bucket over cap: no self-pairs
    assert 1000 in kept and 1001 not in kept  # small bucket still dedups


def test_lsh_occupancy_guard_thresholds():
    """Pure-function guardrail: silent under the occupancy threshold, a
    RuntimeWarning naming the restart plane count above it."""
    import warnings

    from linkorgs_software_spark.operators.ann import lsh_occupancy_guard

    with warnings.catch_warnings():
        warnings.simplefilter("error")  # any warning would fail the test
        occ = lsh_occupancy_guard(1000, n_planes=8, num_tables=4)
    assert occ < 1.0  # 1000 rows over 1024 buckets
    with pytest.warns(RuntimeWarning, match=r"n_planes>=\d+"):
        occ = lsh_occupancy_guard(100_000, n_planes=4, num_tables=2)
    assert occ > 64.0


def test_embed_neardup_stream_warns_when_planes_outgrown(spark, tmp_path):
    """A stream started at a too-small n_planes must tell the operator:
    an over-occupied micro-batch (vocabulary bound > 4x the 16-row target)
    emits the restart warning; processing still completes."""
    import numpy as np

    from linkorgs_software_spark.streaming import embed_neardup_batch

    rng = np.random.RandomState(7)
    df = spark.createDataFrame(
        [(i, [float(x) for x in rng.normal(size=8)]) for i in range(600)],
        "vec_id long, embedding array<float>",
    )
    out = str(tmp_path / "eocc_out")
    with pytest.warns(RuntimeWarning, match="restart the stream with n_planes"):
        embed_neardup_batch(
            df, 0, out, dim=8, n_planes=2, num_tables=2,
            threshold=0.999, max_bucket_df=100,
        )
    assert spark.read.parquet(f"{out}/docs/batch_id=0").count() > 0


def test_rebucket_embed_history_migrates_plane_count(spark, tmp_path):
    """The guardrail's prescribed action: stop the stream, re-hash kept
    history at the recommended plane count, restart. After rebucketing a
    4-plane history to 8 planes, (a) the bucket table equals a fresh
    8-plane hash of the stored embeddings, and (b) the restarted stream
    (now at 8 planes) still drops a perturbed twin of a pre-migration
    vector via the cross-batch history join."""
    import numpy as np

    from linkorgs_software_spark.operators.ann import lsh_buckets
    from linkorgs_software_spark.streaming import (
        embed_neardup_batch,
        rebucket_embed_history,
    )
    from linkorgs_software_spark.streaming.history import history_table_name

    rng = np.random.RandomState(13)
    base, other = rng.normal(size=16), rng.normal(size=16)

    def _df(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    out = str(tmp_path / "remig_out")
    kw = dict(dim=16, threshold=0.99, num_tables=2, seed=7)
    embed_neardup_batch(_df([(1, base), (2, other)]), 0, out, n_planes=4, **kw)
    embed_neardup_batch(_df([(3, rng.normal(size=16))]), 1, out, n_planes=4, **kw)

    n = rebucket_embed_history(
        spark, out, dim=16, n_planes=8, num_tables=2, seed=7
    )
    assert n == 2  # both history partitions rewritten

    # (a) bucket table now IS the 8-plane hash of the stored embeddings
    tbl = spark.table(history_table_name(out, "embuckets"))
    got = {(r.vec_id, r.table_id, r.bucket) for r in tbl.collect()}
    emb = spark.read.parquet(f"{out}/history/embeddings")
    want = {
        (r.vec_id, r.table_id, r.bucket)
        for r in lsh_buckets(
            emb.select("vec_id", "embedding"), vec_col="embedding",
            dim=16, n_planes=8, num_tables=2, seed=7,
        ).collect()
    }
    assert got == want and len(got) == 3 * 2  # 3 kept vecs x 2 tables

    # (b) restart at 8 planes: a twin of pre-migration vector 1 is dropped
    pert = base + rng.normal(scale=1e-3, size=16)
    embed_neardup_batch(
        _df([(9, pert), (10, rng.normal(size=16))]), 2, out, n_planes=8, **kw
    )
    kept2 = sorted(
        r.vec_id for r in spark.read.parquet(f"{out}/docs/batch_id=2").collect()
    )
    assert kept2 == [10]


def test_maybe_compact_requires_a_history_slice(spark):
    from linkorgs_software_spark.streaming.history import maybe_compact

    with pytest.raises(ValueError, match="plain_paths"):
        maybe_compact(spark, watermark=3, every=2)


def test_windowed_stream_watermark_drops_late_events(spark, tmp_path):
    """Append-mode windowed agg: a window emits once its end passes the
    watermark, and an event arriving later than the watermark is dropped —
    the bounded-state / bounded-lateness contract."""
    import datetime as dt

    from linkorgs_software_spark.streaming import windowed_event_stats

    src = str(tmp_path / "win_src")
    sink = str(tmp_path / "win_sink")
    ckpt = str(tmp_path / "win_ckpt")
    os.makedirs(src, exist_ok=True)
    schema = "event_id long, event_type string, ts timestamp, value double"
    t0 = dt.datetime(2026, 1, 1, 12, 0, 0)

    def _write(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(f"{src}/{name}")

    def _run():
        stream = spark.readStream.schema(schema).parquet(f"{src}/*")
        q = (
            windowed_event_stats(stream, window="10 minutes", watermark="30 minutes")
            .writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # batch A: two events in the 12:00 window + one at 13:00 that advances
    # the watermark to 12:30 (past the 12:00 window's end)
    _write("a", [
        (1, "click", t0, 1.0),
        (2, "click", t0 + dt.timedelta(minutes=5), 1.0),
        (3, "click", t0 + dt.timedelta(hours=1), 1.0),
    ])
    _run()
    # batch B: a LATE event for the already-finalized 12:00 window (must be
    # dropped) + a fresh event far ahead so the 13:00 window finalizes too
    _write("b", [
        (4, "click", t0 + dt.timedelta(minutes=1), 1.0),   # late — dropped
        (5, "click", t0 + dt.timedelta(hours=3), 1.0),
    ])
    _run()

    out = spark.read.parquet(sink)
    rows = {r["window"].start.minute + 60 * r["window"].start.hour: r.n for r in out.collect()}
    assert rows[12 * 60] == 2  # late event 4 did NOT bump the finalized window


def test_incremental_sink_idempotent_on_replay(spark, tmp_path):
    """A replayed micro-batch (same batch_id) must overwrite its own output,
    not append duplicates — foreachBatch is at-least-once."""
    from linkorgs_software_spark.streaming.incremental import incremental_link as _  # noqa: F401
    from linkorgs_software_spark.config import LinkConfig
    from linkorgs_software_spark.plans.pipeline import link_orgs
    from linkorgs_software_spark.plans.transcripts import extract_mentions

    fx = gen_linkage_fixture(spark, n_entities=10, seed=7)
    names = [r.name for r in fx["org_x"].collect()]
    tr = gen_transcripts(spark, n_conversations=6, seed=7, org_names=names)
    sink = str(tmp_path / "replay_sink")

    cfg = LinkConfig(max_dist=0.3, ave_match_number_per_alias=None)
    mentions = extract_mentions(tr).withColumnRenamed("name", "name")
    z = link_orgs(mentions, fx["org_x"], cfg, algorithm="fuzzy")
    # simulate the foreachBatch body running twice for the same batch_id
    z.write.mode("overwrite").parquet(f"{sink}/batch_id=0")
    n1 = spark.read.parquet(sink).count()
    z.write.mode("overwrite").parquet(f"{sink}/batch_id=0")
    n2 = spark.read.parquet(sink).count()
    assert n1 == n2 > 0


def test_neardup_history_join_shuffle_free_on_history_side(spark, tmp_path):
    """The round-4 scale fix: the cross-batch candidate join must read the
    bucket history as a BUCKETED scan with no Exchange above it — only the
    micro-batch side shuffles, so per-batch cost tracks the batch, not the
    corpus lifetime."""
    from linkorgs_software_spark.streaming import neardup_batch
    from linkorgs_software_spark.streaming.history import (
        history_table_name,
        read_prior_history,
    )

    out = str(tmp_path / "bh_out")
    schema = "doc_id long, text string"
    neardup_batch(
        spark.createDataFrame([(1, _BASE), (2, _OTHER)], schema), 0, out, threshold=0.5
    )
    neardup_batch(
        spark.createDataFrame([(3, _BASE + " extra tail")], schema), 1, out, threshold=0.5
    )
    tbl = history_table_name(out, "buckets")
    assert spark.catalog.tableExists(tbl)
    prior = read_prior_history(
        spark, tbl, f"{out}/history/buckets", 2
    )
    new_b = spark.createDataFrame([("x", 99)], "bucket string, id long")
    old_broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            new_b.join(prior.select("bucket", "doc_id"), "bucket")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_broadcast)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert "Bucketed: true" in plan, plan
    # exactly ONE exchange: the new-batch side; none above the history scan
    assert plan.count("Exchange") == 1, plan
    seg_after_scan = plan[plan.index("FileScan parquet") :]
    assert "Exchange" not in seg_after_scan


def test_neardup_history_survives_catalog_loss(spark, tmp_path):
    """The default session catalog is in-memory: after a driver restart the
    table metadata is gone but the external data + sidecar survive. The
    next batch must re-register the bucketed table from the sidecar and
    keep deduplicating cross-batch — NOT mistake the lost entry for 'no
    history yet'."""
    from linkorgs_software_spark.streaming import neardup_batch
    from linkorgs_software_spark.streaming.history import history_table_name

    out = str(tmp_path / "cl_out")
    schema = "doc_id long, text string"
    neardup_batch(
        spark.createDataFrame([(1, _BASE), (2, _OTHER)], schema), 0, out, threshold=0.5
    )
    tbl = history_table_name(out, "buckets")
    spark.sql(f"DROP TABLE {tbl}")  # simulate driver restart (external: data stays)
    assert not spark.catalog.tableExists(tbl)
    edited = _EDITED
    neardup_batch(
        spark.createDataFrame([(4, edited)], schema), 1, out, threshold=0.5
    )
    kept1 = [r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=1").collect()]
    assert kept1 == []  # 4 is a near-dup of batch-0 doc 1: history recovered


def test_resolve_history_survives_reset_then_restart(spark, tmp_path):
    """A stream directory deleted and rebuilt within one session keeps its
    history through a later driver restart: the rebuild writes the sidecar
    the restart re-registers from, so batch 2 still sees batches 0 and 1
    and matches an exact alias of batch 0 instead of minting a duplicate
    entity over an overwritten history."""
    import shutil

    from linkorgs_software_spark.streaming import resolve_batch
    from linkorgs_software_spark.streaming.history import history_table_name

    b0, b1, kw = _release_batches(spark, "resolve_batch")
    out = str(tmp_path / "reset_restart")
    resolve_batch(b0, 0, out, **kw)
    shutil.rmtree(out)
    resolve_batch(b0, 0, out, **kw)
    resolve_batch(b1, 1, out, **kw)
    tbl = history_table_name(out, "grams")
    spark.sql(f"DROP TABLE {tbl}")  # simulate driver restart (external: data stays)
    b2 = spark.createDataFrame([("Acme Corp",), ("Initech",)], "name string")
    resolve_batch(b2, 2, out, **kw)
    batch_ids = {r.batch_id for r in spark.table(tbl).select("batch_id").distinct().collect()}
    assert batch_ids == {0, 1, 2}
    a2 = {r.name: r for r in spark.read.parquet(f"{out}/assignments/batch_id=2").collect()}
    assert a2["Acme Corp"].matched_prior and a2["Acme Corp"].stringdist == 0.0


def test_history_compaction_bounds_partitions_and_preserves_dedup(spark, tmp_path):
    """The round-5 lifecycle fix: with ``compact_every=K``, committed batch
    partitions older than the current batch fold into ONE snapshot
    partition (monotone negative batch_id), so over 3·K synthetic batches
    the partition count of both history slices stays bounded at
    K + 1 (snapshot) instead of growing with stream lifetime — while
    cross-batch dedup against COMPACTED batches, replay idempotence, and
    the lockstep shingle slice all keep working."""
    from linkorgs_software_spark.streaming import neardup_batch
    from linkorgs_software_spark.streaming.history import list_batch_ids

    out = str(tmp_path / "cp_out")
    schema = "doc_id long, text string"
    K = 2
    uniq = [
        f"unique document number {i} about topic {i} with entirely fresh "
        f"phrasing item{i} alpha{i} beta{i} gamma{i} delta{i} epsilon{i} "
        f"zeta{i} eta{i} theta{i}"
        for i in range(6)
    ]
    for i in range(6):
        neardup_batch(
            spark.createDataFrame([(i + 1, uniq[i])], schema),
            i, out, threshold=0.5, compact_every=K,
        )
        bids = list_batch_ids(spark, f"{out}/history/buckets")
        sids = list_batch_ids(spark, f"{out}/history/shingles")
        # at most one snapshot + K uncompacted real batches at any moment
        assert len(bids) <= K + 1, (i, bids)
        assert len(sids) <= K + 1, (i, sids)
    bids = list_batch_ids(spark, f"{out}/history/buckets")
    assert any(b < 0 for b in bids), bids  # a snapshot exists
    # every kept doc's history row survived the folds: one row per doc in
    # the shingle slice, 6 docs total
    hist = spark.read.parquet(
        *[f"{out}/history/shingles/batch_id={b}" for b in
          list_batch_ids(spark, f"{out}/history/shingles")]
    )
    assert hist.select("doc_id").distinct().count() == 6

    # cross-batch dedup against a COMPACTED batch: batch 0's doc now lives
    # only inside a snapshot partition; an edit of it must still be dropped
    edited = uniq[0].replace("alpha0", "alphaX")
    neardup_batch(
        spark.createDataFrame([(100, edited), (101, _OTHER)], schema),
        6, out, threshold=0.5, compact_every=K,
    )
    kept6 = sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=6").collect()
    )
    assert kept6 == [101], kept6

    # replay of batch 6 (compaction may re-trigger): identical output
    neardup_batch(
        spark.createDataFrame([(100, edited), (101, _OTHER)], schema),
        6, out, threshold=0.5, compact_every=K,
    )
    kept_replay = sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=6").collect()
    )
    assert kept_replay == [101]


def test_compacted_history_join_still_shuffle_free_and_recovers(spark, tmp_path):
    """Task-9 follow-through: after compaction, (a) the history side of the
    candidate join is STILL an Exchange-free bucketed scan (the snapshot is
    written through the same bucketed insert), and (b) catalog loss
    recovers from the sidecar + MSCK over the COMPACTED partition layout —
    O(compacted partitions), not O(batches)."""
    from linkorgs_software_spark.streaming import neardup_batch
    from linkorgs_software_spark.streaming.history import (
        history_table_name,
        list_batch_ids,
        read_prior_history,
    )

    out = str(tmp_path / "cpr_out")
    schema = "doc_id long, text string"
    docs = [
        (1, _BASE),
        (2, _OTHER),
        (3, "a recipe for sourdough bread requires patient fermentation of "
            "the starter culture and careful folding of the wet dough"),
    ]
    for i, row in enumerate(docs):
        neardup_batch(
            spark.createDataFrame([row], schema), i, out,
            threshold=0.5, compact_every=2,
        )
    bids = list_batch_ids(spark, f"{out}/history/buckets")
    assert any(b < 0 for b in bids), bids

    tbl = history_table_name(out, "buckets")
    # (b) catalog loss: drop the table, next read must re-register + MSCK
    spark.sql(f"DROP TABLE {tbl}")
    prior = read_prior_history(spark, tbl, f"{out}/history/buckets", 3)
    assert prior is not None
    got_parts = sorted(
        r.batch_id for r in prior.select("batch_id").distinct().collect()
    )
    assert got_parts == sorted(bids), (got_parts, bids)

    # (a) the 1-Exchange plan shape on the compacted table
    new_b = spark.createDataFrame([("x", 99)], "bucket string, id long")
    old_broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = (
            new_b.join(prior.select("bucket", "doc_id"), "bucket")
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_broadcast)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)
    assert "Bucketed: true" in plan, plan
    assert plan.count("Exchange") == 1, plan
    seg_after_scan = plan[plan.index("FileScan parquet") :]
    assert "Exchange" not in seg_after_scan

    # and cross-batch dedup still works against the recovered compacted
    # history (an edit of the batch-0 doc)
    neardup_batch(
        spark.createDataFrame([(9, _EDITED)], schema), 3, out,
        threshold=0.5, compact_every=2,
    )
    kept = [r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=3").collect()]
    assert kept == []


def test_exact_dedup_history_compaction(spark, tmp_path):
    """The exact-dedup hash history gets the same lifecycle bound via
    compact_plain_history: partitions fold, cross-batch dedup against a
    folded batch still drops, replay still idempotent."""
    from linkorgs_software_spark.streaming import dedup_batch
    from linkorgs_software_spark.streaming.history import list_batch_ids

    out = str(tmp_path / "edc_out")
    schema = "doc_id long, text string"
    for i in range(5):
        dedup_batch(
            spark.createDataFrame([(i + 1, f"text number {i}")], schema),
            i, out, compact_every=2,
        )
        assert len(list_batch_ids(spark, f"{out}/history")) <= 3
    # re-post of batch 0's text (now folded into a snapshot) is dropped
    dedup_batch(
        spark.createDataFrame([(50, "text number 0"), (51, "fresh text")], schema),
        5, out, compact_every=2,
    )
    kept = sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=5").collect()
    )
    assert kept == [51]


def test_embed_neardup_compaction_and_multiprobe_cross_batch(spark, tmp_path):
    """Streaming embedding near-dup: (a) with compact_every the bucket +
    embedding history partitions stay bounded and a perturbed re-post of a
    COMPACTED batch's vector is still dropped; (b) multiprobe parity — a
    planted moderate-similarity pair (cosine ~0.89, sign codes >= 1 bit
    apart in EVERY table at this seed) is MISSED by exact buckets but
    dropped at multiprobe=1, with probes expanded on the micro-batch side
    only."""
    import numpy as np

    from linkorgs_software_spark.streaming import embed_neardup_batch
    from linkorgs_software_spark.streaming.history import list_batch_ids

    def _df(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    # (a) compaction path at high threshold
    rng = np.random.RandomState(3)
    vecs = [rng.normal(size=16) for _ in range(5)]
    out = str(tmp_path / "ec_out")
    for i, v in enumerate(vecs):
        embed_neardup_batch(
            _df([(i + 1, v)]), i, out, dim=16, threshold=0.99, compact_every=2
        )
        assert len(list_batch_ids(spark, f"{out}/history/buckets")) <= 3
        assert len(list_batch_ids(spark, f"{out}/history/embeddings")) <= 3
    pert0 = vecs[0] + rng.normal(scale=1e-3, size=16)
    embed_neardup_batch(
        _df([(60, pert0), (61, rng.normal(size=16))]), 5, out,
        dim=16, threshold=0.99, compact_every=2,
    )
    kept = sorted(
        r.vec_id for r in spark.read.parquet(f"{out}/docs/batch_id=5").collect()
    )
    assert kept == [61]  # 60 deduped against the compacted batch-0 vector

    # (b) multiprobe: pair found by replicating the bucket math offline —
    # base = RandomState(11) normal(16); pert = base + RandomState(10027)
    # normal(scale=0.45): cosine 0.894, hamming-per-table [1,1,1,2] at
    # seed 42 / 8 planes / 4 tables, so exact buckets share NO bucket
    base = np.random.RandomState(11).normal(size=16)
    pert = base + np.random.RandomState(10027).normal(scale=0.45, size=16)
    cos = float(base @ pert / (np.linalg.norm(base) * np.linalg.norm(pert)))
    assert 0.80 <= cos < 0.95

    out_exact = str(tmp_path / "mp_exact")
    embed_neardup_batch(_df([(1, base)]), 0, out_exact, dim=16, threshold=0.80)
    embed_neardup_batch(_df([(2, pert)]), 1, out_exact, dim=16, threshold=0.80)
    kept_exact = [
        r.vec_id for r in spark.read.parquet(f"{out_exact}/docs/batch_id=1").collect()
    ]
    assert kept_exact == [2]  # exact buckets MISS the moderate pair

    out_mp = str(tmp_path / "mp_probe")
    embed_neardup_batch(
        _df([(1, base)]), 0, out_mp, dim=16, threshold=0.80, multiprobe=1
    )
    embed_neardup_batch(
        _df([(2, pert)]), 1, out_mp, dim=16, threshold=0.80, multiprobe=1
    )
    kept_mp = [
        r.vec_id for r in spark.read.parquet(f"{out_mp}/docs/batch_id=1").collect()
    ]
    assert kept_mp == []  # hamming-1 probe recovers the pair


def test_tiered_compaction_amortizes_snapshot_rewrites(spark, tmp_path):
    """Tier semantics: a tier-1 fold rewrites ONLY the accumulated real
    batches (existing snapshots survive untouched — that's what bounds
    amortized rewrite I/O at O(1 batch) + O(history/every²)); snapshots
    merge only when `every` of them accumulate (tier 2), after which a
    single snapshot remains. Cross-batch dedup keeps working throughout."""
    from linkorgs_software_spark.streaming import dedup_batch
    from linkorgs_software_spark.streaming.history import list_batch_ids

    out = str(tmp_path / "tier_out")
    hist = f"{out}/history"
    schema = "doc_id long, text string"
    seen_ids = {}
    for i in range(10):
        dedup_batch(
            spark.createDataFrame([(i + 1, f"tier text {i}")], schema),
            i, out, compact_every=3,
        )
        seen_ids[i] = list_batch_ids(spark, hist)
        assert len(seen_ids[i]) <= 2 * 3 + 1, (i, seen_ids[i])
    # after batch 3's start-compaction: reals 0-2 folded into -1
    assert -1 in seen_ids[3] and 0 not in seen_ids[3]
    # after batch 6: a SECOND tier-1 snapshot appears and -1 SURVIVED
    # (tier 1 must not rewrite existing snapshots)
    assert {-1, -2} <= set(seen_ids[6]), seen_ids[6]
    # after batch 9: three snapshots triggered the tier-2 merge -> one left
    assert [b for b in seen_ids[9] if b < 0] == [-4], seen_ids[9]
    # dedup against a doubly-folded batch still works
    dedup_batch(
        spark.createDataFrame([(99, "tier text 0"), (100, "fresh tier text")], schema),
        10, out, compact_every=3,
    )
    kept = sorted(
        r.doc_id for r in spark.read.parquet(f"{out}/docs/batch_id=10").collect()
    )
    assert kept == [100]


def test_tier2_only_trigger_merges_stranded_snapshots(spark, tmp_path):
    """If snapshots have accumulated to `every` without enough new real
    batches (e.g. crash between tier-1 and tier-2 on earlier runs),
    maybe_compact's standalone tier-2 branch merges them."""
    from linkorgs_software_spark.streaming.history import (
        list_batch_ids,
        maybe_compact,
    )

    d = str(tmp_path / "t2" / "history")
    for b in (-1, -2, -3, 7):
        spark.range(2).selectExpr("id as doc_id").write.parquet(f"{d}/batch_id={b}")
    assert maybe_compact(spark, watermark=8, every=3, plain_paths=(d,))
    ids = list_batch_ids(spark, d)
    assert [b for b in ids if b < 0] == [-4], ids  # merged into one
    assert 7 in ids  # the lone real batch (< every) was left alone
    # all six snapshot rows survived the merge
    assert spark.read.parquet(f"{d}/batch_id=-4").count() == 6


@pytest.mark.parametrize(
    "cfg", [LinkConfig(), LinkConfig(salt_buckets=4)], ids=["default", "salt4"]
)
def test_incremental_resolve_match_create_replay(spark, tmp_path, cfg):
    """The evolving-directory resolver: batch 0 mints entities (with
    within-batch transitive merge), batch 1 matches known aliases and
    mints only the genuinely new name, and a replayed batch reproduces
    byte-identical assignments without duplicating directory rows. A
    salted gram join gives the same results."""
    from linkorgs_software_spark.streaming import resolve_batch

    out = str(tmp_path / "resolve_out")
    b0 = spark.createDataFrame(
        [("Acme Corp",), ("Acme Corp x",), ("Globex Inc",)], "name string"
    )
    resolve_batch(b0, 0, out, cfg=cfg)
    a0 = {r.name: r for r in spark.read.parquet(f"{out}/assignments/batch_id=0").collect()}
    # within-batch transitive merge: the two acme variants share one entity
    assert a0["Acme Corp"].entity_id == a0["Acme Corp x"].entity_id
    assert a0["Globex Inc"].entity_id != a0["Acme Corp"].entity_id
    assert not a0["Acme Corp"].matched_prior

    b1 = spark.createDataFrame(
        [("ACME corp.",), ("Globex, Inc",), ("Initech LLC",)], "name string"
    )
    resolve_batch(b1, 1, out, cfg=cfg)
    a1 = {r.name: r for r in spark.read.parquet(f"{out}/assignments/batch_id=1").collect()}
    assert a1["ACME corp."].matched_prior and a1["ACME corp."].stringdist == 0.0
    assert a1["ACME corp."].entity_id == a0["Acme Corp"].entity_id
    assert a1["Globex, Inc"].entity_id == a0["Globex Inc"].entity_id
    assert not a1["Initech LLC"].matched_prior

    # replay batch 1: identical assignments, no duplicate directory rows
    resolve_batch(b1, 1, out, cfg=cfg)
    a1r = {r.name: r for r in spark.read.parquet(f"{out}/assignments/batch_id=1").collect()}
    assert {(k, v.entity_id, v.matched_prior) for k, v in a1.items()} == {
        (k, v.entity_id, v.matched_prior) for k, v in a1r.items()
    }
    ents = spark.read.parquet(f"{out}/history/entities").collect()
    aliases = sorted((r.name_norm, r.entity_id) for r in ents)
    assert len(aliases) == len(set(aliases)) == 4  # dist-0 matches add nothing


def test_incremental_resolve_fuzzy_alias_enriches_directory(spark, tmp_path):
    """A fuzzy match (distance > 0) appends the new surface form as an
    alias of the matched entity, so the NEXT batch matches it exactly."""
    from linkorgs_software_spark.streaming import resolve_batch

    out = str(tmp_path / "resolve_fuzzy")
    resolve_batch(
        spark.createDataFrame([("Acme Corporation Ltd",)], "name string"), 0, out
    )
    e0 = spark.read.parquet(f"{out}/assignments/batch_id=0").collect()[0].entity_id

    resolve_batch(
        spark.createDataFrame([("Acme Corporation Ltd x",)], "name string"), 1, out
    )
    r1 = spark.read.parquet(f"{out}/assignments/batch_id=1").collect()[0]
    assert r1.matched_prior and r1.stringdist > 0
    assert r1.entity_id == e0
    ents = {r.name_norm: r.entity_id for r in spark.read.parquet(f"{out}/history/entities").collect()}
    assert ents["acme corporation ltd x"] == e0  # alias appended

    resolve_batch(
        spark.createDataFrame([("ACME Corporation Ltd X",)], "name string"), 2, out
    )
    r2 = spark.read.parquet(f"{out}/assignments/batch_id=2").collect()[0]
    assert r2.matched_prior and r2.stringdist == 0.0 and r2.entity_id == e0


def test_resolve_crash_window_duplicate_alias_resolves_to_merged_id(spark, tmp_path):
    """A crash between ``compact_directory``'s snapshot rename and its
    delete of the folded slices leaves one alias under two entity ids: the
    old one and the merged one, which is the component minimum. The match
    step's min (distance, entity_id) pick resolves a mention of that alias
    to the merged id."""
    from linkorgs_software_spark.streaming import resolve_batch

    out = str(tmp_path / "resolve_crash")
    resolve_batch(
        spark.createDataFrame([("Acme Corp",), ("Globex Inc",)], "name string"), 0, out
    )
    acme = spark.read.parquet(f"{out}/history/entities/batch_id=0").filter(
        F.col("name_norm") == "acme corp"
    )
    merged = acme.first().entity_id - 1
    # the snapshot slice (negative batch id) the fold renames in first
    acme.withColumn("entity_id", F.lit(merged).cast("long")).write.parquet(
        f"{out}/history/entities/batch_id=-1"
    )
    resolve_batch(spark.createDataFrame([("ACME corp.",)], "name string"), 1, out)
    r = spark.read.parquet(f"{out}/assignments/batch_id=1").collect()[0]
    assert r.matched_prior and r.stringdist == 0.0
    assert r.entity_id == merged


def test_incremental_resolve_stream_end_to_end(spark, tmp_path):
    from linkorgs_software_spark.streaming import incremental_resolve

    src = str(tmp_path / "resolve_src")
    out = str(tmp_path / "resolve_sink")
    ckpt = str(tmp_path / "resolve_ckpt")
    spark.createDataFrame(
        [("Acme Corp",), ("Globex Inc",), ("acme corp",)], "name string"
    ).write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema("name string").parquet(src)
    q = incremental_resolve(stream, out, ckpt, available_now=True)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    rows = spark.read.parquet(f"{out}/assignments").collect()
    assert len(rows) == 3
    by_norm = {}
    for r in rows:
        by_norm.setdefault(r.name_norm, set()).add(r.entity_id)
    assert all(len(v) == 1 for v in by_norm.values())
    assert len({next(iter(v)) for v in by_norm.values()}) == 2


def _release_batches(spark, batch_fn):
    """Two consecutive batches (so the cross-batch path runs) and the keyword
    arguments for one batch function."""
    if batch_fn == "embed_neardup_batch":
        import numpy as np

        rng = np.random.RandomState(3)
        vecs = [[float(x) for x in rng.normal(size=16)] for _ in range(4)]
        schema = "vec_id long, embedding array<float>"
        b0 = spark.createDataFrame([(1, vecs[0]), (2, vecs[1])], schema)
        b1 = spark.createDataFrame([(3, vecs[2]), (4, vecs[3])], schema)
        return b0, b1, {"dim": 16, "threshold": 0.99}
    if batch_fn == "resolve_batch":
        b0 = spark.createDataFrame([("Acme Corp",), ("Globex Inc",)], "name string")
        return b0, spark.createDataFrame([("Initech LLC",)], "name string"), {}
    b0 = spark.createDataFrame([(1, _BASE), (2, _OTHER)], "doc_id long, text string")
    kw = {"threshold": 0.5} if batch_fn == "neardup_batch" else {}
    return b0, b0.withColumn("doc_id", F.col("doc_id") + 10), kw


@pytest.mark.parametrize(
    "batch_fn", ["neardup_batch", "embed_neardup_batch", "dedup_batch", "resolve_batch"]
)
def test_batch_releases_its_caches(spark, stored_rdds, tmp_path, batch_fn):
    """Each micro-batch persists frames its stages share; ``scoped_caches()``
    must release them when the batch ends so a long-running stream does not
    pin frames batch over batch: no RDD cached during the batches is still
    cached, and nothing is left for ``release_caches()``."""
    from linkorgs_software_spark import release_caches, streaming

    run = getattr(streaming, batch_fn)
    b0, b1, kw = _release_batches(spark, batch_fn)
    out = str(tmp_path / batch_fn)
    release_caches()
    storage_before = stored_rdds()
    run(b0, 0, out, **kw)
    run(b1, 1, out, **kw)
    assert stored_rdds() <= storage_before
    assert release_caches() == 0


# Most Spark jobs per call seen on local[4], one count per batch of
# ``_job_batches``, over two sets of six runs once each batch wrote its
# bucketed history last (neardup_batch (16-18, 27-29), embed_neardup_batch
# (12-13, 24-25) in every run), and for resolve_batch over seven runs once
# it wrote one file per plain slice and read its entities slices with their
# declared schema ((18, 25, 30) in every run). Once every plain prior slice
# was read with its declared schema (no footer-inference job), eighteen runs
# gave dedup_batch (4, 5) in every run, neardup_batch (16-18, 26-28) and
# embed_neardup_batch (12-13, 22-24).
_BATCH_JOBS = {
    "neardup_batch": (18, 28),
    "embed_neardup_batch": (13, 24),
    "dedup_batch": (4, 5),
    "resolve_batch": (18, 25, 30),
}
# (table slice or None, its columns, plain slice dir, its columns) a resuming
# stream reads, each column with its type
_BATCH_HISTORY = {
    "neardup_batch": (
        "buckets", [("bucket", "string"), ("doc_id", "bigint")],
        "history/shingles", [("doc_id", "bigint"), ("shingles", "array<string>")],
    ),
    "embed_neardup_batch": (
        "embuckets", [("table_id", "int"), ("bucket", "bigint"), ("vec_id", "bigint")],
        "history/embeddings", [("vec_id", "bigint"), ("embedding", "array<float>")],
    ),
    "dedup_batch": (None, None, "history", [("_h", "string"), ("doc_id", "bigint")]),
    "resolve_batch": (
        "grams", [("gram", "string"), ("alias_id", "bigint")],
        "history/entities", [("alias_id", "bigint"), ("entity_id", "bigint"), ("name_norm", "string")],
    ),
}


def _typed_columns(df):
    return [(f.name, f.dataType.simpleString()) for f in df.schema if f.name != "batch_id"]


def _job_batches(spark, batch_fn):
    """``_release_batches``' two batches; the resolver gets a third whose
    names both match the directory and mint new entities."""
    b0, b1, kw = _release_batches(spark, batch_fn)
    batches = [b0, b1]
    if batch_fn == "resolve_batch":
        batches.append(
            spark.createDataFrame(
                [("ACME corp.",), ("Acme Corp x",), ("Hooli",)], "name string"
            )
        )
    return batches, kw


@pytest.mark.parametrize(
    "batch_fn", ["neardup_batch", "embed_neardup_batch", "dedup_batch", "resolve_batch"]
)
def test_batch_jobs_and_history_layout(spark, tmp_path, batch_fn):
    """A streaming batch runs no more Spark jobs than the measured count,
    and its history keeps the table name and the column names and types a
    running stream resumes from."""
    from linkorgs_software_spark import streaming
    from linkorgs_software_spark.streaming.history import history_table_name

    run = getattr(streaming, batch_fn)
    batches, kw = _job_batches(spark, batch_fn)
    out = str(tmp_path / batch_fn)
    sc = spark.sparkContext
    jobs = []
    for batch_id, df in enumerate(batches):
        group = f"batch-jobs-{batch_fn}-{batch_id}"
        sc.setJobGroup(group, batch_fn)
        try:
            run(df, batch_id, out, **kw)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        jobs.append(len(sc.statusTracker().getJobIdsForGroup(group)))
    caps = _BATCH_JOBS[batch_fn]
    assert len(jobs) == len(caps), jobs
    assert all(0 < n <= cap for n, cap in zip(jobs, caps)), jobs
    table, table_cols, plain, plain_cols = _BATCH_HISTORY[batch_fn]
    if table is not None:
        assert _typed_columns(spark.table(history_table_name(out, table))) == table_cols
    assert _typed_columns(spark.read.parquet(os.path.join(out, plain))) == plain_cols


def test_resolve_history_insert_runs_after_batch_caches_release(
    spark, stored_rdds, tmp_path, monkeypatch
):
    """The grams insert refreshes the table, and a refresh clears every
    cached frame whose plan reads it, so ``resolve_batch`` inserts last,
    after its caches are released: when it calls ``write_history_bucketed``
    no frame the batch persisted is still cached."""
    from linkorgs_software_spark.streaming import resolve

    real = resolve.write_history_bucketed
    leaked = []

    def insert(*args, **kw):
        leaked.append(stored_rdds() - before)
        return real(*args, **kw)

    monkeypatch.setattr(resolve, "write_history_bucketed", insert)
    batches, kw = _job_batches(spark, "resolve_batch")
    out = str(tmp_path / "resolve_insert_last")
    for batch_id, df in enumerate(batches):
        before = stored_rdds()
        resolve.resolve_batch(df, batch_id, out, **kw)
    assert leaked == [set()] * len(batches), leaked


@pytest.mark.parametrize("batch_fn", ["neardup_batch", "embed_neardup_batch"])
def test_neardup_payload_slice_precedes_bucket_insert(spark, tmp_path, monkeypatch, batch_fn):
    """The near-dup core writes its payload slice before the bucketed
    insert, whose table refresh clears the cached cross-batch verify: when
    it calls ``write_history_bucketed``, ``history/<payload>/batch_id=N``
    is already committed."""
    from linkorgs_software_spark import streaming
    from linkorgs_software_spark.streaming import neardup

    real = neardup.write_history_bucketed
    plain = _BATCH_HISTORY[batch_fn][2]
    out = str(tmp_path / batch_fn)
    committed = []

    def insert(df, table, path, batch_id, **kw):
        slice_dir = os.path.join(out, plain, f"batch_id={batch_id}")
        committed.append(os.path.exists(os.path.join(slice_dir, "_SUCCESS")))
        return real(df, table, path, batch_id, **kw)

    monkeypatch.setattr(neardup, "write_history_bucketed", insert)
    batches, kw = _job_batches(spark, batch_fn)
    for batch_id, df in enumerate(batches):
        getattr(streaming, batch_fn)(df, batch_id, out, **kw)
    assert committed == [True] * len(batches), committed


def test_resolve_gram_history_is_the_entities_gram_index(spark, tmp_path):
    """The grams table is derived state: after three resolver batches each
    of its slices holds exactly ``gram_index`` over the entities slice of
    the same batch."""
    from linkorgs_software_spark.operators.blocking import gram_index
    from linkorgs_software_spark.streaming import resolve_batch
    from linkorgs_software_spark.streaming.history import history_table_name, list_batch_ids

    batches, kw = _job_batches(spark, "resolve_batch")
    out = str(tmp_path / "resolve_grams")
    for batch_id, df in enumerate(batches):
        resolve_batch(df, batch_id, out, **kw)
    grams = {
        tuple(r)
        for r in spark.table(history_table_name(out, "grams"))
        .select("gram", "alias_id", "batch_id")
        .collect()
    }
    entities_dir = os.path.join(out, "history", "entities")
    ids = list_batch_ids(spark, entities_dir)
    assert ids == [0, 1, 2]
    want = set()
    for b in ids:
        slice_df = spark.read.parquet(os.path.join(entities_dir, f"batch_id={b}"))
        want |= {
            (r.gram, r.alias_id, b)
            for r in gram_index(slice_df, "alias_id", LinkConfig()).collect()
        }
    assert grams == want


def test_resolve_batch_writes_one_file_per_plain_slice(spark, tmp_path):
    """A small resolver batch writes its assignments and entities slices as
    one data file each, not one per shuffle partition, and the gram insert
    that reads the entities slice back writes at most one file per bucket."""
    from linkorgs_software_spark.streaming import resolve_batch
    from linkorgs_software_spark.streaming.history import recommended_history_buckets

    def data_files(*parts):
        return sum(f.startswith("part-") for f in os.listdir(os.path.join(out, *parts)))

    batches, kw = _job_batches(spark, "resolve_batch")
    buckets = recommended_history_buckets(batches[0])
    out = str(tmp_path / "resolve_files")
    counts = []
    for batch_id, df in enumerate(batches):
        resolve_batch(df, batch_id, out, **kw)
        part = f"batch_id={batch_id}"
        counts.append(
            (
                data_files("assignments", part),
                data_files("history", "entities", part),
                data_files("history", "grams", part),
            )
        )
    assert all(a == e == 1 and 0 < g <= buckets for a, e, g in counts), counts


def test_compact_directory_merges_split_entities(spark, tmp_path):
    """The offline merge pass: two entities minted in separate batches at
    a strict threshold fold into one via ``compact_directory`` at a
    lenient one — the entity slices are rewritten through the fold, the
    remap lands under remaps/, old assignments remap lazily via
    ``apply_entity_remap``, and the NEXT batch matches into the merged id
    (the gram history is untouched)."""
    from linkorgs_software_spark import apply_entity_remap
    from linkorgs_software_spark.streaming import compact_directory, resolve_batch
    from linkorgs_software_spark.streaming.history import list_batch_ids

    out = str(tmp_path / "resolve_merge")
    # strict match threshold: the variant does NOT match batch 0's entity
    resolve_batch(
        spark.createDataFrame([("Acme Corporation",)], "name string"),
        0, out, max_dist=0.05,
    )
    resolve_batch(
        spark.createDataFrame([("Acme Corporation x",)], "name string"),
        1, out, max_dist=0.05,
    )
    asg = spark.read.parquet(f"{out}/assignments")
    ids = {r.entity_id for r in asg.collect()}
    assert len(ids) == 2  # split, as the strict threshold dictates

    remap = compact_directory(spark, out, watermark=2, max_dist=0.4)
    assert remap is not None
    merged_id = min(ids)
    assert {(r.entity_id, r.merged_entity_id) for r in remap.collect()} == {
        (max(ids), merged_id)
    }
    # entity slices folded into one snapshot carrying the merged id
    assert list_batch_ids(spark, f"{out}/history/entities") == [-1]
    ents = spark.read.parquet(f"{out}/history/entities").collect()
    assert {r.entity_id for r in ents} == {merged_id}
    assert len(ents) == 2  # both alias rows survive the fold
    # old assignments remap lazily (outputs are never rewritten in place)
    remapped = apply_entity_remap(asg, remap)
    assert {r.entity_id for r in remapped.collect()} == {merged_id}
    # the next batch matches the merged entity through either alias form
    resolve_batch(
        spark.createDataFrame([("ACME Corporation x!",)], "name string"),
        2, out, max_dist=0.4,
    )
    r2 = spark.read.parquet(f"{out}/assignments/batch_id=2").collect()[0]
    assert r2.matched_prior and r2.entity_id == merged_id


def test_compact_directory_no_merge_is_noop(spark, tmp_path):
    """Nothing near-named => None, no remap directory, slices untouched."""
    import os

    from linkorgs_software_spark.streaming import compact_directory, resolve_batch
    from linkorgs_software_spark.streaming.history import list_batch_ids

    out = str(tmp_path / "resolve_nomerge")
    resolve_batch(
        spark.createDataFrame([("Acme Corporation",)], "name string"), 0, out
    )
    resolve_batch(
        spark.createDataFrame([("Initech LLC",)], "name string"), 1, out
    )
    assert compact_directory(spark, out, watermark=2, max_dist=0.2) is None
    assert not os.path.exists(f"{out}/remaps")
    assert list_batch_ids(spark, f"{out}/history/entities") == [0, 1]


def test_compact_directory_reads_nothing_at_or_above_watermark(spark, tmp_path):
    """Slices at or above ``watermark`` are neither read nor folded: with
    the near-named variant only in slice 2, a merge at watermark 1 sees one
    entity, merges nothing, and leaves slice 2 as it was."""
    from linkorgs_software_spark.streaming import compact_directory, resolve_batch
    from linkorgs_software_spark.streaming.history import list_batch_ids

    out = str(tmp_path / "resolve_watermark")
    for batch_id, name in [(0, "Acme Corporation"), (2, "Acme Corporation x")]:
        resolve_batch(
            spark.createDataFrame([(name,)], "name string"),
            batch_id, out, max_dist=0.05,
        )
    slice2 = f"{out}/history/entities/batch_id=2"
    before = sorted(spark.read.parquet(slice2).collect())
    assert compact_directory(spark, out, watermark=1, max_dist=0.4) is None
    assert not os.path.exists(f"{out}/remaps")
    assert list_batch_ids(spark, f"{out}/history/entities") == [0, 2]
    assert sorted(spark.read.parquet(slice2).collect()) == before


def test_incremental_resolve_merge_every_in_stream(spark, tmp_path):
    """``merge_every`` runs the directory-merge pass inside the stream:
    two entities split by a strict match threshold across early batches
    are folded before the K-th batch, and later mentions land on the
    merged id."""
    import os
    import time

    from linkorgs_software_spark.streaming import incremental_resolve

    src = str(tmp_path / "ms_src")
    out = str(tmp_path / "ms_out")
    ckpt = str(tmp_path / "ms_ckpt")
    os.makedirs(src)
    batches = [["Acme Corporation"], ["Acme Corporation x"], ["Zeta Org"]]
    t0 = time.time() - 30
    for i, names in enumerate(batches):
        spark.createDataFrame([(n,) for n in names], "name string").coalesce(
            1
        ).write.mode("overwrite").parquet(f"{src}/f{i}")
        # deterministic batch order: the file source lists by mod time
        for root, _, files in os.walk(f"{src}/f{i}"):
            for f in files:
                os.utime(os.path.join(root, f), (t0 + i * 10, t0 + i * 10))
    stream = (
        spark.readStream.schema("name string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/f*")
    )
    q = incremental_resolve(
        stream, out, ckpt,
        max_dist=0.05, merge_every=2, merge_max_dist=0.4,
        available_now=True,
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    asg = spark.read.parquet(f"{out}/assignments")
    assert asg.count() == 3
    # the strict threshold split acme across batches 0/1; the merge pass
    # before batch 2 folded the directory
    ents = spark.read.parquet(f"{out}/history/entities").collect()
    acme_ids = {r.entity_id for r in ents if r.name_norm.startswith("acme")}
    assert len(acme_ids) == 1
    assert os.path.exists(f"{out}/remaps/watermark=2")


def _plan_paths(node, path=()):
    """Every node of a physical plan with its root-first ancestor path."""
    path = path + (node,)
    yield node, path
    kids = node.children()
    for k in range(kids.size()):
        yield from _plan_paths(kids.apply(k), path)


def test_resolve_history_gram_join_shuffle_free(spark, tmp_path):
    """The resolver's match candidates — the blocking core over a batch
    gram index and the prior gram history, the history side df-capped —
    read the history as a BUCKETED scan with no shuffle Exchange between
    that scan and the gram join: only the mention batch shuffles, so
    per-batch match cost tracks the batch, not directory lifetime (same
    invariant as the neardup streams)."""
    from linkorgs_software_spark.functions.normalize import prepare_side
    from linkorgs_software_spark.operators.blocking import gram_index, shared_gram_pairs
    from linkorgs_software_spark.streaming import resolve_batch
    from linkorgs_software_spark.streaming.history import (
        history_table_name,
        read_prior_history,
    )

    out = str(tmp_path / "resolve_bucketed")
    resolve_batch(
        spark.createDataFrame([("Acme Corp",), ("Globex Inc",)], "name string"),
        0, out,
    )
    tbl = history_table_name(out, "grams")
    assert spark.catalog.tableExists(tbl)
    prior = read_prior_history(spark, tbl, f"{out}/history/grams", 1)
    cfg = LinkConfig()
    assert cfg.max_block_df is not None  # the history side is capped
    batch = prepare_side(
        spark.createDataFrame([("Acme Corp x",)], "name string"), "name", "_nid", cfg
    )
    cand = shared_gram_pairs(
        gram_index(batch, "_nid", cfg),
        prior.select("gram", "alias_id"),
        cfg,
        x_id="_nid",
        y_id="alias_id",
        x_count=1,
    )
    old_broadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    old_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = cand._jdf.queryExecution().executedPlan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_broadcast)
        spark.conf.set("spark.sql.adaptive.enabled", old_aqe)

    def name(node):
        return node.getClass().getSimpleName()

    def is_gram_join(node):
        return (
            name(node) in ("SortMergeJoinExec", "ShuffledHashJoinExec")
            and node.joinType().toString() == "Inner"
            and "gram" in node.leftKeys().toString()
        )

    scans = [
        path for node, path in _plan_paths(plan)
        if name(node) == "FileSourceScanExec" and node.bucketedScan()
    ]
    assert scans, plan.toString()
    for path in scans:
        # the nodes between the gram join and the history scan
        joins = [k for k, node in enumerate(path) if is_gram_join(node)]
        assert joins, plan.toString()
        between = [name(node) for node in path[joins[-1] + 1:]]
        assert "ShuffleExchangeExec" not in between, plan.toString()
