"""The four workloads: set-up, one timed pass with its output check, and the
traced pass that calls each layer separately.

Every workload is a closed loop in one driver process: the next pass starts
when the previous one has returned. A pass starts at the first read of the
generated input and stops when the result is on the driver; the output
check runs after the clock stops.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from . import gen, reference
from .trace import Tracer, materialize


@dataclass
class Pass:
    """One timed pass: its wall, the latency of each unit of work it
    submitted (a micro-batch on ``resolve_stream``, else the whole pass),
    its quality against the generator's labels, and its check verdict."""

    wall_s: float
    batch_s: list[float]
    f1: float
    ok: bool
    problem: str = ""


@dataclass
class Traced:
    """The traced pass: the workload's extra per-layer metrics, the wall of
    the whole layer-by-layer pass, and its check verdict."""

    metrics: dict[str, float]
    wall_s: float
    ok: bool = True
    problem: str = ""


def pairwise_f1(pred: dict, truth: dict) -> float:
    """Pairwise F1 of clustering ``pred`` (record -> cluster) against
    ``truth`` over the records both cover: same-cluster record pairs are the
    positives."""
    keys = pred.keys() & truth.keys()

    def pairs(counts):
        return sum(n * (n - 1) // 2 for n in counts.values())

    both = pairs(Counter((pred[k], truth[k]) for k in keys))
    p_pairs = pairs(Counter(pred[k] for k in keys))
    t_pairs = pairs(Counter(truth[k] for k in keys))
    if both == 0:
        return 0.0
    precision, recall = both / p_pairs, both / t_pairs
    return 2 * precision * recall / (precision + recall)


def set_f1(found: set, planted: set) -> float:
    tp = len(found & planted)
    return 2 * tp / (len(found) + len(planted)) if found or planted else 1.0


class Workload:
    name: str
    why: str
    # the layers this workload's traced pass calls
    layers: tuple[str, ...] = ()

    def generate(self, spark, seed: int, dest: str) -> None:
        raise NotImplementedError

    def open(self, src: str, seed: int) -> None:
        """Point the workload at the inputs generated under ``src``."""
        self.src, self.seed = src, seed

    def run(self, spark) -> Pass:
        raise NotImplementedError

    def trace(self, spark, tracer: Tracer, *, cores: int) -> Traced:
        """Call each layer separately under ``tracer``, in the order an
        untraced pass calls them, and materialize each call's output.
        ``cores`` is the session's task-slot count."""
        raise NotImplementedError


# -------------------------------------------------------------- link_alias


class _FixtureRows:
    """Takes the place of the session ``gen_linkage_fixture`` builds its
    frames with: ``createDataFrame`` returns the rows as an Arrow table, so
    the fixture's tables are written without a Spark job."""

    @staticmethod
    def createDataFrame(rows, schema: str) -> pa.Table:
        names = [field.split()[0] for field in schema.split(",")]
        return pa.Table.from_pylist([dict(zip(names, r)) for r in rows])


class LinkAlias(Workload):
    name = "link_alias"
    why = "the paper's core alias path: normalize, blocking, calibration, native jaccard scoring, network bridge, mutual-best; no scorer UDF"
    layers = ("normalize", "calibrate", "blocking", "scoring", "network", "pipeline")
    n_entities = 100
    # the layers must cover this share of the traced pass's wall
    min_covered = 0.9

    def generate(self, spark, seed, dest):
        from linkorgs_software_spark.sources.fixtures import gen_linkage_fixture

        fx = gen_linkage_fixture(_FixtureRows(), n_entities=self.n_entities, seed=seed)
        for key in ("org_x", "org_y", "alias_directory", "z_true"):
            gen.write_table(fx[key], os.path.join(dest, key), n_files=1)

    def open(self, src, seed):
        super().open(src, seed)
        self.assessed: dict[frozenset, float] = {}
        self.found: frozenset = frozenset()

    def _read(self, spark, key):
        return spark.read.parquet(os.path.join(self.src, key))

    def _link(self, spark):
        from linkorgs_software_spark import LinkConfig, link_orgs

        z = link_orgs(
            self._read(spark, "org_x"),
            self._read(spark, "org_y"),
            LinkConfig(),
            algorithm="alias",
            directory=self._read(spark, "alias_directory"),
            one_to_one=True,
        )
        return z.select("name_x", "name_y").collect()

    def _f1(self, spark, pairs) -> float:
        from linkorgs_software_spark import assess_match_performance

        found = spark.createDataFrame(pairs, "name_x string, name_y string")
        a = assess_match_performance(
            found, self._read(spark, "z_true"), n_x=self.n_entities, n_y=self.n_entities
        )
        return a.f1

    def run(self, spark):
        t0 = time.perf_counter()
        pairs = self._link(spark)
        wall = time.perf_counter() - t0
        # the program is deterministic: a pass that returns an already
        # assessed pair set has that set's F1
        self.found = frozenset((r["name_x"], r["name_y"]) for r in pairs)
        if self.found not in self.assessed:
            self.assessed[self.found] = self._f1(spark, pairs)
        f1 = self.assessed[self.found]
        ok = f1 >= 0.99
        return Pass(wall, [wall], f1, ok, "" if ok else f"f1 {f1:.4f} < 0.99")

    @staticmethod
    def _tail(fused, xp, yp, cfg):
        """What ``link_orgs(one_to_one=True)`` does after ``fuse_scores``:
        the per-pair minimum, one row per pair, mutual-best selection, and
        the back-merge of each side's input name. Returns the name pairs."""
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from linkorgs_software_spark.functions.normalize import pair_id_expr
        from linkorgs_software_spark.operators.dedup import keep_min_per_group, min_over_group
        from linkorgs_software_spark.operators.scoring import DIST_COL

        z = fused.withColumn("pair_id", pair_id_expr("x_id", "y_id"))
        z = min_over_group(z, ["pair_id"], "minDist", "minDist_pair")
        z = z.withColumn("minDist", F.col("minDist_pair")).drop("minDist_pair")
        z = keep_min_per_group(
            z, ["pair_id"], "minDist", tiebreak_cols=[DIST_COL, "name_norm_x", "name_norm_y"]
        )
        best = F.col("minDist").asc_nulls_last()
        wx = Window.partitionBy("x_id").orderBy(best, F.col("name_norm_y").asc())
        wy = Window.partitionBy("y_id").orderBy(best, F.col("name_norm_x").asc())
        z = (
            z.withColumn("_rx", F.row_number().over(wx))
            .withColumn("_ry", F.row_number().over(wy))
            .filter((F.col("_rx") == 1) & (F.col("_ry") == 1))
        )
        # the representative input row of a name id sorts first by name
        xn = xp.groupBy("x_id").agg(F.min(cfg.by_x).alias("name_x"))
        yn = yp.groupBy("y_id").agg(F.min(cfg.by_y).alias("name_y"))
        return z.select("x_id", "y_id").join(xn, "x_id").join(yn, "y_id").select("name_x", "name_y").collect()

    def trace(self, spark, tracer, *, cores):
        from pyspark.sql import functions as F

        from linkorgs_software_spark import LinkConfig, calibrated_threshold
        from linkorgs_software_spark.functions.normalize import prepare_side
        from linkorgs_software_spark.operators.assess import assess_blocking
        from linkorgs_software_spark.operators.blocking import candidate_pairs
        from linkorgs_software_spark.operators.network import (
            bridge,
            fuse_scores,
            match_to_directory,
            prepare_directory,
        )
        from linkorgs_software_spark.operators.scoring import score_pairs

        cfg = LinkConfig()
        held = []

        def keep(layer, df):
            df, n = materialize(df)
            held.append(df)
            tracer.rows_out[layer] += n
            return df, n

        t0 = time.perf_counter()
        x, y = self._read(spark, "org_x"), self._read(spark, "org_y")
        with tracer.layer("normalize"):
            xp, _ = keep("normalize", prepare_side(x, cfg.by_x, "x_id", cfg))
            yp, _ = keep("normalize", prepare_side(y, cfg.by_y, "y_id", cfg))
        with tracer.layer("calibrate"):
            thr, nx, ny = calibrated_threshold(xp, yp, cfg, return_counts=True)
            tracer.rows_out["calibrate"] += 1
        with tracer.layer("blocking"):
            cands, n_cands = keep("blocking", candidate_pairs(xp, yp, cfg, x_count=nx, y_count=ny))
        with tracer.layer("scoring"):
            scored, n_kept = keep("scoring", score_pairs(cands, xp, yp, cfg, max_dist=thr))
        with tracer.layer("network"):
            dp, _ = keep("network", prepare_directory(self._read(spark, "alias_directory"), cfg))
            x2, _ = keep("network", match_to_directory(xp, dp, cfg, side_id="x_id", out_dist="netdist_x"))
            y2, _ = keep("network", match_to_directory(yp, dp, cfg, side_id="y_id", out_dist="netdist_y"))
            z_net, n_dir = keep("network", bridge(x2, y2))
            fused, _ = keep("network", fuse_scores(scored, z_net, cfg))
        with tracer.layer("pipeline"):
            pairs = self._tail(fused, xp, yp, cfg)
            tracer.rows_out["pipeline"] += len(pairs)
        wall = time.perf_counter() - t0
        other_s = wall - sum(tracer.wall_s[k] for k in self.layers)

        xn = xp.select("x_id", F.col(cfg.by_x).alias("name_x"))
        yn = yp.select("y_id", F.col(cfg.by_y).alias("name_y"))
        block = assess_blocking(
            cands.join(xn, "x_id").join(yn, "y_id"),
            self._read(spark, "z_true"),
            n_x=self.n_entities,
            n_y=self.n_entities,
        ).collect()[0]
        for df in held:
            df.unpersist(True)

        problems = []
        if frozenset((r["name_x"], r["name_y"]) for r in pairs) != self.found:
            problems.append("the layer-by-layer pass matched other pairs than link_orgs")
        if other_s > (1 - self.min_covered) * wall:
            problems.append(f"the layers cover {1 - other_s / wall:.1%} of the traced wall")
        metrics = {
            "blocking.pairs_out": block["n_candidates"],
            "blocking.completeness": block["pairs_completeness"],
            "blocking.reduction": block["reduction_ratio"],
            "scoring.kept_frac": n_kept / n_cands if n_cands else 0.0,
            "network.dir_pairs": n_dir,
            "pipeline.other_s": other_s,
        }
        return Traced(metrics, wall, not problems, "; ".join(problems))


# -------------------------------------------------------------- score_bulk


class ScoreBulk(Workload):
    name = "score_bulk"
    why = "the pairs/s headline: OSA and Jaro-Winkler pandas UDFs plus native jaccard over pre-built pairs; blocking, calibration and network bypassed"
    layers = ("scoring",)
    n_pairs = 60_000
    # a pair is kept as a match when its bigram jaccard distance is at most this
    keep_dist = 0.5
    n_checked = 200

    def generate(self, spark, seed, dest):
        gen.write_table(gen.score_pairs_table(seed, self.n_pairs), dest)

    def _scored(self, df):
        from pyspark.sql import functions as F

        from linkorgs_software_spark.functions.scorers import (
            distance_expr,
            jw_dist_udf,
            osa_dist_udf,
        )

        return df.select(
            "pair_id",
            "name_x",
            "name_y",
            "label",
            osa_dist_udf("name_x", "name_y").alias("osa"),
            jw_dist_udf("name_x", "name_y").alias("jw"),
            distance_expr("jaccard", "name_x", "name_y", qgram=2).alias("jac"),
        ).withColumn("kept", F.col("jac") <= F.lit(self.keep_dist))

    def score(self, spark, *, one_slot=False, n_files=None):
        """Score every pair (of the first ``n_files`` input files); returns
        the one-row aggregate. ``one_slot`` scores the input in one task, on
        one core."""
        from pyspark.sql import functions as F

        files = sorted(f for f in os.listdir(self.src) if f.endswith(".parquet"))
        pairs = spark.read.parquet(*[os.path.join(self.src, f) for f in files[:n_files]])
        s = self._scored(pairs.coalesce(1) if one_slot else pairs)
        kept, label = F.col("kept"), F.col("label")
        return s.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("osa").alias("osa"),
            F.sum("jw").alias("jw"),
            F.sum("jac").alias("jac"),
            F.count_if(kept & label).alias("tp"),
            F.count_if(kept & ~label).alias("fp"),
            F.count_if(~kept & label).alias("fn"),
        ).collect()[0]

    def run(self, spark):
        from pyspark.sql import functions as F

        t0 = time.perf_counter()
        row = self.score(spark)
        wall = time.perf_counter() - t0
        f1 = 2 * row["tp"] / (2 * row["tp"] + row["fp"] + row["fn"])
        problems = []
        if row["n"] != self.n_pairs:
            problems.append(f"scored {row['n']} of {self.n_pairs} pairs")
        ids = random.Random(self.seed + 1).sample(range(self.n_pairs), self.n_checked)
        sample = (
            self._scored(spark.read.parquet(self.src).filter(F.col("pair_id").isin(ids)))
            .select("name_x", "name_y", "osa", "jw", "jac")
            .collect()
        )
        if len(sample) != self.n_checked:
            problems.append(f"sample has {len(sample)} of {self.n_checked} rows")
        for r in sample:
            want = (
                reference.osa(r["name_x"], r["name_y"]),
                reference.jaro_winkler_dist(r["name_x"], r["name_y"]),
                reference.jaccard_dist(r["name_x"], r["name_y"]),
            )
            got = (r["osa"], r["jw"], r["jac"])
            if any(abs(g - w) > 1e-9 for g, w in zip(got, want)):
                problems.append(f"{r['name_x']!r} vs {r['name_y']!r}: got {got}, reference {want}")
                break
        return Pass(wall, [wall], f1, not problems, "; ".join(problems))

    def _timed(self, spark, **kw) -> float:
        t0 = time.perf_counter()
        self.score(spark, **kw)
        return time.perf_counter() - t0

    def trace(self, spark, tracer, *, cores):
        # scoring.scale_eff = pairs/s on `cores` slots / (cores x pairs/s on
        # one slot), each the median of two warm passes. One slot is one
        # task in the same session rather than a local[1] session: the
        # package's UDF handles stay bound to the first SparkContext of the
        # process.
        self.score(spark, one_slot=True, n_files=1)  # warms the one-task plan
        one = statistics.median(self._timed(spark, one_slot=True) for _ in range(2))
        many = statistics.median(self._timed(spark) for _ in range(2))
        t0 = time.perf_counter()
        with tracer.layer("scoring"):
            row = self.score(spark)
            tracer.rows_out["scoring"] += row["n"]
        metrics = {
            "scoring.kept_frac": (row["tp"] + row["fp"]) / row["n"],
            "scoring.scale_eff": one / (cores * many),
        }
        return Traced(metrics, time.perf_counter() - t0)


# ---------------------------------------------------------- resolve_stream


class ResolveStream(Workload):
    name = "resolve_stream"
    why = "the streaming resolver: micro-batches matched against a persisted, growing on-disk history with pinned thresholds"
    layers = ("normalize", "resolve", "history")
    n_entities = 40
    n_batches = 2
    max_dist, create_max_dist = 0.6, 0.3
    min_f1 = 0.9

    def generate(self, spark, seed, dest):
        mentions, labels = gen.mention_stream_tables(seed, self.n_entities, n_batches=self.n_batches)
        gen.write_table(mentions, os.path.join(dest, "mentions"), n_files=1)
        gen.write_table(labels, os.path.join(dest, "labels"), n_files=1)

    def open(self, src, seed):
        super().open(src, seed)
        labels = pq.read_table(os.path.join(src, "labels")).to_pydict()
        self.labels = dict(zip(labels["mention_id"], labels["entity"]))
        self.passes = 0

    def _batches(self, spark):
        from pyspark.sql import functions as F

        mentions = spark.read.parquet(os.path.join(self.src, "mentions"))
        return [
            mentions.filter(F.col("batch") == b).select("mention_id", "name")
            for b in range(self.n_batches)
        ]

    def _state(self):
        self.passes += 1
        return os.path.join(self.src, f"state-{self.passes}")

    def _resolve(self, batch, b, state):
        from linkorgs_software_spark.streaming import resolve_batch

        resolve_batch(batch, b, state, max_dist=self.max_dist, create_max_dist=self.create_max_dist)

    def _finish(self, spark, state) -> dict:
        from linkorgs_software_spark.streaming.history import history_table_name

        rows = spark.read.parquet(os.path.join(state, "assignments")).select("mention_id", "entity_id").collect()
        spark.sql(f"DROP TABLE IF EXISTS {history_table_name(state, 'grams')}")
        shutil.rmtree(state, ignore_errors=True)
        return {r["mention_id"]: r["entity_id"] for r in rows}

    def _verdict(self, pred, wall, batch_s):
        f1 = pairwise_f1(pred, self.labels)
        problems = []
        if len(pred) != len(self.labels):
            problems.append(f"{len(pred)} of {len(self.labels)} mentions assigned")
        if f1 < self.min_f1:
            problems.append(f"f1 {f1:.4f} < {self.min_f1}")
        return Pass(wall, batch_s, f1, not problems, "; ".join(problems))

    def run(self, spark):
        state = self._state()
        batch_s = []
        t0 = time.perf_counter()
        for b, batch in enumerate(self._batches(spark)):
            tb = time.perf_counter()
            self._resolve(batch, b, state)
            batch_s.append(time.perf_counter() - tb)
        wall = time.perf_counter() - t0
        return self._verdict(self._finish(spark, state), wall, batch_s)

    def trace(self, spark, tracer, *, cores):
        from linkorgs_software_spark import LinkConfig
        from linkorgs_software_spark.functions.normalize import prepare_side
        from linkorgs_software_spark.streaming.history import history_table_name, read_prior_history

        cfg = LinkConfig()
        state = self._state()
        t0 = time.perf_counter()
        grams_dir = os.path.join(state, "history", "grams")
        for b, batch in enumerate(self._batches(spark)):
            with tracer.layer("normalize"):
                prep, n = materialize(prepare_side(batch, "name", "_rid", cfg))
                tracer.rows_out["normalize"] += n
            prep.unpersist(True)
            with tracer.layer("resolve"):
                self._resolve(batch, b, state)
                tracer.rows_out["resolve"] += n
            with tracer.layer("history"):
                hist = read_prior_history(spark, history_table_name(state, "grams"), grams_dir, b + 1)
                tracer.rows_out["history"] += hist.count()
        wall = time.perf_counter() - t0
        files, size = 0, 0
        for root, _, names in os.walk(os.path.join(state, "history")):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(root, n))
        verdict = self._verdict(self._finish(spark, state), wall, [])
        metrics = {"history.files": files, "history.mb": size / 2**20}
        return Traced(metrics, wall, verdict.ok, verdict.problem)


# ------------------------------------------------------------ corpus_dedup


class CorpusDedup(Workload):
    name = "corpus_dedup"
    why = "the only path into operators.corpus: token explode and window shuffles in clean, dedup_passages and minhash; no name-gram join, no UDF"
    layers = ("corpus.clean", "corpus.dedup_passages", "corpus.minhash")
    n_docs = 200
    k = 8
    minhash = dict(num_hashes=32, bands=8, threshold=0.5)

    def generate(self, spark, seed, dest):
        docs, passages, reposts = gen.corpus_tables(seed, self.n_docs)
        gen.write_table(docs, os.path.join(dest, "docs"))
        gen.write_table(passages, os.path.join(dest, "passages"), n_files=1)
        gen.write_table(reposts, os.path.join(dest, "reposts"), n_files=1)

    def open(self, src, seed):
        super().open(src, seed)
        self.passages = pq.read_table(os.path.join(src, "passages")).column("passage").to_pylist()
        r = pq.read_table(os.path.join(src, "reposts")).to_pydict()
        self.reposts = set(zip(r["id_a"], r["id_b"]))
        self.n_in = pq.read_table(os.path.join(src, "docs"), columns=["doc_id"]).num_rows

    def _steps(self, spark, tracer=None):
        from contextlib import nullcontext

        from linkorgs_software_spark.operators.corpus import (
            clean_corpus,
            dedup_passages,
            minhash_lsh_dups,
        )

        def layer(name):
            return tracer.layer(name) if tracer else nullcontext()

        docs = spark.read.parquet(os.path.join(self.src, "docs"))
        with layer("corpus.clean"):
            kept, n_kept = materialize(clean_corpus(docs))
        with layer("corpus.dedup_passages"):
            texts = dedup_passages(kept, k=self.k).select("doc_id", "text_clean").collect()
        with layer("corpus.minhash"):
            pairs = minhash_lsh_dups(kept, **self.minhash).select("id_a", "id_b").collect()
        kept.unpersist(True)
        if tracer:
            tracer.rows_out["corpus.clean"] += n_kept
            tracer.rows_out["corpus.dedup_passages"] += len(texts)
            tracer.rows_out["corpus.minhash"] += len(pairs)
        return texts, pairs

    def _verdict(self, texts, pairs, wall):
        problems = []
        if len(texts) != self.n_in:
            problems.append(f"{len(texts)} of {self.n_in} documents survived cleaning")
        padded = [f" {r['text_clean']} " for r in texts]
        for p in self.passages:
            n = sum(t.count(f" {p} ") for t in padded)
            if n != 1:
                problems.append(f"a planted passage occurs {n} times")
                break
        f1 = set_f1({(r["id_a"], r["id_b"]) for r in pairs}, self.reposts)
        return Pass(wall, [wall], f1, not problems, "; ".join(problems))

    def run(self, spark):
        t0 = time.perf_counter()
        texts, pairs = self._steps(spark)
        return self._verdict(texts, pairs, time.perf_counter() - t0)

    def trace(self, spark, tracer, *, cores):
        t0 = time.perf_counter()
        texts, pairs = self._steps(spark, tracer)
        verdict = self._verdict(texts, pairs, time.perf_counter() - t0)
        return Traced({}, verdict.wall_s, verdict.ok, verdict.problem)


WORKLOADS = {w.name: w for w in (LinkAlias, ScoreBulk, ResolveStream, CorpusDedup)}
