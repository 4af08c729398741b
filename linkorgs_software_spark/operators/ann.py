"""Similarity search over an embedding column (``array<float>``).

* ``brute_force_topk`` — exact cosine top-k per query: broadcast the (small)
  query set against the corpus, score natively (zip_with/aggregate), keep k
  by window rank. This is the correctness baseline.
* ``lsh_buckets`` / ``lsh_topk`` — scale path 1: random-hyperplane sign
  buckets (seeded, hyperplanes generated driver-side with numpy and embedded
  as literal arrays → pure Catalyst dot products), candidates share a
  bucket, exact re-score inside buckets. Probe multiple independent tables
  (``num_tables``) to trade recall for fan-out, the standard LSH knob.
* ``ivf_assign`` / ``ivf_topk`` — scale path 2 (IVF / coarse quantizer):
  k-means centroids trained driver-side on a seeded sample (numpy Lloyd
  iterations — the *train* step is small by design, like every IVF build),
  embedded as literal arrays; corpus rows assign to their nearest centroid
  (pure Catalyst argmax of centroid cosines), queries probe the
  ``nprobe`` nearest lists and re-score exactly inside them. Recall knob =
  nprobe/nlist; cost ~ nprobe/nlist of brute force.

At 100 TB the corpus side is bucketed/partitioned by the bucket/list id:
the candidate join is then shuffle-free on the corpus side and the
per-list top-k is a map-side window.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.embedding import cosine_sim_expr


def _check_finite_weights(arr: np.ndarray, what: str) -> None:
    """Literal weights are emitted as SQL text (``repr(w) + 'D'``), and a
    non-finite value would render as ``nanD``/``infD`` — invalid SQL that
    fails much later with an obscure ParseException. NaNs get here when any
    input embedding contains NaN (a k-means mean propagates it), so fail
    fast with a clear message instead."""
    if not np.isfinite(arr).all():
        raise ValueError(
            f"non-finite value in {what}: the input embeddings contain "
            "NaN/Inf (k-means propagates them into centroids); sanitize the "
            "vectors before training/bucketing"
        )


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Exact cosine top-k: (query_id, vec_id, cosine_sim, rank)."""
    q = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")
    )
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    scored = (
        c.crossJoin(F.broadcast(q))
        .withColumn("cosine_sim", cosine_sim_expr("_cv", "_qv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def recommended_n_planes(
    n_rows: int, *, target_bucket_rows: int = 16, lo: int = 4, hi: int = 24
) -> int:
    """Plane count that holds expected bucket occupancy at
    ``target_bucket_rows`` for a corpus of ``n_rows`` — the measured
    scale rule from the round-5 10x run (BENCH/BASELINE.md): sign-LSH
    buckets are a FIXED vocabulary (2^n_planes per table), so a fixed
    plane count makes occupancy grow linearly with the corpus and
    self-join candidates quadratically (19.6x wall-clock for 10x data at
    8 planes; 1.9x at the occupancy-matched 12). Planes must scale with
    log2(corpus): ``ceil(log2(n / target))``, clamped — the ``hi`` clamp
    matters because every extra plane also lowers per-table recall
    (p_match^n_planes), which ``num_tables`` / ``multiprobe`` must then
    buy back."""
    import math

    if n_rows <= 0:
        return lo
    return max(lo, min(hi, math.ceil(math.log2(max(2.0, n_rows / target_bucket_rows)))))


def lsh_occupancy_guard(
    n_rows: int,
    *,
    n_planes: int,
    num_tables: int,
    target_bucket_rows: int = 16,
    warn_factor: float = 4.0,
    context: str = "",
) -> float:
    """Warn when a sign-LSH bucket vocabulary is over-occupied for its row
    count — the streaming-side guardrail for the round-5 measured occupancy
    law (``recommended_n_planes``): the vocabulary is FIXED at
    ``num_tables * 2**n_planes`` buckets, so occupancy (and with it
    self/history-join candidate volume, quadratically) grows linearly with
    the rows hashed into it. ``recommended_n_planes`` sizes batch jobs
    up-front, but a long-running stream is pinned to its start-time plane
    count (bucket ids must be stream-constant for cross-batch candidates to
    mean anything) — this guard is how such a stream finds out its plane
    count has been outgrown.

    Uses the VOCABULARY lower bound ``n_rows / vocab`` for mean occupancy —
    needs only a row count (no distinct-groups aggregate over history), and
    is tight exactly in the saturated regime where the law bites. Returns
    the bound; emits a ``RuntimeWarning`` naming the plane count to restart
    the stream with when it exceeds ``warn_factor * target_bucket_rows``.
    """
    import warnings

    vocab = max(1, num_tables) * (1 << max(0, int(n_planes)))
    occ = n_rows / float(vocab)
    if occ > warn_factor * target_bucket_rows:
        rec = recommended_n_planes(
            max(1, n_rows // max(1, num_tables)),
            target_bucket_rows=target_bucket_rows,
        )
        warnings.warn(
            f"sign-LSH bucket occupancy {occ:.1f} rows/bucket "
            f"({context or 'stream'}: {n_rows} rows over {vocab} buckets at "
            f"n_planes={n_planes}) exceeds {warn_factor}x the "
            f"{target_bucket_rows}-row target; candidate volume grows "
            f"quadratically with occupancy (measured 10x scale run) — "
            f"restart the stream with n_planes>={rec} "
            f"(ann.recommended_n_planes; "
            f"streaming.rebucket_embed_history migrates the kept history "
            f"to the new plane count offline)",
            RuntimeWarning,
            stacklevel=2,
        )
    return occ


def _hyperplanes(dim: int, n_planes: int, seed: int) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.normal(size=(n_planes, dim)).astype(np.float64)


def _sign_bucket_expr(vec_col: str, planes: np.ndarray) -> F.Column:
    """Sign-bit bucket id from literal hyperplanes — pure Catalyst.

    Generated as ONE SQL text expression (a single py4j call): the
    Column-algebra form costs a py4j round trip per literal weight and per
    lambda node — measured ~4 s of pure DRIVER time per ``lsh_buckets``
    call at 4 tables x 8 planes x 64 dims, which dominated small-batch
    streaming latency. The arithmetic is identical (products then a
    sequential left fold per plane), so bucket ids are unchanged.
    """
    _check_finite_weights(np.asarray(planes, dtype=np.float64), "hyperplanes")
    parts = []
    for i, plane in enumerate(planes):
        arr = "array(" + ",".join(repr(float(w)) + "D" for w in plane) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            f"(x, w) -> cast(x as double) * w), 0.0D, (acc, v) -> acc + v)"
        )
        parts.append(f"(case when {dot} > 0 then {2 ** i}L else 0L end)")
    return F.expr("(" + " + ".join(parts) + ")")


def probe_buckets_expr(bucket_col: str, *, n_planes: int, multiprobe: int) -> F.Column:
    """Array of sign-bucket ids within hamming <= ``multiprobe`` of
    ``bucket_col`` — the classic multi-probe LSH neighbor set.

    Rationale: a pair at cosine θ flips each hyperplane sign independently
    with probability θ/π, so moderately-similar pairs (cosine ~0.8 ⇒ ~0.2
    per plane) often land ONE bit apart and plain bucket equality misses
    them. Probing the hamming-1 (and optionally hamming-2) neighborhood of
    one side's code recovers those pairs at cost x(1 + p [+ p(p-1)/2])
    candidate rows instead of falling back to the all-pairs verify — the
    scale-path answer for thresholds below the sign-LSH sweet spot (the
    reference's all-pairs euclidean regime,
    ``LinkOrgs/R/LinkOrgs_PFuzzyEuclideanInternal.R:133-163``).
    """
    if not 0 <= multiprobe <= 2:
        raise ValueError(f"multiprobe supports hamming 0..2; got {multiprobe}")
    c = F.col(bucket_col)
    vals = [c]
    if multiprobe >= 1:
        vals += [c.bitwiseXOR(F.lit(1 << i)) for i in range(n_planes)]
    if multiprobe >= 2:
        vals += [
            c.bitwiseXOR(F.lit((1 << i) | (1 << j)))
            for i in range(n_planes)
            for j in range(i + 1, n_planes)
        ]
    return F.array(*vals)


def expand_probes(
    df: DataFrame, *, n_planes: int, multiprobe: int, bucket_col: str = "bucket"
) -> DataFrame:
    """Explode each row into its probe buckets (no-op at multiprobe=0).

    Expand ONE side of a bucket equi-join only: probing both sides would
    double-count hamming distance (a and b each one flip away meet at
    hamming 2) and square the fan-out.
    """
    if multiprobe == 0:
        return df
    return df.withColumn(
        bucket_col,
        F.explode(probe_buckets_expr(bucket_col, n_planes=n_planes, multiprobe=multiprobe)),
    )


def lsh_buckets(
    df: DataFrame,
    *,
    vec_col: str = "embedding",
    dim: int = 64,
    n_planes: int = 8,
    num_tables: int = 2,
    seed: int = 42,
) -> DataFrame:
    """Attach (table_id, bucket) rows — one output row per hash table.

    The literal-plane dot products are ONE generated SQL expression whose
    sequential-fold arithmetic the DuckDB value-hash oracles mirror
    bit-for-bit: a differently-ordered summation can flip the SIGN of a
    near-zero dot product and with it a bucket bit.
    """
    tables = []
    for t in range(num_tables):
        planes = _hyperplanes(dim, n_planes, seed + 1000 * t)
        tables.append(
            F.struct(
                F.lit(t).alias("table_id"),
                _sign_bucket_expr(vec_col, planes).alias("bucket"),
            )
        )
    return df.withColumn("_tb", F.explode(F.array(*tables))).select(
        "*", F.col("_tb.table_id").alias("table_id"), F.col("_tb.bucket").alias("bucket")
    ).drop("_tb")


def _train_centroids(
    corpus: DataFrame,
    *,
    vec_col: str,
    nlist: int,
    seed: int,
    sample_cap: int = 20_000,
    iters: int = 10,
) -> np.ndarray:
    """Seeded Lloyd k-means on a bounded corpus sample (driver-side numpy).

    IVF training is deliberately small — a coarse quantizer needs only a
    representative sample, never the full corpus; the hash-mod filter keeps
    the driver collect O(sample_cap · dim) at any corpus size.

    The sample is content-keyed (seeded xxhash64 of the vector), NOT
    ``limit(cap)``: limit takes whichever rows arrive first, so on a
    sorted/clustered corpus the quantizer would train on one file's worth of
    biased data and centroids would change run-to-run with partitioning.
    The collected sample is then canonically ordered driver-side so k-means
    init (``rng.choice`` over row indices) sees the same matrix no matter
    how the collect interleaved partitions — centroids are a pure function
    of (corpus content, seed).

    The collect is hard-bounded two ways: DISTINCT vectors first (identical
    vectors hash identically, so a duplicate-heavy corpus would otherwise
    land millions of copies in the sampled hash bucket together — and value
    multiplicity should not bias a coarse quantizer anyway), plus a
    ``limit(4 * sample_cap)`` backstop so driver memory stays O(sample_cap)
    even for adversarial value distributions. On distinct values the
    hash-mod filter concentrates tightly around ``sample_cap`` (binomial),
    so the backstop effectively never truncates and partition-invariance is
    preserved in practice.
    """
    samp = corpus.select(F.col(vec_col).alias("v")).dropDuplicates()
    n = samp.count()
    if n > sample_cap:
        buckets = max(2, round(n / sample_cap))
        samp = samp.filter(
            F.pmod(F.xxhash64(F.col("v"), F.lit(seed)), F.lit(buckets)) == 0
        )
    rows = samp.limit(4 * sample_cap).collect()
    X = np.array([r.v for r in rows], dtype=np.float64)
    if len(X):
        X = X[np.lexsort(X.T[::-1])]  # canonical row order: partition-invariant
    return kmeans_cosine(X, nlist, seed, iters=iters)


def kmeans_cosine(X: np.ndarray, nlist: int, seed: int, *, iters: int = 10) -> np.ndarray:
    """Seeded Lloyd cosine k-means on a CANONICALLY-ORDERED matrix (pure
    numpy — shared by the Spark training path and the DuckDB oracle, which
    reproduces centroids bit-for-bit from the same rows + seed)."""
    # operate on L2-normalized vectors
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    X = X / np.where(norms == 0, 1.0, norms)
    rng = np.random.RandomState(seed)
    k = min(nlist, len(X))
    C = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(iters):
        sims = X @ C.T
        assign = sims.argmax(axis=1)
        for j in range(k):
            members = X[assign == j]
            if len(members):
                c = members.mean(axis=0)
                n = np.linalg.norm(c)
                C[j] = c / n if n > 0 else C[j]
    return C


def _centroid_sims_expr(vec_col: str, centroids: np.ndarray) -> F.Column:
    """array of cosine sims to each literal centroid — pure Catalyst.

    ONE generated SQL text expression (see ``_sign_bucket_expr`` on why:
    Column-algebra literal/lambda construction is a py4j round trip per
    node). Arithmetic identical to the previous Column form — products
    then a sequential left fold — which the ``ivf_balance`` oracle mirrors
    with ``list_reduce``."""
    _check_finite_weights(np.asarray(centroids, dtype=np.float64), "centroids")
    nrm = (
        f"sqrt(aggregate(`{vec_col}`, 0.0D, "
        f"(acc, v) -> acc + cast(v as double) * cast(v as double)))"
    )
    sims = []
    for c in centroids:
        arr = "array(" + ",".join(repr(float(w)) + "D" for w in c) + ")"
        dot = (
            f"aggregate(zip_with(`{vec_col}`, {arr}, "
            f"(x, w) -> cast(x as double) * w), 0.0D, (acc, v) -> acc + v)"
        )
        sims.append(f"(case when {nrm} = 0 then -2.0D else {dot} / {nrm} end)")
    return F.expr("array(" + ", ".join(sims) + ")")


def ivf_assign(df: DataFrame, centroids: np.ndarray, *, vec_col: str = "embedding") -> DataFrame:
    """Attach ``list_id`` = argmax centroid cosine (ties → lowest id)."""
    sims = _centroid_sims_expr(vec_col, centroids)
    return (
        df.withColumn("_sims", sims)
        .withColumn(
            "list_id",
            (F.array_position(F.col("_sims"), F.array_max(F.col("_sims"))) - 1).cast("int"),
        )
        .drop("_sims")
    )


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    nlist: int = 16,
    nprobe: int = 4,
    seed: int = 42,
    sample_cap: int = 20_000,
) -> DataFrame:
    """IVF approximate top-k: probe the ``nprobe`` nearest centroid lists.

    Corpus rows join queries on ``list_id`` (queries explode their nprobe
    probe lists), exact cosine re-score inside, window top-k. Scanned
    fraction ≈ nprobe/nlist of the corpus per query.
    """
    c = corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv"))
    q = queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv"))
    centroids = _train_centroids(c, vec_col="_cv", nlist=nlist, seed=seed, sample_cap=sample_cap)
    cb = ivf_assign(c, centroids, vec_col="_cv")
    sims = _centroid_sims_expr("_qv", centroids)
    nprobe = min(nprobe, len(centroids))
    # probe lists: indices of the nprobe largest centroid sims (pure Catalyst:
    # sort (sim, idx) structs descending, slice, extract idx)
    pairs = F.transform(
        sims, lambda s, i: F.struct(s.alias("s"), i.alias("i"))
    )
    probes = F.transform(
        F.slice(F.reverse(F.array_sort(pairs)), 1, nprobe), lambda p: p["i"].cast("int")
    )
    qb = q.withColumn("list_id", F.explode(probes))
    cand = (
        cb.join(qb, "list_id")
        .withColumn("cosine_sim", cosine_sim_expr("_cv", "_qv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    n_planes: int = 8,
    num_tables: int = 2,
    seed: int = 42,
    multiprobe: int = 0,
) -> DataFrame:
    """Approximate top-k: bucket-join candidates, exact re-score, window k.

    ``multiprobe`` > 0 additionally probes the QUERY side's hamming-1 (or
    -2) neighbor buckets — recall extends to moderately-similar neighbors
    at (1 + n_planes [+ ...])x query fan-out, while the corpus side stays
    exact buckets (bucketed/partitioned at scale, so probing the small
    query side is the cheap direction).
    """
    kw = dict(vec_col=vec_col, dim=dim, n_planes=n_planes, num_tables=num_tables, seed=seed)
    cb = lsh_buckets(
        corpus.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("_cv")),
        **{**kw, "vec_col": "_cv"},
    )
    qb = lsh_buckets(
        queries.select(F.col(query_id_col).alias("query_id"), F.col(vec_col).alias("_qv")),
        **{**kw, "vec_col": "_qv"},
    )
    qb = expand_probes(qb, n_planes=n_planes, multiprobe=multiprobe)
    cand = (
        cb.join(qb, ["table_id", "bucket"])
        .select("query_id", "vec_id", "_cv", "_qv")
        .dropDuplicates(["query_id", "vec_id"])
        .withColumn("cosine_sim", cosine_sim_expr("_cv", "_qv"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine_sim").desc(), F.col("vec_id").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "vec_id", "cosine_sim", "rank")
    )


def ivf_balance(
    corpus: DataFrame,
    *,
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    sample_cap: int = 20_000,
    centroids: np.ndarray | None = None,
) -> DataFrame:
    """Coarse-quantizer balance metrics as ONE map-side-countable row:
    ``(nlist, n_lists_nonempty, n_vectors, min_list, max_list, avg_list,
    max_over_avg)``.

    At 100 TB an unbalanced ``nlist`` is the IVF equivalent of a hot
    blocking bucket: every query probing the fat list scans it, so the
    quantizer's skew bounds tail latency. ``max_over_avg`` is the hot-list
    factor vs a perfectly balanced quantizer (1.0 = uniform); ``avg_list``
    averages over NON-EMPTY lists. Like ``assess_blocking``, the result is
    a 1-row DataFrame (no driver collect of row data — only the bounded
    centroid-training sample collects).
    """
    c = corpus.select(F.col(vec_col).alias("_cv"))
    if centroids is None:
        centroids = _train_centroids(
            c, vec_col="_cv", nlist=nlist, seed=seed, sample_cap=sample_cap
        )
    per = (
        ivf_assign(c, centroids, vec_col="_cv")
        .groupBy("list_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    k = len(centroids)
    return per.agg(
        F.lit(k).cast("long").alias("nlist"),
        F.count(F.lit(1)).cast("long").alias("n_lists_nonempty"),
        F.sum("n").cast("long").alias("n_vectors"),
        F.min("n").cast("long").alias("min_list"),
        F.max("n").cast("long").alias("max_list"),
        F.round(
            F.sum("n").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_list"),
        F.round(
            F.max("n").cast("double")
            * F.count(F.lit(1)).cast("double")
            / F.sum("n").cast("double"),
            6,
        ).alias("max_over_avg"),
    )


def embedding_group_profile(
    df: DataFrame,
    *,
    group_col: str = "label",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding-space profile: ``(group, n_vecs,
    centroid_norm, mean_cos_to_centroid, cos_to_global)`` — the semantic
    complement to the token-level ``vocab_divergence``. A group (corpus
    source, topic label, dedup cluster) whose centroid sits on the
    global centroid (``cos_to_global`` ≈ 1) is semantically redundant
    with the corpus; a tight group (``mean_cos_to_centroid`` ≈ 1) is
    internally homogeneous — together they answer "which slices add
    semantic diversity, and which are near-duplicate blobs?".

    ``centroid_norm`` is the L2 norm of the per-dimension mean — for
    unit-normalized inputs it doubles as a cohesion score (1 = all
    vectors identical, → 0 = isotropic spread). Cosines follow the
    engine-wide zero-norm → 0.0 convention of ``cosine_sim_expr``.

    Fully lazy, no driver collect: one ``posexplode`` (linear in
    n·dim), per-(group, dim) and per-dim mean aggregates — both keyed
    on bounded vocabularies — centroids rebuilt as arrays via
    ``array_sort(collect_list(struct(pos, m)))`` (dim entries per
    group), then ONE broadcast join of the |groups|-row centroid frame
    back to the vectors for the cohesion average and a broadcast of the
    1-row global centroid. Nothing pair-joins; the explode shuffle is
    the only data-sized exchange. NULL vectors and NULL groups are
    dropped. round(·, 6) for oracle parity.
    """
    base = (
        df.filter(F.col(vec_col).isNotNull() & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("_v"),
        )
    )
    ex = base.select("grp", F.posexplode("_v").alias("pos", "val"))
    gc = ex.groupBy("grp", "pos").agg(F.avg("val").alias("m"))
    as_array = F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "m"))), lambda s: s["m"]
    )
    cent = gc.groupBy("grp").agg(as_array.alias("_c"))
    glob = (
        ex.groupBy("pos")
        .agg(F.avg("val").alias("m"))
        .agg(as_array.alias("_g"))
    )
    counts = base.groupBy("grp").agg(F.count(F.lit(1)).alias("n_vecs"))
    coh = (
        base.join(F.broadcast(cent), "grp")
        .select("grp", cosine_sim_expr("_v", "_c").alias("_cos"))
        .groupBy("grp")
        .agg(F.avg("_cos").alias("_mean_cos"))
    )
    norm2 = F.aggregate(
        F.col("_c"), F.lit(0.0), lambda acc, x: acc + x * x
    )
    return (
        cent.join(F.broadcast(counts), "grp")
        .join(F.broadcast(coh), "grp")
        .crossJoin(F.broadcast(glob))
        .select(
            F.col("grp").alias("group"),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.round(F.sqrt(norm2), 6).alias("centroid_norm"),
            F.round(F.col("_mean_cos"), 6).alias("mean_cos_to_centroid"),
            F.round(cosine_sim_expr("_c", "_g"), 6).alias("cos_to_global"),
        )
    )
