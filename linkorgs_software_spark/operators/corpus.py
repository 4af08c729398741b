"""Corpus-scale deduplication operators (training-data pipeline suite).

Five dedup families over a ``documents(doc_id, text)`` table, each one a
composition of the engine's blocking/scoring primitives — all portable to
an ANSI-SQL oracle:

  * exact           — content-hash groupBy (byte-identical docs)
  * n-gram jaccard  — shared-shingle blocking + set-jaccard verify
  * MinHash + LSH   — portable md5 minhash signatures, banded bucket join
  * SimHash         — md5-derived bit signature, near-dup via hamming bands
  * embedding       — cosine-threshold near-dup (brute force verify;
                      hyperplane-LSH candidates at scale — see ann.py)

The four near-dup families share one candidate step,
``blocking.bucket_pairs``: df-cap hot keys, self-join on the key, keep
``id_a < id_b``, one row per pair. They differ only in the key (shingle,
band, bit-block, LSH bucket) and in the verify score; the shingle-set
verifies join their payloads through ``blocking.verified_pairs``. The
span family (duplicated spans and runs, passage dedup, boilerplate,
decontamination, repetition) builds its token windows with
``functions.text.token_windows_expr``.

Hash portability: every hash is ``md5`` of a visible string (hex compared
lexicographically), so Spark and DuckDB agree bit-for-bit; no engine-private
hash (xxhash64/duckdb hash) crosses the oracle boundary.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..cache import persist
from ..functions.embedding import cosine_sim_expr
from ..functions.qgrams import jaccard_sim_expr
from ..functions.text import word_shingles_expr
from ..sources.io import plan_size_bytes
from .blocking import bucket_pairs, verified_pairs


def _spread_small_input(df: DataFrame, key_col: str) -> DataFrame:
    """Hash-repartition ``df`` to the session's default parallelism WHEN its
    optimizer-estimated size is too small to scan at full parallelism.

    The hash-heavy text kernels (16 md5 evaluations per shingle for
    MinHash, per-token md5 for SimHash, the shingle-array builds of every
    verify side) execute inside the SCAN stage, whose task count is the
    input's split count. A corpus small enough to fit one 128 MB split —
    every local bench table, any small partition of a big job — therefore
    runs those kernels on ONE core (round-7 profile: two single-task
    stages carried 14 s of minhash_lsh_dups' 13 s wall). The guard is
    scale-adaptive, not a local constant: the repartition fires only when
    the estimated input is under ``parallelism x 32 MB`` (i.e. the scan
    would have fewer than ~parallelism/4 splits), so at real corpus sizes
    it is a provable no-op and no extra full-corpus shuffle ever happens.
    Keyed on the doc id (unique ⇒ uniform), not round-robin, so no
    pre-repartition sort is paid and retries stay deterministic.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    size = plan_size_bytes(df)
    if size is None or size >= par * 32 * 1024 * 1024:
        return df
    return df.repartition(par, F.col(key_col))


def exact_dup_groups(df: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(doc_id, dup_group, group_size, keep) — keep = smallest id per group.

    Linear window formulation (ONE scan + ONE shuffle on the content hash);
    the groupBy + re-join alternative scans the input twice and its two
    branches race any upstream cache (measured trap — see
    tests/../spark-local-perf-traps).
    """
    h = df.select(F.col(id_col), F.md5(F.col(text_col)).alias("dup_group"))
    w = Window.partitionBy("dup_group")
    return h.select(
        id_col,
        "dup_group",
        F.count(F.lit(1)).over(w).alias("group_size"),
        (F.col(id_col) == F.min(id_col).over(w)).alias("keep"),
    )


def duplicated_spans(
    df: DataFrame,
    *,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Per-doc duplicated-span stats: how many of a doc's length-``k``
    token windows also occur in at least ``min_docs - 1`` OTHER documents.

    The repeated-substring signal from LLM corpus hygiene (exact repeated
    multi-token windows drive memorization): boilerplate, templated text,
    and partial copies light up here even when whole-document near-dup
    misses them, because only a span — not the document — repeats. Returns
    ``(doc_id, n_spans, n_dup_spans, dup_span_frac)``; docs shorter than
    ``k`` tokens have zero complete windows and a 0.0 fraction.

    Scale shape: the window explode is linear in total tokens; one shuffle
    groups spans (md5 of the window text, portable to the SQL oracle), one
    aggregates per doc. Span frequencies are counted, never joined into a
    pair blow-up — a viral boilerplate span costs one big count, not a
    bucket self-join.

    Precondition: ``id_col`` values are unique. A small input is spread by
    repartitioning on the id (``_spread_small_input``), so heavily repeated
    ids would put their window explodes on few tasks; the ids are not
    checked here.
    """
    from ..functions.text import token_windows_expr, tokens_expr

    spans_expr = token_windows_expr(tokens_expr(F.lower(F.col(text_col))), k, window=F.md5)
    # A small input (one split) would run the whole window explode on one
    # core — the measured one-file-split trap. The shared guard keys on the
    # optimizer's size estimate (so one HUGE file is also caught, which the
    # pre-round-7 inline file-count probe here missed) and repartitions by
    # the unique doc id — no round-robin pre-sort; at scale it is a no-op.
    df = _spread_small_input(df, id_col)
    # explode_outer keeps zero-span docs as one null-span row, so the final
    # per-doc aggregate covers every doc without a third scan of ``df``;
    # persisting the exploded frame means the window explode — the linear-
    # in-total-tokens cost — runs once, feeding both the span-frequency
    # shuffle and the per-doc aggregate.
    ex = persist(
        df.select(F.col(id_col).alias("_id"), F.explode_outer(spans_expr).alias("span"))
    )
    span_docs = (
        ex.filter(F.col("span").isNotNull())
        .groupBy("span")
        .agg(F.countDistinct("_id").alias("n_docs"))
    )
    return (
        ex.join(span_docs, "span", "left")
        .groupBy("_id")
        .agg(
            F.count(F.when(F.col("span").isNotNull(), 1)).alias("n_spans"),
            F.count(F.when(F.col("n_docs") >= min_docs, 1)).alias("n_dup_spans"),
        )
        .select(
            F.col("_id").alias(id_col),
            "n_spans",
            "n_dup_spans",
            F.round(
                F.when(
                    F.col("n_spans") > 0,
                    F.col("n_dup_spans") / F.col("n_spans").cast("double"),
                ).otherwise(F.lit(0.0)),
                6,
            ).alias("dup_span_frac"),
        )
    )


def duplicated_span_runs(
    df: DataFrame,
    *,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """MAXIMAL duplicated passages per doc: ``(doc_id, start_pos, end_pos,
    n_tokens, head_span)`` — each row a maximal run of consecutive
    duplicated length-``k`` token windows, covering tokens ``start_pos`` ..
    ``start_pos + n_tokens - 1`` (1-based). ``head_span`` is the md5 of the
    run's FIRST window (the span hash at ``start_pos``) — the run's
    identity, carried through so consumers (``dedup_passages``) can elect a
    canonical copy per passage without re-tokenizing the corpus.

    ``duplicated_spans`` counts the memorization signal; this is its
    ACTIONABLE form (the substring-dedup idea from
    "Deduplicating Training Data Makes Language Models Better"): a
    duplicated passage of any length ≥ k appears as a chain of overlapping
    duplicated windows, and merging consecutive duplicated window starts
    recovers the passage's exact extent — so a pipeline can cut the
    duplicated PASSAGE instead of dropping (or keeping) the whole doc.

    Scale shape: the span-frequency side is COUNTED (one shuffle, df-style
    — a viral passage costs one count, never a pair join); run merging is
    the classic ``pos − row_number`` constant-group trick inside a per-doc
    window over only the DUPLICATED positions (a small fraction of tokens
    in a healthy corpus).
    """
    from ..functions.text import token_windows_expr, tokens_expr

    df = _spread_small_input(df, id_col)
    spans_expr = token_windows_expr(tokens_expr(F.lower(F.col(text_col))), k, window=F.md5)
    ex = persist(
        df.select(F.col(id_col).alias("_id"), F.posexplode(spans_expr).alias("_p0", "span"))
        .withColumn("pos", F.col("_p0") + 1)
        .drop("_p0")
    )
    span_docs = (
        ex.groupBy("span")
        .agg(F.countDistinct("_id").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("span")
    )
    dup_pos = ex.join(span_docs, "span", "left_semi").select("_id", "pos", "span")
    w = Window.partitionBy("_id").orderBy("pos")
    runs = dup_pos.withColumn("_grp", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy("_id", "_grp")
        .agg(
            F.min("pos").alias("start_pos"),
            F.max("pos").alias("end_pos"),
            # the exploded span at the run's min pos — positions are unique
            # within a (doc, run) group, so min_by is deterministic
            F.min_by("span", "pos").alias("head_span"),
        )
        .select(
            F.col("_id").alias(id_col),
            F.col("start_pos").cast("long").alias("start_pos"),
            F.col("end_pos").cast("long").alias("end_pos"),
            (F.col("end_pos") - F.col("start_pos") + F.lit(k)).cast("long").alias(
                "n_tokens"
            ),
            "head_span",
        )
    )


def dedup_passages(
    df: DataFrame,
    *,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """Passage-level dedup: remove every maximal duplicated run's tokens
    from all but ONE canonical copy. Returns ``(doc_id, text_clean,
    n_tokens, n_removed)`` over the normalized token stream.

    Policy (deterministic, no pair join): a run's identity is its HEAD
    window (the span hash at ``start_pos``, carried out of
    ``duplicated_span_runs`` as ``head_span`` — no re-tokenization pass);
    the canonical copy is the minimum ``doc_id`` among docs containing that
    head span. The canonical doc keeps its passage; every other doc has the
    run's tokens (``start_pos`` .. ``end_pos + k − 1``) removed. This is
    the keep-one-occurrence substring dedup of Lee et al. re-expressed
    relationally: detection is ``duplicated_span_runs`` (span frequencies
    counted, never joined pairwise), canonical election is one min-
    aggregate per head span, and removal is a per-doc array filter over
    the collected (small) interval list.

    Plan shape: the detector already holds each run's head hash before it
    aggregates, so consuming it here deletes a whole second tokenization of
    the corpus AND the runs ⋈ tokens join that used to shuffle full token
    arrays for every doc with a run (at web-corpus scale that join was the
    plan's widest shuffle). The only tokens-materializing scan left is the
    final per-doc filter, joined against the NARROW cut-interval frame.
    """
    from ..functions.text import tokens_expr

    # spread once here: the detector AND the final token-filter scan both
    # tokenize this frame (the inner spread collapses into this one)
    df = _spread_small_input(df, id_col)
    runs = duplicated_span_runs(
        df, k=k, id_col=id_col, text_col=text_col, min_docs=min_docs
    )
    toks = tokens_expr(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_toks"))
    head = runs.select(
        F.col(id_col).alias("_id"),
        "start_pos",
        "end_pos",
        F.col("head_span").alias("_head"),
    )
    keeper = head.groupBy("_head").agg(F.min("_id").alias("_keep_id"))
    cut = (
        head.join(keeper, "_head")
        .filter(F.col("_id") != F.col("_keep_id"))
        .groupBy("_id")
        .agg(
            F.collect_list(F.struct("start_pos", "end_pos")).alias("_cuts")
        )
    )
    d = base.join(cut, "_id", "left").withColumn(
        "_cuts", F.coalesce("_cuts", F.array().cast("array<struct<start_pos:long,end_pos:long>>"))
    )
    return _remove_cut_tokens(d, id_col, k)


def _remove_cut_tokens(d: DataFrame, id_col: str, k: int) -> DataFrame:
    """``(id_col, text_clean, n_tokens, n_removed)`` from ``d``'s ``_id``,
    ``_toks`` (token array) and ``_cuts`` columns — the removal step of
    ``dedup_passages`` and ``strip_boilerplate_spans``. ``_cuts`` holds
    ``(start_pos, end_pos)`` runs of 1-based window starts; a run covers
    tokens ``start_pos`` .. ``end_pos + k − 1``, and every covered token is
    dropped. NULL text (NULL ``_toks``) reads as the empty token stream."""
    toks = F.coalesce(F.col("_toks"), F.array().cast("array<string>"))
    # filter's lambda index is 0-based: the token's position is i + 1
    kept = F.filter(
        toks,
        lambda t, i: ~F.exists(
            F.col("_cuts"),
            lambda c: (c["start_pos"] <= i + 1)
            & (i + 1 < c["end_pos"] + F.lit(k)),
        ),
    )
    # kept in its own projection, so the per-token lambda runs once per
    # document: Catalyst collapses projections but never duplicates it
    d = d.select("_id", F.size(toks).alias("_n"), kept.alias("_kept"))
    return d.select(
        F.col("_id").alias(id_col),
        F.concat_ws(" ", "_kept").alias("text_clean"),
        F.col("_n").cast("long").alias("n_tokens"),
        (F.col("_n") - F.size("_kept")).cast("long").alias("n_removed"),
    )


def top_boilerplate_spans(
    df: DataFrame,
    *,
    k: int = 8,
    top_n: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_docs: int = 2,
) -> DataFrame:
    """The triage view over ``duplicated_spans``: WHICH length-``k`` windows
    repeat the most — ``(span, n_docs, n_occurrences)``, the ``top_n`` by
    document reach. This is the list a pipeline owner reads to decide what
    boilerplate to strip before training.

    Deterministic top-n: ordered by (n_docs desc, n_occurrences desc, span
    asc), so ties cannot make the result set flap run-to-run (or disagree
    with the SQL oracle). Expressed as ``orderBy(...).limit(top_n)``, which
    Spark compiles to TakeOrderedAndProject — each partition keeps its own
    top ``top_n`` and a single merge of those tiny heaps produces the
    result. A global ``row_number`` window would instead funnel the ENTIRE
    qualifying span vocabulary (hundreds of millions of distinct repeated
    spans at web-corpus scale) through one task.
    """
    from ..functions.text import token_windows_expr, tokens_expr

    spans_expr = token_windows_expr(tokens_expr(F.lower(F.col(text_col))), k)
    agg = (
        df.select(F.col(id_col).alias("_id"), F.explode(spans_expr).alias("span"))
        .groupBy("span")
        .agg(
            F.countDistinct("_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= min_docs)
    )
    return agg.orderBy(
        F.col("n_docs").desc(), F.col("n_occurrences").desc(), F.col("span").asc()
    ).limit(top_n)


def strip_boilerplate_spans(
    df: DataFrame,
    spans: DataFrame,
    *,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    span_col: str = "span",
    max_spans: int = 10_000,
) -> DataFrame:
    """Remove every occurrence of the listed boilerplate spans from each
    document — the ACTION the ``top_boilerplate_spans`` triage list exists
    for. Returns ``(doc_id, text_clean, n_tokens, n_removed)``.

    Semantics (covered-token removal, deterministic and order-free): a
    token is removed iff it lies inside ANY occurrence of ANY listed span —
    i.e. inside a length-``k`` token window whose lowercase space-joined
    text is in ``spans.span_col``. Overlapping occurrences union naturally;
    ``text_clean`` is the surviving tokens joined by single spaces (the
    same normalized token stream the span detector operates on).

    Scale shape: ONE scan of the corpus, zero shuffles — the span list
    (top-N by construction) is aggregated to a single array row and
    broadcast-cross-joined onto every doc; window membership, covered-start
    detection, and token filtering are all per-row Catalyst array lambdas.
    No per-doc re-join, no explode.

    ``max_spans`` ENFORCES the tiny-span-list contract instead of trusting
    it: the ``collect_set`` funnels the whole list through one reducer into
    one broadcast row, so a caller who passes the full ``duplicated_spans``
    vocabulary (hundreds of millions of rows at web scale) would OOM a
    single task silently. The guard counts ``limit(max_spans + 1)`` — a
    LocalLimit that short-circuits the span plan as soon as enough rows
    exist — so an in-contract top-N list never pays a full extra
    execution of its own (typically explode + groupBy + window) plan just
    to be validated; oversize input still fails fast with a clear error.
    """
    from ..functions.text import token_windows_expr, tokens_expr

    n_spans = spans.limit(max_spans + 1).count()
    if n_spans > max_spans:
        raise ValueError(
            f"strip_boilerplate_spans got > max_spans={max_spans} spans: "
            "the span list is broadcast as ONE array row and "
            "must stay small — pass a top-N triage list "
            "(top_boilerplate_spans), or raise max_spans deliberately"
        )
    spans_arr = spans.agg(F.collect_set(span_col).alias("_span_set"))
    d = df.crossJoin(F.broadcast(spans_arr)).select(
        F.col(id_col).alias("_id"),
        tokens_expr(F.lower(F.col(text_col))).alias("_toks"),
        "_span_set",
    )
    # each listed window is a one-start run; the rest are dropped as NULL
    hits = F.transform(
        token_windows_expr("_toks", k),
        lambda w, i: F.when(
            F.array_contains("_span_set", w),
            F.struct((i + 1).alias("start_pos"), (i + 1).alias("end_pos")),
        ),
    )
    d = d.withColumn("_cuts", F.filter(hits, lambda c: c.isNotNull()))
    return _remove_cut_tokens(d, id_col, k)


def ngram_jaccard_dups(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_block_df: int = 5000,
) -> DataFrame:
    """Near-dup pairs by word-shingle jaccard similarity >= threshold.

    Blocking: docs sharing at least one (df-capped) shingle; verify: exact
    set jaccard on the full shingle sets. Returns (id_a, id_b, jaccard_sim),
    id_a < id_b.
    """
    cand, sh = _shingle_candidates(df, id_col, text_col, shingle_k, max_block_df)
    return verified_pairs(
        cand, sh, sh, jaccard_sim_expr, threshold, score="jaccard_sim"
    ).select("id_a", "id_b", "jaccard_sim")


def _shingle_sets(df: DataFrame, id_col: str, text_col: str, shingle_k: int) -> DataFrame:
    """``(id, sh)``: each doc's distinct word shingles, the verify payload
    of the shingle-set families."""
    return df.select(
        F.col(id_col).alias("id"), word_shingles_expr(text_col, shingle_k).alias("sh")
    )


def _shingle_candidates(
    df: DataFrame, id_col: str, text_col: str, shingle_k: int, max_block_df: int
) -> tuple[DataFrame, DataFrame]:
    """``(candidate pairs, shingle sets)`` of ``ngram_jaccard_dups`` and
    ``containment_pairs``: docs sharing at least one df-capped shingle."""
    sh = _shingle_sets(_spread_small_input(df, id_col), id_col, text_col, shingle_k)
    idx = persist(sh.select("id", F.explode("sh").alias("s")))
    return bucket_pairs(idx, "s", cap=max_block_df), sh


def containment_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    shingle_k: int = 3,
    threshold: float = 0.8,
    max_block_df: int = 5000,
) -> DataFrame:
    """Asymmetric near-dup detection by shingle CONTAINMENT:
    ``(contained_id, container_id, containment, n_shingles_contained,
    n_shingles_container)`` for every ordered pair where
    ``|S_A ∩ S_B| / |S_A| >= threshold`` (Broder's containment measure).

    The case Jaccard misses: a short document wholly quoted inside a
    much longer one scores near-zero Jaccard (the union is dominated by
    the long doc) but containment ≈ 1 — exactly the subsumed-document /
    quote-expansion pattern a dedup pass wants to catch. Each direction
    is emitted independently; a pair of true near-dups appears twice
    (both containments high), a subsumption once.

    Same two-phase shape as ``ngram_jaccard_dups``: candidates from the
    df-capped shingle posting lists (one exploded index, shared-shingle
    join, never all-pairs), then EXACT verification on the full distinct
    shingle arrays via ``array_intersect`` — the df-cap only bounds the
    candidate join, never the reported score. Empty docs have no
    shingles, enter no posting list, and never pair. round(·, 6) for
    oracle parity.
    """
    cand, sh = _shingle_candidates(df, id_col, text_col, shingle_k, max_block_df)

    def inter(a, b):
        return F.size(F.array_intersect(a, b)).cast("double")

    # verify keeps a pair when either direction reaches the threshold (the
    # larger containment is over the smaller set); the split follows
    scored = verified_pairs(
        cand,
        sh,
        sh,
        lambda a, b: inter(a, b) / F.least(F.size(a), F.size(b)),
        threshold,
    ).select(
        "id_a",
        "id_b",
        inter("sh_a", "sh_b").alias("_i"),
        F.size("sh_a").cast("long").alias("_na"),
        F.size("sh_b").cast("long").alias("_nb"),
    )
    t = F.lit(float(threshold))
    fwd = scored.filter(F.col("_i") / F.col("_na") >= t).select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        F.round(F.col("_i") / F.col("_na"), 6).alias("containment"),
        F.col("_na").alias("n_shingles_contained"),
        F.col("_nb").alias("n_shingles_container"),
    )
    rev = scored.filter(F.col("_i") / F.col("_nb") >= t).select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        F.round(F.col("_i") / F.col("_nb"), 6).alias("containment"),
        F.col("_nb").alias("n_shingles_contained"),
        F.col("_na").alias("n_shingles_container"),
    )
    return fwd.unionByName(rev)


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, h0..h{n-1}) portable MinHash: h_i = min(md5(i || ':' || shingle)).

    One explode + one groupBy with n min-aggregates — a single shuffle,
    map-side partial mins, no UDF.
    """
    sh = _spread_small_input(df, id_col).select(
        F.col(id_col).alias("id"),
        F.explode(word_shingles_expr(text_col, shingle_k)).alias("s"),
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("s")))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return sh.groupBy("id").agg(*aggs)


def minhash_band_buckets(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
) -> DataFrame:
    """(id, bucket) band-bucket rows — ``bands`` rows per doc.

    The shared candidate-key derivation for batch AND streaming MinHash-LSH:
    signature → ``bands`` md5 band keys (classic banding). Two docs are
    near-dup candidates iff they share a bucket, wherever each was computed
    — which is what lets the streaming operator compare a micro-batch
    against a bucket history written by earlier batches.
    """
    if not (1 <= bands <= num_hashes and num_hashes % bands == 0):
        # rows = 0 would give every doc the same bands keys, so every doc
        # shares every bucket and the df-cap then drops them all
        raise ValueError(
            f"bands must divide num_hashes with 1 <= bands <= num_hashes; "
            f"got bands={bands}, num_hashes={num_hashes}"
        )
    rows = num_hashes // bands
    sig = minhash_signatures(
        df, id_col=id_col, text_col=text_col, num_hashes=num_hashes, shingle_k=shingle_k
    )
    band_cols = [
        F.md5(
            F.concat_ws("|", F.lit(str(bi)), *[F.col(f"h{bi * rows + r}") for r in range(rows)])
        ).alias(f"band{bi}")
        for bi in range(bands)
    ]
    return sig.select("id", F.explode(F.array(*band_cols)).alias("bucket"))


def minhash_lsh_dups(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_bucket_df: int | None = 5000,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified by exact shingle jaccard.

    Signature → ``bands`` buckets of ``num_hashes/bands`` rows; docs sharing
    any band bucket are candidates (classic banding: P[candidate] =
    1-(1-s^r)^b); verify pass computes true jaccard and applies threshold.

    ``max_bucket_df`` drops band buckets whose posting list exceeds the cap
    before the self-join: a viral duplicated doc otherwise puts millions of
    ids in ONE bucket and squares inside a single task (the 100 TB
    skew-killer). A bucket that large is exact-dup-grade duplication — run
    ``exact_dup_groups`` first; LSH is for the non-identical tail.
    """
    df = _spread_small_input(df, id_col)  # shared by the banded AND verify scans
    banded = minhash_band_buckets(
        df,
        id_col=id_col,
        text_col=text_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
    )
    # the banded frame feeds the cap count AND both self-join sides: persist
    # (disk-spillable) so the signature aggregation runs once, not 3x
    cand = bucket_pairs(persist(banded), "bucket", cap=max_bucket_df)
    sh = _shingle_sets(df, id_col, text_col, shingle_k)
    return verified_pairs(
        cand, sh, sh, jaccard_sim_expr, threshold, score="jaccard_sim"
    ).select("id_a", "id_b", "jaccard_sim")


SIMHASH_BITS = 64


def simhash_expr(text_col: str, *, bits: int = SIMHASH_BITS):
    """Portable 64-bit SimHash: per-token bit_j = bit ``j // 32`` of the
    ``(j % 32)``-th hex nibble of md5(token); signature bit j set iff the
    sum over tokens of (2*bit_j − 1) > 0.

    Width matters at scale: a 16-bit signature banded into 4 blocks yields
    only 64 bucket keys in total, so past ~80k docs every bucket exceeds any
    sane frequency cap and candidate recall silently collapses to zero.
    64 bits / 4 blocks gives 4 × 65,536 keys — buckets stay proportional to
    true near-dup density, not corpus size.

    Bit 63 is composed as −2⁶³ (two's complement) so the signature stays a
    plain signed long in both Spark and the DuckDB oracle — neither engine
    accepts a ``1 << 63`` literal.

    Pure Catalyst, explode-free (aggregate over the token array), over the
    column NAMED ``text_col``. The expression is GENERATED AS ONE SQL TEXT
    (single py4j call — a Column-algebra form costs a round trip per node,
    measured ~2 s of driver time per call at 64 bits; see
    ``ann._sign_bucket_expr`` for the same fix).
    """
    if not 1 <= bits <= 64:
        raise ValueError(f"simhash bits must be in [1, 64]; got {bits}")
    c = f"lower(`{text_col}`)"
    toks = (
        f"case when length(trim({c})) = 0 then array() "
        f"else split(trim({c}), '\\\\s+') end"
    )
    contrib = "array(" + ",".join(
        f"cast(((shiftright(cast(conv(substring(h, {(j % 32) + 1}, 1), 16, 10) "
        f"as bigint), {j // 32}) % 2) * 2 - 1) as bigint)"
        for j in range(bits)
    ) + ")"
    zero = "array(" + ",".join("0L" for _ in range(bits)) + ")"
    sums = (
        f"aggregate(transform({toks}, t -> md5(t)), {zero}, "
        f"(acc, h) -> zip_with(acc, {contrib}, (a, b) -> a + b))"
    )
    terms = []
    for j in range(bits):
        w = "(-9223372036854775807L - 1L)" if j == 63 else f"{2 ** j}L"
        terms.append(f"(case when element_at(s, {j + 1}) > 0 then {w} else 0L end)")
    # bind the sums array once via a transform-over-singleton so the big
    # aggregate is not repeated per bit term
    return F.expr(
        f"element_at(transform(array({sums}), s -> (" + " + ".join(terms) + ")), 1)"
    )


def simhash_dups(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    max_hamming: int = 3,
    blocks: int = 4,
    max_bucket_df: int | None = 5000,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Candidates: pigeonhole banding — signatures within hamming d must share
    at least one of ``blocks`` bit-blocks when blocks > d; verify with
    ``bit_count(xor)``. Returns (id_a, id_b, hamming).

    ``max_bucket_df`` caps bit-block posting lists exactly like
    ``minhash_lsh_dups`` — an over-duplicated corpus otherwise squares
    inside one block bucket's self-join task.
    """
    if not max_hamming < blocks <= bits:
        # blocks > bits gives 0-bit blocks: every doc shares every block key
        raise ValueError(
            f"pigeonhole recall needs max_hamming < blocks <= bits; got "
            f"blocks={blocks}, max_hamming={max_hamming}, bits={bits}"
        )
    width = bits // blocks
    sig = _spread_small_input(df, id_col).select(
        F.col(id_col).alias("id"), simhash_expr(text_col, bits=bits).alias("sig")
    )
    # shiftrightunsigned: logical shift keeps block keys non-negative even
    # when the 64-bit signature's sign bit is set
    block_cols = [
        F.concat_ws(
            ":",
            F.lit(str(b)),
            (F.shiftrightunsigned("sig", b * width) % (2**width)).cast("string"),
        ).alias(f"blk{b}")
        for b in range(blocks)
    ]
    blocked = sig.select("id", "sig", F.explode(F.array(*block_cols)).alias("blk"))
    # simhash_expr (md5 per token) is the expensive projection; persist so the
    # cap count and both self-join sides read it once
    cand = bucket_pairs(persist(blocked), "blk", cap=max_bucket_df)
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def embedding_neardup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
) -> DataFrame:
    """Cosine near-dup pairs (brute-force verify path).

    The all-pairs join is the *verify* stage; at 100 TB the candidate stage
    is hyperplane LSH (ann.lsh_buckets) — compose ``lsh_buckets`` →
    ``embedding_neardup`` on bucket-joined candidates.
    """
    a = emb.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"))
    b = emb.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .withColumn("cosine_sim", cosine_sim_expr("v_a", "v_b"))
        .filter(F.col("cosine_sim") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine_sim")
    )


def near_dup_groups(
    df: DataFrame,
    pairs: DataFrame,
    *,
    id_col: str = "doc_id",
) -> DataFrame:
    """Transitive near-dup groups: ``(doc_id, group_id, keep)``.

    The corpus-dedup endgame: pair detection (any of the near-dup families)
    is only half the job — A~B and B~C must collapse into ONE group even
    when A~C was never emitted. Connected components over the pair edges
    (min-label + pointer jumping, operators/cluster.py) assign each doc the
    minimum id of its transitive group; singletons group with themselves;
    ``keep`` marks the canonical (minimum-id) doc per group — filtering on
    it yields the deduplicated corpus.
    """
    from .cluster import connected_components

    cc = connected_components(
        pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    )
    all_ids = df.select(F.col(id_col).alias("id")).distinct()
    lab = all_ids.join(cc, "id", "left").withColumn(
        "group_id", F.coalesce("component", F.col("id"))
    )
    return lab.select(
        F.col("id").alias(id_col),
        "group_id",
        (F.col("id") == F.col("group_id")).alias("keep"),
    )


def corpus_profile(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One-row corpus profile — the sizing measurement a pipeline owner
    reads BEFORE committing to a dedup/cleaning run: ``(n_docs,
    n_distinct_texts, exact_dup_rate, total_tokens, avg_tokens,
    median_tokens, max_tokens, n_empty)``.

    Scale shape: one scan computing per-doc token counts + a content hash,
    then a single global aggregate (map-side partial). The median is the
    exact rank statistic (⌈n/2⌉-th smallest) read off a FREQUENCY
    HISTOGRAM of token counts: distinct token-count VALUES are bounded by
    the longest document, not the corpus, so the groupBy collapses 10¹¹
    docs to a few thousand (value, count) rows — unlike a
    ``sort+limit(n/2)`` rank pick, which would funnel half the corpus
    through the final top-k merge. The cumulative walk over that histogram
    stays DISTRIBUTED too: a window cumulative sum ordered by token count
    picks the first row whose running count reaches ⌈n/2⌉, so the driver
    collects exactly ONE scalar row — never the histogram (a corpus with
    million-token docs would otherwise collect ~10⁶ rows). The
    no-partition window is a deliberate single-task step over the TINY
    histogram frame, not the corpus. Deterministic and SQL-portable (no
    approx sketch); all ratios are round(·, 6) integer-ratio doubles for
    oracle bit-parity.
    """
    from ..functions.text import token_count_expr

    d = persist(
        df.select(
            F.md5(F.col(text_col)).alias("_h"),
            token_count_expr(text_col).cast("long").alias("_nt"),
        )
    )
    agg = d.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("_h").alias("n_distinct_texts"),
        F.sum("_nt").alias("total_tokens"),
        F.max("_nt").alias("max_tokens"),
        F.count(F.when(F.col("_nt") == 0, 1)).alias("n_empty"),
    )
    row = agg.collect()[0]
    n = row["n_docs"]
    if n == 0:
        spark = df.sparkSession
        return spark.createDataFrame(
            [(0, 0, 0.0, 0, 0.0, 0, 0, 0)],
            "n_docs long, n_distinct_texts long, exact_dup_rate double, "
            "total_tokens long, avg_tokens double, median_tokens long, "
            "max_tokens long, n_empty long",
        )
    k = (n + 1) // 2  # ⌈n/2⌉-th smallest = lower median (rank statistic)
    hist = d.groupBy("_nt").agg(F.count(F.lit(1)).alias("_c"))
    wcum = Window.orderBy("_nt").rowsBetween(Window.unboundedPreceding, 0)
    med = (
        hist.withColumn("_cum", F.sum("_c").over(wcum))
        .filter(F.col("_cum") >= F.lit(k))
        .agg(F.min("_nt").alias("m"))
        .collect()[0]["m"]
    )
    # ratios rounded ENGINE-side (Spark round == SQL round, half away from
    # zero; Python's round is banker's and would flap oracle ties)
    return agg.select(
        F.col("n_docs"),
        F.col("n_distinct_texts"),
        F.round(
            F.lit(1.0)
            - F.col("n_distinct_texts").cast("double") / F.col("n_docs").cast("double"),
            6,
        ).alias("exact_dup_rate"),
        F.col("total_tokens"),
        F.round(
            F.col("total_tokens").cast("double") / F.col("n_docs").cast("double"), 6
        ).alias("avg_tokens"),
        F.lit(int(med)).cast("long").alias("median_tokens"),
        F.col("max_tokens"),
        F.col("n_empty"),
    )


def decontaminate_flags(
    corpus: DataFrame,
    benchmark: DataFrame,
    *,
    k: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    bench_text_col: str = "text",
) -> DataFrame:
    """Benchmark decontamination: ``(doc_id, n_contaminated_windows,
    contaminated)`` — flag every training document sharing ANY length-``k``
    token window with an evaluation/benchmark set (the n-gram
    decontamination rule the GPT-3 / Llama training reports describe).
    A training corpus that contains eval text inflates downstream scores;
    this is the hygiene pass that catches it BEFORE training.

    Semantics: windows are md5 hashes of lowercase whitespace k-token
    windows (the same normalized stream as ``duplicated_spans``);
    ``n_contaminated_windows`` counts the doc's window POSITIONS that
    match any benchmark window (so a long leaked passage scores higher
    than one shared idiom); every corpus doc keeps a row.

    Scale shape: COUNTED, never pair-joined — the corpus explodes once
    (linear in tokens), the benchmark's distinct window set (eval suites
    are tiny next to a training corpus — typically broadcast by AQE)
    joins on the window hash, and a per-doc count aggregates matches. No
    doc x benchmark-doc pairs ever materialize.
    """
    from ..functions.text import token_windows_expr, tokens_expr

    def spans_of(frame: DataFrame, col: str, out_id: str | None):
        spans = token_windows_expr(tokens_expr(F.lower(F.col(col))), k, window=F.md5)
        cols = [F.explode(spans).alias("span")]
        if out_id is not None:
            cols = [F.col(out_id).alias("_id")] + cols
        return frame.select(*cols)

    bench_spans = spans_of(benchmark, bench_text_col, None).distinct()
    hits = (
        spans_of(corpus, text_col, id_col)
        .join(bench_spans, "span", "left_semi")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_contaminated_windows"))
    )
    return (
        corpus.select(F.col(id_col).alias("_id"))
        .join(hits, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_contaminated_windows", F.lit(0))
            .cast("long")
            .alias("n_contaminated_windows"),
            (F.coalesce("n_contaminated_windows", F.lit(0)) > 0).alias("contaminated"),
        )
    )


def source_profile(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source corpus triage: ``(source, n_docs, total_tokens,
    avg_tokens, n_distinct_texts, exact_dup_rate)`` — the slice-level
    sizing/dup view a pipeline owner reads to decide which SOURCES to
    keep, cap, or dedup harder (web-corpus curation is done per source
    long before per-document rules run).

    One scan + one groupBy on the source key; exact-dup rate is
    1 − distinct content hashes / docs WITHIN the source (cross-source
    duplication belongs to the global dedup pass). round(·, 6)
    integer-ratio doubles for oracle parity; deterministic ordering left
    to the caller.
    """
    from ..functions.text import token_count_expr

    return (
        df.select(
            F.col(source_col).alias("source"),
            token_count_expr(text_col).cast("long").alias("_nt"),
            F.md5(F.col(text_col)).alias("_h"),
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("_nt").alias("total_tokens"),
            F.round(
                F.sum("_nt").cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("avg_tokens"),
            F.countDistinct("_h").alias("n_distinct_texts"),
            F.round(
                F.lit(1.0)
                - F.countDistinct("_h").cast("double") / F.count(F.lit(1)).cast("double"),
                6,
            ).alias("exact_dup_rate"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    *,
    k: int = 5,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-``k`` characteristic terms per document by smoothed TF-IDF:
    ``(doc_id, term, tf, tfidf, rank)`` — the keyword-extraction /
    topical-profiling measurement a pretraining pipeline runs to audit
    what a corpus slice is actually about.

    Weights are the sklearn-style smooth form
    ``tf · (ln((N+1)/(df+1)) + 1)`` over lowercase whitespace tokens
    (the same normalized stream every other corpus operator uses); ties
    break (tfidf desc, term asc) so the top-k never flaps run-to-run or
    against the SQL oracle; ``round(·, 6)`` keeps the float comparison
    engine-portable (ln is IEEE libm on both engines; last-ulp noise
    dies at 6 decimals).

    Scale shape: one explode (linear in tokens), a (doc, term) count
    shuffle, a term-keyed document-frequency aggregate joined back on
    ``term`` (both keyed on bounded vocabularies, never on pairs), and a
    per-doc top-k window PARTITIONED by doc — no global window anywhere.
    ``N`` is one scalar count. Empty docs have no terms and no rows.
    """
    from ..functions.text import tokens_expr

    n_docs = df.count()
    terms = df.select(
        F.col(id_col).alias("_id"), F.explode(tokens_expr(F.lower(F.col(text_col)))).alias("term")
    )
    tf = terms.groupBy("_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("_df"))
    idf = F.log((F.lit(float(n_docs) + 1.0)) / (F.col("_df") + F.lit(1.0))) + F.lit(1.0)
    scored = tf.join(dfreq, "term").select(
        "_id",
        "term",
        "tf",
        F.round(F.col("tf") * idf, 6).alias("tfidf"),
    )
    w = Window.partitionBy("_id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("_id").alias(id_col),
            "term",
            F.col("tf").cast("long").alias("tf"),
            "tfidf",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def lm_quality_scores(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document corpus-bigram log-likelihood ``(doc_id, n_bigrams,
    avg_logp)`` — a self-referential language-model quality score: how
    typical each document's word transitions are of THIS corpus, under an
    add-one-smoothed bigram model estimated from the corpus itself.
    Unusually low scores flag boilerplate-free gibberish, wrong-language
    slices, and template spam that per-doc heuristics (punctuation /
    stopword ratios) miss; unusually high scores flag near-duplicate
    templating. This is the classic perplexity-filter idea (e.g. CCNet's
    LM filtering) with the corpus itself as the model, so it needs no
    external artifact.

    ``p(w2|w1) = (c(w1,w2) + 1) / (c(w1) + V)`` with V = distinct
    unigram vocabulary; ``avg_logp`` = mean ln p over the doc's bigrams,
    round(·, 6). Docs with < 2 tokens keep a row with ``n_bigrams = 0``
    and NULL score (a filter should treat them via the length rule, not
    silently drop them).

    Scale shape: one explode to (w1, w2) pairs (linear in tokens), two
    count aggregates keyed on bounded vocabularies (bigram + unigram),
    one join back on the bigram key, one per-doc average — no pair joins,
    no global windows, V and nothing else collected (two scalar counts).
    """
    from ..functions.text import tokens_expr

    toks = tokens_expr(F.lower(F.col(text_col)))
    base = df.select(F.col(id_col).alias("_id"), toks.alias("_t"))
    n = F.size("_t")
    bigrams_expr = F.when(
        n >= 2,
        F.transform(
            F.sequence(F.lit(1), n - 1),
            lambda i: F.struct(
                F.element_at("_t", i).alias("w1"), F.element_at("_t", i + 1).alias("w2")
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bg = persist(
        base.select("_id", F.explode(bigrams_expr).alias("b"))
        .select("_id", F.col("b.w1").alias("w1"), F.col("b.w2").alias("w2"))
    )
    c12 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("_c12"))
    c1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("_c1"))
    vocab = int(
        base.select(F.explode("_t").alias("w")).agg(F.countDistinct("w")).collect()[0][0]
    )
    logp = F.log(
        (F.col("_c12") + F.lit(1.0)) / (F.col("_c1") + F.lit(float(vocab)))
    )
    per_doc = (
        bg.join(c12, ["w1", "w2"])
        .join(c1, "w1")
        .groupBy("_id")
        .agg(F.count(F.lit(1)).alias("n_bigrams"), F.round(F.avg(logp), 6).alias("avg_logp"))
    )
    return (
        df.select(F.col(id_col).alias("_id"))
        .join(per_doc, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            F.coalesce("n_bigrams", F.lit(0)).cast("long").alias("n_bigrams"),
            "avg_logp",
        )
    )


CLEAN_RULES = ("too_short", "too_puncty", "low_quality", "wrong_lang", "duplicate")


def clean_corpus_verdicts(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_tokens: int = 5,
    max_punct_ratio: float = 0.3,
    min_quality: float = 0.2,
    langs: tuple[str, ...] | None = None,
    dedup: bool = True,
) -> DataFrame:
    """Per-document cleaning verdicts ``(doc_id, keep, reason)`` — the
    standard pretraining-corpus filter chain (length / punctuation noise /
    quality / language / exact-dup) in ONE pass over the scan.

    ``reason`` is the first failing rule in ``CLEAN_RULES`` order (null when
    kept). Ratio thresholds compare on round(·, 6) so the DuckDB oracle and
    Spark agree bit-for-bit at rule boundaries. Exact-dup keeps the smallest
    id per content hash (one groupBy — the only shuffle in the plan).
    """
    from ..functions.text import (
        lang_id_expr,
        punct_ratio_expr,
        quality_score_expr,
        token_count_expr,
    )

    d = df.select(F.col(id_col).alias("doc_id"), F.col(text_col).alias("text"))
    flags = d.select(
        "doc_id",
        (token_count_expr("text") < F.lit(int(min_tokens))).alias("too_short"),
        (F.round(punct_ratio_expr("text"), 6) > F.lit(float(max_punct_ratio))).alias(
            "too_puncty"
        ),
        (F.round(quality_score_expr("text"), 6) < F.lit(float(min_quality))).alias(
            "low_quality"
        ),
        (
            ~lang_id_expr("text").isin(*langs)
            if langs is not None
            else F.lit(False)
        ).alias("wrong_lang"),
        F.md5("text").alias("_h"),
    )
    if dedup:
        # linear window (one scan, one shuffle) instead of groupBy + re-join
        flags = flags.withColumn(
            "duplicate",
            F.col("doc_id") != F.min("doc_id").over(Window.partitionBy("_h")),
        )
    else:
        flags = flags.withColumn("duplicate", F.lit(False))
    reason = F.lit(None).cast("string")
    for rule in reversed(CLEAN_RULES):
        reason = F.when(F.col(rule), F.lit(rule)).otherwise(reason)
    return flags.select(
        "doc_id",
        (~F.greatest(*[F.col(r) for r in CLEAN_RULES])).alias("keep"),
        reason.alias("reason"),
    )


def clean_corpus(df: DataFrame, **kw) -> DataFrame:
    """The kept documents (see ``clean_corpus_verdicts`` for knobs/rules)."""
    id_col = kw.get("id_col", "doc_id")
    verdicts = clean_corpus_verdicts(df, **kw)
    return df.join(
        verdicts.filter("keep").select(F.col("doc_id").alias(id_col)), id_col, "left_semi"
    )


def embedding_neardup_lsh(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    dim: int = 64,
    n_planes: int | str = 8,
    num_tables: int = 4,
    seed: int = 42,
    max_bucket_df: int | None = 10_000,
    multiprobe: int = 0,
) -> DataFrame:
    """Cosine near-dup pairs via hyperplane-LSH candidates + exact verify.

    ``n_planes="auto"`` applies the measured scale rule
    (``ann.recommended_n_planes``): one ``count()`` of the input picks
    ``ceil(log2(n / 16))`` planes so bucket occupancy — and with it the
    self-join candidate volume — stays CONSTANT as the corpus grows (a
    fixed plane count went 19.6x wall-clock for 10x data in the round-5
    scale run; the occupancy-matched count returned the identical answer
    at 1.9x). Batch-only: the streaming variant must keep an explicit,
    stream-constant plane count or cross-batch bucket joins would compare
    incompatible codes.

    The scale path for ``embedding_neardup``: random-hyperplane sign buckets
    (``ann.lsh_buckets`` — seeded literal planes, pure Catalyst) generate
    candidates; pairs sharing any (table, bucket) are exactly re-scored and
    thresholded. Recall follows sign-LSH banding theory:
    P[same bucket in >=1 of T tables] = 1-(1-(1-θ/π)^p)^T — for near-dup
    thresholds (cosine >= 0.95 ⇒ θ <= 18°) recall is ~1 at p=8, T=4.

    ``multiprobe`` > 0 extends recall DOWN the threshold range (cosine
    ~0.8, θ ~37° — where exact-bucket recall sags) by additionally probing
    one side's hamming-1 (or -2) neighbor buckets (``ann.expand_probes``):
    pairs whose sign codes differ by <= multiprobe bits in any table become
    candidates, at (1 + n_planes [+ C(n_planes,2)])x fan-out on ONE side —
    still Σ bucket·cap, never the all-pairs n² the brute verify pays.

    ``max_bucket_df`` caps degenerate buckets the same way the other LSH
    families do (on EXACT bucket posting lists, before probe expansion, so
    a probe can never resurrect an over-cap bucket).
    """
    if n_planes == "auto":
        from .ann import recommended_n_planes

        n_planes = recommended_n_planes(emb.count())
    cand = _embedding_lsh_candidates(
        emb,
        id_col=id_col,
        vec_col=vec_col,
        dim=dim,
        n_planes=n_planes,
        num_tables=num_tables,
        seed=seed,
        max_bucket_df=max_bucket_df,
        multiprobe=multiprobe,
    )
    return (
        cand.withColumn("cosine_sim", cosine_sim_expr("v_a", "v_b"))
        .filter(F.col("cosine_sim") >= F.lit(float(threshold)))
        .select("id_a", "id_b", "cosine_sim")
    )


def _embedding_lsh_candidates(
    emb: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    dim: int,
    n_planes: int,
    num_tables: int,
    seed: int,
    max_bucket_df: int | None,
    multiprobe: int,
) -> DataFrame:
    """Deduped candidate pairs ``(id_a, id_b, v_a, v_b)`` for the LSH
    near-dup verify (factored out so tests can bound candidate volume)."""
    from .ann import expand_probes, lsh_buckets

    base = emb.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
    b = lsh_buckets(
        base, vec_col="v", dim=dim, n_planes=n_planes, num_tables=num_tables, seed=seed
    ).select("id", "v", "table_id", "bucket")
    # the bucket id costs n_planes x num_tables literal dot products per row
    # and feeds the cap count plus both self-join sides — compute it once
    return bucket_pairs(
        persist(b),
        ["table_id", "bucket"],
        cap=max_bucket_df,
        probe=lambda d: expand_probes(d, n_planes=n_planes, multiprobe=multiprobe),
    )


def repetition_profile(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Within-document repetition signals — the Gopher-rule family (Rae et
    al. 2021 §A1.1): machine-generated and template spam repeats itself
    INSIDE one document, which none of the cross-document dedup family can
    see. Returns one row per doc: ``(doc_id, n_tokens,
    distinct_token_ratio, top_token_share, dup_bigram_share)`` —
    ``dup_bigram_share`` is the fraction of bigram OCCURRENCES whose bigram
    appears more than once in the doc (the Gopher duplicate-n-gram
    fraction), ``top_token_share`` the heaviest single token's share.

    Scale shape: explode tokens once and bigrams once, count per (doc,
    gram) — a map-side-combinable aggregate keyed by doc — then one per-doc
    aggregate; NO per-doc O(n²) array lambdas (a list_filter-per-element
    formulation would square inside long documents), no windows, no joins
    except the final narrow doc-id re-attach that restores zero-token docs.
    All ratios are round(·, 6) integer-ratio doubles for oracle bit-parity.
    """
    from ..functions.text import token_windows_expr, tokens_expr

    base = df.select(
        F.col(id_col), tokens_expr(F.lower(F.col(text_col))).alias("_toks")
    )
    tok = base.select(id_col, F.explode("_toks").alias("_t"))
    tc = tok.groupBy(id_col, "_t").agg(F.count(F.lit(1)).alias("_c"))
    tstats = tc.groupBy(id_col).agg(
        F.sum("_c").alias("_n"),
        F.count(F.lit(1)).alias("_d"),
        F.max("_c").alias("_m"),
    )
    bg = base.select(id_col, F.explode(token_windows_expr("_toks", 2)).alias("_g"))
    bc = bg.groupBy(id_col, "_g").agg(F.count(F.lit(1)).alias("_c"))
    bstats = bc.groupBy(id_col).agg(
        F.sum("_c").alias("_bn"),
        F.sum(F.when(F.col("_c") > 1, F.col("_c")).otherwise(F.lit(0))).alias("_bd"),
    )
    zero = F.lit(0.0)
    return (
        base.select(id_col)
        .join(tstats, id_col, "left")
        .join(bstats, id_col, "left")
        .select(
            F.col(id_col),
            F.coalesce("_n", F.lit(0)).cast("long").alias("n_tokens"),
            F.round(
                F.when(F.col("_n") > 0, F.col("_d").cast("double") / F.col("_n")).otherwise(zero), 6
            ).alias("distinct_token_ratio"),
            F.round(
                F.when(F.col("_n") > 0, F.col("_m").cast("double") / F.col("_n")).otherwise(zero), 6
            ).alias("top_token_share"),
            F.round(
                F.when(F.col("_bn") > 0, F.col("_bd").cast("double") / F.col("_bn")).otherwise(zero), 6
            ).alias("dup_bigram_share"),
        )
    )


def pack_chunks(
    df: DataFrame,
    *,
    budget: int = 2048,
    bucket_size: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Concat-and-chunk sequence packing — the step that turns a cleaned
    corpus into fixed-size pretraining sequences (GPT-style: concatenate
    the token stream in a canonical document order, cut every ``budget``
    tokens). Returns ``(doc_id, n_tokens, start_offset, chunk_id)``:
    ``start_offset`` is the document's cumulative token offset in the
    ``id_col``-ordered stream and ``chunk_id = floor(start_offset /
    budget)`` — the training chunk its first token lands in; a writer
    groups by ``chunk_id`` to emit sequences.

    Scale shape — a DISTRIBUTED prefix sum, because the naive formulation
    (``sum() over (order by id)``) is a single-partition global window,
    the exact shape the top_spans audit banned from corpus-sized frames:
    docs group into ordered buckets of ``bucket_size`` ids; per-bucket
    token totals (one map-side-combinable aggregate) prefix-sum on the
    TINY bucket-totals frame (corpus/bucket_size rows — the one deliberate
    single-task window); bucket offsets broadcast-join back; the per-doc
    cumulative sum runs partitioned BY BUCKET. Every corpus-sized
    operation is per-bucket parallel; identical values to the naive global
    window, which is what the DuckDB oracle runs.
    """
    from ..functions.text import token_count_expr

    if budget <= 0:
        raise ValueError("pack_chunks needs a positive token budget")
    d = df.select(
        F.col(id_col),
        token_count_expr(text_col).cast("long").alias("n_tokens"),
        F.floor(F.col(id_col) / F.lit(int(bucket_size))).cast("long").alias("_bk"),
    )
    btot = d.groupBy("_bk").agg(F.sum("n_tokens").alias("_bt"))
    wb = Window.orderBy("_bk").rowsBetween(Window.unboundedPreceding, -1)
    boff = btot.select(
        "_bk", F.coalesce(F.sum("_bt").over(wb), F.lit(0)).cast("long").alias("_boff")
    )
    wi = (
        Window.partitionBy("_bk")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        d.join(F.broadcast(boff), "_bk")
        .withColumn(
            "start_offset",
            (F.col("_boff") + F.coalesce(F.sum("n_tokens").over(wi), F.lit(0))).cast("long"),
        )
        .withColumn(
            "chunk_id",
            F.floor(F.col("start_offset") / F.lit(int(budget))).cast("long"),
        )
        .select(id_col, "n_tokens", "start_offset", "chunk_id")
    )


def lang_mismatch_flags(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    lang_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Metadata validation: declared language vs the n-gram heuristic
    (``functions.text.lang_id_expr``). Crawl metadata lies constantly —
    mislabeled docs poison language-filtered training mixes — so curation
    cross-checks the label against content before trusting either.
    Returns ``(doc_id, lang_declared, lang_detected, agree)``; ``agree``
    is NULL-safe (an unknown detection ('und') disagrees with any declared
    language, two NULL declarations agree with nothing).

    Scale shape: one scan, pure Catalyst expressions, no shuffle at all.
    """
    from ..functions.text import lang_id_expr

    det = lang_id_expr(text_col)
    return df.select(
        F.col(id_col),
        F.col(lang_col).alias("lang_declared"),
        det.alias("lang_detected"),
        (F.col(lang_col).eqNullSafe(det)).alias("agree"),
    )


def length_outliers(
    df: DataFrame,
    *,
    pct: float = 0.99,
    id_col: str = "doc_id",
    strata_col: str = "source",
    len_col: str = "n_chars",
) -> DataFrame:
    """Per-stratum length-outlier flags: a document is an outlier when its
    length's ``percent_rank`` WITHIN ITS SOURCE reaches ``pct`` — the
    curation rule for megadocs (concatenated dumps, binary-in-text, log
    spews) that a single global threshold misses because sources have
    wildly different length distributions. Returns ``(doc_id, <strata>,
    <len>, length_pct_rank, is_outlier)``.

    Scale shape: ONE window partitioned by the stratum — per-source
    ranking parallelizes across sources, no global window, no join.
    percent_rank is rank-based (ties share a rank), deterministic, and
    ANSI-portable, so the DuckDB oracle reproduces every flag.
    """
    from pyspark.sql import Window

    w = Window.partitionBy(strata_col).orderBy(F.col(len_col).asc())
    pr = F.percent_rank().over(w)
    return df.select(
        F.col(id_col), F.col(strata_col), F.col(len_col), pr.alias("_pr")
    ).select(
        id_col,
        strata_col,
        len_col,
        F.round("_pr", 6).alias("length_pct_rank"),
        (F.col("_pr") >= F.lit(float(pct))).alias("is_outlier"),
    )


def chunk_manifest(
    df: DataFrame,
    *,
    budget: int = 2048,
    bucket_size: int = 4096,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The writer's view of ``pack_chunks``: one row per training chunk —
    ``(chunk_id, n_docs, first_doc_id, last_doc_id, total_tokens)`` for the
    documents whose FIRST token lands in the chunk (concat-and-chunk
    semantics: a straddling document belongs to the chunk it starts in).
    A sequence writer iterates this manifest to emit fixed-budget batches;
    ``total_tokens`` exceeding ``budget`` on a row just means the chunk's
    tail spills into the next chunk's stream position — the global token
    stream is exactly contiguous by construction.

    Scale shape: ``pack_chunks``'s distributed prefix sum + ONE groupBy on
    chunk_id (map-side combinable).
    """
    packed = pack_chunks(
        df, budget=budget, bucket_size=bucket_size, id_col=id_col, text_col=text_col
    )
    return (
        packed.groupBy("chunk_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min(id_col).alias("first_doc_id"),
            F.max(id_col).alias("last_doc_id"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
        )
        .select("chunk_id", "n_docs", "first_doc_id", "last_doc_id", "total_tokens")
    )


def dup_cluster_profile(
    groups: DataFrame,
    *,
    group_col: str = "group_id",
) -> DataFrame:
    """One-row triage profile of a dedup clustering (the output of
    ``near_dup_groups`` / ``exact_dup_groups``): ``(n_docs, n_groups,
    n_dup_docs, max_group_size, avg_group_size, singleton_share)`` — what
    a pipeline owner reads to judge a threshold before deleting anything
    (a tiny ``max_group_size`` says the threshold is timid; a giant one
    says a boilerplate hub chained everything together).

    Scale shape: one groupBy on the cluster id (map-side combinable), one
    scalar aggregate over the (small) per-group counts — same
    counted-never-joined discipline as the rest of the dedup family.
    round(·, 6) ratios for oracle bit-parity.
    """
    per = groups.groupBy(group_col).agg(F.count(F.lit(1)).alias("_n"))
    return per.agg(
        F.sum("_n").cast("long").alias("n_docs"),
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.when(F.col("_n") > 1, F.col("_n")).otherwise(F.lit(0)))
        .cast("long")
        .alias("n_dup_docs"),
        F.max("_n").cast("long").alias("max_group_size"),
        F.round(
            F.sum("_n").cast("double") / F.count(F.lit(1)).cast("double"), 6
        ).alias("avg_group_size"),
        F.round(
            F.sum(F.when(F.col("_n") == 1, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)).cast("double"),
            6,
        ).alias("singleton_share"),
    )


def source_overlap(
    df: DataFrame,
    *,
    text_col: str = "text",
    source_col: str = "source",
    key: Column | None = None,
) -> DataFrame:
    """Cross-source duplicate-sharing matrix: for every pair of sources
    that ship at least one content-identical document, ``(source_a,
    source_b, n_shared_contents, n_contents_a, n_contents_b,
    overlap_jaccard)``.

    ``key`` is the content-identity expression — default ``md5(text)``
    (byte-identical docs); pass e.g. an md5 over the first-k-token prefix
    for near-mirror detection, or a SimHash for fuzzier keys. Any
    deterministic Column works; identity is equality of the key.
    The slice-level complement of ``exact_dup_groups``: a mirror site, a
    re-crawled dump, or a licensing overlap shows up as a hot pair long
    before anyone inspects documents — the standard first question when a
    training mixture double-counts a corpus. Pairs with zero shared
    content are absent (inner join); sources are ordered ``a < b`` so
    each pair appears once.

    Scale shape: one distinct on (content-hash, source), a self-join
    KEYED ON THE HASH whose per-key fan-out is bounded by C(|sources|, 2)
    — source cardinality is a mixture-config constant, so nothing
    squares in data size — then source-pair aggregates joined to the
    tiny per-source totals. round(·, 6) for oracle parity.
    """
    key_expr = F.md5(F.col(text_col)) if key is None else key
    hs = (
        df.select(key_expr.alias("_h"), F.col(source_col).alias("_src"))
        .filter(F.col("_h").isNotNull())
        .distinct()
    )
    per_src = hs.groupBy("_src").agg(F.count(F.lit(1)).alias("_n"))
    shared = (
        hs.alias("a")
        .join(hs.alias("b"), "_h")
        .filter(F.col("a._src") < F.col("b._src"))
        .groupBy(
            F.col("a._src").alias("source_a"), F.col("b._src").alias("source_b")
        )
        .agg(F.count(F.lit(1)).alias("n_shared_contents"))
    )
    pa = per_src.select(
        F.col("_src").alias("source_a"), F.col("_n").alias("n_contents_a")
    )
    pb = per_src.select(
        F.col("_src").alias("source_b"), F.col("_n").alias("n_contents_b")
    )
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("n_shared_contents").cast("long").alias("n_shared_contents"),
            F.col("n_contents_a").cast("long").alias("n_contents_a"),
            F.col("n_contents_b").cast("long").alias("n_contents_b"),
            F.round(
                F.col("n_shared_contents")
                / (
                    F.col("n_contents_a")
                    + F.col("n_contents_b")
                    - F.col("n_shared_contents")
                ),
                6,
            ).alias("overlap_jaccard"),
        )
    )


def _source_term_counts(df: DataFrame, *, text_col: str, source_col: str) -> DataFrame:
    """``(source, term, c_st)``: token counts per (source, term) over
    lowercase whitespace tokens, NULL sources dropped (they belong to no
    mixture slice) — the one count frame of ``vocab_divergence`` and
    ``divergent_terms``."""
    from ..functions.text import tokens_expr

    return (
        df.filter(F.col(source_col).isNotNull())
        .select(
            F.col(source_col).alias("source"),
            F.explode(tokens_expr(F.lower(F.col(text_col)))).alias("term"),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("c_st"))
    )


def vocab_divergence(
    df: DataFrame,
    *,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Per-source token-distribution divergence vs the whole corpus:
    ``(source, n_tokens, n_terms, corpus_mass_coverage, kl_vs_corpus,
    jsd_vs_corpus)`` — the mixture-diagnostics measurement behind "is
    this source distributionally redundant or distinctive?". A source
    whose unigram distribution sits on top of the corpus (JSD ≈ 0) adds
    volume, not diversity; a high-JSD source is the one a reweighting
    pass should protect.

    ``kl_vs_corpus`` is KL(P_source ‖ P_corpus) — finite without
    smoothing because every source term occurs in the corpus, and
    zero-probability source terms contribute 0 by convention.
    ``jsd_vs_corpus`` is the Jensen–Shannon divergence
    ``½·KL(P_s‖M) + ½·KL(P_c‖M)``, ``M = ½(P_s+P_c)``, in nats
    (bounded by ln 2). ``corpus_mass_coverage`` is the share of corpus
    token mass carried by terms the source uses at all.

    Scale shape: the corpus-side half of the JSD sum nominally ranges
    over the FULL vocabulary per source; ``categorical_divergence``
    (``operators/drift.py`` — the shared divergence core, also behind
    ``distribution_drift``) decomposes it so only the per-(source,
    term) pairs the source actually has are touched — for terms absent
    from the source, ``M = P_c/2`` exactly, so that remainder collapses
    to ``ln 2 · (1 − coverage)``. One explode, one (source, term) count
    shuffle (persisted inside the core, three consumers), a join
    against the vocabulary-bounded corpus term counts, a broadcast of
    the per-source totals (source cardinality is a mixture-config
    constant), and per-source sums. No pair joins, no global windows;
    the corpus total is one collected scalar. round(·, 6) for oracle
    parity (ln is IEEE libm on both engines).
    """
    from .drift import categorical_divergence

    out = categorical_divergence(
        _source_term_counts(df, text_col=text_col, source_col=source_col),
        group_col="source",
        key_col="term",
        count_col="c_st",
    )
    return out.select(
        F.col("group").alias("source"),
        F.col("n_obs").alias("n_tokens"),
        F.col("n_keys").alias("n_terms"),
        F.col("pooled_mass_coverage").alias("corpus_mass_coverage"),
        F.col("kl_vs_pooled").alias("kl_vs_corpus"),
        F.col("jsd_vs_pooled").alias("jsd_vs_corpus"),
    )


def divergent_terms(
    df: DataFrame,
    *,
    k: int = 10,
    min_count: int = 5,
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Top-``k`` over-represented terms per source by log probability
    ratio ``ln(p_source / p_corpus)``: ``(source, term, term_count,
    p_source, p_corpus, log_ratio, rank)`` — the drill-down companion
    to ``vocab_divergence`` ("src7 diverges — on WHAT?"). ``min_count``
    drops rare-term noise (a 1-count term in a small source posts a
    huge ratio that means nothing).

    Same single-explode shape as ``vocab_divergence``; the ranking
    window is PARTITIONED by source, ties break (log_ratio desc, term
    asc) so the top-k is stable run-to-run and against the SQL oracle.
    """
    # three consumers below (corpus term counts, per-source totals, the
    # scored join): persisted, so the explode + count shuffle runs once
    st = persist(_source_term_counts(df, text_col=text_col, source_col=source_col))
    n_total = int(st.agg(F.sum("c_st")).collect()[0][0] or 0)
    ct = st.groupBy("term").agg(F.sum("c_st").alias("c_t"))
    ns = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    p_s = F.col("c_st").cast("double") / F.col("n_s").cast("double")
    p_c = F.col("c_t").cast("double") / F.lit(float(max(n_total, 1)))
    scored = (
        st.filter(F.col("c_st") >= min_count)
        .join(ct, "term")
        .join(F.broadcast(ns), "source")
        .select(
            "source",
            "term",
            F.col("c_st").cast("long").alias("term_count"),
            F.round(p_s, 6).alias("p_source"),
            F.round(p_c, 6).alias("p_corpus"),
            F.round(F.log(p_s / p_c), 6).alias("log_ratio"),
        )
    )
    w = Window.partitionBy("source").orderBy(
        F.col("log_ratio").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "source",
            "term",
            "term_count",
            "p_source",
            "p_corpus",
            "log_ratio",
            F.col("rank").cast("long").alias("rank"),
        )
    )


def pii_profile(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document PII exposure counts: ``(doc_id, n_emails, n_ssns,
    n_phones, n_ipv4s, n_pii, has_pii)`` — the compliance triage pass every
    pre-training corpus runs before release (emails, US-SSN-shaped ids,
    phone numbers, IPv4 addresses). Detection is pure regex over the
    RE2 ∩ Java common subset (``functions.text.PII_PATTERNS``), so the
    byte-identical patterns run in the DuckDB oracle.

    Scale shape: one scan, pure Catalyst regexp expressions inside
    whole-stage codegen — no shuffle, no Python, trivially partition-
    parallel at any corpus size.
    """
    from ..functions.text import PII_PATTERNS, pii_count_expr

    counts = {
        f"n_{name}s": pii_count_expr(text_col, pat) for name, pat, _ in PII_PATTERNS
    }
    out = df.select(
        F.col(id_col),
        *[c.cast("int").alias(n) for n, c in counts.items()],
    )
    total = sum((F.col(n) for n in counts), F.lit(0))
    return out.withColumn("n_pii", total.cast("int")).withColumn(
        "has_pii", F.col("n_pii") > 0
    )


def pii_redact(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sentinel redaction: ``(doc_id, text_redacted, n_redactions)`` with
    every PII match replaced by its type token (``<EMAIL>``, ``<SSN>``,
    ``<PHONE>``, ``<IP>``). The patterns are mutually non-overlapping by
    construction (group arities differ), so application order cannot
    change the output; the fixed ``PII_PATTERNS`` order is kept anyway so
    the oracle's nested ``regexp_replace`` chain is the same expression.

    Scale shape: identical to ``pii_profile`` — one scan, codegen'd
    regexp_replace chain, no shuffle.
    """
    from ..functions.text import PII_PATTERNS, pii_count_expr, pii_redact_expr

    total = sum(
        (pii_count_expr(text_col, pat) for _, pat, _ in PII_PATTERNS), F.lit(0)
    )
    return df.select(
        F.col(id_col),
        pii_redact_expr(text_col).alias("text_redacted"),
        total.cast("int").alias("n_redactions"),
    )


def quality_rule_flags(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_words: int = 50,
    max_words: int = 100_000,
    min_mean_word_len: float = 3.0,
    max_mean_word_len: float = 10.0,
    max_symbol_ratio: float = 0.1,
    max_bullet_share: float = 0.9,
    max_ellipsis_share: float = 0.3,
    min_stop_kinds: int = 2,
) -> DataFrame:
    """Gopher/C4 rule-based quality flags, one row per document.

    The published heuristic battery (Rae et al. 2021 'Gopher' §A1.1;
    Raffel et al. 2020 'C4') re-expressed as Catalyst expressions:

      * word count in [min_words, max_words]           -> word_count_ok
      * mean word length in [3, 10]                    -> mean_len_ok
      * ('#' chars + '...' runs) / words <= 0.1        -> symbol_ok
      * share of lines starting with a bullet <= 0.9   -> bullet_ok
      * share of lines ending in '...' <= 0.3          -> ellipsis_ok
      * >= 2 distinct required stop words present      -> stop_ok
      * keep = all of the above

    Ratios are round(·, 6) BEFORE comparison on both engines, so a flag
    can never flip on float formatting across the oracle boundary. Line
    stats use trimmed non-empty lines (both engines keep trailing empty
    split fields — filtering them is the portable choice).

    Scale shape: one scan, array/lambda expressions only — no shuffle,
    no Python, no data-dependent branching; the whole row is one
    whole-stage-codegen projection.
    """
    from ..functions.text import tokens_expr

    # Gopher's required-stop-word set ("must contain >= 2 of ...")
    stops = ("the", "be", "to", "of", "and", "that", "have", "with")

    toks = tokens_expr(text_col)
    toks_lower = tokens_expr(F.lower(F.col(text_col)))
    n = F.size(toks)
    nd = n.cast("double")
    mean_len = F.round(
        F.when(n == 0, F.lit(0.0)).otherwise(
            F.aggregate(
                toks, F.lit(0).cast("long"), lambda a, t: a + F.length(t)
            ).cast("double")
            / nd
        ),
        6,
    )
    t = F.col(text_col)
    n_hash = F.length(t) - F.length(F.replace(t, F.lit("#"), F.lit("")))
    n_ell = (F.length(t) - F.length(F.replace(t, F.lit("..."), F.lit("")))) / 3
    symbol_ratio = F.round(
        F.when(n == 0, F.lit(0.0)).otherwise((n_hash + n_ell).cast("double") / nd), 6
    )
    lines = F.filter(
        F.transform(F.split(t, "\n"), lambda l: F.trim(l)),
        lambda l: F.length(l) > 0,
    )
    n_lines = F.size(lines)
    bullet = F.size(
        F.filter(
            lines,
            lambda l: F.startswith(l, F.lit("-"))
            | F.startswith(l, F.lit("*"))
            | F.startswith(l, F.lit("•")),
        )
    )
    ellipsis = F.size(F.filter(lines, lambda l: F.endswith(l, F.lit("..."))))
    bullet_share = F.round(
        F.when(n_lines == 0, F.lit(0.0)).otherwise(
            bullet.cast("double") / n_lines.cast("double")
        ),
        6,
    )
    ellipsis_share = F.round(
        F.when(n_lines == 0, F.lit(0.0)).otherwise(
            ellipsis.cast("double") / n_lines.cast("double")
        ),
        6,
    )
    n_stop_kinds = F.size(
        F.filter(
            F.array(*[F.lit(s) for s in stops]),
            lambda s: F.array_contains(toks_lower, s),
        )
    )
    out = df.select(
        F.col(id_col),
        n.alias("n_words"),
        mean_len.alias("mean_word_len"),
        symbol_ratio.alias("symbol_ratio"),
        bullet_share.alias("bullet_line_share"),
        ellipsis_share.alias("ellipsis_line_share"),
        n_stop_kinds.alias("n_stop_kinds"),
    )
    word_count_ok = (F.col("n_words") >= min_words) & (F.col("n_words") <= max_words)
    mean_len_ok = (F.col("mean_word_len") >= min_mean_word_len) & (
        F.col("mean_word_len") <= max_mean_word_len
    )
    symbol_ok = F.col("symbol_ratio") <= max_symbol_ratio
    bullet_ok = F.col("bullet_line_share") <= max_bullet_share
    ellipsis_ok = F.col("ellipsis_line_share") <= max_ellipsis_share
    stop_ok = F.col("n_stop_kinds") >= min_stop_kinds
    return (
        out.withColumn("word_count_ok", word_count_ok)
        .withColumn("mean_len_ok", mean_len_ok)
        .withColumn("symbol_ok", symbol_ok)
        .withColumn("bullet_ok", bullet_ok)
        .withColumn("ellipsis_ok", ellipsis_ok)
        .withColumn("stop_ok", stop_ok)
        .withColumn(
            "keep",
            word_count_ok
            & mean_len_ok
            & symbol_ok
            & bullet_ok
            & ellipsis_ok
            & stop_ok,
        )
    )
