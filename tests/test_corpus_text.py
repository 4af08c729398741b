"""Corpus dedup / ANN / text-analysis operators on the driver testdata."""

import pytest
from pyspark.sql import functions as F

from linkorgs_software_spark.functions.text import (
    bpe_ish_token_count_expr,
    fingerprint_expr,
    lang_id_expr,
    quality_score_expr,
    stopword_ratio_expr,
    token_count_expr,
    word_shingles_expr,
)
from linkorgs_software_spark.operators.ann import (
    brute_force_topk,
    expand_probes,
    ivf_topk,
    lsh_topk,
    probe_buckets_expr,
)
from linkorgs_software_spark.operators.corpus import (
    clean_corpus,
    clean_corpus_verdicts,
    containment_pairs,
    embedding_neardup,
    embedding_neardup_lsh,
    exact_dup_groups,
    minhash_band_buckets,
    minhash_lsh_dups,
    ngram_jaccard_dups,
    simhash_dups,
    simhash_expr,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").cache()


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF}/embeddings.parquet").cache()


def test_token_counts(spark):
    df = spark.createDataFrame([("a b  c",), ("",), ("   ",)], "text string")
    assert [r.n for r in df.select(token_count_expr("text").alias("n")).collect()] == [3, 0, 0]


def test_bpe_ish_tokens(spark):
    df = spark.createDataFrame([("hello, world 123",)], "text string")
    # hell+o, ',', worl+d, 123 => 6
    assert df.select(bpe_ish_token_count_expr("text").alias("n")).first().n == 6


def test_stopword_and_quality_bounds(docs):
    rows = docs.select(
        stopword_ratio_expr("text").alias("sw"), quality_score_expr("text").alias("q")
    ).collect()
    for r in rows:
        assert 0.0 <= r.sw <= 1.0
        assert 0.0 <= r.q <= 1.0


def test_lang_id_markers(spark):
    df = spark.createDataFrame(
        [("the cat and the dog of the house",),
         ("el gato y la casa de la madre que",),
         ("zzz qqq www",)],
        "text string",
    )
    langs = [r.l for r in df.select(lang_id_expr("text").alias("l")).collect()]
    assert langs == ["en", "es", "und"]


def test_fingerprint_deterministic_and_sensitive(spark):
    df = spark.createDataFrame([("abc",), ("abc",), ("abd",)], "text string")
    fps = [r.f for r in df.select(fingerprint_expr("text").alias("f")).collect()]
    assert fps[0] == fps[1] != fps[2]
    # closed-form check: ((0*31+97)*31+98)*31+99 mod 1e9+7
    assert fps[0] == ((97 * 31 + 98) * 31 + 99) % 1_000_000_007


def test_word_shingles(spark):
    df = spark.createDataFrame([("a b c d",)], "text string")
    sh = df.select(word_shingles_expr("text", 3).alias("s")).first().s
    assert sorted(sh) == ["a b c", "b c d"]


def test_exact_dups_detects_planted(spark, docs):
    planted = docs.limit(3).unionAll(
        docs.limit(3).withColumn("doc_id", F.col("doc_id") + 100000)
    )
    out = exact_dup_groups(planted)
    assert out.filter("group_size = 2").count() == 6
    assert out.filter("keep").count() == 3


def test_ngram_jaccard_self_dup(spark, docs):
    two = docs.limit(1)
    both = two.unionAll(two.withColumn("doc_id", F.col("doc_id") + 100000))
    out = ngram_jaccard_dups(both, threshold=0.99)
    r = out.first()
    assert out.count() == 1 and r.jaccard_sim == 1.0


def test_minhash_lsh_finds_exact_dup_and_agrees_with_jaccard(spark, docs):
    two = docs.limit(2)
    planted = two.unionAll(two.withColumn("doc_id", F.col("doc_id") + 100000))
    out = minhash_lsh_dups(planted, threshold=0.99)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (0, 100000) in pairs or (100000, 0) in pairs


def test_simhash_identical_docs_zero_hamming(spark, docs):
    sig = docs.limit(5).select("doc_id", simhash_expr("text").alias("s"))
    planted = docs.limit(5)
    both = planted.unionAll(planted.withColumn("doc_id", F.col("doc_id") + 100000))
    out = simhash_dups(both, max_hamming=0)
    ids = {(r.id_a, r.id_b) for r in out.collect()}
    for i in range(5):
        assert (i, i + 100000) in ids


def test_embedding_neardup_planted(spark, emb):
    one = emb.limit(1)
    planted = one.unionAll(one.withColumn("vec_id", F.col("vec_id") + 100000))
    out = embedding_neardup(planted, threshold=0.999)
    r = out.first()
    assert r.id_a == 0 and r.id_b == 100000
    assert r.cosine_sim == pytest.approx(1.0, abs=1e-6)


def test_brute_force_topk_self_is_rank1(spark, emb):
    q = emb.limit(3).select(F.col("vec_id").alias("query_id"), "embedding")
    out = brute_force_topk(emb, q, k=5)
    top1 = {r.query_id: r.vec_id for r in out.filter("rank = 1").collect()}
    assert top1 == {0: 0, 1: 1, 2: 2}


def test_clean_corpus_rules_and_reasons(spark):
    good = "the cat and the dog walked to the house of the friendly neighbor today"
    rows = [
        (1, good),                                  # kept
        (2, "tiny"),                                # too_short
        (3, "!!! ??? ... ;;; ::: @@@ ### $$$"),     # too_puncty (and short)
        (4, "el gato y la casa de la madre que vive alli con el perro grande"),  # wrong_lang (es)
        (5, good),                                  # duplicate of 1
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    v = {r.doc_id: (r.keep, r.reason) for r in
         clean_corpus_verdicts(docs, min_tokens=5, langs=("en",)).collect()}
    assert v[1] == (True, None)
    assert v[2] == (False, "too_short")
    assert v[3][0] is False and v[3][1] in ("too_short", "too_puncty")
    assert v[4] == (False, "wrong_lang")
    assert v[5] == (False, "duplicate")
    kept = clean_corpus(docs, min_tokens=5, langs=("en",))
    assert [r.doc_id for r in kept.collect()] == [1]


def test_near_dup_groups_transitive(spark):
    """A~B and B~C (no A~C pair emitted) must collapse to ONE group; the
    minimum id is the kept canonical; untouched docs are singleton keeps."""
    from linkorgs_software_spark.operators.corpus import near_dup_groups

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in (1, 2, 3, 9)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r.doc_id: (r.group_id, r.keep) for r in near_dup_groups(docs, pairs).collect()}
    assert out == {1: (1, True), 2: (1, False), 3: (1, False), 9: (9, True)}


def test_deterministic_sample_stable_and_nested(spark, docs):
    """Content-keyed sampling: identical across runs and repartitionings;
    smaller fractions are strict subsets of larger ones (nested subsets)."""
    from linkorgs_software_spark.operators.sampling import deterministic_sample

    s10 = {r.doc_id for r in deterministic_sample(docs, 0.10, key_cols=("doc_id",)).collect()}
    s10_again = {
        r.doc_id
        for r in deterministic_sample(
            docs.repartition(7), 0.10, key_cols=("doc_id",)
        ).collect()
    }
    s30 = {r.doc_id for r in deterministic_sample(docs, 0.30, key_cols=("doc_id",)).collect()}
    assert s10 == s10_again
    assert s10 <= s30
    n = docs.count()
    assert 0.03 * n < len(s10) < 0.2 * n  # loose Bernoulli bound


def test_deterministic_split_disjoint_exhaustive(spark, docs):
    from linkorgs_software_spark.operators.sampling import deterministic_split

    out = deterministic_split(docs, (0.8, 0.1, 0.1), key_cols=("doc_id",))
    counts = {r.split: r.c for r in out.groupBy("split").agg(F.count("*").alias("c")).collect()}
    assert set(counts) <= {0, 1, 2}
    assert sum(counts.values()) == docs.count()
    assert counts[0] > counts.get(1, 0) and counts[0] > counts.get(2, 0)
    # stable assignment: same doc -> same split on rerun
    a = {r.doc_id: r.split for r in out.collect()}
    b = {r.doc_id: r.split for r in deterministic_split(docs.repartition(5), (0.8, 0.1, 0.1), key_cols=("doc_id",)).collect()}
    assert a == b


_CAPPED_TEXT_FAMILIES = {
    "minhash": lambda c: minhash_lsh_dups(c, threshold=0.99, max_bucket_df=100),
    "simhash": lambda c: simhash_dups(c, max_hamming=0, max_bucket_df=100),
    "ngram": lambda c: ngram_jaccard_dups(c, threshold=0.99, max_block_df=100),
    "containment": lambda c: containment_pairs(c, threshold=0.99, max_block_df=100),
}


@pytest.mark.parametrize("family", sorted(_CAPPED_TEXT_FAMILIES))
def test_text_neardup_hot_bucket_capped(spark, docs, family):
    """A flood of identical docs (one degenerate bucket per key) must not
    square: with the cap the flood's keys are dropped, while a disjoint
    near-dup pair in ordinary buckets is still found."""
    one = docs.limit(1)
    flood = one.crossJoin(spark.range(1000).select(F.col("id").alias("_i"))).select(
        (F.col("_i") + 500000).alias("doc_id"), "text"
    )
    pair = docs.filter("doc_id = 1").unionAll(
        docs.filter("doc_id = 1").withColumn("doc_id", F.col("doc_id") + 100000)
    )
    corpus = flood.unionAll(pair.select("doc_id", "text"))
    out = _CAPPED_TEXT_FAMILIES[family](corpus)
    # containment reports (contained_id, container_id); the rest id_a < id_b
    pairs = {tuple(sorted(r[:2])) for r in out.collect()}
    assert (1, 100001) in pairs
    # nothing from the flood: its buckets exceeded the cap
    assert all(not (a >= 500000 and b >= 500000) for a, b in pairs)


@pytest.mark.parametrize(
    "call",
    [
        lambda d: minhash_band_buckets(d, num_hashes=4, bands=8),
        lambda d: minhash_lsh_dups(d, num_hashes=4, bands=8),
        lambda d: minhash_band_buckets(d, num_hashes=16, bands=5),
        lambda d: minhash_band_buckets(d, num_hashes=16, bands=0),
        lambda d: simhash_expr("text", bits=0),
        lambda d: simhash_expr("text", bits=65),
        lambda d: simhash_dups(d, max_hamming=4, blocks=4),
        lambda d: simhash_dups(d, bits=16, blocks=17),
        lambda d: probe_buckets_expr("bucket", n_planes=8, multiprobe=3),
        lambda d: expand_probes(d, n_planes=8, multiprobe=-1),
    ],
    ids=[
        "bands_over_hashes",
        "lsh_dups_bands_over_hashes",
        "bands_not_dividing",
        "zero_bands",
        "simhash_zero_bits",
        "simhash_65_bits",
        "simhash_blocks_not_over_hamming",
        "simhash_blocks_over_bits",
        "multiprobe_3",
        "multiprobe_negative",
    ],
)
def test_lsh_parameter_checks_raise_value_error(docs, call):
    """Input checks are ``ValueError``s, which ``python -O`` keeps: banding
    with fewer than one row per band, or SimHash blocks of zero bits, would
    give every doc the same keys, and ``blocks <= max_hamming`` loses the
    pigeonhole recall guarantee."""
    with pytest.raises(ValueError):
        call(docs)


def test_simhash_wide_signature_survives_cap_in_large_distinct_corpus(spark):
    """The scale regression the old 16-bit signature had: 4-bit blocks give
    only 64 bucket keys in total, so a corpus of a few thousand DISTINCT
    docs pushes every bucket past the df cap and recall silently collapses
    to zero. With the 64-bit signature (4 × 16-bit blocks = 262k keys)
    buckets track true duplicate density, not corpus size: a planted exact
    dup must survive a tight cap inside a 3k-doc distinct corpus (the same
    keys-vs-docs ratio at which the 16-bit scheme provably returns nothing)."""
    n = 3000
    filler = spark.range(n).select(
        (F.col("id") + 10000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat(F.lit("alpha"), F.col("id")),
            F.concat(F.lit("beta"), F.col("id") * 7),
            F.concat(F.lit("gamma"), F.col("id") * 13),
            F.concat(F.lit("delta"), F.col("id") * 31),
            F.concat(F.lit("omega"), F.col("id") * 97),
        ).alias("text"),
    )
    dup_text = "the planted duplicate document that must still be found"
    pair = spark.createDataFrame(
        [(1, dup_text), (2, dup_text)], "doc_id long, text string"
    )
    out = simhash_dups(filler.unionAll(pair), max_hamming=0, max_bucket_df=50)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1, 2) in pairs


def test_embedding_neardup_lsh_recall_vs_brute_force(spark):
    """Planted near-identical vectors: LSH path must recover every
    brute-force pair at a near-dup threshold (deterministic seeds, so the
    banding-theory recall ~1-1e-4/pair is a fixed outcome, not a flake)."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.normal(size=(40, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
    for i in range(10):  # 10 perturbed near-dups of vectors 0..9
        v = base[i] + rng.normal(scale=0.01, size=64)
        rows.append((100 + i, [float(x) for x in v]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_neardup(emb, threshold=0.99).collect()
    }
    approx = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_lsh(
            emb, threshold=0.99, n_planes=8, num_tables=4
        ).collect()
    }
    assert len(exact) >= 10
    assert exact == approx  # full recall at near-dup threshold; no extras (exact verify)


def test_embedding_neardup_lsh_hot_bucket_capped(spark):
    import numpy as np

    rng = np.random.RandomState(11)
    v = rng.normal(size=64)
    rows = [(i, [float(x) for x in v]) for i in range(500)]  # identical flood
    w = rng.normal(size=64)
    rows += [(1000, [float(x) for x in w]), (1001, [float(x) for x in w + 0.001])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = embedding_neardup_lsh(emb, threshold=0.99, max_bucket_df=50)
    pairs = {(r.id_a, r.id_b) for r in out.collect()}
    assert (1000, 1001) in pairs
    assert all(not (a < 500 and b < 500) for a, b in pairs)


def test_ivf_full_probe_equals_brute_force(spark, emb):
    """nprobe == nlist scans every list — IVF must reproduce exact top-k."""
    q = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id, r.rank) for r in brute_force_topk(emb, q, k=3).collect()}
    full = {
        (r.query_id, r.vec_id, r.rank)
        for r in ivf_topk(emb, q, k=3, nlist=8, nprobe=8).collect()
    }
    assert full == exact


def test_ivf_partial_probe_recall(spark, emb):
    q = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = {(r.query_id, r.vec_id) for r in brute_force_topk(emb, q, k=3).collect()}
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk(emb, q, k=3, nlist=8, nprobe=3).collect()
    }
    # the query's own vector lives in the query's nearest list -> always found
    assert all((i, i) in approx for i in range(5))
    assert len(exact & approx) / len(exact) >= 0.5


def test_ivf_centroids_invariant_under_repartition(spark, emb):
    """IVF training samples by content hash, not limit(): the coarse
    quantizer must be a pure function of (corpus content, seed) — identical
    centroids however the corpus is partitioned or ordered, including when
    the sample cap is active."""
    import numpy as np

    from linkorgs_software_spark.operators.ann import _train_centroids

    c1 = _train_centroids(emb, vec_col="embedding", nlist=4, seed=7, sample_cap=100)
    c2 = _train_centroids(
        emb.repartition(7).sortWithinPartitions(F.col("vec_id").desc()),
        vec_col="embedding",
        nlist=4,
        seed=7,
        sample_cap=100,
    )
    assert np.array_equal(c1, c2)


def test_lsh_topk_recall_vs_brute_force(spark, emb):
    q = emb.limit(5).select(F.col("vec_id").alias("query_id"), "embedding")
    exact = brute_force_topk(emb, q, k=3)
    approx = lsh_topk(emb, q, k=3, num_tables=4, n_planes=6)
    e = {(r.query_id, r.vec_id) for r in exact.collect()}
    a = {(r.query_id, r.vec_id) for r in approx.collect()}
    # self-match must always be found; overall recall loose but nonzero
    assert all((i, i) in a for i in range(5))
    assert len(e & a) / len(e) >= 0.4


def test_duplicated_spans_detects_shared_windows(spark):
    """A length-k token window shared by two docs flags those spans; a doc
    shorter than k tokens has zero complete windows; unique docs score 0."""
    from linkorgs_software_spark.operators.corpus import duplicated_spans

    shared = "one two three four five six seven eight"  # exactly k=8 tokens
    rows = [
        (1, shared + " alpha beta"),          # 3 windows, 1 shared
        (2, "prefix " + shared),              # 2 windows, 1 shared
        (3, "totally different words here spread over many tokens now"),
        (4, "short doc"),                     # < 8 tokens -> 0 spans
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in duplicated_spans(docs, k=8).collect()}
    assert out[1].n_spans == 3 and out[1].n_dup_spans == 1
    assert out[2].n_spans == 2 and out[2].n_dup_spans == 1
    assert out[1].dup_span_frac == pytest.approx(1 / 3, abs=1e-6)
    assert out[3].n_dup_spans == 0
    assert out[4].n_spans == 0 and out[4].dup_span_frac == 0.0


def test_top_boilerplate_spans_ranks_by_reach(spark):
    """The most widely shared window ranks first; windows in only one doc
    are excluded; tie ordering is deterministic (span asc)."""
    from linkorgs_software_spark.operators.corpus import top_boilerplate_spans

    w1 = "alpha beta gamma delta epsilon zeta eta theta"   # in docs 1,2,3
    w2 = "one two three four five six seven eight"          # in docs 1,2
    rows = [
        (1, w1 + " filler " + w2),
        (2, w2 + " other " + w1),
        (3, w1),
        (4, "unique text that appears nowhere else across many tokens today friend"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = top_boilerplate_spans(docs, k=8, top_n=5).collect()
    assert out[0].span == w1 and out[0].n_docs == 3
    spans = [r.span for r in out]
    assert w2 in spans
    assert all(r.n_docs >= 2 for r in out)


def test_release_caches_frees_operator_persists(spark, docs):
    """Operator-internal persisted frames (banded MinHash, span index, …)
    are tracked; release_caches() unpersists them all so a long-lived
    session can reclaim executor storage in one call."""
    from linkorgs_software_spark import release_caches
    from linkorgs_software_spark.operators.corpus import (
        duplicated_spans,
        minhash_lsh_dups,
    )

    release_caches()  # start clean
    docs.count()  # materialize the module fixture's own cache first
    base = len(spark.sparkContext._jsc.sc().getRDDStorageInfo())  # docs fixture
    minhash_lsh_dups(docs, threshold=0.9).count()
    duplicated_spans(docs, k=8).count()
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) >= base + 2
    released = release_caches()
    assert released >= 2
    assert len(spark.sparkContext._jsc.sc().getRDDStorageInfo()) == base


def test_multiprobe_lsh_reaches_brute_recall_at_low_threshold(spark):
    """Multi-probe LSH (hamming-1 neighbor buckets) is the scale path for
    cosine thresholds below the sign-LSH sweet spot: on planted twins at
    cosine ~0.85 with threshold 0.80 — where exact-bucket LSH measurably
    under-recalls — probing must recover EXACTLY the brute-force pair set
    (df-cap active), at candidate volume far below all-pairs."""
    import numpy as np

    from linkorgs_software_spark.operators.corpus import (
        _embedding_lsh_candidates,
        embedding_neardup,
        embedding_neardup_lsh,
    )

    rng = np.random.RandomState(7)
    dim = 16
    base = rng.normal(size=(30, dim))
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        w = rng.normal(size=dim)
        w -= w.dot(v) * v
        w /= np.linalg.norm(w)
        ang = np.arccos(0.85)
        t = np.cos(ang) * v + np.sin(ang) * w
        rows.append((i + 1000, [float(x) for x in t]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    brute = {(r.id_a, r.id_b) for r in embedding_neardup(emb, threshold=0.80).collect()}
    assert len(brute) >= 30  # every planted twin pair is above threshold

    kw = dict(threshold=0.80, dim=dim, n_planes=8, num_tables=6, seed=42,
              max_bucket_df=1000)
    exact_only = {(r.id_a, r.id_b) for r in embedding_neardup_lsh(emb, multiprobe=0, **kw).collect()}
    probed = {(r.id_a, r.id_b) for r in embedding_neardup_lsh(emb, multiprobe=1, **kw).collect()}
    assert len(exact_only) < len(brute)  # this regime genuinely needs probing
    assert probed == brute  # multiprobe closes the gap exactly

    # cost bound: candidates stay far below all-pairs (n=60 -> 1770 pairs)
    n = emb.count()
    n_cand = _embedding_lsh_candidates(
        emb, id_col="vec_id", vec_col="embedding", dim=dim, n_planes=8,
        num_tables=6, seed=42, max_bucket_df=1000, multiprobe=1,
    ).count()
    assert n_cand < 0.45 * n * (n - 1) / 2, n_cand


def test_lsh_topk_multiprobe_improves_neighbor_recall(spark, emb):
    """Query-side multi-probe in lsh_topk: candidates grow monotonically
    with multiprobe and self-matches are always found."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.ann import lsh_topk

    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    r0 = lsh_topk(emb, q, k=5, num_tables=2, n_planes=8, multiprobe=0)
    r1 = lsh_topk(emb, q, k=5, num_tables=2, n_planes=8, multiprobe=1)
    s0 = {(r.query_id, r.vec_id) for r in r0.collect()}
    s1 = {(r.query_id, r.vec_id) for r in r1.collect()}
    assert all((i, i) in s1 for i in range(5))
    # more probes -> per-query candidate pool is a superset -> result ranks
    # at least as high-similarity; sanity: result sets not smaller
    assert len(s1) >= len(s0)


def test_strip_boilerplate_spans_removes_covered_tokens(spark):
    """Tokens inside any occurrence of a listed span are removed (overlaps
    union); other docs pass through; the corpus-level duplicated-span
    fraction drops after stripping."""
    from linkorgs_software_spark.operators.corpus import (
        duplicated_spans,
        strip_boilerplate_spans,
        top_boilerplate_spans,
    )

    boiler = "please subscribe to our newsletter for updates every single day"  # 10 toks
    rows = [
        (1, boiler + " unique alpha content here"),
        (2, "intro words " + boiler),
        (3, boiler),
        (4, "totally unrelated document with completely original text tokens"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    spans = top_boilerplate_spans(docs, k=8, top_n=5)
    out = {r.doc_id: r for r in strip_boilerplate_spans(docs, spans, k=8).collect()}

    # the 10-token boilerplate contains 3 length-8 windows, all shared by
    # docs 1-3 -> every boilerplate token is covered in each of them
    assert out[3].text_clean == "" and out[3].n_removed == 10
    assert out[1].text_clean == "unique alpha content here"
    assert out[2].text_clean == "intro words"
    assert out[4].n_removed == 0
    assert out[4].text_clean == rows[3][1]

    # corpus hygiene effect: dup-span mass disappears after stripping
    before = duplicated_spans(docs, k=8).agg(F.sum("n_dup_spans")).collect()[0][0]
    cleaned = strip_boilerplate_spans(docs, spans, k=8).select(
        "doc_id", F.col("text_clean").alias("text")
    )
    after = duplicated_spans(cleaned, k=8).agg(F.sum("n_dup_spans")).collect()[0][0]
    assert before > 0 and after == 0


def test_strip_boilerplate_plan_is_broadcast_no_python(spark):
    """One corpus scan + broadcast span list: the doc side must not shuffle
    (no SortMergeJoin / hash Exchange on the doc side) and no Python node."""
    from linkorgs_software_spark.operators.corpus import strip_boilerplate_spans

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame([("one two three four five six seven eight",)], "span string")
    plan = (
        strip_boilerplate_spans(docs, spans, k=8)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_ivf_balance_flags_skewed_quantizer(spark):
    """On a deliberately skewed corpus (one fat cluster, two thin ones) the
    balance row must expose the hot list: max_over_avg well above 1; on the
    same corpus rebalanced to equal clusters it stays near 1."""
    import numpy as np

    from linkorgs_software_spark.operators.ann import ivf_balance

    rng = np.random.RandomState(3)
    dim = 8
    centers = np.eye(3, dim)  # orthogonal: unambiguous cluster structure

    def make(sizes):
        rows = []
        i = 0
        for c, sz in zip(centers, sizes):
            for _ in range(sz):
                v = c + 0.05 * rng.normal(size=dim)
                rows.append((i, [float(x) for x in v]))
                i += 1
        return spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    # quantizer trained on a balanced snapshot (the IVF build), then the
    # serving distribution drifts toward one cluster — the hot-list case
    # this metric exists to expose (training on the skewed corpus itself
    # would let k-means split the fat cluster and mask the drift)
    from linkorgs_software_spark.operators.ann import _train_centroids

    even_corpus = make([100, 100, 100])
    C = _train_centroids(
        even_corpus.select(F.col("embedding").alias("_cv")),
        vec_col="_cv", nlist=3, seed=11,
    )
    skewed = ivf_balance(make([240, 30, 30]), nlist=3, seed=11, centroids=C).collect()[0]
    assert skewed.nlist == 3 and skewed.n_vectors == 300
    assert skewed.max_list >= 200
    assert skewed.max_over_avg > 1.8

    even = ivf_balance(even_corpus, nlist=3, seed=11, centroids=C).collect()[0]
    assert even.n_lists_nonempty == 3
    assert even.max_over_avg < 1.3


def test_corpus_profile_values(spark):
    """The one-row sizing profile: exact dup rate, token stats, and the
    rank-statistic median, on a corpus with known composition."""
    from linkorgs_software_spark.operators.corpus import corpus_profile

    rows = [
        (1, "a b c"),          # 3 tokens
        (2, "a b c"),          # exact dup of 1
        (3, "one two"),        # 2 tokens
        (4, ""),               # empty
        (5, "x y z w v"),      # 5 tokens
    ]
    p = corpus_profile(spark.createDataFrame(rows, "doc_id long, text string")).collect()[0]
    assert p.n_docs == 5 and p.n_distinct_texts == 4
    assert p.exact_dup_rate == pytest.approx(1 - 4 / 5, abs=1e-9)
    assert p.total_tokens == 13 and p.max_tokens == 5 and p.n_empty == 1
    # sorted counts [0,2,3,3,5]; ceil(5/2)=3rd smallest = 3
    assert p.median_tokens == 3
    assert p.avg_tokens == pytest.approx(13 / 5, abs=1e-9)


def test_corpus_profile_empty_corpus(spark):
    from linkorgs_software_spark.operators.corpus import corpus_profile

    p = corpus_profile(
        spark.createDataFrame([], "doc_id long, text string")
    ).collect()[0]
    assert p.n_docs == 0 and p.median_tokens == 0 and p.exact_dup_rate == 0.0


from hypothesis import given, settings
from hypothesis import strategies as st

_VOCAB = ["alpha", "beta", "gamma", "delta", "eps"]
_doc_strategy = st.lists(
    st.lists(st.sampled_from(_VOCAB), min_size=0, max_size=12), min_size=1, max_size=6
)
_span_strategy = st.lists(
    st.tuples(st.sampled_from(_VOCAB), st.sampled_from(_VOCAB), st.sampled_from(_VOCAB)),
    min_size=0,
    max_size=4,
)


@settings(max_examples=15, deadline=None)
@given(_doc_strategy, _span_strategy)
def test_strip_boilerplate_matches_python_reference(spark, docs_toks, span_tuples):
    """Property: covered-token removal over arbitrary small corpora and
    span lists matches a pure-Python reference implementation (overlap
    unioning, boundary windows, empty docs, spans absent from the corpus)."""
    from linkorgs_software_spark.operators.corpus import strip_boilerplate_spans

    k = 3
    rows = [(i, " ".join(toks)) for i, toks in enumerate(docs_toks)]
    spans = {" ".join(t) for t in span_tuples}

    def ref(toks):
        covered = set()
        for s in range(len(toks) - k + 1):
            if " ".join(toks[s : s + k]) in spans:
                covered.update(range(s, s + k))
        return " ".join(t for j, t in enumerate(toks) if j not in covered)

    expect = {i: ref(toks) for i, toks in enumerate(docs_toks)}
    df = spark.createDataFrame(rows, "doc_id long, text string")
    span_df = spark.createDataFrame([(s,) for s in spans] or [(None,)], "span string").filter(
        "span is not null"
    )
    got = {
        r.doc_id: r.text_clean
        for r in strip_boilerplate_spans(df, span_df, k=k).collect()
    }
    assert got == expect


@settings(max_examples=15, deadline=None)
@given(_doc_strategy)
def test_dedup_passages_matches_python_reference(spark, docs_toks):
    """Property: passage dedup over arbitrary small corpora matches a
    pure-Python keep-one-canonical-copy reference — runs of consecutive
    window starts whose window occurs in >= 2 docs, each run owned by the
    minimum doc id among the runs with its head window, and every other
    copy's run tokens removed."""
    from collections import Counter

    from linkorgs_software_spark.operators.corpus import dedup_passages

    k = 3
    wins = {i: [" ".join(t[s : s + k]) for s in range(len(t) - k + 1)]
            for i, t in enumerate(docs_toks)}
    n_docs = Counter(w for ws in wins.values() for w in set(ws))
    runs = {}
    for i, ws in wins.items():
        for s, w in enumerate(ws):
            if n_docs[w] < 2:
                continue
            if runs.get(i) and runs[i][-1][1] == s - 1:
                runs[i][-1][1] = s
            else:
                runs.setdefault(i, []).append([s, s])
    keeper = {}
    for i, rs in runs.items():
        for s, _ in rs:
            keeper[wins[i][s]] = min(keeper.get(wins[i][s], i), i)

    def ref(i, toks):
        cut = set()
        for s, e in runs.get(i, []):
            if keeper[wins[i][s]] != i:
                cut.update(range(s, e + k))
        kept = [t for j, t in enumerate(toks) if j not in cut]
        return " ".join(kept), len(toks), len(toks) - len(kept)

    expect = {i: ref(i, toks) for i, toks in enumerate(docs_toks)}
    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs_toks)], "doc_id long, text string"
    )
    got = {
        r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
        for r in dedup_passages(df, k=k).collect()
    }
    assert got == expect


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=0, max_value=255),
    st.integers(min_value=0, max_value=2),
)
def test_probe_buckets_expr_is_exact_hamming_ball(spark, bucket, mp):
    """Property: the probe array for a bucket id is EXACTLY the hamming
    ball of radius ``multiprobe`` over ``n_planes`` sign bits — no missing
    neighbor (recall) and no extra bucket (cost)."""
    from linkorgs_software_spark.operators.ann import probe_buckets_expr

    n_planes = 8
    df = spark.createDataFrame([(bucket,)], "bucket long")
    got = sorted(
        df.select(
            probe_buckets_expr("bucket", n_planes=n_planes, multiprobe=mp).alias("p")
        ).first()["p"]
    )
    expect = sorted(
        {
            bucket ^ m
            for m in range(2**n_planes)
            if bin(m).count("1") <= mp
        }
    )
    assert got == expect


def test_duplicated_span_runs_merge_maximal_passages(spark):
    """Overlapping duplicated windows merge into ONE maximal run covering
    the exact shared passage; distinct passages in one doc stay separate
    runs; docs without duplication produce no rows."""
    from linkorgs_software_spark.operators.corpus import duplicated_span_runs, duplicated_spans

    shared = "one two three four five six seven eight nine ten"  # 10 tokens
    other = "red orange yellow green blue indigo violet umbra"   # 8 tokens
    rows = [
        (1, shared + " filler aa bb cc dd ee ff gg " + other),
        (2, shared),
        (3, "prefix words " + other),
        (4, "completely unique text with no repeated passages anywhere at all"),
    ]
    out = duplicated_span_runs(
        spark.createDataFrame(rows, "doc_id long, text string"), k=8
    )
    runs = {}
    for r in out.collect():
        runs.setdefault(r.doc_id, []).append((r.start_pos, r.end_pos, r.n_tokens))
    for v in runs.values():
        v.sort()
    # doc 1: the 10-token shared passage = windows at pos 1..3 -> one run
    # of 10 tokens; the 8-token passage at the tail (tokens 19..26 of 26,
    # window start 19) -> one run of 8 tokens
    assert runs[1] == [(1, 3, 10), (19, 19, 8)]
    assert runs[2] == [(1, 3, 10)]
    assert runs[3] == [(3, 3, 8)]
    assert 4 not in runs
    # the runs tile exactly the duplicated window starts duplicated_spans counts
    spans = duplicated_spans(spark.createDataFrame(rows, "doc_id long, text string"), k=8)
    assert {r.doc_id: r.n_dup_spans for r in spans.collect()} == {
        d: sum(e - s + 1 for s, e, _ in runs.get(d, [])) for d in (1, 2, 3, 4)
    }


def test_dedup_passages_keeps_one_canonical_copy(spark):
    """Keep-one-occurrence passage dedup: the minimum doc_id sharing a
    run's head window keeps its passage; every other doc loses exactly the
    run's tokens; unique docs untouched; a doc that IS entirely one
    duplicated passage empties (text_clean='')."""
    from linkorgs_software_spark.operators.corpus import dedup_passages

    shared = "one two three four five six seven eight nine ten"
    rows = [
        (1, shared + " tail alpha"),
        (2, "head words " + shared),
        (5, shared),  # fully duplicated -> empties
        (3, "unique text entirely different from all other documents here"),
    ]
    out = {r.doc_id: (r.text_clean, r.n_removed) for r in
           dedup_passages(spark.createDataFrame(rows, "doc_id long, text string"), k=8).collect()}
    assert out[1] == (shared + " tail alpha", 0)  # min id keeps its copy
    assert out[2] == ("head words", 10)
    assert out[5] == ("", 10)
    assert out[3][1] == 0


def test_lsh_expr_generators_reject_non_finite_weights():
    """Literal weights render into SQL text; NaN/Inf would produce 'nanD'
    (an obscure ParseException much later). The generators must fail fast
    with a clear error instead."""
    import numpy as np
    import pytest

    from linkorgs_software_spark.operators.ann import (
        _centroid_sims_expr,
        _sign_bucket_expr,
    )

    bad = np.array([[0.5, float("nan")], [1.0, 2.0]])
    with pytest.raises(ValueError, match="non-finite"):
        _sign_bucket_expr("v", bad)
    with pytest.raises(ValueError, match="non-finite"):
        _centroid_sims_expr("v", np.array([[float("inf"), 1.0]]))


def test_strip_boilerplate_rejects_oversized_span_list(spark):
    """The broadcast span set funnels through ONE reducer; an unbounded
    list (e.g. the full duplicated_spans vocabulary) must fail fast with a
    clear error instead of silently OOMing a single task."""
    import pytest

    from linkorgs_software_spark.operators.corpus import strip_boilerplate_spans

    docs = spark.createDataFrame(
        [(1, "one two three four five six seven eight nine")],
        "doc_id long, text string",
    )
    big = spark.range(0, 50).selectExpr("concat('span ', id) as span")
    with pytest.raises(ValueError, match="max_spans"):
        strip_boilerplate_spans(docs, big, k=8, max_spans=10)
    # at or under the cap it runs
    small = spark.range(0, 3).selectExpr("concat('span ', id) as span")
    assert strip_boilerplate_spans(docs, small, k=8, max_spans=10).count() == 1


def test_recommended_n_planes_scale_rule():
    """The measured occupancy rule: planes grow with log2(corpus), clamped;
    the 10x scale-run sizes reproduce the measured good configs."""
    from linkorgs_software_spark.operators.ann import recommended_n_planes

    assert recommended_n_planes(5_000) == 9
    assert recommended_n_planes(50_000) == 12
    assert recommended_n_planes(50_000 * 10) == 15  # +log2(10) per decade
    assert recommended_n_planes(0) == 4
    assert recommended_n_planes(10**12) == 24  # hi clamp (recall cost)
    # occupancy at the recommendation stays near target
    for n in (10_000, 1_000_000, 100_000_000):
        p = recommended_n_planes(n)
        assert 2 <= n / (2**p) <= 16.01, (n, p)


def test_embedding_neardup_lsh_auto_planes_matches_explicit(spark):
    """n_planes='auto' picks the occupancy-matched count from the input
    size and returns the same pair set as passing that count explicitly."""
    from linkorgs_software_spark.operators.ann import recommended_n_planes
    from linkorgs_software_spark.operators.corpus import embedding_neardup_lsh

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    n = emb.count()
    p = recommended_n_planes(n)
    auto = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_lsh(emb, threshold=0.99, n_planes="auto").collect()
    }
    explicit = {
        (r.id_a, r.id_b)
        for r in embedding_neardup_lsh(emb, threshold=0.99, n_planes=p).collect()
    }
    assert auto == explicit


def test_tfidf_top_terms_ranks_characteristic_terms(spark):
    """A term unique to one doc outranks corpus-wide terms; ranks are
    deterministic under ties; k caps per-doc rows; empty docs vanish."""
    import math

    from linkorgs_software_spark.operators.corpus import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana common common"),
            (2, "banana cherry common common"),
            (3, "common common common"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    out = tfidf_top_terms(docs, k=2)
    rows = {}
    for r in out.collect():
        rows.setdefault(r.doc_id, []).append((r.rank, r.term, r.tf, r.tfidf))
    assert 4 not in rows
    for v in rows.values():
        v.sort()
        assert len(v) <= 2
    # doc 1: apple (tf 2, df 1) is the most characteristic term
    assert rows[1][0][1] == "apple" and rows[1][0][2] == 2
    # doc 3 has only 'common' (df 3): weight = 3 * (ln(5/4)+1)
    expect = round(3 * (math.log(5.0 / 4.0) + 1.0), 6)
    assert rows[3] == [(1, "common", 3, expect)]
    # tie in doc 2: banana (df 2) beats common? common tf=2 df=3;
    # banana tf=1 df=2: 1*(ln(5/3)+1)=1.51 vs 2*(ln(5/4)+1)=2.45 -> common first
    assert rows[2][0][1] == "common"


def test_lm_quality_scores_flag_atypical_transitions(spark):
    """Docs made of corpus-typical bigrams score higher than a doc of
    never-seen transitions; short docs keep a row with NULL score."""
    from linkorgs_software_spark.operators.corpus import lm_quality_scores

    typical = "the cat sat on the mat"
    docs = spark.createDataFrame(
        [
            (1, typical),
            (2, typical),
            (3, typical),
            (4, "mat the on sat cat the"),  # same unigrams, alien bigrams
            (5, "one"),                      # < 2 tokens
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: (r.n_bigrams, r.avg_logp) for r in lm_quality_scores(docs).collect()}
    assert out[5] == (0, None)
    assert out[1][0] == 5 and out[1] == out[2] == out[3]
    assert out[4][0] == 5
    assert out[1][1] > out[4][1]  # typical transitions score higher


def test_lm_quality_scores_exact_value(spark):
    """Hand-checked probability: two docs 'a b' and 'a b' -> c(a,b)=2,
    c(a)=2, V=2 -> p = 3/4, avg_logp = ln(0.75)."""
    import math

    from linkorgs_software_spark.operators.corpus import lm_quality_scores

    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b")], "doc_id long, text string"
    )
    out = {r.doc_id: r.avg_logp for r in lm_quality_scores(docs).collect()}
    assert out[1] == out[2] == round(math.log(3.0 / 4.0), 6)


def test_decontaminate_flags_shared_windows(spark):
    """A training doc containing a benchmark passage is flagged with the
    number of matching window positions; clean docs keep a zero row; short
    docs (< k tokens) can never be flagged."""
    from linkorgs_software_spark.operators.corpus import decontaminate_flags

    bench_passage = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    corpus = spark.createDataFrame(
        [
            (1, "intro words then " + bench_passage + " trailing text here"),
            (2, "totally clean document with no benchmark overlap anywhere at all"),
            (3, bench_passage),
            (4, "short doc"),
        ],
        "doc_id long, text string",
    )
    bench = spark.createDataFrame(
        [(100, bench_passage + " and some extra benchmark context")],
        "doc_id long, text string",
    )
    out = {
        r.doc_id: (r.n_contaminated_windows, r.contaminated)
        for r in decontaminate_flags(corpus, bench, k=8).collect()
    }
    assert out[2] == (0, False)
    assert out[4] == (0, False)
    assert out[3] == (1, True)          # exactly the one 8-token window
    assert out[1][0] >= 1 and out[1][1]  # embedded passage detected


def test_source_profile_per_source_dup_rates(spark):
    from linkorgs_software_spark.operators.corpus import source_profile

    docs = spark.createDataFrame(
        [
            (1, "one two three", "en", "web", 13),
            (2, "one two three", "en", "web", 13),
            (3, "four five", "en", "web", 9),
            (4, "six seven eight nine", "en", "books", 20),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    out = {r.source: r for r in source_profile(docs).collect()}
    web = out["web"]
    assert (web.n_docs, web.total_tokens, web.n_distinct_texts) == (3, 8, 2)
    assert web.exact_dup_rate == round(1.0 - 2.0 / 3.0, 6)
    assert out["books"].exact_dup_rate == 0.0
    assert out["books"].avg_tokens == 4.0


def test_round5_ops_tolerate_null_and_empty_text(spark):
    """NULL/empty text must not crash or corrupt the corpus ops: tfidf
    emits no rows for token-less docs; LM scoring, decontamination, the
    span family and the repetition profile keep a zero/NULL row for every
    input doc (or, for runs and top spans, add no row); the two removal
    ops read NULL text as the empty token stream ('', 0 tokens, 0 removed)."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import (
        decontaminate_flags,
        dedup_passages,
        duplicated_span_runs,
        duplicated_spans,
        lm_quality_scores,
        repetition_profile,
        strip_boilerplate_spans,
        tfidf_top_terms,
        top_boilerplate_spans,
    )

    docs = spark.createDataFrame(
        [(1, "real words here three four five six seven eight"),
         (2, None), (3, ""), (4, "   ")],
        "doc_id long, text string",
    )
    tf = tfidf_top_terms(docs, k=3)
    assert {r.doc_id for r in tf.collect()} == {1}
    lm = {r.doc_id: (r.n_bigrams, r.avg_logp) for r in lm_quality_scores(docs).collect()}
    assert set(lm) == {1, 2, 3, 4}
    assert lm[2] == (0, None) and lm[3] == (0, None) and lm[4] == (0, None)
    bench = spark.createDataFrame([(9, "real words here three four five six seven eight")],
                                  "doc_id long, text string")
    de = {r.doc_id: r.contaminated for r in decontaminate_flags(docs, bench, k=8).collect()}
    assert set(de) == {1, 2, 3, 4}
    assert de[1] and not (de[2] or de[3] or de[4])
    text1 = "real words here three four five six seven eight"
    empty = {2: ("", 0, 0), 3: ("", 0, 0), 4: ("", 0, 0)}
    dp = {r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
          for r in dedup_passages(docs, k=8).collect()}
    assert dp == {1: (text1, 9, 0), **empty}
    spans = spark.createDataFrame([("real words here three four five six seven",)], "span string")
    sb = {r.doc_id: (r.text_clean, r.n_tokens, r.n_removed)
          for r in strip_boilerplate_spans(docs, spans, k=8).collect()}
    assert sb == {1: ("eight", 9, 8), **empty}
    ds = {r.doc_id: (r.n_spans, r.n_dup_spans, r.dup_span_frac)
          for r in duplicated_spans(docs, k=8, min_docs=1).collect()}
    assert ds == {1: (2, 2, 1.0), 2: (0, 0, 0.0), 3: (0, 0, 0.0), 4: (0, 0, 0.0)}
    runs = [(r.doc_id, r.start_pos, r.end_pos, r.n_tokens)
            for r in duplicated_span_runs(docs, k=8, min_docs=1).collect()]
    assert runs == [(1, 1, 2, 9)]
    top = {r.span: (r.n_docs, r.n_occurrences)
           for r in top_boilerplate_spans(docs, k=8, min_docs=1).collect()}
    assert top == {"real words here three four five six seven": (1, 1),
                   "words here three four five six seven eight": (1, 1)}
    rp = {r.doc_id: (r.n_tokens, r.distinct_token_ratio, r.top_token_share, r.dup_bigram_share)
          for r in repetition_profile(docs).collect()}
    assert rp[2] == rp[3] == rp[4] == (0, 0.0, 0.0, 0.0)
    assert rp[1] == (9, 1.0, round(1 / 9, 6), 0.0)


def test_stratified_sample_quota_nesting_and_stability(spark):
    """Quota sampling: exact per-stratum counts (min(n, |stratum|)), the
    n=2 sample nested inside n=5, and invariance under repartition."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.sampling import stratified_sample

    rows = [(i, f"s{i % 3}" if i < 90 else "tiny") for i in range(93)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    out5 = stratified_sample(df, 5, strata_cols=("source",), key_cols=("doc_id",))
    per = {r.source: r.c for r in out5.groupBy("source").agg(
        F.count(F.lit(1)).alias("c")).collect()}
    assert per == {"s0": 5, "s1": 5, "s2": 5, "tiny": 3}  # min(n, size)
    out2 = stratified_sample(df, 2, strata_cols=("source",), key_cols=("doc_id",))
    ids5 = {r.doc_id for r in out5.collect()}
    ids2 = {r.doc_id for r in out2.collect()}
    assert ids2 <= ids5  # nested samples
    shuffled = stratified_sample(
        df.repartition(7), 5, strata_cols=("source",), key_cols=("doc_id",)
    )
    assert {r.doc_id for r in shuffled.collect()} == ids5  # content-keyed


def test_repetition_profile_signals(spark):
    """A token-repeating doc scores high top_token_share / low distinct
    ratio; a doc with a repeated bigram shows dup_bigram_share; empty and
    single-token docs get zero shares, not NULLs or crashes."""
    from linkorgs_software_spark.operators.corpus import repetition_profile

    docs = spark.createDataFrame(
        [
            (1, "spam spam spam spam"),
            (2, "alpha beta gamma delta"),
            (3, "one two one two three"),
            (4, ""),
            (5, "solo"),
        ],
        "doc_id long, text string",
    )
    r = {x.doc_id: x for x in repetition_profile(docs).collect()}
    assert r[1].n_tokens == 4 and r[1].top_token_share == 1.0
    assert r[1].distinct_token_ratio == 0.25
    assert r[1].dup_bigram_share == 1.0  # "spam spam" x3
    assert r[2].distinct_token_ratio == 1.0 and r[2].dup_bigram_share == 0.0
    assert r[3].dup_bigram_share == 0.5  # "one two" twice of 4 bigrams
    assert r[4].n_tokens == 0 and r[4].top_token_share == 0.0
    assert r[5].n_tokens == 1 and r[5].dup_bigram_share == 0.0


def test_pack_chunks_offsets_and_budget(spark):
    """Chunk assignment: offsets are the doc_id-ordered cumulative token
    stream; chunk_id changes exactly at budget boundaries; empty docs take
    zero space; a doc straddling a boundary belongs to the chunk its FIRST
    token lands in (concat-and-chunk semantics)."""
    import pytest

    from linkorgs_software_spark.operators.corpus import pack_chunks

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, ""), (3, "d e f g"), (4, "h"), (5, "i j")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in pack_chunks(docs, budget=4).collect()}
    assert [out[i].start_offset for i in (1, 2, 3, 4, 5)] == [0, 3, 3, 7, 8]
    assert [out[i].chunk_id for i in (1, 2, 3, 4, 5)] == [0, 0, 0, 1, 2]
    with pytest.raises(ValueError, match="budget"):
        pack_chunks(docs, budget=0)


def test_pack_chunks_matches_global_window_across_buckets(spark):
    """The distributed prefix sum must equal the naive global cumsum even
    when docs span many buckets (tiny bucket_size forces the multi-bucket
    path at test scale)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from linkorgs_software_spark.functions.text import token_count_expr
    from linkorgs_software_spark.operators.corpus import pack_chunks

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        r.doc_id: (r.start_offset, r.chunk_id)
        for r in pack_chunks(docs, budget=512, bucket_size=16).collect()
    }
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    want = {
        r.doc_id: (r.off, r.off // 512)
        for r in docs.select(
            "doc_id", token_count_expr("text").cast("long").alias("nt")
        )
        .withColumn("off", F.coalesce(F.sum("nt").over(w), F.lit(0)))
        .collect()
    }
    assert got == want


def test_lang_mismatch_flags(spark):
    """Declared-vs-detected language validation: agreement, disagreement,
    'und' never agrees, NULL declaration is null-safe."""
    from linkorgs_software_spark.operators.corpus import lang_mismatch_flags

    docs = spark.createDataFrame(
        [
            (1, "en", "the cat and the dog of the house is the best"),
            (2, "en", "el gato y la casa de la madre que vive alli"),
            (3, "en", "zzz qqq www"),
            (4, None, "the cat and the dog of the house"),
        ],
        "doc_id long, lang string, text string",
    )
    out = {r.doc_id: r for r in lang_mismatch_flags(docs).collect()}
    assert out[1].lang_detected == "en" and out[1].agree is True
    assert out[2].lang_detected == "es" and out[2].agree is False
    assert out[3].lang_detected == "und" and out[3].agree is False
    assert out[4].agree is False  # NULL declared never null-agrees with 'en'


def test_length_outliers_per_stratum(spark):
    """The flag is a WITHIN-source percent_rank: the same length can be an
    outlier in a short-doc source and typical in a long-doc source."""
    from linkorgs_software_spark.operators.corpus import length_outliers

    rows = [(i, "short", i) for i in range(1, 11)]       # lengths 1..10
    rows += [(100 + i, "long", 10 + i) for i in range(1, 11)]  # 11..20
    df = spark.createDataFrame(rows, "doc_id long, source string, n_chars long")
    out = {r.doc_id: r for r in length_outliers(df, pct=0.9).collect()}
    # in 'short', only the max (10 chars) reaches rank 1.0 >= 0.9
    assert out[10].is_outlier is True and out[9].is_outlier is False
    # length 10 is the TOP of 'short' but would be the BOTTOM of 'long'
    assert out[110].is_outlier is True and out[101].is_outlier is False
    assert out[101].length_pct_rank == 0.0


def test_chunk_manifest_contiguous_and_straddle_ownership(spark):
    """Each doc is counted in the chunk its FIRST token lands in; id
    ranges per chunk are contiguous in the doc_id order; token totals sum
    to the corpus."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import chunk_manifest

    docs = spark.createDataFrame(
        [(1, "a b c"), (2, "d e f g"), (3, "h"), (4, "i j")],
        "doc_id long, text string",
    )
    # offsets: 0, 3, 7, 8 at budget 4 -> chunks 0, 0, 1, 2
    m = {r.chunk_id: r for r in chunk_manifest(docs, budget=4).collect()}
    assert set(m) == {0, 1, 2}
    assert (m[0].n_docs, m[0].first_doc_id, m[0].last_doc_id) == (2, 1, 2)
    assert m[0].total_tokens == 7  # doc 2 straddles: owned by chunk 0
    assert (m[1].n_docs, m[1].total_tokens) == (1, 1)
    assert sum(r.total_tokens for r in m.values()) == 10


def test_dup_cluster_profile_values(spark):
    """Hand-checked profile: 6 docs in {3,2,1}-sized groups."""
    from linkorgs_software_spark.operators.corpus import (
        dup_cluster_profile,
        exact_dup_groups,
    )

    docs = spark.createDataFrame(
        [(1, "x"), (2, "x"), (3, "x"), (4, "y"), (5, "y"), (6, "z")],
        "doc_id long, text string",
    )
    r = dup_cluster_profile(exact_dup_groups(docs), group_col="dup_group").first()
    assert (r.n_docs, r.n_groups, r.n_dup_docs, r.max_group_size) == (6, 3, 5, 3)
    assert r.avg_group_size == 2.0
    assert r.singleton_share == round(1 / 3, 6)


def test_pii_profile_counts_and_redaction(spark):
    """Planted PII fixtures: counts per category, redaction tokens, and
    the dotted-phone vs IPv4 disambiguation (pattern arities differ, so
    the families can never overlap)."""
    from linkorgs_software_spark.operators.corpus import pii_profile, pii_redact

    docs = spark.createDataFrame(
        [
            (1, "contact john.doe+spam@example.co.uk or call 555-123-4567 now"),
            (2, "ssn 123-45-6789 server at 10.0.255.1 and 192.168.1.1"),
            (3, "clean text with no sensitive content at all"),
            (4, "dotted phone 555.123.4567 mail a@b.io"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    p = {r.doc_id: r for r in pii_profile(docs).collect()}
    assert (p[1].n_emails, p[1].n_phones, p[1].n_pii) == (1, 1, 2)
    assert (p[2].n_ssns, p[2].n_ipv4s, p[2].n_pii) == (1, 2, 3)
    assert p[3].has_pii is False and p[5].n_pii == 0
    # dotted phone is a phone (three groups), never an IPv4 (four groups)
    assert (p[4].n_phones, p[4].n_ipv4s) == (1, 0)
    r = {x.doc_id: x for x in pii_redact(docs).collect()}
    assert r[1].text_redacted == "contact <EMAIL> or call <PHONE> now"
    assert r[2].text_redacted == "ssn <SSN> server at <IP> and <IP>"
    assert r[4].text_redacted == "dotted phone <PHONE> mail <EMAIL>"
    assert r[3].n_redactions == 0 and r[2].n_redactions == 3


def test_quality_rule_flags_gopher_c4_rules(spark):
    """Each rule trips on its own planted violation; a long stop-worded
    doc passes all six; empty text fails closed (word count + mean len)."""
    from linkorgs_software_spark.operators.corpus import quality_rule_flags

    good = " ".join(["the quick brown fox jumps over lazy dogs and cats with that"] * 6)
    docs = spark.createDataFrame(
        [
            (1, good),  # 72 words, stops present -> keep
            (2, "short text"),  # word count under 50
            (3, "- a\n- b\n- c\nplain"),  # 3/4 bullet lines (> 0.9? no — 0.75 ok)
            (4, "x...\ny...\nz plain line"),  # 2/3 ellipsis lines > 0.3
            (5, "#x #x #x " + " ".join(["word"] * 60)),  # 3 hashes / 63 words < 0.1
            (6, ""),
        ],
        "doc_id long, text string",
    )
    q = {r.doc_id: r for r in quality_rule_flags(docs).collect()}
    assert q[1].keep is True and q[1].n_stop_kinds >= 2
    assert q[2].word_count_ok is False and q[2].keep is False
    assert q[3].bullet_line_share == 0.75 and q[3].bullet_ok is True
    assert q[4].ellipsis_line_share == round(2 / 3, 6) and q[4].ellipsis_ok is False
    assert q[5].symbol_ratio == round(3 / 63, 6) and q[5].symbol_ok is True
    assert q[6].n_words == 0 and q[6].keep is False
    # tightened thresholds flip the marginal docs
    tight = {
        r.doc_id: r
        for r in quality_rule_flags(
            docs, max_bullet_share=0.5, max_symbol_ratio=0.01
        ).collect()
    }
    assert tight[3].bullet_ok is False and tight[5].symbol_ok is False


def test_pii_and_quality_plans_are_single_scan_no_shuffle(spark):
    """The curation trio is a pure projection: no Exchange, no Python, no
    join — one codegen'd scan regardless of corpus size."""
    from linkorgs_software_spark.operators.corpus import (
        pii_profile,
        pii_redact,
        quality_rule_flags,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for op in (pii_profile, pii_redact, quality_rule_flags):
        plan = op(docs)._jdf.queryExecution().executedPlan().toString()
        for banned in ("Exchange", "BatchEvalPython", "ArrowEvalPython", "Join"):
            assert banned not in plan, (op.__name__, banned)


def test_group_aware_split_no_leakage_and_singleton_fallback(spark):
    """Every member of a dup group lands in the same split; docs missing
    from the assignments frame fall back to singleton groups (split still
    assigned); the assignment is stable under repartition."""
    from linkorgs_software_spark.operators.corpus import exact_dup_groups
    from linkorgs_software_spark.operators.sampling import group_aware_split

    docs = spark.createDataFrame(
        [(i, f"text {i % 7}") for i in range(60)] + [(100, "orphan doc")],
        "doc_id long, text string",
    )
    asg = exact_dup_groups(docs.filter("doc_id < 100"))
    out = group_aware_split(docs, asg, weights=(0.5, 0.5))
    rows = out.collect()
    assert len(rows) == 61 and all(r.split in (0, 1) for r in rows)
    # leakage check: split is constant within each dup group
    by_group = {}
    for r in rows:
        if r.doc_id == 100:
            continue
        by_group.setdefault(r.doc_id % 7, set()).add(r.split)
    assert all(len(s) == 1 for s in by_group.values())
    # both splits used (7 groups, hash-spread)
    assert len({next(iter(s)) for s in by_group.values()}) == 2
    # stability under repartition
    again = {
        r.doc_id: r.split
        for r in group_aware_split(docs.repartition(7), asg, weights=(0.5, 0.5)).collect()
    }
    assert again == {r.doc_id: r.split for r in rows}


def test_mixture_sample_budget_fill_and_overshoot_bound(spark):
    """Per-source greedy fill: selection follows md5 order, the pre-doc
    running total gates membership (>= 1 doc for any positive budget,
    overshoot bounded by one doc), unbudgeted sources use the default."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.sampling import mixture_sample

    docs = spark.createDataFrame(
        [(i, "w " * 10, "a") for i in range(10)]
        + [(100 + i, "w " * 10, "b") for i in range(10)],
        "doc_id long, text string, source string",
    )
    out = mixture_sample(docs, {"a": 25}, default_budget=0)
    sel = out.filter("selected").groupBy("source").agg(
        F.count("*").alias("n"), F.sum("n_tokens").alias("tok")
    )
    got = {r.source: (r.n, r.tok) for r in sel.collect()}
    # budget 25 at 10 tokens/doc: docs with cum_before 0, 10, 20 selected
    assert got == {"a": (3, 30)}  # overshoot bounded by one doc
    # tiny positive budget still yields one doc; default applies to 'b'
    one = mixture_sample(docs, {"a": 1}, default_budget=15).filter("selected")
    got2 = {r.source: r.n for r in one.groupBy("source").agg(F.count("*").alias("n")).collect()}
    assert got2 == {"a": 1, "b": 2}


def test_source_overlap_hand_checked(spark):
    """A and B share two contents, A and C share one, B and C nothing —
    the zero pair is absent, counts and Jaccard are exact."""
    from linkorgs_software_spark.operators.corpus import source_overlap

    rows = [
        # source A: contents x, y, z
        (1, "x", "A"), (2, "y", "A"), (3, "z", "A"),
        # source B: x, y, w  (shares x, y with A)
        (4, "x", "B"), (5, "y", "B"), (6, "w", "B"),
        # source C: z, v    (shares z with A)
        (7, "z", "C"), (8, "v", "C"),
        # duplicate content within a source must not inflate counts
        (9, "x", "A"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {
        (r.source_a, r.source_b): r
        for r in source_overlap(df).collect()
    }
    assert set(got) == {("A", "B"), ("A", "C")}
    ab = got[("A", "B")]
    assert ab.n_shared_contents == 2
    assert (ab.n_contents_a, ab.n_contents_b) == (3, 3)
    assert ab.overlap_jaccard == round(2 / (3 + 3 - 2), 6)
    ac = got[("A", "C")]
    assert ac.n_shared_contents == 1
    assert ac.overlap_jaccard == round(1 / (3 + 2 - 1), 6)


def test_source_overlap_null_text_and_custom_key(spark):
    """NULL text rows drop out under the default key (md5(NULL) is NULL);
    a custom key expression changes the identity relation."""
    from pyspark.sql import functions as F

    from linkorgs_software_spark.operators.corpus import source_overlap

    rows = [
        (1, None, "A"), (2, "hello world foo", "A"),
        (3, None, "B"), (4, "hello world bar", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    assert source_overlap(df).count() == 0  # exact: nothing shared
    # prefix-2-token key: both docs start "hello world" -> one shared pair.
    # The key must null-propagate explicitly: bare concat_ws folds NULL
    # text to md5("") and would pair the two null rows as shared content.
    key = F.when(
        F.col("text").isNotNull(),
        F.md5(F.concat_ws(" ", F.slice(F.split(F.col("text"), r"\s+"), 1, 2))),
    )
    out = source_overlap(df, key=key).collect()
    assert len(out) == 1 and out[0].n_shared_contents == 1
    assert out[0].n_contents_a == 1  # null-text rows dropped from totals too


def test_vocab_divergence_hand_checked(spark):
    """Two sources with known token counts: KL and the decomposed JSD
    match the literal textbook sums computed here in Python."""
    import math

    from linkorgs_software_spark.operators.corpus import vocab_divergence

    # A: a a a b   B: b b c d   corpus: a=3 b=3 c=1 d=1, n=8
    rows = [(1, "a a a b", "A"), (2, "b b c d", "B"), (3, "x", None)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    got = {r.source: r for r in vocab_divergence(df).collect()}
    assert set(got) == {"A", "B"}  # NULL source dropped

    def expected(counts, corpus, n_s, n):
        p_c_all = {t: c / n for t, c in corpus.items()}
        kl = sum((c / n_s) * math.log((c / n_s) / p_c_all[t]) for t, c in counts.items())
        cov = sum(p_c_all[t] for t in counts)
        jin = sum(
            (c / n_s) * math.log(2 * (c / n_s) / ((c / n_s) + p_c_all[t]))
            + p_c_all[t] * math.log(2 * p_c_all[t] / ((c / n_s) + p_c_all[t]))
            for t, c in counts.items()
        )
        jsd = 0.5 * jin + 0.5 * math.log(2) * (1 - cov)
        return round(cov, 6), round(kl, 6), round(jsd, 6)

    corpus = {"a": 3, "b": 3, "c": 1, "d": 1}
    cov, kl, jsd = expected({"a": 3, "b": 1}, corpus, 4, 8)
    a = got["A"]
    assert (a.n_tokens, a.n_terms) == (4, 2)
    assert (a.corpus_mass_coverage, a.kl_vs_corpus, a.jsd_vs_corpus) == (cov, kl, jsd)
    cov, kl, jsd = expected({"b": 2, "c": 1, "d": 1}, corpus, 4, 8)
    b = got["B"]
    assert (b.n_tokens, b.n_terms) == (4, 3)
    assert (b.corpus_mass_coverage, b.kl_vs_corpus, b.jsd_vs_corpus) == (cov, kl, jsd)
    # JSD bounded by ln 2
    assert 0 <= a.jsd_vs_corpus <= math.log(2) and 0 <= b.jsd_vs_corpus <= math.log(2)


def test_vocab_divergence_single_source_is_zero(spark):
    """One source IS the corpus: KL = JSD = 0, coverage = 1 exactly."""
    from linkorgs_software_spark.operators.corpus import vocab_divergence

    df = spark.createDataFrame(
        [(1, "p q r p", "only"), (2, "q r", "only")],
        "doc_id long, text string, source string",
    )
    r = vocab_divergence(df).collect()
    assert len(r) == 1
    assert r[0].corpus_mass_coverage == 1.0
    assert r[0].kl_vs_corpus == 0.0
    assert r[0].jsd_vs_corpus == 0.0


def test_divergent_terms_ranking_and_min_count(spark):
    """The term exclusive to a source tops its ranking; min_count drops
    rare terms even when their ratio is extreme."""
    from linkorgs_software_spark.operators.corpus import divergent_terms

    rows = [
        (1, "x x x x x common common", "A"),
        (2, "common common common common rare", "B"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = divergent_terms(df, k=3, min_count=2).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r.source, []).append(r)
    # A's top term is its exclusive 'x' (5/7 vs 5/12 corpus)
    assert by_src["A"][0].term == "x" and by_src["A"][0].rank == 1
    assert by_src["A"][0].term_count == 5
    # 'rare' (count 1 in B) is filtered by min_count=2 despite a big ratio
    assert all(r.term != "rare" for r in by_src.get("B", []))
    # ranks are 1..k contiguous per source
    assert [r.rank for r in by_src["A"]] == list(range(1, len(by_src["A"]) + 1))


def test_embedding_group_profile_hand_checked(spark):
    """2-D fixture with known centroids: norms, cohesion, and centroid-to-
    global cosines match values computed by hand."""
    from linkorgs_software_spark.operators.ann import embedding_group_profile

    rows = [
        (1, [1.0, 0.0], "A"), (2, [0.0, 1.0], "A"),
        (3, [1.0, 0.0], "B"), (4, [1.0, 0.0], "B"),
        (5, None, "B"), (6, [1.0, 1.0], None),  # null vec / group dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    got = {r.group: r for r in embedding_group_profile(df, group_col="label").collect()}
    assert set(got) == {"A", "B"}
    a, b = got["A"], got["B"]
    # A centroid (0.5, 0.5); B centroid (1, 0); global (0.75, 0.25)
    assert (a.n_vecs, b.n_vecs) == (2, 2)
    assert a.centroid_norm == round(0.5**0.5, 6)
    assert b.centroid_norm == 1.0
    assert a.mean_cos_to_centroid == round(0.5 / (0.5**0.5), 6)  # 0.707107
    assert b.mean_cos_to_centroid == 1.0
    gnorm = (0.75**2 + 0.25**2) ** 0.5
    assert a.cos_to_global == round(0.5 / ((0.5**0.5) * gnorm), 6)
    assert b.cos_to_global == round(0.75 / gnorm, 6)


def test_embedding_group_profile_zero_vectors_cosine_convention(spark):
    """An all-zero group hits the zero-norm -> 0.0 cosine convention and
    a zero centroid norm instead of NaN/divide-by-zero."""
    from linkorgs_software_spark.operators.ann import embedding_group_profile

    rows = [(1, [0.0, 0.0], "Z"), (2, [0.0, 0.0], "Z"), (3, [3.0, 4.0], "P")]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label string")
    got = {r.group: r for r in embedding_group_profile(df, group_col="label").collect()}
    z = got["Z"]
    assert z.centroid_norm == 0.0
    assert z.mean_cos_to_centroid == 0.0
    assert z.cos_to_global == 0.0
    p = got["P"]
    assert p.centroid_norm == 5.0
    assert p.mean_cos_to_centroid == 1.0


def test_containment_pairs_subsumption_one_direction(spark):
    """A short doc quoted verbatim inside a long doc: containment 1.0 in
    one direction only, while its Jaccard would be far below threshold."""
    from linkorgs_software_spark.operators.corpus import containment_pairs

    short = "alpha beta gamma delta"
    long = (
        "intro words here " + short + " and then a very long tail "
        "with many additional tokens stretching the union far out"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, "totally unrelated content block")],
        "doc_id long, text string",
    )
    out = containment_pairs(df, shingle_k=3, threshold=0.8).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.contained_id, r.container_id) == (1, 2)
    assert r.containment == 1.0
    assert r.n_shingles_contained < r.n_shingles_container


def test_containment_pairs_near_identical_both_directions(spark):
    """Two near-identical docs emit BOTH directions; empty docs never
    pair (no shingles, no posting-list entry)."""
    from linkorgs_software_spark.operators.corpus import containment_pairs

    a = "one two three four five six seven eight nine ten"
    b = a + " eleven"
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, ""), (4, None)], "doc_id long, text string"
    )
    out = containment_pairs(df, shingle_k=3, threshold=0.8).collect()
    dirs = {(r.contained_id, r.container_id) for r in out}
    assert dirs == {(1, 2), (2, 1)}
    by_dir = {(r.contained_id, r.container_id): r.containment for r in out}
    assert by_dir[(1, 2)] == 1.0        # all of A's shingles are in B
    assert 0.8 <= by_dir[(2, 1)] < 1.0  # B has one extra shingle


def test_categorical_divergence_absent_key_remainder(spark):
    """A group missing a pooled key exercises the closed-form JSD/TVD
    remainders; values match the literal textbook sums over the FULL
    key set computed here in Python."""
    import math

    from linkorgs_software_spark.operators.drift import categorical_divergence

    # g1: a=3, b=1   g2: a=1, c=3   pooled: a=4, b=1, c=3, n=8
    counts = spark.createDataFrame(
        [("g1", "a", 3), ("g1", "b", 1), ("g2", "a", 1), ("g2", "c", 3)],
        "grp string, key string, n long",
    )
    got = {
        r.group: r
        for r in categorical_divergence(
            counts, group_col="grp", key_col="key", count_col="n"
        ).collect()
    }

    def expected(dist, pooled, n_g, n):
        full = {k: pooled[k] / n for k in pooled}
        pg = {k: c / n_g for k, c in dist.items()}
        kl = sum(p * math.log(p / full[k]) for k, p in pg.items())
        # textbook sums over the FULL key set (absent keys as p_g = 0)
        jsd = 0.0
        tvd = 0.0
        for k, pc in full.items():
            p = pg.get(k, 0.0)
            m = 0.5 * (p + pc)
            if p > 0:
                jsd += 0.5 * p * math.log(p / m)
            if pc > 0:
                jsd += 0.5 * pc * math.log(pc / m)
            tvd += 0.5 * abs(p - pc)
        cov = sum(full[k] for k in dist)
        return round(cov, 6), round(kl, 6), round(jsd, 6), round(tvd, 6)

    pooled = {"a": 4, "b": 1, "c": 3}
    for grp, dist in (("g1", {"a": 3, "b": 1}), ("g2", {"a": 1, "c": 3})):
        cov, kl, jsd, tvd = expected(dist, pooled, 4, 8)
        r = got[grp]
        assert r.pooled_mass_coverage == cov
        assert r.kl_vs_pooled == kl
        assert r.jsd_vs_pooled == jsd, grp
        assert r.tvd_vs_pooled == tvd, grp
    assert got["g1"].n_obs == 4 and got["g1"].n_keys == 2


def test_distribution_drift_windows_and_uniform_invariant(spark):
    """Epoch-day bucketing, and a stream whose windows all share the
    pooled mix drifts by exactly zero."""
    import datetime as dt

    from linkorgs_software_spark.operators.drift import distribution_drift

    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = []
    eid = 0
    for day in range(3):
        for etype, k in (("click", 2), ("view", 1)):
            for _ in range(k):
                eid += 1
                rows.append((eid, base + dt.timedelta(days=day), etype))
    df = spark.createDataFrame(rows, "event_id long, ts timestamp, event_type string")
    out = distribution_drift(df, window_seconds=86400).collect()
    assert len(out) == 3
    assert sorted(r.win for r in out) == sorted(
        int((base + dt.timedelta(days=d)).timestamp() // 86400) for d in range(3)
    )
    for r in out:
        assert r.n_events == 3 and r.n_keys == 2
        assert r.pooled_mass_coverage == 1.0
        assert r.kl_vs_overall == 0.0
        assert r.jsd_vs_overall == 0.0
        assert r.tvd_vs_overall == 0.0
