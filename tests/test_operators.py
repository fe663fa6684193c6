"""Operator correctness: bloom joins vs exact joins, heavy hitters, dedup
family, similarity search, text functions — all compared against exact
Spark/DataFrame answers on the driver-provided tables."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from bloomfilter_spark.operators import (bloom_anti_join, bloom_semi_join,
                                         brute_force_topk, cms_heavy_hitters,
                                         dedup_exact, embedding_near_dups,
                                         exact_top_k, ivf_assign, ivf_topk,
                                         ivf_train, lsh_ann_topk,
                                         minhash_lsh_dedup, minhash_signatures,
                                         ngram_jaccard_pairs, simhash_near_dups,
                                         top_k_per_group)
from bloomfilter_spark.functions import (alpha_ratio, lang_id,
                                         normalized_fingerprint, quality_score,
                                         token_count, word_token_count)


@pytest.fixture(scope="module")
def orders(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/orders.parquet")


@pytest.fixture(scope="module")
def embeddings(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# --- bloom joins ---------------------------------------------------------

def test_bloom_semi_join_exact(spark, lineitem, orders):
    hi = orders.where("o_totalprice > 200000")
    got = bloom_semi_join(lineitem, hi, ["l_orderkey"], dim_on=["o_orderkey"])
    want = lineitem.join(hi.select("o_orderkey").distinct(),
                         lineitem.l_orderkey == hi.o_orderkey, "left_semi")
    assert got.count() == want.count()
    assert got.select(F.sum("l_orderkey")).first()[0] == \
        want.select(F.sum("l_orderkey")).first()[0]


def test_sharded_bloom_semi_join_exact(spark, lineitem, orders):
    """The beyond-broadcast runtime filter gives the same exact semi-join
    result as the broadcast path (zero FN + verification join)."""
    from bloomfilter_spark.operators import sharded_bloom_semi_join
    hi = orders.where("o_totalprice > 200000")
    got = sharded_bloom_semi_join(lineitem, hi, ["l_orderkey"],
                                  dim_on=["o_orderkey"], n_shards=8)
    want = lineitem.join(hi.select("o_orderkey").distinct(),
                         lineitem.l_orderkey == hi.o_orderkey, "left_semi")
    assert got.count() == want.count()
    assert got.select(F.sum("l_orderkey")).first()[0] == \
        want.select(F.sum("l_orderkey")).first()[0]


def test_sharded_bloom_semi_join_leaves_session_clean(spark, lineitem, orders):
    """The call persists nothing, and its prefiltered rows (exact=False)
    are the fact rows a shard table over the dim keys passes."""
    from bloomfilter_spark.operators import sharded_bloom_semi_join
    from bloomfilter_spark.operators.sharded import (build_sharded_bloom,
                                                     sharded_membership)
    hi = orders.where("o_totalprice > 200000")
    keys = hi.select(F.col("o_orderkey").alias("l_orderkey"))
    persisted = lambda: set(  # noqa: E731
        spark.sparkContext._jsc.getPersistentRDDs().keySet())
    before = persisted()
    got = sharded_bloom_semi_join(lineitem, hi, ["l_orderkey"],
                                  dim_on=["o_orderkey"], n_shards=6,
                                  exact=False)
    assert persisted() == before
    table = build_sharded_bloom(keys, ["l_orderkey"],
                                capacity=keys.distinct().count(), n_shards=8)
    want = sharded_membership(lineitem, table, ["l_orderkey"]) \
        .where("is_member").drop("is_member")
    assert got.exceptAll(want).count() == 0 and want.exceptAll(got).count() == 0
    assert got.count() >= lineitem.join(keys.distinct(), "l_orderkey", "left_semi").count()
    assert persisted() == before


def test_bloom_anti_join_exact(spark, lineitem, orders):
    hi = orders.where("o_totalprice > 200000")
    got = bloom_anti_join(lineitem, hi, ["l_orderkey"], dim_on=["o_orderkey"])
    want = lineitem.join(hi.select("o_orderkey").distinct(),
                         lineitem.l_orderkey == hi.o_orderkey, "left_anti")
    assert got.count() == want.count()


def test_bloom_semi_join_approximate_superset(spark, lineitem, orders):
    """exact=False keeps all true matches (zero FN) plus <= fpr extras."""
    hi = orders.where("o_totalprice > 200000")
    approx = bloom_semi_join(lineitem, hi, ["l_orderkey"], dim_on=["o_orderkey"],
                             exact=False, fpr=0.01)
    exact = bloom_semi_join(lineitem, hi, ["l_orderkey"], dim_on=["o_orderkey"])
    n_approx, n_exact, n_all = approx.count(), exact.count(), lineitem.count()
    assert n_exact <= n_approx <= n_exact + int(0.05 * n_all) + 10


# --- heavy hitters -------------------------------------------------------

def test_exact_vs_cms_heavy_hitters(spark, events):
    exact = [(r["event_type"], r["cnt"]) for r in
             exact_top_k(events, "event_type", 5).collect()]
    approx = [(r["key"], r["est_cnt"]) for r in
              cms_heavy_hitters(events, "event_type", 5).collect()]
    # small key space: CMS recovers the exact ranking and counts match
    assert [k for k, _ in exact] == [k for k, _ in approx]
    for (ek, ec), (ak, ac) in zip(exact, approx):
        assert ac >= ec
        assert ac - ec <= max(1, int(0.01 * ec) + 20)


def test_token_vocabulary_exact_vs_manual(spark, documents):
    """method="exact" equals a hand-built lowercase whitespace-token count;
    deterministic (cnt desc, token asc) order."""
    from bloomfilter_spark.operators import token_vocabulary
    got = [(r["token"], r["cnt"]) for r in
           token_vocabulary(documents, "text", 10).collect()]
    toks = (documents
            .where(F.col("text").isNotNull()
                   & (F.length(F.trim("text")) > 0))
            .select(F.explode(F.split(F.trim(F.lower("text")), r"\s+"))
                    .alias("token")))
    want = [(r["token"], r["cnt"]) for r in
            toks.groupBy("token").agg(F.count("*").alias("cnt"))
                .orderBy(F.desc("cnt"), F.asc("token")).limit(10).collect()]
    assert got == want


def test_token_vocabulary_cms_bounds(spark, documents):
    """method="cms" never undercounts and recovers the exact head on this
    modest vocabulary (eps*N slack)."""
    from bloomfilter_spark.operators import token_vocabulary
    exact = {r["token"]: r["cnt"] for r in
             token_vocabulary(documents, "text", 10).collect()}
    n_total = sum(exact.values())  # lower bound on stream length is fine
    approx = [(r["token"], r["cnt"]) for r in
              token_vocabulary(documents, "text", 10,
                               method="cms", eps=1e-4).collect()]
    slack = max(1, int(1e-4 * n_total) + 20)
    hits = [t for t, _ in approx if t in exact]
    assert len(hits) >= 8  # head recovery
    for tok, est in approx:
        if tok in exact:
            assert exact[tok] <= est <= exact[tok] + slack


def test_token_vocabulary_rejects_bad_method(spark, documents):
    from bloomfilter_spark.operators import token_vocabulary
    with pytest.raises(ValueError):
        token_vocabulary(documents, "text", 5, method="nope")


def test_top_k_per_group(spark, orders):
    got = top_k_per_group(orders, "o_orderpriority", "o_totalprice", 2)
    counts = got.groupBy("o_orderpriority").count().collect()
    assert all(r["count"] <= 2 for r in counts)
    max_by_group = {r["o_orderpriority"]: r["mx"] for r in
                    orders.groupBy("o_orderpriority")
                          .agg(F.max("o_totalprice").alias("mx")).collect()}
    got_max = {r["o_orderpriority"]: r["mx"] for r in
               got.groupBy("o_orderpriority")
                  .agg(F.max("o_totalprice").alias("mx")).collect()}
    assert got_max == max_by_group


# --- dedup ---------------------------------------------------------------

def test_dedup_exact_deterministic(spark, documents):
    with_dups = documents.unionByName(documents.limit(50))
    deduped = dedup_exact(with_dups, ["doc_id"], order_cols=["doc_id"])
    assert deduped.count() == documents.count()


def test_minhash_finds_injected_near_dups(spark, documents):
    """Append lightly-mutated copies of 20 docs; LSH must pair each mutant
    with its source at high estimated jaccard."""
    base = documents.limit(20)
    mutated = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xyzzy")).alias("text"))
    corpus = documents.select("doc_id", "text").unionByName(mutated)
    pairs = minhash_lsh_dedup(corpus, "doc_id", "text", threshold=0.5,
                              num_perm=128, bands=32)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    want = {(r["doc_id"], r["doc_id"] + 100000) for r in base.collect()}
    hit = sum(1 for p in want if p in found)
    assert hit >= len(want) * 0.8, f"only {hit}/{len(want)} near-dup pairs found"


def test_minhash_lsh_max_bucket_cap(spark, documents):
    """1k identical documents share EVERY band bucket — the degenerate
    quadratic case (boilerplate-heavy corpus). max_bucket must eliminate
    the hot cluster's O(B^2) candidate pairs while recall on normal
    injected near-dups is unchanged vs the uncapped run."""
    from bloomfilter_spark.operators.dedup import (minhash_lsh_candidates,
                                                   minhash_signatures)
    base = documents.limit(20).select("doc_id", "text")
    mutated = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                          F.concat("text", F.lit(" xyzzy")).alias("text"))
    hot = spark.range(1000).select(
        (F.col("id") + 500000).alias("doc_id"),
        F.lit("the same boilerplate document body").alias("text"))
    corpus = base.unionByName(mutated).unionByName(hot)
    sigs = minhash_signatures(corpus, "doc_id", "text",
                              num_perm=128).persist()
    try:
        free = minhash_lsh_candidates(sigs, "doc_id", bands=32, sig_len=128)
        capped = minhash_lsh_candidates(sigs, "doc_id", bands=32,
                                        sig_len=128, max_bucket=32)
        assert free.count() >= 1000 * 999 // 2   # blowup without the cap
        assert capped.count() < 2000             # hot cluster never pairs
        normal = (F.col("id_a") < 500000) & (F.col("id_b") < 500000)
        got = {(r["id_a"], r["id_b"]) for r in capped.where(normal).collect()}
        free_got = {(r["id_a"], r["id_b"])
                    for r in free.where(normal).collect()}
        want = {(r["doc_id"], r["doc_id"] + 100000) for r in base.collect()}
        hit = sum(1 for p in want if p in got)
        assert hit == sum(1 for p in want if p in free_got)  # recall kept
        assert hit >= len(want) * 0.8
    finally:
        sigs.unpersist()


def test_minhash_join_max_bucket_cap(spark):
    """Cross-corpus path: a hot bucket on BOTH sides (identical boilerplate
    in the query batch and the corpus) is a B*Q single-task blowup;
    max_bucket caps each side independently, and genuine cross near-dups
    outside the hot bucket still match."""
    from bloomfilter_spark.operators.dedup import minhash_join
    real = [(i, f"unique document {i} with shared trailing words "
                "alpha beta gamma delta epsilon") for i in range(5)]
    corpus = spark.createDataFrame(
        real + [(1000 + j, "boilerplate body") for j in range(200)],
        "doc_id long, text string")
    batch = spark.createDataFrame(
        [(i, t + " zeta") for i, t in real]
        + [(5000 + j, "boilerplate body") for j in range(200)],
        "doc_id long, text string")
    free = minhash_join(batch, corpus, "doc_id", "text", threshold=0.5,
                        num_perm=128, bands=32, max_bucket=None)
    capped = minhash_join(batch, corpus, "doc_id", "text", threshold=0.5,
                          num_perm=128, bands=32, max_bucket=32)
    assert free.where("query_id >= 5000").count() == 200 * 200
    assert capped.where("query_id >= 5000").count() == 0
    real_pairs = {(r["query_id"], r["corpus_id"])
                  for r in capped.where("query_id < 5000").collect()}
    assert {(i, i) for i in range(5)} <= real_pairs


def test_simhash_max_bucket_cap(spark, documents):
    """SimHash chunk banding has the same degenerate-bucket blowup (worse:
    2^16 bucket space per chunk): 1k identical docs must be capped out of
    the self-join while mutated near-dups of normal docs are still found
    at the same recall as the uncapped run."""
    from bloomfilter_spark.operators.dedup import simhash_near_dups
    base = documents.limit(20).select("doc_id", "text")
    mutated = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                          F.concat("text", F.lit(" q")).alias("text"))
    hot = spark.range(1000).select(
        (F.col("id") + 500000).alias("doc_id"),
        F.lit("the same boilerplate document body").alias("text"))
    corpus = base.unionByName(mutated).unionByName(hot)
    free = simhash_near_dups(corpus, "doc_id", "text", max_hamming=3,
                             max_bucket=None)
    capped = simhash_near_dups(corpus, "doc_id", "text", max_hamming=3,
                               max_bucket=32)
    assert free.where("id_a >= 500000").count() == 1000 * 999 // 2
    assert capped.where("id_a >= 500000").count() == 0
    normal = (F.col("id_a") < 500000) & (F.col("id_b") < 500000)
    got = {(r["id_a"], r["id_b"]) for r in capped.where(normal).collect()}
    free_got = {(r["id_a"], r["id_b"]) for r in free.where(normal).collect()}
    assert got == free_got and len(got) > 0


def test_minhash_max_bucket_validation():
    from bloomfilter_spark.operators.dedup import _cap_band_buckets
    with pytest.raises(ValueError):
        _cap_band_buckets(None, 1)


def test_minhash_batch_kernel_matches_per_doc_reference():
    """The concatenated-buffer shingle hasher must produce byte-identical
    hashes to the per-document reference, including boundary and padding
    edge cases; OPH signatures must be invariant to chunk boundaries."""
    from bloomfilter_spark.operators.dedup import (_char_shingle_hashes,
                                                   _concat_shingle_hashes,
                                                   _oph_signatures)
    rng = np.random.default_rng(7)
    texts = ["", "ab", "x" * 4, "hello world this is a document " * 9,
             "überschrift mit ünïcode zeichen"]
    texts += ["".join(rng.choice(list("abcdef ghij"), size=rng.integers(1, 300)))
              for _ in range(100)]
    k, seed = 5, 12345
    enc = [t.encode("utf-8", "ignore").ljust(k, b" ") for t in texts]
    lens = np.array([len(e) for e in enc])
    h, counts = _concat_shingle_hashes(enc, lens, k, seed)
    ref = np.concatenate([_char_shingle_hashes(t, k, seed) for t in texts])
    assert np.array_equal(h, ref)
    assert counts.sum() == ref.size
    full = _oph_signatures(h, counts, 64)
    n1 = 40
    h1, c1 = _concat_shingle_hashes(enc[:n1], lens[:n1], k, seed)
    h2, c2 = _concat_shingle_hashes(enc[n1:], lens[n1:], k, seed)
    chunked = np.vstack([_oph_signatures(h1, c1, 64),
                         _oph_signatures(h2, c2, 64)])
    assert np.array_equal(full, chunked)


def test_minhash_jaccard_estimate_calibrated(spark):
    """Identical docs -> est ~1.0; disjoint docs -> est ~0."""
    rows = [(1, "the quick brown fox jumps over the lazy dog " * 5),
            (2, "the quick brown fox jumps over the lazy dog " * 5),
            (3, "entirely different content with no overlap whatsoever " * 5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, "doc_id", "text", num_perm=128)
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    from bloomfilter_spark.operators.dedup import minhash_jaccard_estimates
    est = {(r["id_a"], r["id_b"]): r["est_jaccard"]
           for r in minhash_jaccard_estimates(sigs, pairs, "doc_id").collect()}
    assert est[(1, 2)] == 1.0
    assert est[(1, 3)] < 0.2


def test_minhash_join_finds_cross_corpus_dups(spark, documents):
    """Incremental dedup: a 'new batch' of mutated copies must pair with
    its corpus source across tables, and unrelated docs must not."""
    from bloomfilter_spark.operators.dedup import minhash_join
    corpus = documents.where(F.col("n_chars") >= 200).select("doc_id", "text")
    batch = (corpus.limit(15)
             .select((F.col("doc_id") + 500000).alias("doc_id"),
                     F.concat("text", F.lit(" tail mutation")).alias("text")))
    pairs = minhash_join(batch, corpus, "doc_id", "text", threshold=0.5,
                         num_perm=128, bands=32)
    found = {(r["query_id"], r["corpus_id"]) for r in pairs.collect()}
    want = {(r["doc_id"] + 500000, r["doc_id"])
            for r in corpus.limit(15).collect()}
    hit = sum(1 for p in want if p in found)
    assert hit >= len(want) * 0.8, f"only {hit}/{len(want)} cross pairs found"


def test_minhash_join_no_false_positives_on_disjoint(spark):
    """Disjoint batch/corpus content -> no pair survives the jaccard
    re-estimation filter, even if a band collides by chance."""
    from bloomfilter_spark.operators.dedup import minhash_join
    corpus = spark.createDataFrame(
        [(i, f"corpus document number {i} about spark sketches " * 4)
         for i in range(30)], "doc_id long, text string")
    batch = spark.createDataFrame(
        [(i, f"completely unrelated telemetry blob {i} zzz qqq vvv " * 4)
         for i in range(10)], "doc_id long, text string")
    pairs = minhash_join(batch, corpus, "doc_id", "text", threshold=0.5,
                         num_perm=64, bands=16)
    assert pairs.count() == 0


def test_minhash_join_matches_self_join_semantics(spark, documents):
    """A cross join of a table against itself must find every identical
    doc (est_jaccard 1.0 on the diagonal)."""
    from bloomfilter_spark.operators.dedup import minhash_join
    docs = documents.limit(25).select("doc_id", "text")
    pairs = minhash_join(docs, docs, "doc_id", "text", threshold=0.99,
                         num_perm=64, bands=16)
    diag = pairs.where(F.col("query_id") == F.col("corpus_id"))
    assert diag.count() == 25
    assert all(r["est_jaccard"] == 1.0 for r in diag.collect())


def test_duplicated_span_stats_known_values(spark):
    """Hand-computed corpus: shared 3-grams across docs AND repeats within
    one doc both count as duplicated; coverage is the exact interval
    union of [pos, pos+n-1] spans."""
    from bloomfilter_spark.operators import duplicated_span_stats
    rows = [(1, "a b c d e f"),        # shares 'b c d','c d e' with doc 2
            (2, "x b c d e y"),
            (3, "p q r p q r p q"),    # every 3-gram repeats within doc 3
            (4, ""), (5, "one two")]   # empty / too-short edge cases
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in
           duplicated_span_stats(df, "doc_id", "text", n=3).collect()}
    assert (got[1]["n_grams"], got[1]["n_dup_grams"],
            got[1]["covered_tokens"]) == (4, 2, 4)   # b c d e
    assert (got[2]["n_grams"], got[2]["n_dup_grams"],
            got[2]["covered_tokens"]) == (4, 2, 4)
    assert got[3]["dup_gram_fraction"] == 1.0
    assert got[3]["coverage_fraction"] == 1.0
    assert (got[4]["n_tokens"], got[4]["coverage_fraction"]) == (0, 0.0)
    assert (got[5]["n_grams"], got[5]["dup_gram_fraction"]) == (0, 0.0)


def test_duplicated_span_stats_min_count(spark):
    """min_count=3 only flags grams occurring at least 3 times."""
    from bloomfilter_spark.operators import duplicated_span_stats
    rows = [(1, "a b c z1"), (2, "a b c z2"), (3, "a b c z3"),
            (4, "d e f w1"), (5, "d e f w2")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r["n_dup_grams"] for r in
           duplicated_span_stats(df, "doc_id", "text", n=3,
                                 min_count=3).collect()}
    assert got[1] == got[2] == got[3] == 1    # 'a b c' x3 qualifies
    assert got[4] == got[5] == 0              # 'd e f' x2 does not


def test_duplicated_span_stats_partition_invariant(spark, documents):
    from bloomfilter_spark.operators import duplicated_span_stats
    docs = documents.select("doc_id", "text")
    a = duplicated_span_stats(docs.repartition(1), "doc_id", "text",
                              n=5).orderBy("doc_id").collect()
    b = duplicated_span_stats(docs.repartition(16), "doc_id", "text",
                              n=5).orderBy("doc_id").collect()
    assert a == b


def test_simhash_identical_and_mutated(spark, documents):
    base = documents.limit(10)
    mutated = base.select((F.col("doc_id") + 100000).alias("doc_id"),
                          F.concat(F.col("text"), F.lit(" zz")).alias("text"))
    corpus = documents.select("doc_id", "text").unionByName(mutated)
    pairs = simhash_near_dups(corpus, "doc_id", "text", max_hamming=6)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    want = {(r["doc_id"], r["doc_id"] + 100000) for r in base.collect()}
    hit = sum(1 for p in want if p in found)
    assert hit >= 8, f"only {hit}/10 simhash near-dups found"


def test_ngram_jaccard_exact_values(spark):
    rows = [(1, "a b c d e"), (2, "a b c d e"), (3, "v w x y z")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    got = {(r["id_a"], r["id_b"]): r["jaccard"]
           for r in ngram_jaccard_pairs(df, pairs, "doc_id", "text", n=2).collect()}
    assert got[(1, 2)] == 1.0
    assert got[(1, 3)] == 0.0


# --- similarity ----------------------------------------------------------

def test_brute_force_topk_matches_numpy(spark, embeddings):
    corpus = embeddings.toPandas()
    mat = np.vstack([np.asarray(v, dtype=np.float32) for v in corpus["embedding"]])
    matn = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    queries = mat[:2]
    sims = (matn @ (queries / np.linalg.norm(queries, axis=1, keepdims=True)).T)
    ids = corpus["vec_id"].to_numpy()
    got = brute_force_topk(embeddings, "vec_id", "embedding", queries, k=5)
    for qid in (0, 1):
        want_order = ids[np.lexsort((ids, -sims[:, qid]))][:5].tolist()
        got_ids = [r["vec_id"] for r in
                   got.where(F.col("query_id") == qid).orderBy(F.desc("cosine"),
                                                               F.asc("vec_id")).collect()]
        assert got_ids == want_order


def test_lsh_ann_recall(spark, embeddings):
    corpus = embeddings.limit(300)
    pdf = corpus.toPandas()
    queries = np.vstack([np.asarray(v, dtype=np.float32)
                         for v in pdf["embedding"][:3]])
    exact = brute_force_topk(corpus, "vec_id", "embedding", queries, k=3)
    exact_ids = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ann = lsh_ann_topk(corpus, "vec_id", "embedding", queries, k=3,
                       n_bits=6, n_tables=8)
    ann_ids = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(exact_ids & ann_ids) / len(exact_ids)
    assert recall >= 0.5, f"ANN recall {recall}"


def test_embedding_near_dups_finds_duplicates(spark, embeddings):
    dup = embeddings.limit(5).select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding", "label")
    corpus = embeddings.unionByName(dup)
    pairs = embedding_near_dups(corpus, "vec_id", "embedding",
                                threshold=0.999, n_bits=8)
    found = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    want = {(r["vec_id"], r["vec_id"] + 100000) for r in embeddings.limit(5).collect()}
    assert want <= found


def test_embedding_neardup_candidates_scale_linearly(spark):
    """Doubling the corpus with n_bits sized by suggest_lsh_bits keeps
    candidate-pair growth ~linear (constant bucket occupancy) while the
    injected near-duplicates are still recalled — the banded sizing rule
    that prevents the fixed-width n^2/2^bits blowup at 100x."""
    from bloomfilter_spark.operators.similarity import (
        _neardup_candidates, suggest_lsh_bits)
    rng = np.random.default_rng(11)

    def corpus(n):
        base = rng.standard_normal((n, 16)).astype("float32")
        rows = [(i, base[i].tolist()) for i in range(n)]
        # 10 injected near-dups of the first 10 vectors
        for i in range(10):
            v = base[i] + rng.standard_normal(16).astype("float32") * 0.01
            rows.append((1_000_000 + i, v.tolist()))
        return spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    counts, recalls = [], []
    for n in (2000, 4000):
        bits = suggest_lsh_bits(n)
        cands = _neardup_candidates(corpus(n), "vec_id", "embedding",
                                    n_bits=bits, n_tables=4, seed=42)
        got = {(r["id_a"], r["id_b"]) for r in cands.collect()}
        counts.append(len(got))
        recalls.append(sum((i, 1_000_000 + i) in got for i in range(10)))
    assert suggest_lsh_bits(4000) == suggest_lsh_bits(2000) + 1
    assert recalls[0] >= 9 and recalls[1] >= 9
    # quadratic would be ~4x; constant-occupancy banding keeps it ~2x
    assert counts[1] <= 3.0 * counts[0], (counts, recalls)


def test_embedding_neardup_max_bucket_cap(spark):
    """A degenerate dense bucket (many copies of one vector) is dropped
    by max_bucket without losing pairs that other, uncapped buckets
    catch; results stay a subset of the uncapped pairs."""
    rng = np.random.default_rng(3)
    base = rng.standard_normal((200, 16)).astype("float32")
    rows = [(i, base[i].tolist()) for i in range(200)]
    hot = base[0]
    rows += [(10_000 + j, (hot + rng.standard_normal(16).astype("float32")
                           * 0.001).tolist()) for j in range(50)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    free = embedding_near_dups(df, "vec_id", "embedding", threshold=0.999,
                               n_bits=6, n_tables=4)
    capped = embedding_near_dups(df, "vec_id", "embedding", threshold=0.999,
                                 n_bits=6, n_tables=4, max_bucket=20)
    free_pairs = {(r["id_a"], r["id_b"]) for r in free.collect()}
    capped_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert capped_pairs <= free_pairs
    assert len(free_pairs) >= 50 * 51 // 2  # the hot cluster's pairs


def test_ivf_train_deterministic(spark, embeddings):
    a = ivf_train(embeddings, "embedding", n_lists=8, max_train=200)
    b = ivf_train(embeddings.repartition(7), "embedding", n_lists=8,
                  max_train=200)
    assert np.array_equal(a, b)
    assert np.allclose(np.linalg.norm(a, axis=1), 1.0, atol=1e-5)


def test_ivf_assign_partition_invariant(spark, embeddings):
    cents = ivf_train(embeddings, "embedding", n_lists=8, max_train=200)
    one = dict(ivf_assign(embeddings, "vec_id", "embedding", cents)
               .collect())
    many = dict(ivf_assign(embeddings.repartition(9), "vec_id", "embedding",
                           cents).collect())
    assert one == many
    assert all(0 <= v < 8 for v in one.values())


def test_ivf_full_probe_equals_exact(spark, embeddings):
    pdf = embeddings.toPandas()
    queries = np.vstack([np.asarray(v, dtype=np.float32)
                         for v in pdf["embedding"][:2]])
    cents = ivf_train(embeddings, "embedding", n_lists=8, max_train=200)
    exact = brute_force_topk(embeddings, "vec_id", "embedding", queries, k=5)
    ivf = ivf_topk(embeddings, "vec_id", "embedding", queries, cents,
                   k=5, n_probes=8)
    want = {(r["query_id"], r["vec_id"], round(r["cosine"], 6))
            for r in exact.collect()}
    got = {(r["query_id"], r["vec_id"], round(r["cosine"], 6))
           for r in ivf.collect()}
    assert got == want


def test_ivf_recall(spark, embeddings):
    pdf = embeddings.toPandas()
    queries = np.vstack([np.asarray(v, dtype=np.float32)
                         for v in pdf["embedding"][:3]])
    cents = ivf_train(embeddings, "embedding", n_lists=8, max_train=500)
    exact = brute_force_topk(embeddings, "vec_id", "embedding", queries, k=5)
    exact_ids = {(r["query_id"], r["vec_id"]) for r in exact.collect()}
    ann = ivf_topk(embeddings, "vec_id", "embedding", queries, cents,
                   k=5, n_probes=3)
    ann_ids = {(r["query_id"], r["vec_id"]) for r in ann.collect()}
    recall = len(exact_ids & ann_ids) / len(exact_ids)
    assert recall >= 0.6, f"IVF recall {recall}"


# --- text functions ------------------------------------------------------

def test_token_count_edge_cases(spark):
    rows = [("",), ("   ",), ("one",), ("two words",), ("a  b   c",), (None,)]
    df = spark.createDataFrame(rows, "t string")
    got = df.select(token_count("t").alias("n")).collect()
    assert [r["n"] for r in got] == [0, 0, 1, 2, 3, None]


def test_word_token_count_counts_punct(spark):
    df = spark.createDataFrame([("hello, world!",), ("abc",)], "t string")
    got = [r["n"] for r in df.select(word_token_count("t").alias("n")).collect()]
    assert got == [4, 1]  # hello , world !


def test_quality_score_ranges(spark, documents):
    scores = documents.select(quality_score("text").alias("q")).agg(
        F.min("q").alias("lo"), F.max("q").alias("hi")).first()
    assert 0.0 <= scores["lo"] <= scores["hi"] <= 1.0


def test_normalized_fingerprint_invariance(spark):
    rows = [("Hello   World",), ("hello world",), ("HELLO\tWORLD",),
            ("different text",)]
    df = spark.createDataFrame(rows, "t string")
    fps = [r["fp"] for r in df.select(normalized_fingerprint("t").alias("fp")).collect()]
    assert fps[0] == fps[1] == fps[2]
    assert fps[3] != fps[0]


def test_lang_id_detects_major_languages(spark):
    rows = [("the cat is on the mat and the dog is in the house",),
            ("der Hund ist nicht in das Haus und die Katze ist da",),
            ("le chat est dans la maison et les chiens sont là",),
            ("xqzt blorp fnord",)]
    df = spark.createDataFrame(rows, "t string")
    got = [r["l"] for r in df.select(lang_id("t").alias("l")).collect()]
    assert got[0] == "en" and got[1] == "de" and got[2] == "fr"
    assert got[3] == "und"


def test_keep_first_n_caps_and_is_deterministic(spark, events):
    from bloomfilter_spark.operators.dedup import keep_first_n
    ev = events.where(F.col("user_id").isNotNull())
    capped = keep_first_n(ev, ["user_id", "event_type"], 2, ["event_id"])
    per_key = capped.groupBy("user_id", "event_type") \
                    .agg(F.count("*").alias("c")).collect()
    assert all(r["c"] <= 2 for r in per_key)
    # survivors are exactly the 2 smallest event_ids per key
    import itertools
    rows = ev.select("user_id", "event_type", "event_id").collect()
    rows.sort(key=lambda r: (r["user_id"], r["event_type"], r["event_id"]))
    expected = set()
    for _, grp in itertools.groupby(rows, key=lambda r: (r["user_id"], r["event_type"])):
        expected.update(r["event_id"] for r in list(grp)[:2])
    got = {r["event_id"] for r in capped.select("event_id").collect()}
    assert got == expected
    # partition invariance
    again = keep_first_n(ev.repartition(17), ["user_id", "event_type"], 2,
                         ["event_id"])
    assert {r["event_id"] for r in again.select("event_id").collect()} == expected


def test_dedup_lines_c4_rule(spark):
    """C4 line-dedup: units over the global occurrence cap vanish from
    every document, survivors keep original order, all-dropped docs keep
    an empty-string row, and other columns pass through."""
    from bloomfilter_spark.operators.dedup import dedup_lines
    docs = spark.createDataFrame(
        [(1, "alpha\nCOMMON\nbeta", "s1"),
         (2, "COMMON\ngamma", "s2"),
         (3, "COMMON\nCOMMON", "s3"),
         (4, "delta\nalpha", "s4")],
        "doc_id long, text string, src string")
    out = {r["doc_id"]: (r["text"], r["src"])
           for r in dedup_lines(docs, "doc_id", "text",
                                max_occurrences=2).collect()}
    # COMMON appears 4x (> 2) -> dropped everywhere; alpha appears 2x -> kept
    assert out[1] == ("alpha\nbeta", "s1")
    assert out[2] == ("gamma", "s2")
    assert out[3] == ("", "s3")
    assert out[4] == ("delta\nalpha", "s4")
    assert len(out) == 4


def test_dedup_lines_order_and_partition_invariance(spark):
    from bloomfilter_spark.operators.dedup import dedup_lines
    rows = [(i, " ".join(f"w{j % 7}" if j % 3 else f"u{i}_{j}"
                         for j in range(20)))
            for i in range(50)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    a = dedup_lines(docs.repartition(1), "doc_id", "text",
                    max_occurrences=3, delimiter=" ")
    b = dedup_lines(docs.repartition(16), "doc_id", "text",
                    max_occurrences=3, delimiter=" ")
    assert sorted(a.collect()) == sorted(b.collect())
    # surviving unit order matches original subsequence order
    kept = {r["doc_id"]: r["text"] for r in a.collect()}[5].split(" ")
    orig = rows[5][1].split(" ")
    it = iter(orig)
    assert all(any(o == k for o in it) for k in kept)  # subsequence check


def test_dedup_lines_hot_line_skew_safe(spark):
    """One boilerplate line carries >=50% of all occurrences; the plan
    must partial-aggregate map-side (counts shuffle carries distinct
    lines, never occurrences) and drop occurrences with a broadcast anti
    join (occurrence rows are never shuffled by line)."""
    from bloomfilter_spark.operators.dedup import dedup_lines
    hot = "BOILERPLATE"
    rows = [(i, "\n".join([hot, hot, f"u{i}a", f"u{i}b"])) for i in range(200)]
    docs = spark.createDataFrame(rows, "doc_id long, text string") \
                .repartition(8)
    out = dedup_lines(docs, "doc_id", "text", max_occurrences=3)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the count aggregation partial-aggregates before its exchange: the
    # hot line contributes one row per task, not one row per occurrence
    assert "partial_count" in plan
    # occurrence rows are filtered via broadcast LEFT ANTI — no exchange
    # keyed by the line between the explode and the per-doc reassembly
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    assert all(got[i] == f"u{i}a\nu{i}b" for i in range(200))

    # shuffled-anti-join fallback for huge over-cap sets: same rows
    alt = dedup_lines(docs, "doc_id", "text", max_occurrences=3,
                      broadcast_over_cap=False)
    assert sorted(alt.collect()) == sorted(out.collect())


def test_dedup_lines_regex_special_delimiter(spark):
    """A regex-special delimiter ('.', '|', '+') must split literally:
    F.split takes a Java regex but array_join rejoins literally, so the
    delimiter is Pattern.quote()d internally."""
    from bloomfilter_spark.operators.dedup import dedup_lines
    docs = spark.createDataFrame(
        [(1, "keep.DUP.also"), (2, "DUP.tail"), (3, "DUP.DUP")],
        "doc_id long, text string")
    out = {r["doc_id"]: r["text"]
           for r in dedup_lines(docs, "doc_id", "text", max_occurrences=2,
                                delimiter=".").collect()}
    assert out == {1: "keep.also", 2: "tail", 3: ""}
    docs2 = spark.createDataFrame(
        [(1, "a|DUP|b"), (2, "DUP|c"), (3, "DUP|DUP")],
        "doc_id long, text string")
    out2 = {r["doc_id"]: r["text"]
            for r in dedup_lines(docs2, "doc_id", "text", max_occurrences=2,
                                 delimiter="|").collect()}
    assert out2 == {1: "a|b", 2: "c", 3: ""}


def test_redact_pii_patterns(spark):
    """Emails, IPv4s, and phone-like digit runs are scrubbed; clean text
    is untouched; redaction order is deterministic (emails before
    phones)."""
    from bloomfilter_spark.functions.text import redact_pii
    rows = [
        ("mail jo.na+x@sub.example.co.uk now", "mail <EMAIL> now"),
        ("srv 10.0.255.3 call +1-555-000-1234", "srv <IP> call <PHONE>"),
        ("run 1234567890123 digits", "run <PHONE> digits"),
        ("clean text only", "clean text only"),
        ("a@b.io 1.2.3.4 +49 30 1234 5678 x", "<EMAIL> <IP> <PHONE> x"),
    ]
    df = spark.createDataFrame([(t,) for t, _ in rows], "t string")
    got = [r[0] for r in df.select(redact_pii("t")).collect()]
    assert got == [want for _, want in rows]


def test_repetition_ratios_known_values(spark):
    """Hand-computable bigram repetition: 'a b a b a' has bigrams
    [a b, b a, a b, b a] -> top 2/4, dup (4-2)/4; all-unique text -> 0;
    single-token text -> 0 by the too-short rule."""
    from bloomfilter_spark.functions.text import repetition_ratios
    docs = spark.createDataFrame(
        [(1, "a b a b a"), (2, "w x y z"), (3, "solo")],
        "doc_id long, text string")
    out = {r["doc_id"]: (r["top_ngram_frac"], r["dup_ngram_frac"])
           for r in repetition_ratios(docs, "doc_id", "text", n=2).collect()}
    assert out[1] == (0.5, 0.5)
    assert out[2] == (1 / 3, 0.0)  # 4 tokens -> 3 unique bigrams
    assert out[3] == (0.0, 0.0)


# --- heavy change detection ----------------------------------------------

def test_cms_heavy_change_exact_small(spark):
    """eps*N << 1 at this width: estimates are exact, so the detected
    changes equal the true |cnt_a - cnt_b| ranking."""
    from bloomfilter_spark.operators import cms_heavy_change
    a_rows = [("k%02d" % (i % 20),) for i in range(2000)]          # uniform
    b_rows = ([("k00",)] * 700 + [("k07",)] * 5                    # k00 +600,
              + [("k%02d" % (i % 20),) for i in range(2000)        # k07 -95,
                 if i % 20 not in (0, 7)])                         # k13 +40
    b_rows += [("k13",)] * 40
    a = spark.createDataFrame(a_rows, "key string")
    b = spark.createDataFrame(b_rows, "key string")
    got = [(r["key"], r["change"]) for r in
           cms_heavy_change(a, b, "key", 3, eps=1e-4).collect()]
    assert got == [("k00", 600), ("k07", 95), ("k13", 40)]


def test_cms_heavy_change_one_sided_keys(spark):
    """Keys present in only one side rank by their full count."""
    from bloomfilter_spark.operators import cms_heavy_change
    a = spark.createDataFrame([("only_a",)] * 50 + [("both",)] * 10,
                              "key string")
    b = spark.createDataFrame([("only_b",)] * 30 + [("both",)] * 10,
                              "key string")
    got = [(r["key"], r["est_a"], r["est_b"], r["change"]) for r in
           cms_heavy_change(a, b, "key", 10, eps=1e-4).collect()]
    assert got == [("only_a", 50, 0, 50), ("only_b", 0, 30, 30),
                   ("both", 10, 10, 0)]


def test_cms_heavy_change_partition_invariant(spark, events):
    from bloomfilter_spark.operators import cms_heavy_change
    a = events.where(F.col("event_id") % 2 == 0)
    b = events.where(F.col("event_id") % 2 == 1)
    r1 = [tuple(r) for r in
          cms_heavy_change(a, b, "event_type", 5).collect()]
    r2 = [tuple(r) for r in
          cms_heavy_change(a.repartition(13), b.repartition(7),
                           "event_type", 5).collect()]
    assert r1 == r2 and len(r1) == 5


# --- classifier scoring ----------------------------------------------------

def test_classifier_scores_known_values(spark):
    import math
    from bloomfilter_spark.functions import classifier_scores
    docs = spark.createDataFrame(
        [(1, "fast fast slow"),       # mean = (1.0+1.0-2.0)/3
         (2, "unknown words only"),   # all OOV -> mean 0
         (3, ""), (4, None),          # no tokens -> sigmoid(bias)
         (5, "FAST Slow")],           # case-folded -> (1.0-2.0)/2
        "doc_id long, text string")
    w = spark.createDataFrame([("fast", 1.0), ("slow", -2.0)],
                              "token string, weight double")
    got = {r["doc_id"]: r for r in
           classifier_scores(docs, "doc_id", "text", w, bias=0.5).collect()}

    def sig(x):
        return 1.0 / (1.0 + math.exp(-x))

    assert abs(got[1]["score"] - sig(0.5 + 0.0 / 3)) < 1e-12
    assert abs(got[2]["score"] - sig(0.5)) < 1e-12
    assert got[3]["score"] == got[4]["score"] == sig(0.5)
    assert abs(got[5]["score"] - sig(0.5 - 0.5)) < 1e-12
    assert got[1]["n_tokens"] == 3 and got[3]["n_tokens"] == 0


def test_classifier_scores_broadcasts_weights(spark, documents):
    from bloomfilter_spark.functions import classifier_scores
    w = spark.createDataFrame([("fast", 1.0), ("slow", -1.0)],
                              "token string, weight double")
    out = classifier_scores(documents, "doc_id", "text", w)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert out.count() == documents.count()


def test_classifier_scores_partition_invariant(spark, documents):
    from bloomfilter_spark.functions import classifier_scores
    w = spark.createDataFrame([("fast", 0.7), ("slow", -0.9), ("table", 0.1)],
                              "token string, weight double")
    a = classifier_scores(documents.repartition(1), "doc_id", "text",
                          w).orderBy("doc_id").collect()
    b = classifier_scores(documents.repartition(16), "doc_id", "text",
                          w).orderBy("doc_id").collect()
    assert a == b


def test_unigram_logprob_known_values(spark):
    """Hand-computed self-trained unigram LM: corpus = {a:3, b:1} over two
    docs; doc1 'a a b' -> (2 ln(3/4) + ln(1/4))/3, doc2 'a' -> ln(3/4);
    NULL and empty docs keep n_tokens 0 and NULL score."""
    import math
    from bloomfilter_spark.functions import unigram_logprob_scores
    docs = spark.createDataFrame(
        [(1, "a a b"), (2, "A"), (3, None), (4, "   ")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_tokens"], r["avg_logprob"]) for r in
           unigram_logprob_scores(docs, "doc_id", "text").collect()}
    assert got[1][0] == 3 and got[2][0] == 1
    assert got[3] == (0, None) and got[4] == (0, None)
    assert abs(got[1][1] - (2 * math.log(3 / 4) + math.log(1 / 4)) / 3) < 1e-12
    assert abs(got[2][1] - math.log(3 / 4)) < 1e-12


def test_char_entropy_known_values(spark):
    """'aaaa' -> 0 bits; 'ab' -> 1 bit; 'abcd' -> 2 bits; NULL/empty keep
    NULL entropy and 0 chars."""
    from bloomfilter_spark.functions import char_entropy_scores
    docs = spark.createDataFrame(
        [(1, "aaaa"), (2, "ab"), (3, "abcd"), (4, None), (5, "")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["n_chars"], r["entropy_bits"]) for r in
           char_entropy_scores(docs, "doc_id", "text").collect()}
    assert got[1][0] == 4 and abs(got[1][1] - 0.0) < 1e-12
    assert got[2][0] == 2 and abs(got[2][1] - 1.0) < 1e-12
    assert got[3][0] == 4 and abs(got[3][1] - 2.0) < 1e-12
    assert got[4] == (0, None) and got[5] == (0, None)


def test_tfidf_top_terms_reference(spark):
    """TF-IDF vs a hand computation: 3 docs, term 'x' everywhere (idf=0),
    'y' in two, 'z' in one; ranks respect (tfidf desc, term asc)."""
    import math
    from bloomfilter_spark.operators import (build_inverted_index,
                                             tfidf_top_terms)
    docs = spark.createDataFrame(
        [(1, "x y z z"), (2, "x y"), (3, "x")],
        "doc_id long, text string")
    p, s, d = build_inverted_index(docs, "doc_id", "text")
    got = {(r["id"], r["term"]): (r["tf"], r["tfidf"], r["rank"])
           for r in tfidf_top_terms(p, s, d, k=2).collect()}
    # Java Math.log is within 1 ulp of libm, not bit-identical -> approx
    assert got[(1, "z")][0] == 2 and got[(1, "z")][2] == 1
    assert got[(1, "z")][1] == pytest.approx(2 * math.log(3 / 1), rel=1e-12)
    assert got[(1, "y")][0] == 1 and got[(1, "y")][2] == 2
    assert got[(1, "y")][1] == pytest.approx(math.log(3 / 2), rel=1e-12)
    assert got[(2, "y")][2] == 1 and got[(2, "x")][2] == 2  # x idf=0 last
    assert got[(3, "x")] == (1, 0.0, 1)
    counts = {}
    for (i, _t) in got:
        counts[i] = counts.get(i, 0) + 1
    assert all(v <= 2 for v in counts.values())


def test_decayed_top_items_exact_and_streaming_parity(spark, events):
    """Batch decayed top-k equals an exact pandas computation of
    sum(exp(-lambda*(T_group - t))) per (group, item) under both t_ref
    modes, and its plan is pure Catalyst (no Python UDFs)."""
    import math

    from bloomfilter_spark.operators.topk import decayed_top_items

    half_life = 7 * 86400.0
    lam = math.log(2.0) / half_life
    ev = events.where(F.col("user_id").isNotNull() & F.col("ts").isNotNull())
    got = decayed_top_items(ev, "event_type", "user_id", "ts",
                            half_life, k=5).toPandas()

    rows = (ev.select("event_type", "user_id",
                      F.col("ts").cast("timestamp").cast("double")
                       .alias("sec")).toPandas())
    t_ref = rows.groupby("event_type")["sec"].max()
    rows["w"] = np.exp(-lam * (rows["event_type"].map(t_ref) - rows["sec"]))
    exact = (rows.groupby(["event_type", "user_id"])["w"].sum()
             .reset_index())
    for etype, grp in got.groupby("event_type"):
        ex = (exact[exact["event_type"] == etype]
              .sort_values(["w", "user_id"], ascending=[False, True])
              .head(5))
        grp = grp.sort_values("rank")
        assert [str(u) for u in grp["user_id"]] == \
            [str(u) for u in ex["user_id"]]
        assert np.allclose(grp["decayed_count"], ex["w"], rtol=1e-9)
        assert np.allclose(grp["t_ref"], t_ref[etype])

    # global-clock mode: every group discounted against ONE reference
    g = decayed_top_items(ev, "event_type", "user_id", "ts",
                          half_life, k=1, t_ref="global").toPandas()
    assert np.allclose(g["t_ref"], rows["sec"].max())

    plan = decayed_top_items(ev, "event_type", "user_id", "ts",
                             half_life, k=5)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Python" not in plan and "BatchEval" not in plan

    with pytest.raises(ValueError, match="half_life_s"):
        decayed_top_items(ev, "event_type", "user_id", "ts", 0.0, k=5)
    with pytest.raises(ValueError, match="t_ref"):
        decayed_top_items(ev, "event_type", "user_id", "ts", 1.0, k=5,
                          t_ref="epoch")
