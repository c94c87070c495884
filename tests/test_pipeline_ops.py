"""Training-data pipeline operators: dedup, similarity, text analysis
unit tests (the oracle queries check engine parity; these check the
*algorithmic* properties — MinHash estimates Jaccard, SimHash respects
similarity, LSH recall)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from melodist_spark.pipeline.dedup import (
    dedup_exact,
    exact_duplicates,
    jaccard_pairs,
    lsh_bands,
    lsh_candidate_pairs,
    minhash_signature,
)
from melodist_spark.pipeline.similarity import brute_force_topk, ivf_topk, lsh_topk, neardup_pairs
from melodist_spark.pipeline.text import (
    detect_language,
    quality_features,
    simhash,
    token_count,
)


@pytest.fixture(scope="module")
def docs(spark):
    rng = np.random.default_rng(5)
    vocab = [f"w{i}" for i in range(200)]
    rows = []
    for i in range(60):
        words = list(rng.choice(vocab, size=40))
        rows.append((i, " ".join(words)))
    # exact duplicates of doc 0 and 1
    rows.append((100, rows[0][1]))
    rows.append((101, rows[1][1]))
    # near-duplicate of doc 2: 90% same words
    base = rows[2][1].split()
    near = base[:36] + list(rng.choice(vocab, size=4))
    rows.append((102, " ".join(near)))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(docs):
    groups = exact_duplicates(docs).collect()
    assert len(groups) == 2
    assert {g["keep_id"] for g in groups} == {0, 1}
    kept = dedup_exact(docs)
    assert kept.count() == docs.count() - 2
    assert kept.filter(F.col("doc_id").isin(100, 101)).count() == 0


def test_minhash_estimates_jaccard(docs):
    """More shared signature components ↔ higher true Jaccard: the
    near-dup pair must agree on most of a 16-hash signature."""
    k = 16
    sigs = minhash_signature(docs, num_hashes=k).toPandas().set_index("doc_id")

    def agreement(a, b):
        return sum(sigs.loc[a, f"sig_{i}"] == sigs.loc[b, f"sig_{i}"] for i in range(k)) / k

    near = agreement(2, 102)
    rand = np.mean([agreement(3, j) for j in range(4, 20)])
    assert near > 0.5
    assert near > rand + 0.3


def test_lsh_finds_near_dup_pair(docs):
    sigs = minhash_signature(docs, num_hashes=16)
    bands = lsh_bands(sigs, num_hashes=16, band_size=2)
    pairs = lsh_candidate_pairs(bands).toPandas()
    found = set(map(tuple, pairs[["id_a", "id_b"]].values))
    assert (2, 102) in found
    assert (0, 100) in found  # exact dups collide on every band

    jac = jaccard_pairs(docs, lsh_candidate_pairs(bands)).toPandas()
    jrow = jac[(jac.id_a == 2) & (jac.id_b == 102)]
    assert len(jrow) == 1 and jrow.jaccard.iloc[0] > 0.6
    jexact = jac[(jac.id_a == 0) & (jac.id_b == 100)]
    assert jexact.jaccard.iloc[0] == pytest.approx(1.0)


def test_simhash_similarity(docs):
    out = simhash(docs).toPandas().set_index("doc_id")["simhash"]

    def hamming(a, b):
        return bin(int(a) ^ int(b)).count("1")

    assert hamming(out[0], out[100]) == 0  # identical docs
    near = hamming(out[2], out[102])
    rand = np.mean([hamming(out[3], out[j]) for j in range(4, 20)])
    assert near < rand


def test_simhash_arrow_matches_expression_path(docs, spark):
    """The Arrow popcount kernel and the pure column-expression path
    must be bit-identical, including blank and null texts."""
    edge = spark.createDataFrame(
        [(9001, ""), (9002, "   "), (9003, None), (9004, "one"), (9005, "a b a b a")],
        "doc_id long, text string",
    )
    both = docs.select("doc_id", "text").unionByName(edge)
    fast = simhash(both, use_arrow=True).toPandas().set_index("doc_id")["simhash"]
    ref = simhash(both, use_arrow=False).toPandas().set_index("doc_id")["simhash"]
    assert len(fast) == len(ref)
    for k in ref.index:
        a, b = fast[k], ref[k]
        assert (pd.isna(a) and pd.isna(b)) or int(a) == int(b), k


def test_token_counts(spark):
    df = spark.createDataFrame(
        [(0, "a b  c"), (1, ""), (2, "   "), (3, "supercalifragilistic word")],
        "doc_id long, text string",
    )
    got = df.select(
        "doc_id", token_count(F.col("text")).alias("n")
    ).toPandas().set_index("doc_id")
    assert got.loc[0, "n"] == 3
    assert got.loc[1, "n"] == 0 and got.loc[2, "n"] == 0
    assert got.loc[3, "n"] == 2


def test_quality_features_ranges(docs):
    out = quality_features(docs).toPandas()
    assert (out["punct_ratio"].between(0, 1)).all()
    assert (out["stopword_ratio"].fillna(0).between(0, 1)).all()
    assert (out["n_tokens"] > 0).all()


def test_detect_language(spark):
    df = spark.createDataFrame(
        [
            (0, "the cat and the dog of the house"),
            (1, "der hund und die katze ist ein tier"),
            (2, "el perro y la casa de los gatos"),
            (3, "zzz qqq xxx"),
        ],
        "doc_id long, text string",
    )
    got = detect_language(df).toPandas().set_index("doc_id")["lang_pred"]
    assert got[0] == "en"
    assert got[1] == "de"
    assert got[2] == "es"
    assert got[3] == "und"


def test_lsh_topk_recall(spark):
    rng = np.random.default_rng(3)
    base = rng.standard_normal((30, 16)).astype(np.float32)
    # clusters: vectors 30..59 are noisy copies of 0..29
    noisy = base + 0.05 * rng.standard_normal((30, 16)).astype(np.float32)
    vecs = np.vstack([base, noisy])
    pdf = pd.DataFrame(
        {"vec_id": range(60), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("vec_id") < 5)

    exact = brute_force_topk(df, queries, k=1).toPandas()
    approx = lsh_topk(df, queries, dim=16, k=1, num_planes=6).toPandas()
    # the noisy twin is each query's true nearest neighbour
    assert (exact.set_index("query_id")["neighbor_id"] == exact["query_id"] + 30).all()
    # LSH with few planes should recover most twins
    hits = (approx.set_index("query_id")["neighbor_id"] == approx["query_id"] + 30).mean()
    assert hits >= 0.6
    # AND-OR amplification: at a plane count strict enough that one
    # table can miss twins, 4 tables recover every one (and recall is
    # monotone vs the single table). Recall is computed over ALL
    # queries — an empty-bucket query counts as a miss, not a
    # dropped denominator.
    def recall(res, n_queries=5):
        got = res[res["rank"] == 1].set_index("query_id")["neighbor_id"]
        return sum(
            got.get(q, -1) == q + 30 for q in range(n_queries)
        ) / n_queries

    amp_hits = recall(
        lsh_topk(
            df, queries, dim=16, k=1, num_planes=8, num_tables=4
        ).toPandas()
    )
    one_hits = recall(
        lsh_topk(df, queries, dim=16, k=1, num_planes=8).toPandas()
    )
    assert amp_hits >= one_hits
    assert amp_hits == 1.0


def test_neardup_pairs_finds_noisy_twins(spark):
    rng = np.random.default_rng(7)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    noisy = base + 0.01 * rng.standard_normal((20, 16)).astype(np.float32)
    vecs = np.vstack([base, noisy])
    pdf = pd.DataFrame(
        {"vec_id": range(40), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    got = neardup_pairs(df, dim=16, threshold=0.99, num_planes=4).toPandas()
    # pairs are canonical (id_a < id_b) and twins dominate
    assert (got["id_a"] < got["id_b"]).all()
    twins = got[(got["id_b"] - got["id_a"]) == 20]
    assert len(twins) >= 12  # 4 planes: most twins collide in-bucket
    assert (got["cos_sim"] >= 0.99).all()


def test_ivf_topk_recovers_twins_within_cell(spark):
    rng = np.random.default_rng(11)
    base = rng.standard_normal((20, 16)).astype(np.float32)
    noisy = base + 0.01 * rng.standard_normal((20, 16)).astype(np.float32)
    vecs = np.vstack([base, noisy])
    # twins share a cell label, so the probe must find them
    labels = [int(i % 4) for i in range(20)] * 2
    pdf = pd.DataFrame(
        {"vec_id": range(40), "label": labels,
         "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("vec_id") < 5)
    got = ivf_topk(df, queries, k=1).toPandas().set_index("query_id")
    assert (got["neighbor_id"] == got.index + 20).all()


def test_shingles_short_docs_no_crash(spark):
    """ADVICE r1: docs with fewer tokens than the shingle size must
    yield an empty shingle set, not a runtime slice error."""
    from melodist_spark.pipeline.dedup import (
        jaccard_pairs,
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
    )

    docs = spark.createDataFrame(
        pd.DataFrame(
            dict(
                doc_id=[0, 1, 2, 3],
                text=["one", "", "two words here now ok", "two words here now ok"],
            )
        )
    )
    sigs = minhash_signature(docs, num_hashes=4, shingle=2)
    got = sigs.orderBy("doc_id").toPandas()
    # short docs: empty shingle set → null signature
    assert got["sig_0"].isna().tolist() == [True, True, False, False]
    bands = lsh_bands(sigs, num_hashes=4, band_size=2)
    pairs = lsh_candidate_pairs(bands)
    jac = jaccard_pairs(docs, pairs, shingle=2).toPandas()
    # the twin long docs survive end-to-end with jaccard 1.0
    assert [(r.id_a, r.id_b) for r in jac.itertuples()] == [(2, 3)]
    assert jac["jaccard"].iloc[0] == 1.0


def test_lsh_skew_guard_same_pairs(docs):
    """Salted oversized-bucket join must emit exactly the plain join's
    pair set."""
    from melodist_spark.pipeline.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
    )

    bands = lsh_bands(minhash_signature(docs, num_hashes=8), num_hashes=8, band_size=2)
    plain = lsh_candidate_pairs(bands, max_bucket=None).toPandas()
    salted = lsh_candidate_pairs(bands, max_bucket=2).toPandas()
    key = lambda df: sorted(map(tuple, df[["id_a", "id_b"]].to_numpy().tolist()))
    assert key(plain) == key(salted)


def test_lsh_degenerate_corpus_completes(spark):
    """2000 identical docs land in one bucket; the salt split must
    spread the O(n²) pair generation over many tasks and still count
    n(n-1)/2 exact pairs."""
    from melodist_spark.pipeline.dedup import (
        lsh_bands,
        lsh_candidate_pairs,
        minhash_signature,
    )

    n = 2000
    docs = spark.range(n).select(
        F.col("id").alias("doc_id"), F.lit("same text every time").alias("text")
    )
    bands = lsh_bands(minhash_signature(docs, num_hashes=2), num_hashes=2, band_size=2)
    pairs = lsh_candidate_pairs(bands, max_bucket=128)
    assert pairs.count() == n * (n - 1) // 2


def test_neardup_skew_guard_same_pairs(spark):
    """neardup_pairs with the bucket-salt guard matches the plain
    self-join pair-for-pair."""
    from melodist_spark.pipeline.similarity import neardup_pairs

    rng = np.random.default_rng(0)
    base = rng.normal(size=(40, 16))
    emb = spark.createDataFrame(
        pd.DataFrame(
            dict(vec_id=range(40), embedding=[r.tolist() for r in base])
        )
    )
    plain = neardup_pairs(emb, dim=16, threshold=0.1, num_planes=2, max_bucket=None).toPandas()
    salted = neardup_pairs(emb, dim=16, threshold=0.1, num_planes=2, max_bucket=8).toPandas()
    key = lambda df: sorted(map(tuple, df[["id_a", "id_b"]].to_numpy().tolist()))
    assert key(plain) == key(salted)
    assert len(plain) > 0


def test_duplicate_clusters_chain_and_clique(spark):
    """A 4-node chain and a separate 3-clique both collapse to their
    min id; singletons (absent from pairs) don't appear."""
    from melodist_spark.pipeline.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
        ["id_a", "id_b"],
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_duplicate_clusters_long_chain_converges(spark):
    """A 40-node path graph (worst-case diameter) still converges to
    a single component within the iteration cap."""
    from melodist_spark.pipeline.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(40)], ["id_a", "id_b"]
    )
    labels = duplicate_clusters(pairs).collect()
    assert len(labels) == 41
    assert {r["cluster_id"] for r in labels} == {0}


def test_duplicate_clusters_reliable_checkpoint(spark, tmp_path):
    """checkpoint_dir mode (durable scratch parquet instead of
    localCheckpoint) produces identical labels."""
    from melodist_spark.pipeline.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
        ["id_a", "id_b"],
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(
            pairs, checkpoint_dir=str(tmp_path / "cc")
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_duplicate_clusters_nonconvergence_warns(spark):
    """Exhausting max_iter before the fixpoint must be loud, not a
    silently partially-merged labeling."""
    import warnings

    from melodist_spark.pipeline.dedup import duplicate_clusters

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], ["id_a", "id_b"]
    )
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        # driver_edges=0 pins the DISTRIBUTED round loop (the driver
        # union-find fast path always converges, so it can't test this)
        duplicate_clusters(pairs, max_iter=1, driver_edges=0).collect()
    assert any("did not converge" in str(w.message) for w in caught)


def test_duplicate_clusters_releases_window_blocks(spark):
    """Round 12: the distributed rounds' lazy localCheckpoint cuts
    are released as each check window completes — executor storage
    holds the live label table (+ the edge list until return), not
    one label-table copy per round. A 300-node path graph forced down
    the distributed loop (driver_edges=0) runs several windows; after
    the call at most the final cut's blocks remain of the new
    persisted RDDs (the edge list is released at return)."""
    from melodist_spark.pipeline.dedup import duplicate_clusters

    sc = spark.sparkContext._jsc.sc()

    def persisted_ids():
        return {i.id() for i in sc.getRDDStorageInfo()}

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], ["id_a", "id_b"]
    )
    before = persisted_ids()
    out = duplicate_clusters(pairs, driver_edges=0, check_every=2)
    labels = {r["id"]: r["cluster_id"] for r in out.collect()}
    new = persisted_ids() - before
    assert len(new) <= 2, new
    # the released blocks were not load-bearing: one component,
    # min-id label everywhere
    assert set(labels.values()) == {0} and len(labels) == 301


def test_duplicate_clusters_empty_pairs(spark):
    """An empty pair table (no duplicates found — a normal outcome)
    returns an empty labeling on BOTH paths. Pre-existing hole: the
    seed job runs zero tasks on empty input, so the observed metrics
    never materialize and Observation.get raises — the counts now
    fall back to direct (trivial) count jobs."""
    from melodist_spark.pipeline.dedup import duplicate_clusters

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert duplicate_clusters(pairs).count() == 0
    assert duplicate_clusters(pairs, driver_edges=0).count() == 0


def test_duplicate_clusters_driver_matches_distributed(spark):
    """The small-graph driver union-find fast path must label exactly
    as the distributed min-label rounds — random graph with chains,
    cliques and singleton-free structure, both paths forced."""
    import random

    from melodist_spark.pipeline.dedup import duplicate_clusters

    rng = random.Random(5)
    edges = {(rng.randrange(400), rng.randrange(400)) for _ in range(300)}
    # keep a few self-loop rows: a node whose ONLY edge is (x, x)
    # must still be labeled (as its own singleton) on both paths —
    # the distributed seed's node set includes it, so the fast path's
    # collect must too
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b]
        + [(998, 998), (999, 999)],
        ["id_a", "id_b"],
    )
    fast = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs).collect()  # default: driver
    }
    dist = {
        r["id"]: r["cluster_id"]
        for r in duplicate_clusters(pairs, driver_edges=0).collect()
    }
    assert fast == dist and len(fast) > 100


def test_hash_sample_deterministic_and_nested(spark):
    from melodist_spark.pipeline.sampling import hash_sample

    df = spark.range(4000).withColumnRenamed("id", "doc_id")
    s1 = set(r[0] for r in hash_sample(df, 0.5, salt="a").collect())
    s2 = set(r[0] for r in hash_sample(df, 0.5, salt="a").collect())
    assert s1 == s2  # reproducible
    # roughly the right rate
    assert 0.45 < len(s1) / 4000 < 0.55
    # nested: the 0.25 sample is a subset of the 0.5 sample (same salt)
    s3 = set(r[0] for r in hash_sample(df, 0.25, salt="a").collect())
    assert s3 <= s1
    # different salt → materially different selection
    s4 = set(r[0] for r in hash_sample(df, 0.5, salt="b").collect())
    assert len(s1 ^ s4) > 500
    with pytest.raises(ValueError):
        hash_sample(df, 1.5)


def test_stratified_sample_exact_n_and_salt_invariant(spark):
    from melodist_spark.pipeline.sampling import stratified_sample_n

    pdf = pd.DataFrame(
        {
            "doc_id": range(900),
            "lang": ["en"] * 600 + ["de"] * 250 + ["es"] * 50,
        }
    )
    df = spark.createDataFrame(pdf)
    out = stratified_sample_n(df, ["lang"], n=30).toPandas()
    assert out.groupby("lang").size().to_dict() == {"de": 30, "en": 30, "es": 30}
    # the skew-group pre-filter must not change the selected sample
    plain = stratified_sample_n(df, ["lang"], n=30, skew_groups=1).toPandas()
    assert set(map(tuple, out.values)) == set(map(tuple, plain.values))
    # n larger than a stratum returns the whole stratum
    big = stratified_sample_n(df, ["lang"], n=100).toPandas()
    assert big.groupby("lang").size().to_dict() == {"de": 100, "en": 100, "es": 50}


def test_vocab_topk_counts(spark):
    from melodist_spark.pipeline.text import vocab_topk

    df = spark.createDataFrame(
        [
            (1, "en", "a a a b b c"),
            (2, "en", "a b  b"),
            (3, "de", "x y x"),
        ],
        ["doc_id", "lang", "text"],
    )
    out = vocab_topk(df, k=2, by=["lang"]).toPandas()
    en = out[out.lang == "en"].set_index("token")["n"].to_dict()
    de = out[out.lang == "de"].set_index("token")["n"].to_dict()
    assert en == {"a": 4, "b": 4}  # tie broken by token: a ranks 1
    assert de == {"x": 2, "y": 1}
    ranks = out[out.lang == "en"].set_index("token")["rank"].to_dict()
    assert ranks == {"a": 1, "b": 2}
    # salted two-phase gives identical results
    salted = vocab_topk(df, k=2, by=["lang"], skew_groups=8).toPandas()
    assert set(map(tuple, salted.values)) == set(map(tuple, out.values))


def test_clean_text_and_pii(spark):
    from melodist_spark.pipeline.text import clean_text, pii_counts

    df = spark.createDataFrame(
        [
            (1, "Contact <b>us</b> at bob@example.com or https://x.io/a?b=1  now"),
            (2, "call +1 (555) 123-4567 or 192.168.0.1 twice: 10.0.0.255"),
            (3, "plain   text\n with \t spaces"),
        ],
        ["doc_id", "text"],
    )
    out = df.select(
        "doc_id",
        clean_text(F.col("text")).alias("clean"),
        *[v.alias(k) for k, v in pii_counts(F.col("text")).items()],
    ).toPandas().set_index("doc_id")
    assert out.loc[1, "clean"] == "Contact us at or now"
    assert out.loc[1, "n_emails"] == 1
    assert out.loc[2, "n_phones"] == 1
    assert out.loc[2, "n_ipv4"] == 2
    assert out.loc[3, "clean"] == "plain text with spaces"
    assert out.loc[3, ["n_emails", "n_phones", "n_ipv4"]].sum() == 0


def test_quality_flags_rules(spark):
    from melodist_spark.pipeline.text import quality_flags

    good = "the quick brown fox jumps over the lazy dog " * 5  # 45 toks, stopwords
    short = "the tiny doc"
    no_stop = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 3
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, no_stop)], ["doc_id", "text"]
    )
    out = quality_flags(df).select("doc_id", "ok_length", "ok_stopwords", "keep").toPandas().set_index("doc_id")
    assert bool(out.loc[1, "keep"])
    assert not bool(out.loc[2, "ok_length"])
    assert not bool(out.loc[3, "ok_stopwords"])
    assert not bool(out.loc[2, "keep"]) and not bool(out.loc[3, "keep"])


def test_repetition_stats(spark):
    from melodist_spark.pipeline.text import repetition_stats

    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam ham"),      # top uni 4/5; top bi 'spam spam' 3/4
            (2, "a b c d"),                       # all unique: 1/4, 1/3
            (3, "solo"),                          # no bigram -> dropped
        ],
        ["doc_id", "text"],
    )
    out = repetition_stats(df).toPandas().set_index("doc_id")
    assert 3 not in out.index
    np.testing.assert_allclose(out.loc[1, "top_unigram_frac"], 4 / 5)
    np.testing.assert_allclose(out.loc[1, "top_bigram_frac"], 3 / 4)
    np.testing.assert_allclose(out.loc[2, "top_unigram_frac"], 1 / 4)
    np.testing.assert_allclose(out.loc[2, "top_bigram_frac"], 1 / 3)


def test_repetition_stats_sql_twin_tokenization(spark):
    """The Arrow kernel must mirror the SQL twin's tokenization, not
    Python str.split: space-only trim keeps the phantom empty token a
    tab-initial doc produces (counted by the twin's unfiltered bigram
    list), and ASCII-only splitting keeps NBSP inside tokens."""
    from melodist_spark.pipeline.text import repetition_stats

    df = spark.createDataFrame(
        [
            # trim strips spaces only -> leading '\t' survives ->
            # l = ['', 'a', 'b', 'a']: bigrams ('','a'),('a','b'),
            # ('b','a') all distinct -> 1/3; unigrams a,b,a -> 2/3
            (1, "\t a\n b  a "),
            # NBSP is NOT a separator for the RE2 twin: one token
            # 'x y' twice -> top_unigram 2/2, bigram 1/1
            (2, "x y x y"),
        ],
        ["doc_id", "text"],
    )
    out = repetition_stats(df).toPandas().set_index("doc_id")
    np.testing.assert_allclose(out.loc[1, "top_unigram_frac"], 2 / 3)
    np.testing.assert_allclose(out.loc[1, "top_bigram_frac"], 1 / 3)
    np.testing.assert_allclose(out.loc[2, "top_unigram_frac"], 1.0)
    np.testing.assert_allclose(out.loc[2, "top_bigram_frac"], 1.0)


def test_resolve_repetition_thresholds_override_semantics():
    """Shared batch/streaming resolution: a subset dict OVERRIDES the
    published table (the other rules still apply), {} and None mean
    the published defaults, unknown names raise."""
    import pytest

    from melodist_spark.pipeline.text import (
        GOPHER_REPETITION_THRESHOLDS,
        resolve_repetition_thresholds,
    )

    assert resolve_repetition_thresholds(None) == GOPHER_REPETITION_THRESHOLDS
    assert resolve_repetition_thresholds({}) == GOPHER_REPETITION_THRESHOLDS
    th = resolve_repetition_thresholds({"dup_line_frac": 0.9})
    assert th["dup_line_frac"] == 0.9
    assert th["top_2gram_char_frac"] == 0.20  # rest still present
    assert len(th) == len(GOPHER_REPETITION_THRESHOLDS)
    with pytest.raises(ValueError, match="unknown repetition signals"):
        resolve_repetition_thresholds({"nope": 0.5})


def test_gopher_repetition_hand_computed(spark):
    """The full Gopher table-A1 family against hand-worked examples."""
    from melodist_spark.pipeline.text import gopher_repetition

    df = spark.createDataFrame(
        [
            # lines: [x y, x y, z w q]; paras: [x y\nx y, z w q]
            (1, "x y\nx y\n\nz w q"),
            # tokens a b c d e a b c d e: "a b c d e" 5-gram dup at
            # pos 0 and 5 -> full coverage at n=5, zero at n=6
            (2, "a b c d e\na b c d e"),
            # duplicate PARAGRAPH (two identical 2-line paras)
            (3, "p q\nr s\n\np q\nr s"),
            # top-gram discriminator: most frequent 2-gram "aa bb"
            # (c=3, 5 chars -> 15) must beat the rarer-but-longer
            # "x1234567 y1234567" (c=2, 17 chars -> 34): the signal
            # is the most FREQUENT gram's chars, not max(c*len)
            (4, "aa bb aa bb aa bb x1234567 y1234567 x1234567 y1234567"),
        ],
        ["doc_id", "text"],
    )
    out = gopher_repetition(df).toPandas().set_index("doc_id")
    np.testing.assert_allclose(out.loc[1, "dup_line_frac"], 1 / 3)
    np.testing.assert_allclose(out.loc[1, "dup_line_char_frac"], 3 / 11)
    np.testing.assert_allclose(out.loc[1, "dup_para_frac"], 0.0)
    # top 2-gram "x y" c=2 len=3; norm text "x y x y z w q" = 13 chars
    np.testing.assert_allclose(out.loc[1, "top_2gram_char_frac"], 6 / 13)
    np.testing.assert_allclose(out.loc[1, "dup_5gram_char_frac"], 0.0)

    np.testing.assert_allclose(out.loc[2, "dup_line_frac"], 1 / 2)
    np.testing.assert_allclose(out.loc[2, "dup_5gram_char_frac"], 1.0)
    np.testing.assert_allclose(out.loc[2, "dup_6gram_char_frac"], 0.0)
    # top 3-gram "a b c" c=2 len=5 over 19 norm chars
    np.testing.assert_allclose(out.loc[2, "top_3gram_char_frac"], 10 / 19)

    # doc 3: paras ["p q\nr s"] x2 -> dup_para_frac 1/2; lines p q /
    # r s each occur twice -> dup_line_frac 2/4
    np.testing.assert_allclose(out.loc[3, "dup_para_frac"], 1 / 2)
    np.testing.assert_allclose(out.loc[3, "dup_para_char_frac"], 1 / 2)
    np.testing.assert_allclose(out.loc[3, "dup_line_frac"], 1 / 2)
    # tokens p q r s p q r s: 4-gram "p q r s" dup (pos 0, 4) ->
    # coverage 1.0 at n<=4... but 4 is a top_n; dup starts at 5:
    # 5-grams p q r s p / q r s p q / r s p q r / s p q r s: all
    # distinct -> 0
    np.testing.assert_allclose(out.loc[3, "dup_5gram_char_frac"], 0.0)

    # doc 4: norm text = 44 token chars + 9 spaces = 53
    np.testing.assert_allclose(out.loc[4, "top_2gram_char_frac"], 15 / 53)


def test_gopher_repetition_coverage_monotone(spark):
    """Positional-coverage accounting makes dup_{n}gram_char_frac
    monotone non-increasing in n (a duplicated (n+1)-gram's two
    constituent n-grams are themselves duplicated and span the same
    positions) — and never exceed 1.0, which the occurrence-sum
    approximation would."""
    from melodist_spark.pipeline.text import gopher_repetition

    rng = np.random.default_rng(7)
    vocab = ["aa", "bb", "cc", "dd", "ee"]
    rows = []
    for i in range(40):
        toks = list(rng.choice(vocab, size=rng.integers(8, 40)))
        if i % 3 == 0:  # plant an echo of the prefix
            toks += toks[: rng.integers(4, 12)]
        rows.append((i, " ".join(toks)))
    out = gopher_repetition(
        spark.createDataFrame(rows, ["doc_id", "text"])
    ).toPandas()
    cols = [f"dup_{n}gram_char_frac" for n in range(5, 11)]
    vals = out[cols].to_numpy()
    assert (vals <= 1.0 + 1e-12).all() and (vals >= 0.0).all()
    assert (np.diff(vals, axis=1) <= 1e-12).all()
    # the planting makes the family non-vacuous
    assert (vals[:, 0] > 0).any()


def test_repetition_flags_published_thresholds(spark):
    """Table-A1 keep/drop rules: a clean doc keeps, a doc over one
    threshold trips exactly that rule, overrides apply, unknown
    signal names are rejected."""
    import pytest

    from melodist_spark.pipeline.text import repetition_flags

    clean = " ".join(f"w{i} x{i} y{i}" for i in range(20))
    # >30% duplicate lines
    dup_lines = "\n".join(["same line here"] * 5 + [f"u{i} v{i}" for i in range(5)])
    df = spark.createDataFrame(
        [(1, clean), (2, dup_lines)], ["doc_id", "text"]
    )
    out = repetition_flags(df).toPandas().set_index("doc_id")
    assert bool(out.loc[1, "keep"])
    assert not bool(out.loc[2, "ok_dup_line_frac"])
    assert not bool(out.loc[2, "keep"])
    # the clean doc trips nothing
    assert all(out.loc[1, c] for c in out.columns if c.startswith("ok_"))

    # override: make the line rule lenient enough to keep doc 2
    out2 = (
        repetition_flags(
            df,
            thresholds={
                "dup_line_frac": 1.0,
                "dup_line_char_frac": 1.0,
                "dup_5gram_char_frac": 1.0,
                "dup_6gram_char_frac": 1.0,
                "dup_7gram_char_frac": 1.0,
                "dup_8gram_char_frac": 1.0,
                "dup_9gram_char_frac": 1.0,
                "dup_10gram_char_frac": 1.0,
                "top_2gram_char_frac": 1.0,
                "top_3gram_char_frac": 1.0,
                "top_4gram_char_frac": 1.0,
            },
        )
        .toPandas()
        .set_index("doc_id")
    )
    assert bool(out2.loc[2, "keep"])

    with pytest.raises(ValueError, match="unknown repetition signals"):
        repetition_flags(df, thresholds={"dup_42gram_char_frac": 0.5})


def test_kmeans_ivf_end_to_end(spark):
    """Trained coarse quantizer separates planted gaussian blobs and
    multi-probe IVF recall dominates single-probe."""
    from melodist_spark.pipeline.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        train_kmeans_centroids,
    )

    rng = np.random.default_rng(3)
    dim, blobs, per = 16, 4, 60
    # orthogonal blob centers: separable under the quantizer's cosine
    # metric regardless of init draw
    centers = np.zeros((blobs, dim))
    for b in range(blobs):
        centers[b, b * 3] = 5.0
        centers[b, b * 3 + 1] = 3.0
    rows = []
    for b in range(blobs):
        for i in range(per):
            v = centers[b] + rng.normal(size=dim) * 0.4
            rows.append((b * per + i, [float(x) for x in v]))
    pdf = pd.DataFrame(rows, columns=["vec_id", "embedding"])
    corpus = spark.createDataFrame(pdf)

    cents = train_kmeans_centroids(corpus, k=blobs, dim=dim, iters=4)
    assert cents.shape == (blobs, dim)
    assigned = ivf_assign(corpus, cents, out_col="label").toPandas()
    # every planted blob lands (almost) entirely in one trained cell
    purity = (
        assigned.assign(blob=assigned.vec_id // per)
        .groupby("blob")["label"]
        .agg(lambda s: s.value_counts().iloc[0] / len(s))
    )
    assert (purity > 0.95).all()

    labeled = spark.createDataFrame(assigned)
    queries = labeled.filter(F.col("vec_id") % 40 == 0)
    exact = brute_force_topk(labeled, queries, k=5).toPandas()
    got1 = ivf_topk(labeled, queries, k=5, n_probe=1).toPandas()
    got2 = ivf_topk(labeled, queries, k=5, n_probe=2).toPandas()

    def recall(g):
        e = set(map(tuple, exact[["query_id", "neighbor_id"]].values))
        s = set(map(tuple, g[["query_id", "neighbor_id"]].values))
        return len(e & s) / len(e)

    assert recall(got1) > 0.8  # blobs are tight: single probe is enough
    assert recall(got2) >= recall(got1)


def test_decontaminate_counts_and_flags(spark):
    from melodist_spark.pipeline.decontamination import decontaminate

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog")],
        ["doc_id", "text"],
    )
    docs = spark.createDataFrame(
        [
            # contains the benchmark 5-gram "quick brown fox jumps over"
            (1, "a quick brown fox jumps over a fence today"),
            # shares words but no 5-gram run
            (2, "the dog is lazy and the fox is quick"),
            # verbatim copy: every 5-gram hits
            (3, "the quick brown fox jumps over the lazy dog"),
            # too short for any 5-gram -> excluded from the output
            (4, "only four words here"[:19]),
        ],
        ["doc_id", "text"],
    )
    got = (
        decontaminate(docs, bench, ngram=5, threshold=1, text_is_extracted=True)
        .orderBy("doc_id")
        .toPandas()
        .set_index("doc_id")
    )
    assert list(got.index) == [1, 2, 3]
    # doc 1: 5 distinct 5-grams, exactly one ("quick brown fox jumps
    # over") appears in the benchmark
    assert got.loc[1, "n_ngrams"] == 5
    assert got.loc[1, "n_hits"] == 1
    assert bool(got.loc[1, "contaminated"])
    assert got.loc[2, "n_hits"] == 0
    assert not bool(got.loc[2, "contaminated"])
    assert got.loc[3, "n_hits"] == got.loc[3, "n_ngrams"] == 5
    assert abs(got.loc[3, "overlap"] - 1.0) < 1e-12


def test_decontaminate_boilerplate_ordering_contract(spark):
    """VERDICT r8 item 3: the crawl-composition finding as a pinned
    contract. Short-gram decontamination over chrome-bearing text
    flags EVERYTHING (shared nav/footer n-grams); the same corpus
    extracted first — or audited at the published 13-gram length —
    flags exactly the planted overlap. And the API now warns when the
    caller asks for the broken combination."""
    import warnings as _w

    from melodist_spark.pipeline.decontamination import (
        MIN_SAFE_RAW_NGRAM,
        BoilerplateOrderingWarning,
        decontaminate,
    )
    from melodist_spark.pipeline.text import extract_main_content, html_to_text

    nav = (
        '<header><ul><li><a href="/">Portal home page</a></li>'
        '<li><a href="/n">Breaking news desk</a></li>'
        '<li><a href="/c">Contact the editors</a></li></ul></header>'
    )
    footer = (
        "<footer>All rights reserved by the example media company "
        "worldwide</footer>"
    )
    planted = (
        "the migration of the eastern monarch butterfly spans four "
        "generations and more than four thousand kilometres every "
        "single calendar year"
    )  # 20 words: carries 13-grams

    def page(doc_id, body_sentences):
        paras = "".join(f"<p>{s}</p>" for s in body_sentences)
        return (
            f"<html><body>{nav}<article><h1>Story {doc_id}</h1>"
            f"{paras}</article>{footer}</body></html>"
        )

    def body(i):
        # seed-derived word soup: no two bodies (nor bench's) share
        # any 5-gram, so the only cross-doc n-grams are the chrome's
        rng = np.random.default_rng(1000 + i)
        return " ".join(f"tok{rng.integers(0, 10_000)}" for _ in range(24))

    rows = [
        (i, page(i, [body(i), planted] if i == 3 else [body(i)]))
        for i in range(6)
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "html"])
    bench = spark.createDataFrame(
        [(100, page(100, [planted, body(100)]))], ["doc_id", "html"]
    )

    raw_docs = docs.select("doc_id", html_to_text(F.col("html")).alias("text"))
    raw_bench = bench.select(
        "doc_id", html_to_text(F.col("html")).alias("text")
    )

    # (1) the broken combination: 5-gram over raw text -> 100% flagged
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        flagged_raw = (
            decontaminate(raw_docs, raw_bench, ngram=5)
            .filter("contaminated")
            .count()
        )
        assert any(
            issubclass(c.category, BoilerplateOrderingWarning)
            for c in caught
        )
    assert flagged_raw == 6  # chrome n-grams contaminate every doc

    # (2) extract first -> only the planted overlap flags, no warning
    ext_docs = docs.select(
        "doc_id", extract_main_content(F.col("html")).alias("text")
    )
    ext_bench = bench.select(
        "doc_id", extract_main_content(F.col("html")).alias("text")
    )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        flagged_ext = (
            decontaminate(ext_docs, ext_bench, ngram=5, text_is_extracted=True)
            .filter("contaminated")
            .select("doc_id")
            .collect()
        )
        assert not any(
            issubclass(c.category, BoilerplateOrderingWarning)
            for c in caught
        )
    assert {r["doc_id"] for r in flagged_ext} == {3}

    # (3) the published 13-gram length is safe even on raw text
    # (chrome runs are shorter than 13 words), and does not warn
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        flagged_13 = (
            decontaminate(raw_docs, raw_bench, ngram=MIN_SAFE_RAW_NGRAM)
            .filter("contaminated")
            .select("doc_id")
            .collect()
        )
        assert not any(
            issubclass(c.category, BoilerplateOrderingWarning)
            for c in caught
        )
    assert {r["doc_id"] for r in flagged_13} == {3}


def test_remove_contaminated_spans_surgery(spark):
    """Round 9: span-level decontamination — the benchmark-quoting
    span is excised (plus pad), the rest of the document survives,
    re-auditing the cleaned corpus finds ZERO contamination, and the
    flag/surgery pair share one overlap definition (same gram
    hashes)."""
    from melodist_spark.pipeline.decontamination import (
        benchmark_gram_array,
        decontaminate,
        remove_contaminated_spans,
    )

    planted = ("alpha beta gamma delta epsilon zeta eta theta iota "
               "kappa lam mu nu")  # 13 tokens = one 13-gram
    a = " ".join(f"pre{i}" for i in range(20))
    b = " ".join(f"post{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (0, f"{a} {planted} {b}"),       # quote in the middle
            (1, f"{a} {b}"),                 # clean
            (2, planted),                    # fully contaminated
            (3, "short doc under ngram"),    # passthrough
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame([(100, planted)], ["doc_id", "text"])
    grams = benchmark_gram_array(bench, ngram=13)

    out = {
        r["doc_id"]: r
        for r in remove_contaminated_spans(
            docs, grams, ngram=13
        ).collect()
    }
    assert out[0]["text"] == f"{a} {b}"
    assert out[0]["n_tokens_removed"] == 13
    assert out[0]["n_tokens_kept"] == 40
    assert out[1]["text"] == f"{a} {b}"
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["text"] == "" and out[2]["n_tokens_removed"] == 13
    assert out[3]["text"] == "short doc under ngram"  # untouched

    # pad widens the excision symmetrically (clamped at the edges)
    padded = {
        r["doc_id"]: r
        for r in remove_contaminated_spans(
            docs, grams, ngram=13, pad=2
        ).collect()
    }
    assert padded[0]["n_tokens_removed"] == 17
    assert padded[0]["text"].split()[17] == "pre17"  # pre18/19 gone
    assert padded[0]["text"].split()[18] == "post2"  # post0/1 gone

    # the audit closes: zero contamination left after surgery
    cleaned = remove_contaminated_spans(docs, grams, ngram=13).select(
        "doc_id", "text"
    )
    flags = decontaminate(cleaned, bench, ngram=13).collect()
    assert all(not r["contaminated"] for r in flags)

    # caller columns sharing the staging name survive (ADVICE-class
    # collision-proofing)
    with_clash = docs.withColumn("__sg", F.lit("keep"))
    clash = remove_contaminated_spans(with_clash, grams, ngram=13)
    assert "__sg" in clash.columns
    assert clash.filter("doc_id = 0").first()["__sg"] == "keep"

    # plan contract: one Arrow stage, no shuffle, no row-Python
    plan = (
        remove_contaminated_spans(docs, grams, ngram=13)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ArrowEvalPython" in plan
    for bad in ("BatchEvalPython", "Exchange", "Generate"):
        assert bad not in plan, bad


def test_remove_contaminated_spans_zero_residual_property(spark):
    """Excising a span junctions its two sides, which can FORM a
    benchmark n-gram neither side carried — so one-pass removal is
    not a zero-residual guarantee. The kernel's TRUE fixpoint loop
    makes it one: over 300 dense-collision docs (6-token vocabulary,
    2-grams — junction cases occur constantly), the surgically-
    cleaned corpus re-audits to ZERO contamination."""
    import random

    from melodist_spark.pipeline.decontamination import (
        benchmark_gram_array,
        decontaminate_stateless,
        remove_contaminated_spans,
    )

    r = random.Random(77)
    vocab = ["a", "b", "c", "d", "e", "f"]
    docs = spark.createDataFrame(
        [
            (i, " ".join(r.choice(vocab) for _ in range(r.randint(0, 25))))
            for i in range(300)
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [(1000 + j, " ".join(r.choice(vocab) for _ in range(6)))
         for j in range(3)],
        ["doc_id", "text"],
    )
    grams = benchmark_gram_array(bench, ngram=2)

    cleaned = remove_contaminated_spans(
        docs, grams, ngram=2, text_is_extracted=True
    )
    audit = decontaminate_stateless(
        cleaned.select("doc_id", "text"),
        grams,
        ngram=2,
        keep_payload=True,
        text_is_extracted=True,
    )
    residual = audit.filter("contaminated").count()
    assert residual == 0
    # and the surgery actually did something on this dense corpus
    n_cut = cleaned.filter("n_tokens_removed > 0").count()
    assert n_cut > 50


def test_remove_contaminated_spans_deep_chain(spark):
    """Round 10 (ADVICE r9, high): the fixpoint must be TRUE, not
    capped. This corpus is an engineered junction chain — tokens
    ``a10 .. a1 b1 .. b10`` with benchmark bigrams ``(a_i b_i)`` —
    where each excision pass removes exactly one pair and JUNCTIONS
    the next: draining it takes 10 passes. The old 8-pass cap
    returned 'a10 a9 b9 b10' with 'a9 b9' still a benchmark gram,
    silently; the unbounded loop drains it to empty and the
    re-audit finds zero residual."""
    from melodist_spark.pipeline.decontamination import (
        benchmark_gram_array,
        decontaminate_stateless,
        remove_contaminated_spans,
    )

    chain = " ".join(
        [f"a{i}" for i in range(10, 0, -1)] + [f"b{i}" for i in range(1, 11)]
    )
    docs = spark.createDataFrame([(0, chain)], ["doc_id", "text"])
    bench = spark.createDataFrame(
        [(100 + i, f"a{i} b{i}") for i in range(1, 11)], ["doc_id", "text"]
    )
    grams = benchmark_gram_array(bench, ngram=2)

    out = remove_contaminated_spans(
        docs, grams, ngram=2, text_is_extracted=True
    ).first()
    assert out["text"] == ""
    assert out["n_tokens_removed"] == 20
    assert out["n_tokens_kept"] == 0
    audit = decontaminate_stateless(
        spark.createDataFrame([(0, out["text"])], ["doc_id", "text"]),
        grams,
        ngram=2,
        keep_payload=True,
        text_is_extracted=True,
    ).first()
    assert not audit["contaminated"]


def test_remove_contaminated_spans_audit_and_contract(spark):
    """Round 10 (ADVICE r9, low x2): (1) ``n_tokens_kept`` means the
    same thing on touched and untouched docs — NON-EMPTY tokens, so
    a tab/newline-initial untouched doc does not count the phantom
    leading empty token; (2) the surgical op enforces the same
    boilerplate-ordering contract as the flag paths (it is the
    DESTRUCTIVE one — short grams over chrome would excise every
    document's chrome plus pad)."""
    import warnings as _w

    from melodist_spark.pipeline.decontamination import (
        BoilerplateOrderingWarning,
        benchmark_gram_array,
        remove_contaminated_spans,
    )

    bench = spark.createDataFrame([(0, "x1 x2")], ["doc_id", "text"])
    grams = benchmark_gram_array(bench, ngram=2)

    # leading tab → _ascii_ws_split(keep_empty=True) yields a phantom
    # '' first token; both docs have 3 real tokens and neither is
    # touched, so both must report n_tokens_kept == 3
    docs = spark.createDataFrame(
        [(0, "\talpha beta gamma"), (1, "alpha beta gamma")],
        ["doc_id", "text"],
    )
    out = {
        r["doc_id"]: r
        for r in remove_contaminated_spans(
            docs, grams, ngram=2, text_is_extracted=True
        ).collect()
    }
    assert out[0]["text"] == "\talpha beta gamma"  # verbatim passthrough
    assert out[0]["n_tokens_kept"] == 3
    assert out[1]["n_tokens_kept"] == 3

    # ordering contract: short grams + undeclared text warns; either
    # declaring extraction or using the published 13 stays silent
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        remove_contaminated_spans(docs, grams, ngram=2)
        assert any(
            issubclass(c.category, BoilerplateOrderingWarning)
            for c in caught
        )
    with _w.catch_warnings(record=True) as caught:
        _w.simplefilter("always")
        remove_contaminated_spans(docs, grams, ngram=2, text_is_extracted=True)
        remove_contaminated_spans(docs, grams, ngram=13)
        assert not any(
            issubclass(c.category, BoilerplateOrderingWarning)
            for c in caught
        )


def test_benchmark_leakage_report_hand_computed(spark):
    """Round 10: the per-benchmark-item audit (complement of
    decontaminate) on a hand-computable corpus — exact gram counts,
    distinct-doc counts, the clean/dirty split, zero-hit rows
    restored, and a benchmark doc below the gram length dropped."""
    from melodist_spark.pipeline.decontamination import (
        benchmark_leakage_report,
    )

    planted = "alpha beta gamma delta epsilon"  # 5 tokens = one 5-gram
    half = "alpha beta gamma delta other"       # shares no full 5-gram
    train = spark.createDataFrame(
        [
            (1, f"x1 x2 {planted} y1 y2"),   # hits bench 100's gram
            (2, planted),                     # hits it too
            (3, f"{half} z1 z2"),             # no full bench gram
            (4, "u1 u2 u3 u4 u5 u6"),         # clean
        ],
        ["doc_id", "text"],
    )
    bench = spark.createDataFrame(
        [
            (100, f"{planted} tail1 tail2"),  # 3 distinct 5-grams, 1 leaked
            (101, "c1 c2 c3 c4 c5 c6"),       # 2 grams, clean
            (102, "too short"),               # < 5 tokens: dropped
        ],
        ["doc_id", "text"],
    )
    out = {
        r["bench_doc_id"]: r
        for r in benchmark_leakage_report(
            train, bench, ngram=5, text_is_extracted=True
        ).collect()
    }
    assert set(out) == {100, 101}
    r100 = out[100]
    assert r100["n_grams"] == 3
    assert r100["n_grams_leaked"] == 1      # only the planted gram
    assert r100["n_train_docs"] == 2        # docs 1 and 2
    assert abs(r100["leak_frac"] - 1 / 3) < 1e-12
    assert not r100["clean"]
    r101 = out[101]
    assert r101["n_grams"] == 2 and r101["n_grams_leaked"] == 0
    assert r101["n_train_docs"] == 0 and r101["clean"]

    # scale contract: the corpus side never shuffles on the gram key —
    # the bench gram table rides a broadcast join; the only exchanges
    # key the parameter-sized per-bench aggregates
    plan = (
        benchmark_leakage_report(train, bench, ngram=5, text_is_extracted=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decontaminate_benchmark_broadcast_plan(spark):
    """The corpus side must not shuffle: the benchmark gram set rides
    a BroadcastHashJoin (explicitly hinted — it has no stats)."""
    from melodist_spark.pipeline.decontamination import decontaminate

    bench = spark.createDataFrame([(0, "a b c d e f")], ["doc_id", "text"])
    docs = spark.createDataFrame([(1, "a b c d e f g")], ["doc_id", "text"])
    plan = decontaminate(docs, bench, text_is_extracted=True)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_semantic_dedup_keeps_one_per_twin_group(spark):
    """SemDeDup composition: planted near-identical twin groups inside
    separable blobs collapse to one kept representative each; distinct
    vectors keep themselves."""
    from melodist_spark.pipeline.similarity import semantic_dedup

    rng = np.random.default_rng(11)
    dim, blobs, per = 16, 3, 20
    centers = np.zeros((blobs, dim))
    for b in range(blobs):
        centers[b, b * 4] = 5.0
    rows = []
    vid = 0
    twin_groups = []
    for b in range(blobs):
        base_vecs = []
        first_vid = vid
        for i in range(per):
            v = centers[b] + rng.normal(size=dim) * 0.3
            base_vecs.append(v)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
        # plant 3 near-copies of this blob's first vector (tiny noise
        # keeps cosine > 0.999)
        group = [first_vid]
        for _ in range(3):
            v = base_vecs[0] + rng.normal(size=dim) * 1e-3
            rows.append((vid, [float(x) for x in v]))
            group.append(vid)
            vid += 1
        twin_groups.append(group)
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    got = (
        semantic_dedup(corpus, dim=dim, k=blobs, threshold=0.999, iters=4)
        .toPandas()
        .set_index("vec_id")
    )
    assert len(got) == vid  # every row labeled
    for group in twin_groups:
        labels = {got.loc[g, "cluster_id"] for g in group}
        assert labels == {min(group)}  # one canonical rep per group
        keeps = [got.loc[g, "keep"] for g in group]
        assert sum(keeps) == 1 and got.loc[min(group), "keep"]
    # non-twin vectors are their own clusters (threshold is strict)
    singles = got.drop(index=[g for grp in twin_groups for g in grp])
    assert (singles["cluster_id"] == singles.index).all()
    assert singles["keep"].all()


def test_semantic_dedup_checkpoint_dir_passthrough(spark, tmp_path):
    """Round 12: semantic_dedup forwards checkpoint_dir to the
    connected-components labeling (reliable truncation on a real
    cluster) — same labels as the default path on a corpus with
    planted twins."""
    from melodist_spark.pipeline.similarity import semantic_dedup

    rng = np.random.default_rng(19)
    dim = 8
    rows = []
    for i in range(30):
        v = rng.normal(size=dim)
        rows.append((2 * i, [float(x) for x in v]))
        rows.append((2 * i + 1, [float(x) for x in v + rng.normal(size=dim) * 1e-4]))
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    kw = dict(dim=dim, k=4, threshold=0.999, iters=3)
    want = (
        semantic_dedup(corpus, **kw)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    got = (
        semantic_dedup(corpus, checkpoint_dir=str(tmp_path / "sd_ck"), **kw)
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # every planted twin pair collapsed to its even representative
    assert (want["cluster_id"] == (want["vec_id"] // 2) * 2).all()


def test_hyperplane_family_full_rank():
    """The SimHash collision bound requires an isotropic plane
    family. The original sine-stride generator was rank 2 (every
    plane a combination of sin(j*theta) and cos(j*theta) — k planes
    cut ~2k sectors of a 2-D shadow instead of 2^k cells, measured
    28 buckets over a 2M-vector corpus at 14 planes). Pin the fixed
    family: full rank, near-orthogonal, sign-balanced."""
    from melodist_spark.pipeline.similarity import _hyperplane

    P = np.array([_hyperplane(64, p) for p in range(16)])
    sv = np.linalg.svd(P, compute_uv=False)
    assert sv[-1] > 0.5  # full rank, comfortably conditioned
    off = np.abs(P @ P.T - np.eye(16)).max()
    assert off < 0.5  # near-orthogonal (rank-2 family reached 0.99)
    rng = np.random.default_rng(0)
    x = rng.normal(size=(5000, 64))
    frac = ((x @ P.T) > 0).mean(axis=0)
    assert (np.abs(frac - 0.5) < 0.05).all()  # balanced cuts


def test_embedding_neardup_against_increment(spark):
    """Incremental embedding dedup: batch vectors near-identical to
    indexed ones are dropped, novel ones survive and advance the
    index; the Arrow kernel agrees with the expr kernel."""
    from melodist_spark.pipeline.similarity import (
        embedding_index,
        embedding_neardup_against,
    )

    rng = np.random.default_rng(13)
    dim = 16
    base = [rng.normal(size=dim) for _ in range(40)]
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(base)],
            columns=["vec_id", "embedding"],
        )
    )
    idx = embedding_index(corpus, dim=dim, num_planes=4)
    # batch: 5 noisy twins of indexed vectors (cos > 0.999) + 5 novel
    twins = [(100 + j, [float(x) for x in base[j] + rng.normal(size=dim) * 1e-3]) for j in range(5)]
    novel = [(200 + j, [float(x) for x in rng.normal(size=dim)]) for j in range(5)]
    batch = spark.createDataFrame(
        pd.DataFrame(twins + novel, columns=["vec_id", "embedding"])
    )
    for arrow in (False, True):
        surv = embedding_neardup_against(
            batch, idx, dim=dim, threshold=0.999, num_planes=4, arrow=arrow
        )
        got = sorted(r["vec_id"] for r in surv.collect())
        assert got == [200, 201, 202, 203, 204], (arrow, got)
    # advancing the state: survivors' index unions in, and the same
    # batch re-checked against the advanced index now fully drops
    adv = idx.unionByName(
        embedding_index(
            embedding_neardup_against(
                batch, idx, dim=dim, threshold=0.999, num_planes=4
            ),
            dim=dim,
            num_planes=4,
        )
    )
    assert (
        embedding_neardup_against(
            batch, adv, dim=dim, threshold=0.999, num_planes=4
        ).count()
        == 0
    )


def test_embedding_index_or_amplification_recall(spark):
    """The LSH AND-OR construction: at a plane count where a single
    table misses some planted twins (a sign flip in any of the k
    planes hides the pair), adding tables recovers them — recall is
    monotone in num_tables and hits 100% well before the per-table
    collision probability does."""
    from melodist_spark.pipeline.similarity import (
        embedding_index,
        embedding_neardup_against,
    )

    rng = np.random.default_rng(17)
    dim, n = 16, 120
    base = [rng.normal(size=dim) for _ in range(n)]
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(base)],
            columns=["vec_id", "embedding"],
        )
    )
    # twins noisy enough that 10 planes flip at least one sign for a
    # fair fraction of pairs
    batch = spark.createDataFrame(
        pd.DataFrame(
            [
                (1000 + j, [float(x) for x in base[j] + rng.normal(size=dim) * 0.05])
                for j in range(n)
            ],
            columns=["vec_id", "embedding"],
        )
    )
    dropped = {}
    for tables in (1, 4):
        idx = embedding_index(corpus, dim=dim, num_planes=10, num_tables=tables)
        surv = embedding_neardup_against(
            batch, idx, dim=dim, threshold=0.99, num_planes=10,
            num_tables=tables,
        ).count()
        dropped[tables] = n - surv
    assert dropped[4] >= dropped[1]
    assert dropped[4] > n * 0.9  # OR-amplified recall is near-total
    # and at this noise a single 10-plane table genuinely misses some
    assert dropped[1] < n


def test_bucketed_cosine_arrow_matches_expr(spark):
    """The Arrow cosine kernel (batched einsum over the joined pair
    batches) must produce the SAME candidate pair set as the JVM
    HOF-expression form and agree on every cosine to 1e-12 — the
    twin policy of minhash_signature_arrow: the expr form stays the
    oracle shape, the Arrow form is the scale kernel."""
    from melodist_spark.pipeline.similarity import neardup_pairs

    rng = np.random.default_rng(3)
    rows = [
        (i, [float(x) for x in rng.normal(size=12)]) for i in range(300)
    ]
    # two zero vectors: cosine is undefined — the expr form's
    # try_divide nulls them out, and the Arrow kernel's 0/0 NaN must
    # ALSO come out null (Spark orders NaN above every number, so an
    # unguarded NaN would pass >= threshold and pair the zero vector
    # with its whole bucket)
    rows.append((900, [0.0] * 12))
    rows.append((901, [0.0] * 12))
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    kw = dict(dim=12, threshold=0.2, num_planes=4)
    expr = (
        neardup_pairs(corpus, **kw)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    arrow = (
        neardup_pairs(corpus, arrow=True, **kw)
        .toPandas()
        .sort_values(["id_a", "id_b"])
        .reset_index(drop=True)
    )
    assert len(expr) > 50  # the fixture actually exercises the join
    pd.testing.assert_frame_equal(
        expr[["id_a", "id_b"]], arrow[["id_a", "id_b"]]
    )
    np.testing.assert_allclose(
        expr["cos_sim"], arrow["cos_sim"], rtol=1e-12, atol=1e-12
    )


def test_semantic_dedup_pinned_centroids_matches_trained(spark):
    """The ``centroids`` parameter (the production / oracle-row shape:
    the coarse quantizer is a pre-trained model artifact) must produce
    exactly the labels the in-op trainer produces when handed the
    trainer's own output, and must reject a dim mismatch loudly."""
    import pytest

    from melodist_spark.pipeline.similarity import (
        semantic_dedup,
        train_kmeans_centroids,
    )

    rng = np.random.default_rng(7)
    dim = 8
    rows = [
        (i, [float(x) for x in rng.normal(size=dim)]) for i in range(60)
    ]
    # plant one twin pair so the label graph is non-trivial
    rows.append((60, [v + 1e-4 for v in rows[0][1]]))
    corpus = spark.createDataFrame(
        pd.DataFrame(rows, columns=["vec_id", "embedding"])
    )
    cents = train_kmeans_centroids(corpus, k=4, dim=dim, iters=3)
    trained = (
        semantic_dedup(corpus, dim=dim, k=4, threshold=0.999, iters=3)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pinned = (
        semantic_dedup(corpus, dim=dim, threshold=0.999, centroids=cents)
        .toPandas()
        .sort_values("vec_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(trained, pinned)
    assert not pinned.loc[pinned["vec_id"] == 60, "keep"].item()
    with pytest.raises(ValueError, match="dim"):
        semantic_dedup(corpus, dim=dim, centroids=cents[:, :4])
    # malformed centroid matrices fail loudly as ValueError, not as
    # an IndexError from reading shape[1] on a 1-D / empty array
    with pytest.raises(ValueError, match="2-D"):
        semantic_dedup(corpus, dim=dim, centroids=cents[0])
    with pytest.raises(ValueError, match="2-D"):
        semantic_dedup(corpus, dim=dim, centroids=np.zeros((0, dim)))


def test_pair_cosine_kernels_degrade_identically_on_malformed(spark):
    """A NULL embedding or a length-mismatched pair must come out
    NULL from BOTH cosine kernels — the HOF/try_divide form does so
    natively; the Arrow kernel must mask such rows to NaN (absorbed
    by its NULL wrapper) instead of np.vstack raising a task
    failure. Valid rows of DIFFERENT dims in one batch must still
    all compute (the kernel groups by length)."""
    from melodist_spark.pipeline.similarity import _pair_cosine

    rows = [
        (0, [1.0, 0.0, 0.0], [1.0, 0.0, 0.0]),   # cos = 1
        (1, None, [1.0, 0.0, 0.0]),               # null side -> NULL
        (2, [1.0, 0.0], [1.0, 0.0, 0.0]),         # ragged pair -> NULL
        (3, [0.0, 0.0, 0.0], [1.0, 0.0, 0.0]),    # zero vector -> NULL
        (4, [3.0, 4.0], [3.0, 4.0]),              # 2-D valid, cos = 1
        (5, [1.0, 2.0, 2.0], [2.0, 4.0, 4.0]),    # 3-D valid, cos = 1
        # a NaN COMPONENT must come out NULL from both kernels: Spark
        # compares NaN as larger than every number, so an unguarded
        # NaN cosine passes every >= threshold re-check and ranks TOP
        # in descending ANN order (round 12)
        (6, [float("nan"), 1.0, 0.0], [1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "pid long, a array<double>, b array<double>")
    for arrow in (False, True):
        got = (
            df.select(
                "pid", _pair_cosine(F.col("a"), F.col("b"), arrow).alias("c")
            )
            .toPandas()
            .set_index("pid")["c"]
        )
        assert got[0] == pytest.approx(1.0), arrow
        assert got[4] == pytest.approx(1.0), arrow
        assert got[5] == pytest.approx(1.0), arrow
        for pid in (1, 2, 3, 6):
            assert pd.isna(got[pid]), (arrow, pid)

    # end-to-end: a NaN-poisoned vector is never declared anyone's
    # near-duplicate and never outranks real neighbors
    from melodist_spark.pipeline.similarity import (
        brute_force_topk,
        neardup_pairs,
    )

    corpus = spark.createDataFrame(
        [
            (0, [1.0, 0.0, 0.0, 0.0]),
            (1, [1.0, 1e-4, 0.0, 0.0]),
            (2, [float("nan"), 1.0, 0.0, 0.0]),
        ],
        "vec_id long, embedding array<double>",
    )
    pairs = neardup_pairs(corpus, dim=4, threshold=0.9, num_planes=1).collect()
    assert {(r["id_a"], r["id_b"]) for r in pairs} == {(0, 1)}
    top = brute_force_topk(
        corpus, corpus.filter("vec_id = 0"), k=2, vec_col="embedding"
    ).collect()
    assert [r["neighbor_id"] for r in top] == [1, 2]
    assert top[0]["cos_sim"] == pytest.approx(1.0, abs=1e-6)
    assert top[1]["cos_sim"] is None  # NaN vector sinks to the bottom


def test_embedding_index_num_tables_mismatch_raises(spark):
    """embedding_neardup_against must refuse an index whose stored
    bucket_T columns disagree with the caller's num_tables — a
    silent mismatch reads as missed duplicates (lost recall), never
    an error, which is the worst failure mode for a dedup gate."""
    import pytest

    from melodist_spark.pipeline.similarity import (
        embedding_index,
        embedding_neardup_against,
    )

    rng = np.random.default_rng(3)
    dim = 8
    corpus = spark.createDataFrame(
        pd.DataFrame(
            [(i, [float(x) for x in rng.normal(size=dim)]) for i in range(6)],
            columns=["vec_id", "embedding"],
        )
    )
    idx2 = embedding_index(corpus, dim, num_planes=4, num_tables=2)
    with pytest.raises(ValueError, match="MORE than num_tables=1"):
        embedding_neardup_against(corpus, idx2, dim, num_planes=4, num_tables=1)
    with pytest.raises(ValueError, match="missing bucket columns"):
        embedding_neardup_against(corpus, idx2, dim, num_planes=4, num_tables=3)
    with pytest.raises(ValueError, match="batch_index"):
        embedding_neardup_against(
            corpus,
            idx2,
            dim,
            num_planes=4,
            num_tables=2,
            batch_index=embedding_index(corpus, dim, num_planes=4, num_tables=1),
        )


def test_decontaminate_stateless_matches_joined_path(spark):
    """The Arrow-kernel stateless path must agree with the broadcast-
    join path row for row on the same corpus (and it must carry no
    shuffle: streaming-safe plan)."""
    from melodist_spark.pipeline.decontamination import (
        benchmark_gram_array,
        decontaminate,
        decontaminate_stateless,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 7 == 0)
    train = docs.filter(F.col("doc_id") % 7 != 0)

    joined = decontaminate(train, bench, ngram=5, text_is_extracted=True).toPandas()
    grams = benchmark_gram_array(bench, ngram=5)
    stateless_df = decontaminate_stateless(train, grams, ngram=5, text_is_extracted=True)
    stateless = stateless_df.toPandas()

    a = joined.sort_values("doc_id").reset_index(drop=True)
    b = stateless.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, b, check_dtype=False)

    plan = stateless_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # single narrow pass — stream-safe

    # and it really runs on a stream: availableNow over the same files
    import tempfile, os
    src = os.path.join(tempfile.mkdtemp(prefix="decon_stream_"), "docs")
    train.write.parquet(src)
    stream = spark.readStream.schema(train.schema).parquet(src)
    q = (
        decontaminate_stateless(stream, grams, ngram=5, text_is_extracted=True)
        .writeStream.format("memory")
        .queryName("decon_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT * FROM decon_stream").toPandas()
    c = got.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(a, c, check_dtype=False)


# ---------------------------------------------------------------------------
# line-level dedup / LM perplexity / sequence packing
# ---------------------------------------------------------------------------


def test_line_dedup_keeps_first_occurrence(spark):
    from melodist_spark.pipeline.dedup import line_dedup

    boiler = "subscribe to our newsletter today"
    rows = [
        (1, f"unique first line one\n{boiler}\nshort\nunique tail one"),
        (2, f"{boiler}\nunique first line two"),
        (3, f"unique only line three\n{boiler}"),
        (4, None),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["text_deduped"]
        for r in line_dedup(df, min_chars=10).collect()
    }
    # boilerplate survives only in doc 1 (first occurrence); the short
    # line ("short" < 10 chars) is exempt and survives everywhere
    assert out[1] == rows[0][1]
    assert out[2] == "unique first line two"
    assert out[3] == "unique only line three"
    assert out[4] is None
    assert out[5] == ""


def test_line_dedup_within_doc_repeat(spark):
    from melodist_spark.pipeline.dedup import line_dedup

    df = spark.createDataFrame(
        [(7, "repeated enough chars\nmiddle line here\nrepeated enough chars")],
        "doc_id long, text string",
    )
    out = line_dedup(df, min_chars=10).collect()[0]["text_deduped"]
    assert out == "repeated enough chars\nmiddle line here"


def test_lm_cross_entropy_ranks_gibberish(spark):
    """A document of corpus-typical bigrams must score lower
    cross-entropy than one of bigrams never seen in training."""
    from melodist_spark.pipeline.lm import lm_cross_entropy

    train_rows = [(i, "the cat sat on the mat " * 5) for i in range(10)]
    train_rows += [(100 + i, "a dog ran in the park " * 5) for i in range(10)]
    train = spark.createDataFrame(train_rows, "doc_id long, text string")
    df = spark.createDataFrame(
        train_rows[:1] + [(500, "zxq qzx vvk kzz pqw wqp"), (501, "the")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r
        for r in lm_cross_entropy(df, train_df=train).select(
            "doc_id", "n_bigrams", "cross_entropy", "perplexity"
        ).collect()
    }
    assert out[0]["cross_entropy"] < out[500]["cross_entropy"]
    # every gibberish bigram is fully unseen (unknown w1): P = 1/V with
    # V = 10 train unigrams, so perplexity == V exactly
    import math as _m

    assert _m.isclose(out[500]["perplexity"], 10.0, rel_tol=1e-9)
    assert out[501]["cross_entropy"] is None  # < 2 tokens
    import math

    assert math.isclose(
        out[0]["perplexity"], math.exp(out[0]["cross_entropy"]), rel_tol=1e-9
    )


def test_lm_cross_entropy_matches_hand_model(spark):
    """Tiny corpus checked against a hand-computed smoothed bigram LM."""
    import math

    from melodist_spark.pipeline.lm import lm_cross_entropy

    df = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b")], "doc_id long, text string"
    )
    # unigrams: a=3, b=3 -> V=2; bigrams: "a b"=3, "b a"=1; alpha=0.4
    p_ab = (3 + 0.4) / (3 + 0.4 * 2)
    p_ba = (1 + 0.4) / (3 + 0.4 * 2)
    h1 = -(2 * math.log(p_ab) + 1 * math.log(p_ba)) / 3
    got = {
        r["doc_id"]: r["cross_entropy"]
        for r in lm_cross_entropy(df).collect()
    }
    assert math.isclose(got[1], h1, rel_tol=1e-9)
    assert math.isclose(got[2], -math.log(p_ab), rel_tol=1e-9)


def test_lm_cross_entropy_broadcast_matches_relational(spark):
    """The broadcast map-side scorer must reproduce the relational
    join path exactly (same model, same tokenization) — including on
    whitespace edge cases where JVM and Python split semantics could
    diverge (leading tab → empty first token, trailing newline →
    empty last token, space-only trim)."""
    import math

    from melodist_spark.pipeline.lm import (
        lm_cross_entropy,
        lm_cross_entropy_broadcast,
    )

    rows = [
        (1, "the cat sat on the mat"),
        (2, "the cat the cat the cat"),
        (3, "\tleading tab text"),
        (4, "trailing newline text\n"),
        (5, "  space padded  "),
        (6, "single"),
        (7, ""),
        (8, "mixed\twhitespace\nin middle"),
        (9, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    rel = {
        r["doc_id"]: r
        for r in lm_cross_entropy(df)
        .select("doc_id", "n_bigrams", "cross_entropy", "perplexity")
        .collect()
    }
    bcast = {
        r["doc_id"]: r
        for r in lm_cross_entropy_broadcast(df)
        .select("doc_id", "n_bigrams", "cross_entropy", "perplexity")
        .collect()
    }
    assert set(rel) == set(bcast)
    for k in rel:
        assert rel[k]["n_bigrams"] == bcast[k]["n_bigrams"], k
        for col in ("cross_entropy", "perplexity"):
            a, b = rel[k][col], bcast[k][col]
            if a is None:
                assert b is None, (k, col, b)
            else:
                assert math.isclose(a, b, rel_tol=1e-12), (k, col, a, b)


def test_pmi_collocations_hand_computed(spark):
    """Tiny corpus checked against hand-computed PMI values; ranking,
    min_count pruning and the deterministic tie-break all exercised."""
    import math

    from melodist_spark.pipeline.lm import pmi_collocations

    df = spark.createDataFrame(
        [(1, "new york new york city"), (2, "the the the")],
        "doc_id long, text string",
    )
    # unigrams: new=2 york=2 city=1 the=3 (N=8)
    # bigrams: "new york"=2 "york new"=1 "york city"=1 "the the"=2 (N=6)
    out = pmi_collocations(df, min_count=2, top_k=10).collect()
    assert [(r["w1"], r["w2"]) for r in out] == [
        ("new", "york"),
        ("the", "the"),
    ]
    exp_ny = math.log((2 / 6) / ((2 / 8) * (2 / 8)))
    exp_tt = math.log((2 / 6) / ((3 / 8) * (3 / 8)))
    assert math.isclose(out[0]["pmi"], round(exp_ny, 6), abs_tol=1e-9)
    assert math.isclose(out[1]["pmi"], round(exp_tt, 6), abs_tol=1e-9)
    assert out[0]["c12"] == 2 and out[1]["c12"] == 2


def test_pack_sequences_layout_invariants(spark):
    """Offsets tile the stream exactly; the layout is identical no
    matter how the input is partitioned or how many range buckets the
    prefix sum uses."""
    from melodist_spark.pipeline.packing import pack_sequences

    rows = [(i, "tok " * ((i % 7) + 1)) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = pack_sequences(df, seq_len=16, n_buckets=8).toPandas()
    out = out.sort_values("begin_offset").reset_index(drop=True)

    # contiguous tiling: each doc starts where the previous ended
    ends = out["begin_offset"] + out["n_tokens"]
    assert (out["begin_offset"].iloc[1:].to_numpy() == ends.iloc[:-1].to_numpy()).all()
    assert out["begin_offset"].iloc[0] == 0
    # sequence ids consistent with offsets
    assert (out["seq_first"] == out["begin_offset"] // 16).all()
    assert (out["seq_last"] == (ends - 1) // 16).all()
    assert (out["offset_in_seq"] == out["begin_offset"] % 16).all()

    # bucket-count and partitioning invariance
    alt = (
        pack_sequences(df.repartition(13), seq_len=16, n_buckets=1)
        .toPandas()
        .sort_values("begin_offset")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        out[["doc_id", "begin_offset"]], alt[["doc_id", "begin_offset"]]
    )


def test_pack_sequences_no_global_window(spark):
    """The prefix sum must not funnel the corpus through one task: no
    single-partition Exchange feeding the big window sort."""
    from melodist_spark.pipeline.packing import pack_sequences

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), F.lit("a b c").alias("text")
    )
    plan = (
        pack_sequences(df, seq_len=8, n_buckets=64)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the only SinglePartition exchange allowed is the tiny
    # bucket-offset frame (64 rows); the corpus-side window must be
    # hash-partitioned by bucket
    assert "hashpartitioning(__bucket" in plan


def test_chunk_documents_reconstruction(spark):
    from melodist_spark.pipeline.packing import chunk_tokens

    rows = [
        (1, " ".join(f"t{i}" for i in range(25))),  # 25 tokens
        (2, "a b c"),                               # shorter than a chunk
        (3, ""),                                    # no chunks
        (4, " ".join(f"u{i}" for i in range(10))),  # exact multiple
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = chunk_tokens(df, max_tokens=10, overlap=0).toPandas()

    assert set(out[out.doc_id == 3].chunk_id) == set()
    d1 = out[out.doc_id == 1].sort_values("chunk_id")
    assert list(d1.chunk_tokens) == [10, 10, 5]
    # concatenating non-overlapping chunks reconstructs the document
    assert " ".join(d1.chunk_text) == rows[0][1]
    d4 = out[out.doc_id == 4].sort_values("chunk_id")
    assert list(d4.chunk_tokens) == [10]

    # with overlap: starts advance by step, every chunk except the
    # first repeats `overlap` tokens of left context
    ov = chunk_tokens(df.filter("doc_id = 1"), max_tokens=10, overlap=3)
    d = ov.toPandas().sort_values("chunk_id")
    toks = rows[0][1].split()
    for _, r in d.iterrows():
        s = int(r.chunk_id) * 7
        assert r.chunk_text == " ".join(toks[s:s + 10])
    # full coverage of the token stream
    assert int(d.chunk_id.max()) * 7 + int(d.chunk_tokens.iloc[-1]) == 25


def test_dedup_against_incremental_index(spark):
    """Exactly-once ingest across snapshots: batch 2 drops docs whose
    digests batch 1 already indexed, and unioning the survivors'
    digests advances the index for batch 3."""
    from melodist_spark.pipeline.dedup import (
        dedup_against,
        dedup_exact,
        digest_index,
    )

    b1 = spark.createDataFrame(
        [(1, "alpha doc"), (2, "beta doc")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(10, "alpha doc"), (11, "gamma doc"), (12, "gamma doc")],
        "doc_id long, text string",
    )
    idx = digest_index(b1)
    fresh = dedup_exact(dedup_against(b2, idx))
    assert {r["doc_id"] for r in fresh.collect()} == {11}

    idx2 = idx.unionByName(digest_index(fresh)).distinct()
    b3 = spark.createDataFrame(
        [(20, "gamma doc"), (21, "delta doc")], "doc_id long, text string"
    )
    assert {r["doc_id"] for r in dedup_against(b3, idx2).collect()} == {21}


def test_repeated_spans_finds_planted_passages(spark):
    """A passage planted in several documents at different offsets is
    reported as a span with exact token bounds; unique docs report
    nothing; overlapping hits merge into one maximal span."""
    from melodist_spark.pipeline.dedup import repeated_spans

    passage = [f"p{i}" for i in range(12)]  # 12-token duplicated passage
    uniq = lambda d, n: [f"u{d}_{i}" for i in range(n)]
    rows = [
        (1, " ".join(uniq(1, 5) + passage + uniq(1, 4))),   # offset 5
        (2, " ".join(passage + uniq(2, 7))),                # offset 0
        (3, " ".join(uniq(3, 9) + passage)),                # offset 9
        (4, " ".join(uniq(4, 30))),                         # unique
        (5, "short doc"),                                   # < span
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = repeated_spans(df, span_tokens=8).toPandas()

    assert set(out[out.doc_id == 4].span_begin) == set()
    assert set(out[out.doc_id == 5].span_begin) == set()
    # the 12-token passage with 8-grams: duplicated gram starts run
    # from the passage start to start+4, merging into one span
    # [start, start+4+8) = [start, start+12) — the exact passage
    for did, begin in ((1, 5), (2, 0), (3, 9)):
        d = out[out.doc_id == did]
        assert len(d) == 1
        assert int(d.span_begin.iloc[0]) == begin
        assert int(d.span_end.iloc[0]) == begin + 12
        assert int(d.n_positions.iloc[0]) == 5


def test_repeated_spans_matches_bruteforce_reference(spark):
    """Round 10: second-implementation differential for the
    cross-document ExactSubstr operator — a dense-collision corpus
    (6-token vocabulary, 3-token spans, repeats everywhere) where the
    distributed gram-count + semi-join + window-merge pipeline must
    reproduce a brute-force Python reference span-for-span, including
    multi-span documents and within-document repeats (a gram
    occurring twice in ONE doc counts as 2 occurrences)."""
    import random

    from melodist_spark.pipeline.dedup import repeated_spans

    r = random.Random(13)
    vocab = ["a", "b", "c", "d", "e", "f"]
    span, min_occ = 3, 2
    rows = [
        (i, " ".join(r.choice(vocab) for _ in range(r.randint(0, 15))))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r2["doc_id"], r2["span_begin"], r2["span_end"], r2["n_positions"])
        for r2 in repeated_spans(
            df, span_tokens=span, min_occurrences=min_occ
        ).collect()
    }

    # brute force: corpus-wide gram counts, then per-doc interval merge
    toks = {i: t.split() for i, t in rows}
    counts: dict[tuple, int] = {}
    for ts in toks.values():
        for p in range(len(ts) - span + 1):
            g = tuple(ts[p : p + span])
            counts[g] = counts.get(g, 0) + 1
    want = set()
    for i, ts in toks.items():
        hits = [
            p
            for p in range(len(ts) - span + 1)
            if counts[tuple(ts[p : p + span])] >= min_occ
        ]
        if not hits:
            continue
        # the operator's merge rule: a hit joins the open span when it
        # starts within span_tokens of the PREVIOUS hit — overlapping
        # OR exactly abutting duplicated grams are one passage
        cur, last = [hits[0], hits[0] + span, 1], hits[0]
        for p in hits[1:]:
            if p - last <= span:
                cur[1] = p + span
                cur[2] += 1
            else:
                want.add((i, cur[0], cur[1], cur[2]))
                cur = [p, p + span, 1]
            last = p
        want.add((i, cur[0], cur[1], cur[2]))
    assert got == want
    # non-vacuity: the dense corpus produced real multi-span structure
    assert len(want) > 50
    assert any(n > 1 for (_, _, _, n) in want)


def test_remove_repeated_spans_keep_first_worked_example(spark):
    """Cross-document repeated-span REMOVAL (round 11) — a worked
    example in the style of Lee et al. 2022 (arXiv:2107.06499, the
    ExactSubstr treatment: remove the duplicated substring, keep the
    page): two pages quote the same passage; the keeper occurrence
    (minimal (id, pos)) survives verbatim, every other copy is
    excised with exact token bounds, unique pages pass untouched,
    and the audit columns reconcile. Expected cleaned texts are
    pinned as exact strings."""
    from melodist_spark.pipeline.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    passage = " ".join(f"p{i}" for i in range(12))
    rows = [
        (1, f"intro1 a b {passage} outro1 x"),       # keeper (min id)
        (2, f"{passage} tail2 y z w q r s t"),       # copy at offset 0
        (3, f"lead3 c d e f g h i {passage}"),       # copy at the end
        (4, " ".join(f"u{i}" for i in range(30))),   # unique
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r
        for r in remove_repeated_spans(df, span_tokens=8).collect()
    }
    assert out[1]["text"] == rows[0][1]              # keeper untouched
    assert out[2]["text"] == "tail2 y z w q r s t"
    assert out[3]["text"] == "lead3 c d e f g h i"
    assert out[4]["text"] == rows[3][1]
    assert out[1]["n_tokens_removed"] == 0
    assert out[2]["n_tokens_removed"] == 12
    assert out[3]["n_tokens_removed"] == 12
    assert out[4]["n_tokens_removed"] == 0
    for did, r in out.items():
        assert r["n_tokens_kept"] == len(r["text"].split())
    # the zero-residual property: detection on the cleaned corpus
    # finds nothing at the same parameters
    cleaned = spark.createDataFrame(
        [(d, r["text"]) for d, r in out.items()],
        "doc_id long, text string",
    )
    assert repeated_spans(cleaned, span_tokens=8).isEmpty()


def test_remove_repeated_spans_parity_with_detection(spark):
    """remove_all mode on the dense-collision corpus: the tokens
    removed from each document are EXACTLY the positions the
    detection op's merged spans cover (the two ops share the gram
    and merge helpers, and the span-length arithmetic must reconcile
    token-for-token), and kept+removed == the doc's token count."""
    import random

    from melodist_spark.pipeline.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    r = random.Random(13)
    vocab = ["a", "b", "c", "d", "e", "f"]
    rows = [
        (i, " ".join(r.choice(vocab) for _ in range(r.randint(0, 15))))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    det = (
        repeated_spans(df, span_tokens=3)
        .groupBy("doc_id")
        .agg(F.sum(F.col("span_end") - F.col("span_begin")).alias("cov"))
        .toPandas()
        .set_index("doc_id")["cov"]
    )
    got = remove_repeated_spans(
        df, span_tokens=3, keep_first=False, until_clean=False
    ).collect()
    for row in got:
        want = int(det.get(row["doc_id"], 0))
        assert row["n_tokens_removed"] == want, row
        assert row["n_tokens_kept"] == len(
            rows[row["doc_id"]][1].split()
        ) - want, row


def test_remove_repeated_spans_junction_fixpoint(spark):
    """Excising different duplicated passages from template-shaped
    documents junctions them onto IDENTICAL residual text — a NEW
    corpus-wide duplicate neither original carried. One round leaves
    that residual (re-detection finds it); until_clean drains it to
    the zero-residual property."""
    from melodist_spark.pipeline.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    rows = [
        (0, "S1 S2 S3"),                 # keeper copies of the spans
        (1, "T1 T2 T3"),
        (2, "a b S1 S2 S3 c d"),         # template page quoting S
        (3, "a b T1 T2 T3 c d"),         # template page quoting T
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    one = remove_repeated_spans(
        df, span_tokens=3, until_clean=False
    )
    res = spark.createDataFrame(
        [(r["doc_id"], r["text"]) for r in one.collect()],
        "doc_id long, text string",
    )
    # docs 2 and 3 both collapsed to "a b c d": a junction duplicate
    assert not repeated_spans(res, span_tokens=3).isEmpty()

    out = {
        r["doc_id"]: r
        for r in remove_repeated_spans(df, span_tokens=3).collect()
    }
    cleaned = spark.createDataFrame(
        [(d, r["text"]) for d, r in out.items()],
        "doc_id long, text string",
    )
    assert repeated_spans(cleaned, span_tokens=3).isEmpty()
    assert out[0]["text"] == "S1 S2 S3"  # keepers survive
    assert out[1]["text"] == "T1 T2 T3"
    assert out[2]["text"] == "a b c d"   # round-2 keeper of the junction
    assert out[3]["text"] == ""          # junction copy drained
    assert out[3]["n_tokens_removed"] == 7
    assert out[3]["n_tokens_kept"] == 0


def test_portable_gram_hash_matches_xxhash_path(spark):
    """The portable (md5-prefix) gram-hash family behind the
    span_removal oracle row must reproduce the production xxhash64
    path's outputs EXACTLY — same spans detected, same tokens
    excised — on the dense-collision corpus (both families are
    injective on it at their ~2^-60/2^-64 collision floors, so any
    divergence is a construction bug, not a collision)."""
    import random

    from melodist_spark.pipeline.dedup import (
        remove_repeated_spans,
        repeated_spans,
    )

    r = random.Random(41)
    vocab = ["a", "b", "c", "d", "e", "f"]
    rows = [
        (i, " ".join(r.choice(vocab) for _ in range(r.randint(0, 15))))
        for i in range(120)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for op, kw in (
        (repeated_spans, {}),
        (remove_repeated_spans, {"until_clean": False}),
    ):
        a = (
            op(df, span_tokens=3, portable=False, **kw)
            .toPandas()
            .sort_values(["doc_id"] + (["span_begin"] if op is repeated_spans else []))
            .reset_index(drop=True)
        )
        b = (
            op(df, span_tokens=3, portable=True, **kw)
            .toPandas()
            .sort_values(["doc_id"] + (["span_begin"] if op is repeated_spans else []))
            .reset_index(drop=True)
        )
        pd.testing.assert_frame_equal(a, b)
    assert len(a) == 120 and (a["n_tokens_removed"] > 0).any()


def test_remove_repeated_spans_checkpoint_dir_matches_local(spark, tmp_path):
    """Reliable-checkpoint mode (round 12, VERDICT r11 item 1): the
    span-removal fixpoint run with ``checkpoint_dir`` set — every
    round's document frame and span table truncated to alternating
    scratch parquet instead of executor-local blocks — must produce
    EXACTLY the localCheckpoint path's output on the junction corpus
    (two excision rounds, so both doc slots and both span slots are
    exercised)."""
    from melodist_spark.pipeline.dedup import remove_repeated_spans

    rows = [
        (0, "S1 S2 S3"),
        (1, "T1 T2 T3"),
        (2, "a b S1 S2 S3 c d"),
        (3, "a b T1 T2 T3 c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    want = (
        remove_repeated_spans(df, span_tokens=3)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    got = (
        remove_repeated_spans(
            df, span_tokens=3, checkpoint_dir=str(tmp_path / "ck")
        )
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    # the returned frame reads from durable parquet, not blocks
    assert (tmp_path / "ck").exists()
    assert want.loc[3, "text"] == ""  # the fixpoint really ran twice


def test_remove_repeated_spans_fixpoint_releases_round_blocks(spark):
    """ADVICE r11: a fixpoint round's localCheckpoint blocks must be
    released once the NEXT round materializes — executor storage holds
    at most the live round, not one corpus copy per round. The
    junction corpus runs two excision rounds + the clean probe; after
    the call only the FINAL frame's blocks (plus the empty last span
    table) may remain of the new persisted RDDs."""
    from melodist_spark.pipeline.dedup import remove_repeated_spans

    sc = spark.sparkContext._jsc.sc()

    def persisted_ids():
        return {i.id() for i in sc.getRDDStorageInfo()}

    rows = [
        (0, "S1 S2 S3"),
        (1, "T1 T2 T3"),
        (2, "a b S1 S2 S3 c d"),
        (3, "a b T1 T2 T3 c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    before = persisted_ids()
    out = remove_repeated_spans(df, span_tokens=3)
    new = persisted_ids() - before
    # live after the fixpoint: the final docs frame + the final
    # (empty) span table — the two prior rounds' docs and span
    # checkpoints (4 RDDs) must have been unpersisted
    assert len(new) <= 2, new
    # the released blocks must not have been load-bearing
    assert out.count() == 4


def test_remove_repeated_spans_max_rounds_validated_unconditionally(spark):
    """ADVICE r11: max_rounds=0 must be a ValueError in BOTH modes —
    previously single-round mode fell through to a misleading
    'did not converge in 0 rounds' RuntimeError."""
    import pytest

    from melodist_spark.pipeline.dedup import remove_repeated_spans

    df = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    for kw in ({"until_clean": False}, {"until_clean": True}):
        with pytest.raises(ValueError, match="max_rounds"):
            remove_repeated_spans(df, span_tokens=3, max_rounds=0, **kw)


def test_minhash_index_shingle_metadata_guard(spark, tmp_path):
    """Round-12 extension of the index-metadata family: `shingle` is
    the one MinHash parameter no column shape can reveal — signatures
    of different widths share the bigint space, so a mismatch between
    a stored minhash_index and a later neardup_against call estimates
    noise instead of Jaccard. The signature builders now stamp
    family/num_hashes/shingle as schema metadata (parquet
    round-tripped) and neardup_against refuses a mismatch or a
    metadata-less frame; stamp_minhash_index restores acceptance for
    asserted-provenance frames."""
    import pytest

    from melodist_spark.pipeline.dedup import (
        minhash_index,
        neardup_against,
        stamp_minhash_index,
    )

    docs = spark.createDataFrame(
        [(i, "alpha beta gamma delta epsilon zeta eta theta") for i in range(4)],
        "doc_id long, text string",
    )
    idx = minhash_index(docs, num_hashes=8, shingle=3)
    path = str(tmp_path / "mh_idx")
    idx.write.parquet(path)
    stored = spark.read.parquet(path)
    m = dict(stored.schema["sig_0"].metadata)
    assert m["num_hashes"] == 8 and m["shingle"] == 3

    batch = spark.createDataFrame(
        [(9, "alpha beta gamma delta epsilon zeta eta theta")],
        "doc_id long, text string",
    )
    # shingle mismatch (stored 3-gram, call claims unigram)
    with pytest.raises(ValueError, match="shingle"):
        neardup_against(batch, stored, num_hashes=8, shingle=None)
    # width mismatch
    with pytest.raises(ValueError, match="num_hashes"):
        neardup_against(batch, stored, num_hashes=4, band_size=2, shingle=3)
    # batch_sig is validated too
    with pytest.raises(ValueError, match="batch_sig"):
        from melodist_spark.pipeline.dedup import minhash_signature

        neardup_against(
            batch, stored, num_hashes=8, shingle=3,
            batch_sig=minhash_signature(batch, num_hashes=8, shingle=2),
        )
    # the matching call drops the exact re-ingest
    assert neardup_against(batch, stored, num_hashes=8, shingle=3).count() == 0

    # metadata-less frame refused with the stamp pointer; stamping
    # restores acceptance
    bare = spark.createDataFrame(
        stored.toPandas(),
        "doc_id long, " + ", ".join(f"sig_{i} long" for i in range(8)),
    )
    with pytest.raises(ValueError, match="stamp_minhash_index"):
        neardup_against(batch, bare, num_hashes=8, shingle=3)
    restamped = stamp_minhash_index(bare, num_hashes=8, shingle=3)
    assert neardup_against(batch, restamped, num_hashes=8, shingle=3).count() == 0


def test_embedding_index_planes_metadata_guard(spark, tmp_path):
    """VERDICT r11 item 2 (second half of the r10 advisor finding):
    ``num_planes`` is now recoverable from the index frame — schema
    metadata stamped by embedding_index, parquet-round-tripped — and
    a planes mismatch raises instead of silently missing duplicates.
    Metadata-less frames are refused with a stamp_embedding_index
    pointer, and stamping restores acceptance."""
    import pytest

    from melodist_spark.pipeline.similarity import (
        embedding_index,
        embedding_neardup_against,
        stamp_embedding_index,
    )

    dim = 8
    rows = [(i, [float((i >> b) & 1) for b in range(dim)]) for i in range(12)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    idx = embedding_index(corpus, dim, num_planes=4, num_tables=2)
    path = str(tmp_path / "emb_idx")
    idx.write.parquet(path)
    stored = spark.read.parquet(path)
    m = dict(stored.schema["bucket_0"].metadata)
    assert m["num_planes"] == 4 and m["num_tables"] == 2

    # vec_id 0 is the all-zeros vector — cosine NULL by design, so it
    # can never re-check as a duplicate; exclude it from the re-ingest
    batch = corpus.filter("vec_id >= 1").limit(3)
    with pytest.raises(ValueError, match="num_planes"):
        embedding_neardup_against(
            batch, stored, dim, num_planes=6, num_tables=2
        )
    # matching parameters pass the guard and drop the exact re-ingest
    surv = embedding_neardup_against(
        batch, stored, dim, num_planes=4, num_tables=2
    )
    assert surv.count() == 0

    # metadata-less frame (schema rebuilt by an external writer) is
    # refused, stamp restores — strip the metadata via a bare schema
    from pyspark.sql.types import StructField, StructType

    clean = StructType(
        [StructField(f.name, f.dataType, f.nullable) for f in stored.schema]
    )
    bare = spark.createDataFrame(stored.toPandas(), clean)
    assert dict(bare.schema["bucket_0"].metadata or {}) == {}
    with pytest.raises(ValueError, match="stamp_embedding_index"):
        embedding_neardup_against(
            batch, bare, dim, num_planes=4, num_tables=2
        )
    restamped = stamp_embedding_index(bare, num_planes=4, num_tables=2)
    assert embedding_neardup_against(
        batch, restamped, dim, num_planes=4, num_tables=2
    ).count() == 0


def test_unigram_em_matches_brute_enumeration():
    """The forward-backward lattice must equal brute-force
    enumeration over ALL segmentations — expected piece counts and
    total log-likelihood — on a word small enough to enumerate."""
    import math

    from melodist_spark.pipeline.unigram import _forward_backward

    logp = {
        "a": math.log(0.3), "b": math.log(0.2), "c": math.log(0.1),
        "ab": math.log(0.25), "bc": math.log(0.1), "abc": math.log(0.05),
    }
    word = "abcab"
    # brute force: every composition of the word into vocab pieces
    def segs(w):
        if not w:
            yield []
            return
        for k in range(1, len(w) + 1):
            if w[:k] in logp:
                for rest in segs(w[k:]):
                    yield [w[:k]] + rest

    probs = []
    for s in segs(word):
        probs.append((s, math.exp(sum(logp[p] for p in s))))
    z_brute = sum(p for _, p in probs)
    exp_brute = {}
    for s, p in probs:
        for piece in s:
            exp_brute[piece] = exp_brute.get(piece, 0.0) + p / z_brute
    exp, z = _forward_backward(word, logp, max_len=8)
    assert abs(z - math.log(z_brute)) < 1e-10
    assert set(exp) == set(exp_brute)
    for piece in exp_brute:
        assert abs(exp[piece] - exp_brute[piece]) < 1e-10, piece


def test_unigram_viterbi_matches_brute_enumeration():
    """Viterbi segmentation equals argmax over enumerated
    segmentations on random short words, including the longer-last-
    piece tie-break and the single-char unknown fallback."""
    import math
    import random

    from melodist_spark.pipeline.unigram import UNK_LOGP, viterbi_segment

    r = random.Random(5)
    alphabet = "ab"
    pieces = ["a", "b", "aa", "ab", "ba", "bb", "aab", "abab"]
    logp = {
        p: math.log(w / 100.0)
        for p, w in zip(pieces, (20, 18, 15, 14, 12, 11, 6, 4))
    }

    def brute(w):
        best_s, best_score = None, -math.inf
        def segs(rest):
            if not rest:
                yield []
                return
            for k in range(1, len(rest) + 1):
                head = rest[:k]
                if head in logp or k == 1:
                    for tail in segs(rest[k:]):
                        yield [head] + tail
        for s in segs(w):
            score = sum(logp.get(p, UNK_LOGP) for p in s)
            # mirror the documented tie-break: prefer the
            # lexicographically-applied longer-last-piece choice —
            # enumerate in the order Viterbi resolves and keep strict >
            if score > best_score + 1e-12:
                best_score, best_s = score, s
        return best_s, best_score

    for _ in range(60):
        w = "".join(r.choice(alphabet) for _ in range(r.randint(1, 8)))
        got = viterbi_segment(w, logp)
        _, want_score = brute(w)
        got_score = sum(logp.get(p, UNK_LOGP) for p in got)
        assert "".join(got) == w
        assert abs(got_score - want_score) < 1e-9, (w, got)

    # unknown character passes through as its own piece
    got = viterbi_segment("axb", logp)
    assert "".join(got) == "axb" and "x" in got


def test_unigram_train_and_tokenize_end_to_end(spark):
    """End-to-end unigram training: a corpus dominated by a few
    multi-char morphemes learns them as pieces, tokenization
    round-trips losslessly, the model is partitioning-invariant, and
    the encode plan is one shuffle-free mapInPandas pass."""
    import pytest

    from melodist_spark.pipeline.unigram import (
        unigram_tokenize,
        unigram_train,
    )

    words = (["lowlow"] * 30 + ["lowest"] * 20 + ["newest"] * 25
             + ["newlow"] * 15 + ["west"] * 10)
    corpus = " ".join(words)
    train_df = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    # max_piece_len=4 keeps 6-char whole words out of the inventory,
    # so the model must discover the shared morphemes (with longer
    # pieces allowed it correctly learns whole words instead — the
    # MLE solution when the vocab budget covers them)
    model = unigram_train(
        train_df, vocab_size=12, min_count=1, seed_size=200, max_piece_len=4
    )
    assert len(model) <= 12
    assert "low" in model and "est" in model
    # probabilities normalize
    import math
    assert abs(sum(math.exp(lp) for lp in model.values()) - 1.0) < 1e-9

    # partitioning invariance
    rows = [(i, w) for i, w in enumerate(words)]
    df2 = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    model2 = unigram_train(
        df2, vocab_size=12, min_count=1, seed_size=200, max_piece_len=4
    )
    assert model2 == model

    # encode: lossless round-trip, per-word caching semantics, null/empty
    df = spark.createDataFrame(
        [(1, "lowest newlow unseen"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["unigram_tokens"]
           for r in unigram_tokenize(df, model, max_piece_len=4).collect()}
    assert out[2] == [] and out[3] is None
    # every word reconstructs exactly (unknown chars pass through)
    flat = out[1]
    assert "".join(flat) == "lowestnewlowunseen"
    assert "low" in flat

    # plan: one mapInPandas, no exchange
    plan = (
        unigram_tokenize(df, model)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "MapInPandas" in plan
    assert "Exchange" not in plan

    # a vocab below the alphabet cannot keep words segmentable
    with pytest.raises(ValueError, match="alphabet"):
        unigram_train(train_df, vocab_size=2, min_count=1)

    # persistable model artifact round-trips exactly
    from melodist_spark.pipeline.unigram import pieces_to_df

    pdf = pieces_to_df(spark, model)
    reloaded = {r["piece"]: r["logp"] for r in pdf.collect()}
    assert reloaded == model


def test_bpe_train_classic_merges(spark):
    """Sennrich et al.'s worked example (low/lower/newest/widest):
    the first five merges are hand-derivable, including the
    deterministic lexicographic tie-break among the three count-9
    pairs."""
    from melodist_spark.pipeline.bpe import bpe_train

    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    df = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    merges = bpe_train(df, num_merges=5)
    assert merges == [
        ("e", "s"),
        ("es", "t"),
        ("est", "</w>"),
        ("l", "o"),
        ("lo", "w"),
    ]
    # partitioning invariance: same corpus split across rows/partitions
    rows = [(i, w) for i, w in enumerate(corpus.split())]
    df2 = spark.createDataFrame(rows, "doc_id long, text string").repartition(7)
    assert bpe_train(df2, num_merges=5) == merges


def test_bpe_tokenize_greedy_and_roundtrip(spark):
    from melodist_spark.pipeline.bpe import bpe_tokenize, bpe_train

    corpus = " ".join(
        ["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3
    )
    train = spark.createDataFrame([(1, corpus)], "doc_id long, text string")
    merges = bpe_train(train, num_merges=10)
    df = spark.createDataFrame(
        [(1, "lowest newest"), (2, ""), (3, None)],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["bpe_tokens"]
        for r in bpe_tokenize(df, merges).collect()
    }
    # "lowest" is out-of-vocabulary: greedy lowest-rank merging yields
    # the learned subwords low + est</w>; "newest" was fully merged
    assert out[1] == ["low", "est</w>", "newest</w>"]
    assert out[2] == []
    assert out[3] is None
    # lossless: stripping </w> and joining reconstructs the words
    joined = "".join(out[1]).replace("</w>", " ").strip()
    assert joined == "lowest newest"


def test_bpe_zero_merges_is_chars(spark):
    from melodist_spark.pipeline.bpe import bpe_tokenize

    df = spark.createDataFrame([(1, "ab c")], "doc_id long, text string")
    out = bpe_tokenize(df, []).collect()[0]["bpe_tokens"]
    assert out == ["a", "b", "</w>", "c", "</w>"]


def test_pq_encode_compression_and_invariance(spark):
    """PQ codes are m bytes per vector and identical regardless of
    input partitioning (deterministic sample + argmin tie-breaks)."""
    from melodist_spark.pipeline.similarity import (
        pq_encode,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(21)
    vecs = rng.standard_normal((120, 16)).astype(np.float32)
    pdf = pd.DataFrame(
        {"vec_id": range(120), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    books = train_pq_codebooks(df, dim=16, m=4, ksub=8, sample=64)
    assert books.shape == (4, 8, 4)
    a = pq_encode(df, books).toPandas().set_index("vec_id")["pq_code"]
    b = (
        pq_encode(df.repartition(13), books)
        .toPandas()
        .set_index("vec_id")["pq_code"]
    )
    assert (a.str.len() == 4).all()
    for i in a.index:
        assert a[i] == b[i]


def test_pq_topk_recovers_twins(spark):
    """ADC scoring over PQ codes must recover the noisy-twin nearest
    neighbours that exact cosine finds (high-recall regime: clustered
    data, 16 sub-centroids per 4-dim subspace)."""
    from melodist_spark.pipeline.similarity import (
        brute_force_topk,
        pq_topk,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(31)
    base = rng.standard_normal((25, 16)).astype(np.float32)
    noisy = base + 0.01 * rng.standard_normal((25, 16)).astype(np.float32)
    vecs = np.vstack([base, noisy])
    pdf = pd.DataFrame(
        {"vec_id": range(50), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("vec_id") < 5)
    books = train_pq_codebooks(df, dim=16, m=4, ksub=16, sample=50)
    got = pq_topk(df, queries, books, k=1).toPandas()
    exact = brute_force_topk(df, queries, k=1).toPandas()
    assert (exact.set_index("query_id")["neighbor_id"]
            == exact["query_id"].values + 25).all()
    hits = (
        got.set_index("query_id")["neighbor_id"] == got["query_id"].values + 25
    ).mean()
    assert hits >= 0.8
    # no self matches, ranks well-formed
    assert (got["query_id"] != got["neighbor_id"]).all()
    assert set(got["rank"]) == {1}


def test_ivf_pq_topk_prunes_and_recovers(spark):
    """IVF-PQ: cell pruning + compressed ADC scoring still recovers
    the noisy twins when the probe covers their cell; results agree
    with plain pq_topk when every cell is probed."""
    from melodist_spark.pipeline.similarity import (
        ivf_pq_topk,
        pq_topk,
        train_kmeans_centroids,
        train_pq_codebooks,
    )

    rng = np.random.default_rng(41)
    base = rng.standard_normal((30, 16)).astype(np.float32)
    noisy = base + 0.01 * rng.standard_normal((30, 16)).astype(np.float32)
    vecs = np.vstack([base, noisy])
    pdf = pd.DataFrame(
        {"vec_id": range(60), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    queries = df.filter(F.col("vec_id") < 5)
    cents = train_kmeans_centroids(df, k=4, dim=16)
    books = train_pq_codebooks(df, dim=16, m=4, ksub=16, sample=60)

    got = ivf_pq_topk(df, queries, cents, books, k=1, n_probe=2).toPandas()
    hits = (
        got.set_index("query_id")["neighbor_id"] == got["query_id"].values + 30
    ).mean()
    assert hits >= 0.8  # twin shares the query's cell by construction

    # probing all cells == plain PQ (same scores, same ranking)
    full = ivf_pq_topk(df, queries, cents, books, k=3, n_probe=4).toPandas()
    plain = pq_topk(df, queries, books, k=3).toPandas()
    a = full.sort_values(["query_id", "rank"]).reset_index(drop=True)
    b = plain.sort_values(["query_id", "rank"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(
        a[["query_id", "neighbor_id", "rank"]],
        b[["query_id", "neighbor_id", "rank"]],
    )


def test_pq_ivfpq_fused_matches_public_ops(spark):
    """Round 14: pq_ivfpq_topk emits both PQ deployment shapes from
    ONE scored scan (codes, cells and the per-query ADC gathers
    computed once per batch). It must be BIT-identical — scores to
    the last ulp, identical neighbor sets and ranks — to running
    pq_topk and ivf_pq_topk side by side, on both the pinned-model
    registry inputs and a fresh-trained synthetic corpus."""
    import __spark_entry__ as entry
    from melodist_spark.pipeline.pinned import IVF_CENTROIDS, PQ_CODEBOOKS
    from melodist_spark.pipeline.similarity import (
        ivf_pq_topk,
        pq_ivfpq_topk,
        pq_topk,
        train_kmeans_centroids,
        train_pq_codebooks,
    )

    def pair(emb, queries, cents, books, k, n_probe):
        pq = pq_topk(emb, queries, books, k=k).toPandas()
        iv = ivf_pq_topk(
            emb, queries, cents, books, k=k, n_probe=n_probe
        ).toPandas()
        pq.insert(0, "method", "pq")
        iv.insert(0, "method", "ivfpq")
        return pd.concat([pq, iv], ignore_index=True)

    def norm(pdf):
        return (
            pdf[["method", "query_id", "neighbor_id", "pq_score", "rank"]]
            .astype({"rank": "int64"})
            .sort_values(["method", "query_id", "rank"])
            .reset_index(drop=True)
        )

    # registry inputs (pinned models, real embeddings parquet)
    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 8)
    fused = pq_ivfpq_topk(
        emb, queries, IVF_CENTROIDS, PQ_CODEBOOKS, k=5, n_probe=2
    ).toPandas()
    want = pair(emb, queries, IVF_CENTROIDS, PQ_CODEBOOKS, 5, 2)
    pd.testing.assert_frame_equal(norm(fused), norm(want))
    assert len(fused) > 0
    # ... and the registry row's pq/ivfpq branches ride the fused op
    # (rounded scores)
    got = (
        entry.queries()["ann_topk"](spark, sf_dir)
        .filter(F.col("method").isin("pq", "ivfpq"))
        .withColumnRenamed("score", "pq_score")
        .toPandas()
    )
    want_r = norm(want)
    want_r["pq_score"] = want_r["pq_score"].round(6)
    pd.testing.assert_frame_equal(
        norm(got), want_r, check_dtype=False
    )

    # fresh-trained models on a clustered synthetic corpus (twin
    # structure exercises real top-k ties and multi-cell probes)
    rng = np.random.default_rng(53)
    base = rng.standard_normal((40, 16)).astype(np.float32)
    noisy = base + 0.01 * rng.standard_normal((40, 16)).astype(np.float32)
    vecs = np.vstack([base, noisy])
    pdf = pd.DataFrame(
        {"vec_id": range(80), "embedding": [v.tolist() for v in vecs]}
    )
    df = spark.createDataFrame(pdf)
    q2 = df.filter(F.col("vec_id") < 6)
    cents = train_kmeans_centroids(df, k=4, dim=16)
    books = train_pq_codebooks(df, dim=16, m=4, ksub=16, sample=80)
    fused2 = pq_ivfpq_topk(df, q2, cents, books, k=3, n_probe=2).toPandas()
    want2 = pair(df, q2, cents, books, 3, 2)
    pd.testing.assert_frame_equal(norm(fused2), norm(want2))

    # empty query set: well-formed empty frame with the method column
    empty = pq_ivfpq_topk(
        df.limit(0), df.filter(F.col("vec_id") < 0), cents, books
    )
    assert empty.columns == [
        "method", "query_id", "neighbor_id", "pq_score", "rank"
    ]
    assert empty.count() == 0


def test_logreg_matches_numpy_reference(spark):
    """The distributed IRLS trainer must reproduce the textbook numpy
    IRLS step for step (same standardization, same ridge): weights
    agree to float tolerance, and scoring is a pure expression."""
    from melodist_spark.pipeline.classifier import (
        logreg_score,
        logreg_train,
        logreg_train_local,
    )

    rng = np.random.default_rng(17)
    n = 2000
    x1 = rng.standard_normal(n)
    x2 = rng.standard_normal(n) * 3.0 + 1.0
    logit = 1.5 * x1 - 0.8 * (x2 - 1.0) / 3.0 + 0.3
    y = (rng.random(n) < 1 / (1 + np.exp(-logit))).astype(float)
    pdf = pd.DataFrame({"f1": x1, "f2": x2, "label": y})
    df = spark.createDataFrame(pdf).repartition(8)

    model = logreg_train(df, ["f1", "f2"], "label", iters=6)
    ref = logreg_train_local(
        np.column_stack([x1, x2]), y, iters=6
    )
    got = np.concatenate([[model["intercept"]], model["weights"]])
    assert np.allclose(got, ref, rtol=1e-6, atol=1e-8), (got, ref)

    scored = logreg_score(df, model).toPandas()
    assert scored["quality_score"].between(0, 1).all()
    # separable signal recovered: score orders by true logit
    acc = ((scored["quality_score"] > 0.5) == (scored["label"] > 0.5)).mean()
    assert acc > 0.7

    # scoring path is UDF-free (pure codegen expression)
    plan = logreg_score(df, model)._jdf.queryExecution().toString()
    assert "Python" not in plan


def test_logreg_on_quality_features(spark):
    """End-to-end: train a keep-classifier on quality_features
    signals; a clean doc outranks a junk doc."""
    from melodist_spark.pipeline.classifier import (
        logreg_score,
        logreg_train,
    )
    from melodist_spark.pipeline.text import quality_features

    rows = []
    for i in range(40):
        rows.append((i, "the quick brown fox jumps over a lazy dog near the river bank " * 3, 1.0))
    for i in range(40, 80):
        rows.append((i, "!!!! @@@@ #### %%%% " * 10, 0.0))
    df = spark.createDataFrame(rows, "doc_id long, text string, label double")
    feats = quality_features(df).na.fill(0.0)
    cols = ["n_tokens", "mean_word_len", "stopword_ratio", "punct_ratio"]
    model = logreg_train(feats, cols, "label", iters=6)
    scored = logreg_score(feats, model).toPandas().set_index("doc_id")
    assert scored.loc[0, "quality_score"] > 0.9
    assert scored.loc[40, "quality_score"] < 0.1


def test_importance_resample_steers_to_target(spark):
    """DSIR resampling must oversample documents that look like the
    target domain, deterministically across partitionings."""
    from melodist_spark.pipeline.sampling import importance_resample

    sci = "the experiment measured the reaction rate of the compound"
    web = "click here to buy cheap deals now best price online shop"
    rows = []
    for i in range(100):
        rows.append((i, sci if i % 2 == 0 else web))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    target = spark.createDataFrame(
        [(1000 + i, sci) for i in range(20)], "doc_id long, text string"
    )
    got = importance_resample(df, target, n=30, min_count=1).toPandas()
    assert len(got) == 30
    sci_frac = (got["doc_id"] % 2 == 0).mean()
    assert sci_frac > 0.9  # target-like docs dominate the draw

    alt = importance_resample(
        df.repartition(7), target, n=30, min_count=1
    ).toPandas()
    assert set(alt["doc_id"]) == set(got["doc_id"])  # deterministic
    assert {"log_importance", "gumbel_key"} <= set(got.columns)


def test_lm_broadcast_trigram_hand_model(spark):
    """order=3 checked against a hand-computed additively-smoothed
    trigram model (prefix = bigram counts, V = distinct unigrams)."""
    import math

    from melodist_spark.pipeline.lm import lm_cross_entropy_broadcast

    df = spark.createDataFrame(
        [(1, "a b c a b c"), (2, "a b")], "doc_id long, text string"
    )
    # trigrams: "a b c"=2, "b c a"=1, "c a b"=1; bigram prefixes:
    # "a b"=3, "b c"=2, "c a"=1; V = 3 (a, b, c); alpha=0.4
    p_abc = (2 + 0.4) / (3 + 0.4 * 3)
    p_bca = (1 + 0.4) / (2 + 0.4 * 3)
    p_cab = (1 + 0.4) / (1 + 0.4 * 3)
    h1 = -(2 * math.log(p_abc) + math.log(p_bca) + math.log(p_cab)) / 4
    out = {
        r["doc_id"]: r
        for r in lm_cross_entropy_broadcast(df, order=3).collect()
    }
    assert out[1]["n_bigrams"] == 4  # n-gram instances at order 3
    assert math.isclose(out[1]["cross_entropy"], h1, rel_tol=1e-12)
    assert out[2]["cross_entropy"] is None  # < 3 tokens, no trigram


def test_logreg_separable_data_stays_bounded(spark):
    """Round-6 guard (ADVICE): on linearly separable data the
    logistic MLE does not exist — undamped Newton grows the weights
    every iteration until exp() saturates. The trust-region clip
    bounds each step at max_step in standardized L2, so even a large
    user-set iters leaves finite weights and (0,1)-interior scores,
    and the distributed trainer still matches the numpy reference
    with the same guards."""
    from melodist_spark.pipeline.classifier import (
        logreg_score,
        logreg_train,
        logreg_train_local,
    )

    n = 400
    x = np.concatenate([np.linspace(-3, -1, n // 2), np.linspace(1, 3, n // 2)])
    y = (x > 0).astype(float)  # perfectly separable on one feature
    df = spark.createDataFrame(
        pd.DataFrame({"f1": x, "label": y})
    ).repartition(4)

    model = logreg_train(df, ["f1"], "label", iters=25)
    ref = logreg_train_local(x.reshape(-1, 1), y, iters=25)
    got = np.concatenate([[model["intercept"]], model["weights"]])
    assert np.allclose(got, ref, rtol=1e-6, atol=1e-8), (got, ref)
    # bounded by iters * max_step, far from exp() saturation (~709)
    assert np.abs(got).max() <= 25 * 10.0
    assert np.isfinite(got).all()
    scored = logreg_score(df, model).toPandas()
    assert scored["quality_score"].between(0.0, 1.0).all()
    assert np.isfinite(scored["quality_score"]).all()
    # still the right separator, maximally confident
    assert (scored.loc[scored["label"] == 1, "quality_score"] > 0.99).all()
    assert (scored.loc[scored["label"] == 0, "quality_score"] < 0.01).all()


def _encode_word_by_rank_order(word, merges):
    """Second, independent BPE encoder for differential testing: walk
    the merge table IN TRAINING ORDER and merge every occurrence of
    each pair (the reference-implementation shape in Sennrich's
    apply_bpe / HF tokenizers), instead of the library's repeated
    lowest-rank-pair scan. For tables learned by bpe_train the two
    must produce identical tokenizations."""
    from melodist_spark.pipeline.bpe import END_OF_WORD, _merge_word

    syms = list(word) + [END_OF_WORD]
    for pair in merges:
        if len(syms) == 1:
            break
        syms = _merge_word(syms, pair)
    return syms


def test_bpe_encode_differential_vs_rank_order(spark):
    """Differential test (round-6 VERDICT item): the greedy encoder
    against an independent in-rank-order implementation, over merge
    tables trained on three differently-shaped corpora, applied to
    in-vocabulary, out-of-vocabulary, and degenerate words."""
    from melodist_spark.pipeline.bpe import (
        _encode_word,
        bpe_train,
    )

    corpora = [
        " ".join(["low"] * 5 + ["lower"] * 2 + ["newest"] * 6 + ["widest"] * 3),
        "the cat sat on the mat the cat ran the dog sat " * 4,
        "aaaa aaab abab banana bandana ana ana nana " * 3,
    ]
    probes = [
        "low", "lowest", "newest", "wide", "thematic", "banana",
        "aaaaaaa", "x", "", "catsat", "anabanana",
    ]
    for corpus in corpora:
        df = spark.createDataFrame(
            [(i, w) for i, w in enumerate(corpus.split())],
            "doc_id long, text string",
        )
        merges = bpe_train(df, num_merges=30, min_count=1)
        rank = {pair: i for i, pair in enumerate(merges)}
        for w in probes:
            greedy = _encode_word(w, rank)
            by_rank = _encode_word_by_rank_order(w, merges)
            assert greedy == by_rank, (w, greedy, by_rank)


def test_bpe_unicode_whitespace_tokenizer_parity(spark):
    """Round-6 ADVICE fix: training splits words with the JVM regex
    \\s+ (ASCII-only [ \\t\\n\\x0b\\f\\r]), so the encoder must NOT
    split on Unicode whitespace (U+00A0 etc.) the way str.split()
    does — a word containing a no-break space is ONE training word
    and must be ONE encoding unit."""
    from melodist_spark.pipeline.bpe import bpe_tokenize, bpe_train, word_counts

    text = "alpha beta alpha beta alpha beta plain plain"
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    words = {r["word"]: r["n"] for r in word_counts(df).collect()}
    assert words == {"alpha beta": 3, "plain": 2}

    merges = bpe_train(df, num_merges=50, min_count=1)
    out = bpe_tokenize(df, merges).collect()[0]["bpe_tokens"]
    # the trained table fully merges both training words, so encoding
    # must reproduce them exactly — including the U+00A0 inside
    assert out == ["alpha beta</w>"] * 3 + ["plain</w>"] * 2


def test_pinned_models_match_fresh_training(spark):
    """Round-6 train/apply split: the registry's apply-only rows
    (pq_topk, quality_classifier) score with the pinned literals in
    pipeline/pinned.py, and the correctness gate hash-checks the
    apply arithmetic against DuckDB. This test pins the TRAIN side:
    re-running each trainer on the same sf0.001 inputs must
    reproduce the generated literals, so a trainer change that
    shifts the learned models fails here instead of silently
    invalidating the pinned deployment model."""
    from melodist_spark.pipeline.classifier import logreg_train
    from melodist_spark.pipeline.pinned import (
        IVF_CENTROIDS,
        LOGREG_MODEL,
        PQ_CODEBOOKS,
    )
    from melodist_spark.pipeline.similarity import (
        train_kmeans_centroids,
        train_pq_codebooks,
    )
    from melodist_spark.pipeline.text import quality_features

    sf_dir = "/root/testdata/sf0.001"
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    books = train_pq_codebooks(emb, dim=64, m=8, ksub=32)
    cents = train_kmeans_centroids(emb, k=8, dim=64)
    assert np.allclose(books, PQ_CODEBOOKS, rtol=0, atol=1e-12)
    assert np.allclose(cents, IVF_CENTROIDS, rtol=0, atol=1e-12)

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    feats = quality_features(docs).na.fill(0.0).withColumn(
        "label", (F.col("lang") == "en").cast("double")
    )
    model = logreg_train(
        feats, LOGREG_MODEL["feature_cols"], "label", iters=6
    )
    # distributed float aggregation: partition-order rounding only
    assert np.allclose(model["mu"], LOGREG_MODEL["mu"], atol=1e-9)
    assert np.allclose(model["sd"], LOGREG_MODEL["sd"], atol=1e-9)
    assert np.allclose(model["weights"], LOGREG_MODEL["weights"], atol=1e-7)
    assert abs(model["intercept"] - LOGREG_MODEL["intercept"]) < 1e-7

    # round 11: the global Bristow-Campbell (A, C) fit — the input
    # frame uses exact decimal sums (bit-stable under partition
    # order) and the fit sums each group's days in date order, so
    # re-fitting reproduces the pinned literals exactly
    from melodist_spark.operators.radiation import fit_bristow_campbell_params
    from melodist_spark.pipeline.pinned import BC_FITTED
    from tools.gen_pinned import bc_fit_input

    bc = fit_bristow_campbell_params(
        bc_fit_input(spark, sf_dir), keys=["g"]
    ).collect()[0]
    assert bc["a"] == pytest.approx(BC_FITTED["a"], rel=0, abs=1e-12)
    assert bc["c"] == pytest.approx(BC_FITTED["c"], rel=0, abs=1e-12)

    # round 11: the tokenizer models behind tokenize_apply — both
    # trainers are partitioning-independent by contract (sorted word
    # tables, deterministic tie-breaks), so equality is EXACT
    from melodist_spark.pipeline.bpe import bpe_train
    from melodist_spark.pipeline.pinned import BPE_MERGES, UNIGRAM_PIECES
    from melodist_spark.pipeline.unigram import unigram_train

    assert bpe_train(docs, num_merges=200, min_count=2) == [
        tuple(m) for m in BPE_MERGES
    ]
    assert unigram_train(docs, vocab_size=400, min_count=2) == dict(
        UNIGRAM_PIECES
    )


def test_neardup_against_incremental_index(spark):
    """Incremental near-dup vs the ~128 B/doc signature index: a new
    batch drops exact and near copies of INDEXED docs (without the
    historical texts existing anywhere), keeps novel docs and mere
    topical cousins, and the advanced index catches the same
    near-dup arriving again in a later batch."""
    from melodist_spark.pipeline.dedup import minhash_index, neardup_against

    base = (
        "the quick brown fox jumps over the lazy dog near the old river "
        "bank while morning fog rolls across the quiet meadow grass"
    )
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different text about spark query engines "
                        "and distributed shuffle exchange planning strategies")],
        "doc_id long, text string",
    )
    idx = minhash_index(corpus)
    assert set(idx.columns) == {"doc_id"} | {f"sig_{i}" for i in range(16)}

    batch = spark.createDataFrame(
        [
            (10, base),                                   # exact copy
            (11, base.replace("morning", "evening")),     # near copy
            (12, "entirely novel document text that resembles nothing "
                 "stored in the historical index at all whatsoever"),
            (13, "the quick brown fox appears here too but the rest of "
                 "this document goes somewhere else entirely different"),
        ],
        "doc_id long, text string",
    )
    kept = neardup_against(batch, idx, threshold=0.5)
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 10 not in ids and 11 not in ids  # copies dropped
    assert 12 in ids and 13 in ids          # novel + cousin kept

    # advance the state with the survivors; a re-arrival of 13's
    # near copy is now caught by the UPDATED index
    idx2 = idx.unionByName(minhash_index(kept))
    batch2 = spark.createDataFrame(
        [(20, batch.collect()[3]["text"].replace("entirely", "utterly"))],
        "doc_id long, text string",
    )
    kept2 = neardup_against(batch2, idx2, threshold=0.5)
    assert kept2.count() == 0

    # determinism under partitioning
    ids_b = {
        r["doc_id"]
        for r in neardup_against(batch.repartition(7), idx, threshold=0.5)
        .select("doc_id").collect()
    }
    assert ids_b == ids


def test_fix_text_encoding_repair(spark):
    """fix_text vs ground truth: mojibake is GENERATED by really
    mis-decoding UTF-8 bytes as sloppy cp1252 (the independent
    direction — the repair table never sees this code path), then the
    repaired text must equal the original. Plus ASCII identity,
    whitespace/control normalization, and idempotence."""
    from melodist_spark.pipeline.text import (
        DROP_CHARS,
        SPACE_CHARS,
        _MOJIBAKE_CHARS,
        fix_text,
    )

    def corrupt(s: str) -> str:
        out = []
        for b in s.encode("utf-8"):
            if b < 0x80:
                out.append(chr(b))
            else:
                try:
                    out.append(bytes([b]).decode("cp1252"))
                except UnicodeDecodeError:
                    out.append(chr(b))
        return "".join(out)

    originals = [
        "it\u2019s a \u201cquoted\u201d caf\u00e9 \u2014 na\u00efve r\u00e9sum\u00e9\u2026",
        "\u00ab50\u00b0\u00bb \u20ac9 \u2022 Gro\u00dfe STRA\u00dcE",
        "every repairable char: " + "".join(
            c for c in _MOJIBAKE_CHARS
            if c not in SPACE_CHARS and c not in DROP_CHARS
        ),
    ]
    cases = [(corrupt(s), s) for s in originals] + [
        ("plain ascii, untouched.", "plain ascii, untouched."),
        ("tab\tlf\ncr\r kept", "tab\tlf\ncr\r kept"),
        ("a\u00a0b\u2003c\u3000d", "a b c d"),          # exotic spaces
        ("x\u200by\ufeffz\x01\x7fw", "xyzw"),           # zero-width + control drops
    ]
    df = spark.createDataFrame([(m,) for m, _ in cases], ["t"])
    got = [r[0] for r in df.select(fix_text(F.col("t"))).collect()]
    for (moji, want), g in zip(cases, got):
        assert g == want, (repr(moji), repr(g), repr(want))

    # idempotence: repaired text passes through unchanged
    df2 = spark.createDataFrame([(g,) for g in got], ["t"])
    again = [r[0] for r in df2.select(fix_text(F.col("t"))).collect()]
    assert again == got


def test_fix_text_double_mojibake_passes(spark):
    """The repair table is closed under composition: text corrupted by
    TWO encode/decode round trips repairs with passes=2 (and the
    second pass is a no-op on singly-corrupted or clean text)."""
    from melodist_spark.pipeline.text import fix_text

    def corrupt(s: str) -> str:
        out = []
        for b in s.encode("utf-8"):
            if b < 0x80:
                out.append(chr(b))
            else:
                try:
                    out.append(bytes([b]).decode("cp1252"))
                except UnicodeDecodeError:
                    out.append(chr(b))
        return "".join(out)

    originals = [
        "it\u2019s a \u201cquoted\u201d caf\u00e9 \u2014 na\u00efve\u2026",
        "\u00bc + \u00bd = \u00be \u00d7 1 \u00f7 1 \u2022 \u20ac5",
        "already clean ascii",
    ]
    cases = [(corrupt(corrupt(s)), s) for s in originals]
    df = spark.createDataFrame([(m,) for m, _ in cases], ["t"])
    got = [r[0] for r in df.select(fix_text(F.col("t"), passes=2)).collect()]
    for (moji2, want), g in zip(cases, got):
        assert g == want, (repr(moji2), repr(g), repr(want))


def test_detect_script(spark):
    """Script-range detection: per-script counts and the argmax with
    the documented tie rule; literal-char classes behave the same on
    mixed-script text."""
    from melodist_spark.pipeline.text import detect_script

    rows = [
        (1, "Привет мир"),                  # cyrillic
        (2, "你好世界"),                      # cjk
        (3, "こんにちは"),                    # kana
        (4, "안녕하세요"),                    # hangul
        (5, "مرحبا بالعالم"),               # arabic
        (6, "plain english text"),          # latin
        (7, "mixed Привет text here"),      # latin chars outnumber cyrillic
        (8, "1234 !!! ???"),                # no script at all
        (9, None),
    ]
    df = spark.createDataFrame(rows, ["id", "t"])
    out = {
        r["id"]: r for r in detect_script(df, "t").collect()
    }
    assert out[1]["script_pred"] == "cyrillic" and out[1]["n_cyrillic"] == 9
    assert out[2]["script_pred"] == "cjk" and out[2]["n_cjk"] == 4
    assert out[3]["script_pred"] == "kana"
    assert out[4]["script_pred"] == "hangul"
    assert out[5]["script_pred"] == "arabic"
    assert out[6]["script_pred"] == "latin"
    assert out[7]["script_pred"] == "latin" and out[7]["n_cyrillic"] == 6
    assert out[8]["script_pred"] == "und"
    assert out[9]["script_pred"] == "und"


def test_chunk_documents(spark):
    """Chunk reconstruction properties: concatenating chunks with the
    overlap removed reproduces the document exactly; offsets are
    exact; short docs yield one chunk; empty/NULL docs yield none."""
    import random

    from melodist_spark.pipeline.text import chunk_chars

    rng = random.Random(7)
    docs = [
        (1, "".join(rng.choice("abcdef ") for _ in range(1237))),
        (2, "short"),
        (3, "x" * 512),           # exactly one window
        (4, "y" * 513),           # one full + one 1-char tail
        (5, ""),
        (6, None),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = chunk_chars(df, size=512, overlap=64)
    rows = sorted(
        ((r["doc_id"], r["chunk_idx"], r["char_start"], r["chunk"])
         for r in out.collect())
    )
    by_doc = {}
    for d, i, s, c in rows:
        by_doc.setdefault(d, []).append((i, s, c))

    assert set(by_doc) == {1, 2, 3, 4}
    assert len(by_doc[2]) == 1 and by_doc[2][0] == (0, 0, "short")
    assert len(by_doc[3]) == 1
    assert len(by_doc[4]) == 2 and by_doc[4][1] == (1, 448, "y" * 65)

    text1 = docs[0][1]
    chunks1 = by_doc[1]
    # offsets exact + every byte covered: reconstruct by stripping
    # each subsequent chunk's 64-char overlap
    rebuilt = chunks1[0][2] + "".join(c[64:] for _, _, c in chunks1[1:])
    assert rebuilt == text1
    for i, s, c in chunks1:
        assert s == i * 448
        assert text1[s : s + len(c)] == c
        assert len(c) == 512 or (i == len(chunks1) - 1 and len(c) >= 1)
    # no window starts past the end; the ceil((len-overlap)/stride)
    # count guarantees every window carries >overlap NEW characters,
    # so no chunk is a pure duplicate of its predecessor's tail
    assert chunks1[-1][1] < len(text1)
    assert all(len(c) > 64 for _, _, c in chunks1[1:])


def test_weighted_mixture_epochs_and_fractions(spark):
    """Round 9: deterministic mixture construction — a small source
    whose target exceeds its size repeats across full epochs plus a
    hash-drawn partial epoch; achieved counts are exact on full
    epochs and binomial-tight on the partial; the draw is immune to
    partitioning; and an undrawn doc emits NO row (the sequence(1,0)
    descending-array trap)."""
    import math

    from melodist_spark.pipeline.mixing import mixture_audit, weighted_mixture

    def src(name, n):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit(f"{name}-"), F.col("id")).alias("text"),
        )

    sources = {"web": src("web", 1000), "books": src("books", 200),
               "wiki": src("wiki", 500)}
    weights = {"web": 0.5, "books": 0.2, "wiki": 0.3}
    mix = weighted_mixture(sources, weights, n_total=2000, seed=7)
    rows = mix.groupBy("source").agg(
        F.count("*").alias("n"), F.max("epoch").alias("max_ep")
    ).collect()
    got = {r["source"]: r for r in rows}

    # web: target 1000 = exactly 1 epoch of 1000 docs
    assert got["web"]["n"] == 1000 and got["web"]["max_ep"] == 0
    # books: target 400 = 2 full epochs of 200 (frac = 0)
    assert got["books"]["n"] == 400 and got["books"]["max_ep"] == 1
    # wiki: target 600 = 1 full epoch + binomial(500, 0.2) partial
    n_wiki = got["wiki"]["n"]
    sigma = math.sqrt(500 * 0.2 * 0.8)
    assert abs(n_wiki - 600) <= 5 * sigma, n_wiki
    assert got["wiki"]["max_ep"] == 1

    # deterministic + layout-immune: same (source, doc_id, epoch)
    # multiset after an adversarial repartition
    a = sorted(map(tuple, mix.select("source", "doc_id", "epoch").collect()))
    re_sources = {k: v.repartition(7) for k, v in sources.items()}
    b = sorted(map(tuple, weighted_mixture(
        re_sources, weights, n_total=2000, seed=7
    ).select("source", "doc_id", "epoch").collect()))
    assert a == b
    # a different seed draws a different partial epoch
    c = weighted_mixture(sources, weights, n_total=2000, seed=8)
    wiki_a = {r["doc_id"] for r in mix.filter(
        "source = 'wiki' and epoch = 1").collect()}
    wiki_c = {r["doc_id"] for r in c.filter(
        "source = 'wiki' and epoch = 1").collect()}
    assert wiki_a != wiki_c

    # audit fractions approximate the weights
    audit = {r["source"]: r for r in mixture_audit(mix).collect()}
    for name, w in weights.items():
        assert abs(audit[name]["fraction"] - w) < 0.02, name

    # downsampling: target below size draws a strict hash subset,
    # every doc at most once
    small = weighted_mixture(
        {"web": sources["web"]}, {"web": 1.0}, n_total=300, seed=1
    )
    n_small = small.count()
    sigma = math.sqrt(1000 * 0.3 * 0.7)
    assert abs(n_small - 300) <= 5 * sigma
    assert small.groupBy("doc_id").count().filter("count > 1").count() == 0

    # plan: narrow fan-out only — no exchange, no Python
    plan = mix._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_weighted_mixture_validation(spark):
    from melodist_spark.pipeline.mixing import weighted_mixture

    df = spark.range(5).select(F.col("id").alias("doc_id"))
    import pytest

    with pytest.raises(ValueError, match="same keys"):
        weighted_mixture({"a": df}, {"b": 1.0}, 10)
    with pytest.raises(ValueError, match="non-negative"):
        weighted_mixture({"a": df}, {"a": -1.0}, 10)
    with pytest.raises(ValueError, match="positive"):
        weighted_mixture({"a": df}, {"a": 0.0}, 10)


def test_temperature_weights_limits_and_composition(spark):
    """The mT5/XLM-R sampling law: alpha=1 is proportional-to-size,
    alpha->0 approaches uniform, intermediate alphas upsample small
    sources monotonically; the output plugs straight into
    weighted_mixture."""
    import pytest

    from melodist_spark.pipeline.mixing import (
        mixture_audit,
        temperature_weights,
        weighted_mixture,
    )

    sizes = {"wiki": 100, "web": 1_000_000, "books": 10_000}
    total = sum(sizes.values())
    prop = temperature_weights(sizes, alpha=1.0)
    for name, n in sizes.items():
        assert abs(prop[name] - n / total) < 1e-12
    near_uniform = temperature_weights(sizes, alpha=1e-9)
    for w in near_uniform.values():
        assert abs(w - 1 / 3) < 1e-6
    # monotone: lowering alpha raises the smallest source's share
    shares = [
        temperature_weights(sizes, a)["wiki"] for a in (1.0, 0.7, 0.3, 0.1)
    ]
    assert shares == sorted(shares)
    assert abs(sum(temperature_weights(sizes, 0.3).values()) - 1.0) < 1e-12
    with pytest.raises(ValueError, match="alpha"):
        temperature_weights(sizes, alpha=-0.1)
    with pytest.raises(ValueError, match="empty"):
        temperature_weights({})
    with pytest.raises(ValueError, match="empty"):
        temperature_weights({"a": 0})
    # composition: the weights drive a real draw whose audited shares
    # sit near the temperature targets (small-n binomial tolerance)
    srcs = {
        name: spark.range(n).select(F.col("id").alias("doc_id"))
        for name, n in (("wiki", 40), ("web", 4000), ("books", 400))
    }
    sz = {k: (40 if k == "wiki" else 4000 if k == "web" else 400) for k in srcs}
    w = temperature_weights(sz, alpha=0.3)
    mix = weighted_mixture(srcs, w, n_total=4000, sizes=sz)
    audit = {
        r["source"]: r
        for r in mixture_audit(mix, weights=w).collect()
    }
    assert set(audit) == set(srcs)
    for name in srcs:
        assert abs(audit[name]["rel_error"]) < 0.15
    # the law actually upsampled: wiki's share far exceeds its
    # proportional-to-size 40/4440 ~ 0.9%
    assert audit["wiki"]["fraction"] > 0.1


def test_weighted_mixture_streaming_compose(spark, tmp_path):
    """Round 10: with catalog sizes the mixture is filters + narrow
    explode + union — streaming-safe, so mixture construction runs
    AT INGEST; the availableNow draw equals the batch draw as a
    multiset (determinism in (seed, source, id))."""
    from melodist_spark.pipeline.mixing import weighted_mixture

    docs = spark.range(600).select(F.col("id").alias("doc_id"))
    g = F.pmod("doc_id", 2)
    weights = {"a": 0.7, "b": 0.3}
    sizes = {"a": 300, "b": 300}

    def mix_of(frame):
        return weighted_mixture(
            {"a": frame.filter(g == 0), "b": frame.filter(g == 1)},
            weights,
            n_total=900,
            sizes=sizes,
            seed=9,
        )

    src = str(tmp_path / "mix_src")
    docs.write.parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        mix_of(stream)
        .writeStream.format("memory")
        .queryName("mix_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(
            tuple,
            spark.sql(
                "SELECT doc_id, source, epoch FROM mix_stream"
            ).collect(),
        )
    )
    want = sorted(
        map(tuple, mix_of(docs).select("doc_id", "source", "epoch").collect())
    )
    assert got == want and len(got) > 700  # ~900 target


def test_mixture_audit_target_comparison(spark):
    """Round 10: mixture_audit(weights=...) adds target_fraction +
    rel_error — tight on a well-specified mixture, a loud full-row
    signal (n_docs=0, rel_error=-1) for a requested source that
    contributed nothing, and null rel_error for a zero-weight
    source."""
    from melodist_spark.pipeline.mixing import mixture_audit, weighted_mixture

    def src(name, n):
        return spark.range(n).select(F.col("id").alias("doc_id"))

    sources = {"a": src("a", 900), "b": src("b", 300)}
    weights = {"a": 0.75, "b": 0.25}
    mix = weighted_mixture(sources, weights, n_total=1200, seed=5)
    audit = {r["source"]: r for r in mixture_audit(mix, weights).collect()}
    for name in weights:
        assert abs(audit[name]["rel_error"]) < 0.05, audit[name]
        assert abs(
            audit[name]["target_fraction"] - weights[name]
        ) < 1e-12
    # un-normalized weights normalize identically
    audit2 = {
        r["source"]: r
        for r in mixture_audit(mix, {"a": 3.0, "b": 1.0}).collect()
    }
    assert abs(audit2["a"]["target_fraction"] - 0.75) < 1e-12

    # a requested source that contributed nothing is a LOUD row
    ghost = {
        r["source"]: r
        for r in mixture_audit(mix, {"a": 0.75, "b": 0.25, "c": 0.5}).collect()
    }
    assert ghost["c"]["n_docs"] == 0 and ghost["c"]["fraction"] == 0.0
    assert abs(ghost["c"]["rel_error"] - (-1.0)) < 1e-12
    # zero-weight source: rel_error is null, not a division blow-up
    z = {
        r["source"]: r
        for r in mixture_audit(mix, {"a": 1.0, "b": 0.0}).collect()
    }
    assert z["b"]["rel_error"] is None

    import pytest

    with pytest.raises(ValueError, match="positive"):
        mixture_audit(mix, {"a": 0.0})


def test_weighted_mixture_token_budget(spark):
    """Round 10: TOKEN-weighted mixture (how Pile/Llama tables are
    specified) — pass per-source TOKEN totals as ``sizes`` and a
    token budget as ``n_total``; the unit-agnostic arithmetic gives
    exact full-epoch token counts and an expectation-tight partial
    epoch even when per-doc lengths vary wildly."""
    import math

    from melodist_spark.pipeline.mixing import weighted_mixture

    rng_mod = 37
    def src(name, n, base):
        # doc i carries (base + i % rng_mod) tokens — lengths vary 1x-4x
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            (F.lit(base) + F.col("id") % rng_mod).alias("n_tokens"),
        )

    n_web, n_books = 2000, 300
    web = src("web", n_web, 20)
    books = src("books", n_books, 60)
    tok = {
        "web": sum(20 + i % rng_mod for i in range(n_web)),
        "books": sum(60 + i % rng_mod for i in range(n_books)),
    }
    budget = int(1.2 * tok["web"])  # books' share forces >1 epoch
    weights = {"web": 0.6, "books": 0.4}
    mix = weighted_mixture(
        {"web": web, "books": books},
        weights,
        n_total=budget,
        sizes=tok,
        seed=3,
    )
    got = {
        r["source"]: r
        for r in mix.groupBy("source")
        .agg(F.sum("n_tokens").alias("t"), F.max("epoch").alias("max_ep"))
        .collect()
    }
    for name in weights:
        target = weights[name] * budget
        S = tok[name]
        full = math.floor(target / S)
        frac = (target - full * S) / S
        # full epochs contribute exactly full * S tokens; the partial
        # epoch is a per-doc Bernoulli(frac) sum of token counts —
        # bound by 5 sigma of the token-weighted draw
        n_docs = n_web if name == "web" else n_books
        mean_sq = (S / n_docs) ** 2 * 1.4  # loose second-moment bound
        sigma = math.sqrt(n_docs * frac * (1 - frac) * mean_sq)
        assert abs(got[name]["t"] - target) <= 5 * sigma + 1, (
            name, got[name]["t"], target)
        assert got[name]["max_ep"] == full  # partial epoch drawn
    # books really did exceed one full epoch under its token share
    assert got["books"]["max_ep"] >= 1


def test_remove_repeated_spans_chains_on_own_output(spark):
    """Chained curation re-runs the remover on its own output: the
    audit columns are per-invocation, so the second pass must
    REPLACE them (not duplicate the names — duplicate columns poison
    every downstream reference) and, the corpus already being clean,
    must remove nothing and leave every text unchanged."""
    from melodist_spark.pipeline.dedup import remove_repeated_spans

    passage = " ".join(f"p{i}" for i in range(12))
    rows = [
        (1, f"intro a b {passage} outro x"),
        (2, f"{passage} tail y z w q r s t"),
        (3, " ".join(f"u{i}" for i in range(30))),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    once = remove_repeated_spans(df, span_tokens=8)
    twice = remove_repeated_spans(once, span_tokens=8)
    assert twice.columns.count("n_tokens_removed") == 1
    assert twice.columns.count("n_tokens_kept") == 1
    a = {r["doc_id"]: r for r in once.collect()}
    b = {r["doc_id"]: r for r in twice.collect()}
    for did in a:
        assert b[did]["text"] == a[did]["text"]
        assert b[did]["n_tokens_removed"] == 0
        assert b[did]["n_tokens_kept"] == a[did]["n_tokens_kept"]


def test_remove_repeated_spans_resume_after_crash(spark, tmp_path):
    """Driver-loss resume (round 13, VERDICT r12 item 2): run the
    junction fixpoint with ``checkpoint_dir`` but ``max_rounds=1`` so
    it dies AFTER round 1's docs slot + manifest are durable (the
    RuntimeError stands in for a dead driver), then re-invoke with
    ``resume=True`` from a fresh DataFrame handle — the output must be
    identical to the uninterrupted run's, and the resumed run must
    start from the manifest's round (one replayed detection), not
    round 0. A second ``resume=True`` call hits the ``done`` manifest
    and returns without recomputing the fixpoint."""
    from melodist_spark.pipeline.dedup import remove_repeated_spans

    rows = [
        (0, "S1 S2 S3"),
        (1, "T1 T2 T3"),
        (2, "a b S1 S2 S3 c d"),
        (3, "a b T1 T2 T3 c d"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(span_tokens=3)
    want = (
        remove_repeated_spans(
            df, checkpoint_dir=str(tmp_path / "full"), **kw
        ).toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    assert want.loc[3, "text"] == ""  # the fixpoint needs two rounds

    ck = str(tmp_path / "crash")
    with pytest.raises(RuntimeError, match="did not converge"):
        remove_repeated_spans(
            df, checkpoint_dir=ck, max_rounds=1, **kw
        ).collect()
    # round 1 committed durably before the "crash"
    assert (tmp_path / "crash" / "docs_1").exists()

    # torn-manifest robustness: scribble garbage over one manifest
    # slot (a write the crash interrupted); resume picks the partner
    import pathlib

    m0 = tmp_path / "crash" / "manifest_0"
    for f in pathlib.Path(m0).glob("*.txt"):
        f.write_text("{ not json")

    got = (
        remove_repeated_spans(df, checkpoint_dir=ck, resume=True, **kw)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)

    # done-manifest short circuit: the resumed result again, without
    # re-running detection (it reads the final docs slot directly)
    again = (
        remove_repeated_spans(df, checkpoint_dir=ck, resume=True, **kw)
        .toPandas().sort_values("doc_id").reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(again, want)


def test_remove_repeated_spans_resume_validates(spark, tmp_path):
    """Resume refuses foreign or mismatched state: a different
    span_tokens (or keeper policy) against the recorded manifest
    raises instead of silently mixing two computations, and
    resume=True without checkpoint_dir (or with until_clean=False) is
    rejected up front."""
    from melodist_spark.pipeline.dedup import remove_repeated_spans

    df = spark.createDataFrame(
        [(0, "x y z"), (1, "a x y z b")], "doc_id long, text string"
    )
    ck = str(tmp_path / "ck")
    remove_repeated_spans(df, span_tokens=3, checkpoint_dir=ck).collect()
    with pytest.raises(ValueError, match="parameter mismatch"):
        remove_repeated_spans(
            df, span_tokens=4, checkpoint_dir=ck, resume=True
        )
    with pytest.raises(ValueError, match="parameter mismatch"):
        remove_repeated_spans(
            df, span_tokens=3, keep_first=False, checkpoint_dir=ck,
            resume=True,
        )
    with pytest.raises(ValueError, match="resume=True requires"):
        remove_repeated_spans(df, span_tokens=3, resume=True)
    with pytest.raises(ValueError, match="resume=True requires"):
        remove_repeated_spans(
            df, span_tokens=3, checkpoint_dir=ck, until_clean=False,
            resume=True,
        )


def test_duplicate_clusters_resume_after_partial_run(spark, tmp_path):
    """CC driver-loss resume: a 40-node chain needs several
    hash-to-min rounds; a run capped at max_iter=2 (the stand-in for
    a dead driver — its manifests and label slots are durable) resumed
    with the full budget must produce the uninterrupted run's labels,
    reading the edge list back from the directory's sym slot rather
    than re-symmetrizing the caller's pairs. A converged run's done
    manifest resumes to the final labels directly, and a manifest from
    another operator is refused."""
    import warnings

    from melodist_spark.pipeline.dedup import duplicate_clusters

    n = 40
    pairs = spark.range(n - 1).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    kw = dict(driver_edges=0)  # force the distributed rounds
    full = sorted(
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(
            pairs, checkpoint_dir=str(tmp_path / "full"), **kw
        ).collect()
    )
    assert all(c == 0 for _, c in full)  # one chain, min id 0

    ck = str(tmp_path / "crash")
    with warnings.catch_warnings():
        warnings.simplefilter("ignore", RuntimeWarning)
        duplicate_clusters(
            pairs, checkpoint_dir=ck, max_iter=2, **kw
        ).collect()
    resumed = sorted(
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(
            pairs, checkpoint_dir=ck, resume=True, **kw
        ).collect()
    )
    assert resumed == full
    done = sorted(
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(
            pairs, checkpoint_dir=ck, resume=True, **kw
        ).collect()
    )
    assert done == full

    # foreign-state refusal: a span-removal manifest in the directory
    from melodist_spark.pipeline.dedup import remove_repeated_spans

    ck2 = str(tmp_path / "foreign")
    remove_repeated_spans(
        spark.createDataFrame(
            [(0, "x y z"), (1, "a x y z b")], "doc_id long, text string"
        ),
        span_tokens=3,
        checkpoint_dir=ck2,
    ).collect()
    with pytest.raises(ValueError, match="another operator"):
        duplicate_clusters(pairs, checkpoint_dir=ck2, resume=True, **kw)
    with pytest.raises(ValueError, match="resume=True requires"):
        duplicate_clusters(pairs, resume=True, **kw)


def test_q_span_removal_branches_match_public_op(spark):
    """The registry row's shared-gram-scan restructure (round 13,
    VERDICT r12 item 3) composes the single/removeall branches from
    the private span kernels around ONE method-tagged hit plan — this
    pins both branches row-identical to the public
    remove_repeated_spans outputs they bypass (keep-first over the
    full corpus; remove-all over the doc_id%5 slice)."""
    import os
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entry

    from melodist_spark.pipeline.dedup import remove_repeated_spans

    sf_dir = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "text"
    )
    q = entry.q_span_removal(spark, sf_dir)

    def shaped(df, m):
        return df.select(
            F.lit(m).alias("method"),
            "doc_id",
            "n_tokens_removed",
            "n_tokens_kept",
            F.md5("text").alias("clean_md5"),
        )

    def snap(df):
        return sorted(tuple(r) for r in df.collect())

    pub_single = remove_repeated_spans(
        docs, span_tokens=6, until_clean=False, portable=True
    )
    assert snap(q.filter(F.col("method") == "single")) == snap(
        shaped(pub_single, "single")
    )
    pub_removeall = remove_repeated_spans(
        docs.filter(F.col("doc_id") % 5 == 0),
        span_tokens=6, until_clean=False, portable=True, keep_first=False,
    )
    assert snap(q.filter(F.col("method") == "removeall")) == snap(
        shaped(pub_removeall, "removeall")
    )


def test_cc_fast_path_invalidates_stale_manifests(spark, tmp_path):
    """Round-13 review finding: the driver union-find fast path wrote
    no manifests, so a directory reused after a distributed run kept
    the OLD run's manifests and resume=True silently returned the old
    labels. Entry markers now invalidate both slots before any state
    write; resume after a fast-path run starts fresh and labels the
    NEW pairs."""
    from melodist_spark.pipeline.dedup import duplicate_clusters

    ck = str(tmp_path / "reuse")
    # run A: distributed (driver_edges=0) on a 0..9 chain -> labels 0
    pa = spark.range(9).select(
        F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b")
    )
    duplicate_clusters(pa, checkpoint_dir=ck, driver_edges=0).collect()
    # run B: DIFFERENT pairs, fast path (default driver_edges), same dir
    pb = spark.createDataFrame(
        [(100, 101), (101, 102), (200, 201)], ["id_a", "id_b"]
    )
    fast = sorted(
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(pb, checkpoint_dir=ck).collect()
    )
    assert fast == [
        (100, 100), (101, 100), (102, 100), (200, 200), (201, 200)
    ]
    # resume=True must NOT return run A's labels — the fast-path run
    # invalidated them; it re-labels run B's pairs
    resumed = sorted(
        (r["id"], r["cluster_id"])
        for r in duplicate_clusters(
            pb, checkpoint_dir=ck, resume=True
        ).collect()
    )
    assert resumed == fast


def test_pagerank_fast_path_invalidates_stale_manifests(spark, tmp_path):
    """Same hole for pagerank's driver_below fast path: entry markers
    invalidate a previous run's cut manifests before the fast path
    returns, so resume=True afterwards recomputes the new graph
    instead of resuming the old one's cuts."""
    from melodist_spark.pipeline.graph import pagerank

    ck = str(tmp_path / "reuse")
    g1 = spark.createDataFrame(
        [(i, (i + 1) % 12) for i in range(12)], ["src", "dst"]
    )
    pagerank(g1, n_iter=4, checkpoint_dir=ck).collect()
    # g2: same node count (12) and damping as g1, so the parameter
    # check alone cannot tell them apart — the entry markers must
    g2 = spark.createDataFrame(
        [(i, (i * 5 + 1) % 12) for i in range(12)], ["src", "dst"]
    )
    fast = {
        r["node"]: r["pagerank"]
        for r in pagerank(
            g2, n_iter=4, driver_below=100, checkpoint_dir=ck
        ).collect()
    }
    resumed = {
        r["node"]: r["pagerank"]
        for r in pagerank(
            g2, n_iter=4, driver_below=100, checkpoint_dir=ck,
            resume=True,
        ).collect()
    }
    # near-equality: the fresh resume may take either path; both are
    # pinned to the same math (driver-vs-distributed differential)
    assert set(resumed) == set(fast)
    assert all(abs(resumed[n] - fast[n]) < 1e-9 for n in fast)


def test_unigram_blank_docs_are_signatureless(spark):
    """Round-13 finding: split(trim(text), '\\s+') on blank or
    whitespace-only text yields [''] — so in the DEFAULT unigram path
    every blank doc in a corpus shared the singleton {''} token set:
    one real signature, one LSH bucket, a quadratic candidate clique
    at crawl scale. The round-12 all-NULL-band fix only covered
    shingle >= 2 (slice clamp). The only-phantom guard makes blank
    docs signature-less in the unigram path too — while docs with any
    real token keep the phantom element, so their signatures (and the
    committed oracle hashes) are unchanged. JVM and Arrow kernels
    stay bit-identical across the edges."""
    from melodist_spark.pipeline.dedup import (
        lsh_bands,
        minhash_index,
        minhash_signature,
        minhash_signature_arrow,
        neardup_against,
    )

    docs = spark.createDataFrame(
        [(0, ""), (1, "   "), (2, "\t"), (3, " \n \t "), (4, "\ta b"),
         (5, "a b"), (6, None), (7, "one")],
        "doc_id long, text string",
    )
    j = minhash_signature(docs, num_hashes=4).orderBy("doc_id").collect()
    a = minhash_signature_arrow(docs, num_hashes=4).orderBy("doc_id").collect()
    for rj, ra in zip(j, a):
        assert tuple(rj) == tuple(ra)
    for i in (0, 1, 2, 3, 6):  # blank variants + NULL: signature-less
        assert all(j[i][f"sig_{s}"] is None for s in range(4))
    for i in (4, 5, 7):  # any real token: a real signature
        assert all(j[i][f"sig_{s}"] is not None for s in range(4))
    # signature-less docs emit no bands -> no blank-clique candidates
    bands = lsh_bands(
        minhash_signature(docs, num_hashes=4), num_hashes=4, band_size=2
    )
    assert bands.filter(F.col("doc_id").isin(0, 1, 2, 3, 6)).count() == 0
    # and near-dup retains every blank doc (exact dedup collapses
    # byte-identical blanks in front — the documented discipline)
    state = minhash_index(
        spark.createDataFrame([(100, "x y z")], "doc_id long, text string"),
        num_hashes=16,
    )
    surv = neardup_against(
        docs.filter(F.col("text").isNotNull()), state,
        num_hashes=16, band_size=4, threshold=0.8,
    )
    assert sorted(r["doc_id"] for r in surv.collect()) == [0, 1, 2, 3, 4, 5, 7]


def test_stateless_decontaminate_blank_docs_ngram1_parity(spark):
    """The stateless Arrow flag mirrors the joined path's only-phantom
    guard: at ngram=1 a blank doc probes nothing (it previously
    probed md5('') and could be flagged by a blank benchmark row)."""
    from melodist_spark.pipeline.decontamination import (
        benchmark_gram_array,
        decontaminate,
        decontaminate_stateless,
    )

    bench = spark.createDataFrame(
        [(0, "alpha"), (1, "   ")], ["doc_id", "text"]
    )
    docs = spark.createDataFrame(
        [(0, ""), (1, " \t "), (2, "alpha beta"), (3, "clean text")],
        ["doc_id", "text"],
    )
    joined = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate(docs, bench, ngram=1).collect()
    }
    grams = benchmark_gram_array(bench, ngram=1)
    stateless = {
        r["doc_id"]: r["contaminated"]
        for r in decontaminate_stateless(
            docs, grams, ngram=1, keep_payload=True
        ).collect()
    }
    # the joined audit only reports docs that HAVE grams (explode
    # drops gram-less docs — the documented sub-ngram contract);
    # blank docs now fall in that class at ngram=1 too
    assert joined == {2: True, 3: False}
    # stateless keep_payload covers every doc and marks the gram-less
    # blanks clean — it no longer probes md5('') for them
    assert stateless == {0: False, 1: False, 2: True, 3: False}


def test_degenerate_vectors_bucket_to_null(spark):
    """Round-13 finding (the embedding twin of the blank-doc minhash
    clique): a zero-norm or NaN-poisoned vector projects to
    no-positive-sign on EVERY hyperplane, so all such vectors shared
    bucket 0 in every table — a quadratic candidate clique whose
    pairs the cosine re-check then NULLs out (pure wasted join work
    at crawl scale). All three bucket producers now emit NULL for
    zero / non-finite / null vectors: no candidates, near-dup retains
    them, expr and Arrow forms stay identical."""
    from melodist_spark.pipeline.similarity import (
        embedding_index,
        embedding_neardup_against,
        lsh_bucket_signature,
        lsh_bucket_udf,
        neardup_pairs,
    )

    rows = [
        (0, [0.0] * 4), (1, [0.0] * 4),
        (2, [float("nan"), 1.0, 0.0, 0.0]),
        (3, None), (4, [float("inf"), 0.0, 0.0, 0.0]),
        (10, [1.0, 0.0, 0.0, 0.0]), (11, [1.0, 0.001, 0.0, 0.0]),
        (12, [0.0, 1.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = df.select(
        "vec_id",
        lsh_bucket_udf(4, 4)(F.col("embedding")).alias("bu"),
        lsh_bucket_signature(F.col("embedding"), 4, 4).alias("be"),
    ).orderBy("vec_id").collect()
    for r in got:
        assert r["bu"] == r["be"]  # Arrow == expression, incl. NULLs
    assert [r["bu"] is None for r in got] == [
        True, True, True, True, True, False, False, False,
    ]
    idx = embedding_index(df, dim=4, num_planes=4, num_tables=2)
    for r in idx.collect():
        assert (r["bucket_0"] is None) == (r["vec_id"] <= 4)
        assert (r["bucket_1"] is None) == (r["vec_id"] <= 4)
    # self-join: only the true near pair; no degenerate clique pairs
    pairs = neardup_pairs(df, dim=4, threshold=0.99, num_planes=4)
    assert sorted((r["id_a"], r["id_b"]) for r in pairs.collect()) == [
        (10, 11)
    ]
    # against a store that itself holds degenerate vectors: the batch
    # degenerates are all retained (exact dedup upstream owns them)
    surv = embedding_neardup_against(
        df.filter(F.col("vec_id") < 10),
        idx.filter(F.col("vec_id") >= 10),
        4, threshold=0.99, num_planes=4, num_tables=2,
    )
    assert sorted(r["vec_id"] for r in surv.collect()) == [0, 1, 2, 3, 4]


def test_lm_model_injection_matches_self_training(spark):
    """Round 13: both scoring paths accept a pretrained
    (bigram_counts, unigram_counts) pair via model= and must return
    exactly what self-training returns — the injection point exists
    so one trained model can feed several deployment paths (the
    doc_perplexity registry row trains once and scores twice)."""
    from melodist_spark.pipeline.lm import (
        bigram_lm,
        lm_cross_entropy,
        lm_cross_entropy_broadcast,
    )

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat"),
        (2, "dogs chase the cat"),
        (3, "zq xw vv zq xw"),
        (4, "one"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    model = bigram_lm(docs, "text", min_count=1)

    def snap(df):
        return sorted(
            (
                r["doc_id"],
                r["n_bigrams"],
                None
                if r["cross_entropy"] is None
                else round(r["cross_entropy"], 9),
            )
            for r in df.select(
                "doc_id", "n_bigrams", "cross_entropy"
            ).collect()
        )

    assert snap(lm_cross_entropy(docs, alpha=0.4, model=model)) == snap(
        lm_cross_entropy(docs, alpha=0.4)
    )
    assert snap(
        lm_cross_entropy_broadcast(docs, alpha=0.4, model=model)
    ) == snap(lm_cross_entropy_broadcast(docs, alpha=0.4))
    # join path == broadcast path under the same injected model
    assert snap(lm_cross_entropy(docs, alpha=0.4, model=model)) == snap(
        lm_cross_entropy_broadcast(docs, alpha=0.4, model=model)
    )

    import pytest as _pytest

    with _pytest.raises(ValueError, match="order=2"):
        lm_cross_entropy_broadcast(docs, order=3, model=model)


def test_lm_broadcast_multi_matches_chained_singles(spark):
    """Round 13: the fused multi-model scorer (one tokenize+hash pass,
    N sorted-table lookups) must return BIT-identical cross-entropies
    to separate single-model broadcast passes — it replaces the DSIR
    sampler's two chained scorers, whose output feeds the hash-checked
    doc_sample registry row."""
    from melodist_spark.pipeline.lm import (
        lm_cross_entropy_broadcast,
        lm_cross_entropy_broadcast_multi,
    )

    rows = [
        (0, "the cat sat on the mat"),
        (1, "the cat sat"),
        (2, "dogs chase the cat"),
        (3, "zq xw vv zq xw"),
        (4, "one"),
        (5, ""),
        (6, None),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    target = docs.filter("doc_id < 3")

    for order in (2, 3):
        fused = {
            r["doc_id"]: (r["n_bigrams"], r["cross_entropy__t"], r["cross_entropy__r"])
            for r in lm_cross_entropy_broadcast_multi(
                docs, trains=[target, docs], suffixes=["__t", "__r"],
                alpha=0.4, min_count=1, order=order,
            ).collect()
        }
        under_t = {
            r["doc_id"]: (r["n_bigrams"], r["cross_entropy"])
            for r in lm_cross_entropy_broadcast(
                docs, train_df=target, alpha=0.4, min_count=1, order=order
            ).collect()
        }
        under_r = {
            r["doc_id"]: r["cross_entropy"]
            for r in lm_cross_entropy_broadcast(
                docs, alpha=0.4, min_count=1, order=order
            ).collect()
        }
        assert fused == {
            k: (nb, ht, under_r[k]) for k, (nb, ht) in under_t.items()
        }

    import pytest as _pytest

    with _pytest.raises(ValueError, match="equal length"):
        lm_cross_entropy_broadcast_multi(docs, trains=[docs], suffixes=["a", "b"])
    with _pytest.raises(ValueError, match="distinct"):
        lm_cross_entropy_broadcast_multi(
            docs, trains=[docs, target], suffixes=["a", "a"]
        )
