"""Dedup operator semantics: planted near-duplicates must surface; unrelated
documents must not."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.dedup import (
    embedding_near_dup_pairs,
    minhash_lsh_pairs,
    minhash_signature,
    shingle_hashes,
    shingles,
    simhash_pairs,
    simhash64,
    tokens_sql,
    tokens,
)

BASE = ("the quick brown fox jumps over the lazy dog and then runs far "
        "away into the deep green forest to find some tasty food")
NEAR = BASE.replace("tasty", "fresh")          # one-token change
OTHER = ("completely different content about spark query engines and "
         "distributed shuffle execution plans with columnar storage")


def _docs(spark):
    rows = [(1, BASE), (2, NEAR), (3, OTHER), (4, BASE), (5, "tiny doc")]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_minhash_finds_planted_near_dups(spark):
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"]
             for r in minhash_lsh_pairs(_docs(spark)).collect()}
    assert (1, 4) in pairs and pairs[(1, 4)] == 1.0          # exact dup
    assert (1, 2) in pairs and 0.5 < pairs[(1, 2)] < 1.0     # near dup
    assert (2, 4) in pairs
    # unrelated docs must not pair with high jaccard
    assert all(j < 0.2 for (a, b), j in pairs.items()
               if 3 in (a, b) or 5 in (a, b))


def test_minhash_signature_stability(spark):
    df = _docs(spark).select(
        "doc_id",
        minhash_signature(shingle_hashes(shingles(tokens("text")))).alias("sig"))
    rows = {r["doc_id"]: r["sig"] for r in df.collect()}
    assert rows[1] == rows[4]                   # identical text → identical sig
    agree = sum(x == y for x, y in zip(rows[1], rows[2])) / 64
    assert agree > 0.5                          # near dup signatures mostly agree
    assert len(rows[1]) == 64
    # empty-ish doc gets sentinel values, not nulls
    assert all(v is not None for v in rows[5])


def test_simhash_near_dups(spark):
    sh = {r["doc_id"]: r["h"] for r in _docs(spark).select(
        "doc_id", simhash64(tokens_sql("text")).alias("h")).collect()}
    assert sh[1] == sh[4]
    ham12 = bin(sh[1] ^ sh[2]).count("1")
    ham13 = bin(sh[1] ^ sh[3]).count("1")
    assert ham12 < ham13                        # near dup closer than unrelated
    pairs = {(r["id_a"], r["id_b"]) for r in simhash_pairs(_docs(spark)).collect()}
    assert (1, 4) in pairs


def test_embedding_near_dups(spark):
    base = [0.1 * i for i in range(8)]
    near = list(base); near[3] += 0.001
    far = [1.0, -1.0] * 4
    rows = [(1, base), (2, near), (3, far)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = {(r["id_a"], r["id_b"]): r["cosine"]
             for r in embedding_near_dup_pairs(emb, dim=8).collect()}
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.999
    assert not any(3 in k for k in pairs)


def test_cross_corpus_pairs_planted_dup(spark):
    """A new-batch doc that near-duplicates a corpus doc is caught; pairs
    never form within one side; cost shape = batch probes corpus index."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        cross_corpus_pairs)
    corpus = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog again and again"),
         (2, "completely different corpus text about spark shuffles")],
        "doc_id long, text string")
    new = spark.createDataFrame(
        [(100, "the quick brown fox jumps over the lazy dog again and again"),
         (101, "unrelated fresh crawl content nothing shared here at all")],
        "doc_id long, text string")
    out = cross_corpus_pairs(new, corpus, min_jaccard=0.5).collect()
    assert [(r["new_id"], r["corpus_id"]) for r in out] == [(100, 1)]
    assert out[0]["jaccard"] == 1.0


def test_cross_corpus_pairs_empty_sides(spark):
    """Empty new batch (or corpus) yields no pairs, no crash — the
    steady-state 'nothing new arrived' path."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        cross_corpus_pairs)
    schema = "doc_id long, text string"
    corpus = spark.createDataFrame([(1, "some corpus text here")], schema)
    empty = spark.createDataFrame([], schema)
    assert cross_corpus_pairs(empty, corpus).count() == 0
    assert cross_corpus_pairs(corpus, empty).count() == 0


def test_substr_dup_pairs_planted_passage(spark):
    """Winnowing guarantee: two docs sharing a verbatim run >= k + w - 1
    chars surface as a pair; unrelated docs do not; overlap_bp is the
    integer share of the smaller fingerprint set."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        substr_dup_pairs)
    passage = ("the experimental protocol requires three washes of the "
               "sample plate followed by incubation at room temperature")
    docs = spark.createDataFrame(
        [(1, "intro text alpha. " + passage + " closing remarks one."),
         (2, "different opening beta! " + passage + " other ending."),
         (3, "nothing in common with anybody here, entirely fresh prose "
             "about spark adaptive query execution and shuffle tuning")],
        "doc_id long, text string")
    out = {(r["id_a"], r["id_b"]): r for r in
           substr_dup_pairs(docs, k=8, w=4, min_shared=2).collect()}
    assert (1, 2) in out
    assert all(3 not in pair for pair in out)
    r = out[(1, 2)]
    assert r["n_shared"] >= 2
    assert 0 < r["overlap_bp"] <= 10000


def test_substr_dup_pairs_df_cap_drops_boilerplate(spark):
    """A passage present in MORE than max_df docs is corpus boilerplate:
    its fingerprints are df-capped out, so no O(n^2) pair blow-up."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        substr_dup_pairs)
    licence = ("this work is licensed under the creative commons "
               "attribution share alike four point zero international")
    # unique prefixes share no 8-gram across docs (distinct letter runs),
    # so every cross-doc fingerprint comes from the licence block
    rows = [(i, f"{chr(97 + i) * 20} {licence}") for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # every fingerprint of the licence block occurs in all 10 docs;
    # with max_df=5 they are all capped out -> no pairs at all
    assert substr_dup_pairs(docs, k=8, w=4, min_shared=1,
                            max_df=5).count() == 0
    # with a permissive cap the pairs appear (all 45 of them)
    assert substr_dup_pairs(docs, k=8, w=4, min_shared=1,
                            max_df=64).count() == 45


def test_substr_dup_pairs_winnowing_guarantee_property(spark):
    """Property (Schleimer et al. 2003 correctness bound): whenever two
    documents share a verbatim substring of length >= k + w - 1, the
    pair MUST surface at min_shared=1 — regardless of where the passage
    sits or what surrounds it. False negatives are a contract violation;
    extra pairs are fine."""
    from hypothesis import given, settings, strategies as st

    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        substr_dup_pairs)
    k, w = 8, 4
    word = st.text(alphabet="abcdefghijklmnopqrstuvwxyz",
                   min_size=2, max_size=8)
    filler = st.lists(word, min_size=0, max_size=12).map(" ".join)
    passage = st.lists(word, min_size=4, max_size=10).map(" ".join) \
        .filter(lambda p: len(p) >= k + w - 1)

    @settings(max_examples=10, deadline=None)
    @given(passage, filler, filler, filler, filler)
    def run(p, pre_a, post_a, pre_b, post_b):
        doc_a = " ".join(x for x in (pre_a, p, post_a) if x)
        doc_b = " ".join(x for x in (pre_b, p, post_b) if x)
        docs = spark.createDataFrame(
            [(1, doc_a), (2, doc_b)], "doc_id long, text string")
        pairs = {(r["id_a"], r["id_b"]) for r in
                 substr_dup_pairs(docs, k=k, w=w, min_shared=1,
                                  max_df=64).collect()}
        assert (1, 2) in pairs, (doc_a, doc_b)

    run()
