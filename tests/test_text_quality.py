"""Text-quality + repetition operators (operators/text_quality.py)."""

from nci_seronet_proc_data_validator_spark.operators.text_quality import (
    quality_features,
    repetition_features,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_quality_features_exact_counts(spark):
    df = _docs(spark, [
        (1, "the cat sat on the mat"),       # 6 words, 2 stop ('the'×2)
        (2, ""),                             # no words -> excluded
        (3, "zz zz zz zz"),                  # no stopwords, 1 distinct
    ])
    out = {r["doc_id"]: r.asDict()
           for r in quality_features(df).collect()}
    assert set(out) == {1, 3}
    d1 = out[1]
    assert d1["n_words"] == 6
    assert d1["sum_word_len"] == 17          # thecatsatonthemat
    assert d1["n_stop"] == 2
    assert d1["n_distinct"] == 5
    # gate: 2*20 >= 6 and 5*5 >= 6 -> quality
    assert d1["is_quality"] is True
    d3 = out[3]
    assert d3["n_stop"] == 0 and d3["n_distinct"] == 1
    # gate fails both prongs: 0*20 < 4 and 1*5 >= 4 (stop prong fails)
    assert d3["is_quality"] is False


def test_repetition_features_top_bigram(spark):
    df = _docs(spark, [
        (1, "a b a b a b"),    # bigrams: ab ba ab ba ab -> top 'a b'=3 of 5
        (2, "one two three"),  # 2 distinct bigrams, top=1 of 2
        (3, "solo"),           # <2 words -> excluded
    ])
    out = {r["doc_id"]: r.asDict()
           for r in repetition_features(df).collect()}
    assert set(out) == {1, 2}
    assert out[1]["n_bigrams"] == 5
    assert out[1]["n_distinct_bigrams"] == 2
    assert out[1]["top_count"] == 3
    assert out[1]["is_repetitive"] is True   # 3*5 > 5
    assert out[2]["top_count"] == 1
    assert out[2]["is_repetitive"] is False  # repeat floor: top_count < 2


def test_repetition_gate_threshold(spark):
    # 5 distinct bigrams, top=1: 1*5 > 5 is False -> not repetitive.
    df = _docs(spark, [(1, "a b c d e f")])
    row = repetition_features(df).collect()[0]
    assert row["n_bigrams"] == 5 and row["top_count"] == 1
    assert row["is_repetitive"] is False


def test_bpe_token_counts(spark):
    """``BPE_PATTERN`` counted the way the text_stats profile scan does."""
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        BPE_PATTERN)
    df = _docs(spark, [(1, "don't stop"), (2, "hello,  world!!")])
    counts = df.select(
        "doc_id",
        F.size(F.expr("filter(split(text, ' +'), x -> x != '')"))
        .alias("n_ws"),
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0))
        .alias("n_bpe"))
    out = {r["doc_id"]: (r["n_ws"], r["n_bpe"]) for r in counts.collect()}
    # "don" + "'t" + " stop"
    assert out[1] == (2, 3)
    # "hello" + "," + "  " + "world" + "!!"  (no-lookahead \s+ branch)
    assert out[2] == (2, 5)


def test_bigram_profile_matches_parts(spark):
    """The fused one-pass profile must equal the join of its two parent
    operators row-for-row (same domain: docs with >= 2 words)."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        bigram_profile, familiarity_features, repetition_features)
    df = _docs(spark, [
        (1, "a b a b a b"),
        (2, "the quick brown fox"),
        (3, "the quick brown cat"),
        (4, "solo"),
        (5, ""),
    ])
    fused = {r["doc_id"]: r.asDict() for r in bigram_profile(df).collect()}
    rep = {r["doc_id"]: r.asDict()
           for r in repetition_features(df).collect()}
    fam = {r["doc_id"]: r.asDict()
           for r in familiarity_features(df).collect()}
    assert set(fused) == set(rep) == set(fam) == {1, 2, 3}
    for d, row in fused.items():
        for k in ("n_bigrams", "n_distinct_bigrams", "top_count",
                  "is_repetitive"):
            assert row[k] == rep[d][k], (d, k)
        for k in ("sum_corpus_freq", "familiarity"):
            assert row[k] == fam[d][k], (d, k)


def test_bigram_profile_char_coverage(spark):
    """Gopher char-coverage columns, hand-computed: doc 1 has bigrams
    'a b' x3 + 'b a' x2 (3 chars each), doc 2 has three singleton
    bigrams where the (count, string) max tie-break picks 'the quick'."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        bigram_profile)
    df = _docs(spark, [
        (1, "a b a b a b"),
        (2, "the quick brown fox"),
    ])
    rows = {r["doc_id"]: r.asDict() for r in bigram_profile(df).collect()}
    d1 = rows[1]
    assert d1["top_bigram"] == "a b"
    assert d1["bigram_chars"] == 15 and d1["dup_bigram_chars"] == 15
    assert d1["top_char_frac"] == 0.6 and d1["dup_char_frac"] == 1.0
    assert d1["is_top_heavy"] and d1["is_dup_heavy"]
    d2 = rows[2]
    assert d2["top_bigram"] == "the quick"  # max-string tie-break
    assert d2["bigram_chars"] == 9 + 11 + 9 and d2["dup_bigram_chars"] == 0
    assert d2["top_char_frac"] == round(9 / 29, 6)
    assert d2["dup_char_frac"] == 0.0 and not d2["is_dup_heavy"]


def test_winnow_signature_substring_guarantee(spark):
    """Winnowing invariants: identical docs share the signature; a doc
    sharing a long substring (>= k + w - 1 chars) shares at least one
    selected hash with the original; disjoint text gives disjoint
    selections. Verified through the staged two-projection plan."""
    from pyspark.sql import functions as F
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        with_winnow_signature)
    shared = "the winnowing algorithm selects minimum hashes per window"
    rows = [
        (1, shared),
        (2, shared),                                      # identical
        (3, "prefix words here " + shared + " suffix tail"),  # contains
        (4, "zzz qqq completely disjoint characters xxx"),
        (5, "ab"),                                        # shorter than k
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # expose the selected-hash sets via the staged gram column
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        _grams_sql, _winnow_mins_spark)
    staged = df.withColumn("_wg", F.expr(_grams_sql("text", 8)))
    mins = f"array_distinct({_winnow_mins_spark('_wg', 4)})"
    sel = {r["doc_id"]: set(r["sel"])
           for r in staged.select("doc_id",
                                  F.expr(mins).alias("sel")).collect()}
    sigs = {r["doc_id"]: r["winnow_sig"]
            for r in with_winnow_signature(df).collect()}
    assert sigs[1] == sigs[2]
    assert sel[1] & sel[3]            # shared substring -> shared hash
    assert not (sel[1] & sel[4])      # disjoint text -> disjoint hashes
    assert sel[5] == set() and len(sigs[5]) == 16  # empty selection signs
