"""DSIR-style hashed n-gram importance weighting (operators/importance.py).

Oracle-checked in-test (DuckDB) the same way the driver gate would; plus
semantic and plan-shape assertions. Pytest-verified only: the driver
registry is capped at 50 checked queries, all occupied (COVERAGE.md).
"""

import duckdb
import pytest

from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.importance import (
    hashed_ngram_importance,
    importance_oracle_sql,
)

SF_DIR = "/root/testdata/sf0.001"

# Target slice: documents whose language column says 'en' — any
# deterministic predicate works; it must mean the same in both engines.
_TARGET = "lang = 'en'"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


def test_importance_matches_duckdb_oracle(spark, docs):
    got = (hashed_ngram_importance(docs, F.expr(_TARGET))
           .orderBy("doc_id").toPandas())
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF_DIR}/documents.parquet')")
    want = (con.execute(importance_oracle_sql(_TARGET))
            .fetchdf().sort_values("doc_id").reset_index(drop=True))
    assert len(got) == len(want) > 0
    for c in ["n_ngrams", "sum_target_freq", "sum_corpus_freq"]:
        assert got[c].tolist() == want[c].tolist(), c
    assert got["importance"].tolist() == pytest.approx(
        want["importance"].tolist())


def test_importance_semantics(spark):
    rows = [
        (1, "the cat sat on the mat", "en"),
        (2, "the cat sat on the rug", "en"),
        (3, "der hund lief durch den wald", "de"),
        (4, "the cat sat on the mat", "de"),   # target-like text, non-target
        (5, "one", "de"),                      # shorter than the bigram
    ]
    df = spark.createDataFrame(rows,
                               "doc_id long, text string, lang string")
    scored = {r["doc_id"]: r for r in
              hashed_ngram_importance(df, F.col("lang") == "en").collect()}
    # doc 5 has no bigrams -> absent
    assert set(scored) == {1, 2, 3, 4}
    # target-like text scores higher than off-domain text
    assert scored[4]["importance"] > scored[3]["importance"]
    # identical text scores identically regardless of its own label
    assert scored[4]["importance"] == scored[1]["importance"]


def test_importance_plan_shape(spark, docs):
    plan = (hashed_ngram_importance(docs, F.expr(_TARGET))
            ._jdf.queryExecution().executedPlan().toString())
    # bucket stats rejoin must be a broadcast (bounded by bucket count)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_importance_arg_validation(spark, docs):
    with pytest.raises(ValueError):
        hashed_ngram_importance(docs, F.expr(_TARGET), n=0)


def test_hashed_linear_score_semantics(spark):
    """Classifier inference: score = bias + sum of bucket weights; empty
    docs score exactly bias; decision boundary is integer-exact."""
    import hashlib
    from nci_seronet_proc_data_validator_spark.operators.classifier import (
        demo_weights, hashed_linear_score)
    W = demo_weights(4096)

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 4096

    docs = spark.createDataFrame(
        [(1, "alpha beta alpha"), (2, ""), (3, "???")],
        "doc_id long, text string")
    got = {r["doc_id"]: (r["clf_score"], r["clf_pred"])
           for r in hashed_linear_score(docs, W, bias=7).collect()}
    expect1 = 7 + 2 * W[bucket("alpha")] + W[bucket("beta")]
    assert got[1] == (expect1, expect1 > 0)
    assert got[2] == (7, True)   # no tokens -> bias
    assert got[3] == (7, True)   # no [a-z0-9] tokens -> bias


def test_hashed_linear_score_null_text(spark):
    """Regression (review r5): aggregate() over a NULL token array used
    to yield NULL clf_score/clf_pred where the oracle's LEFT JOIN +
    COALESCE yields bias — NULL text must score exactly like empty."""
    from nci_seronet_proc_data_validator_spark.operators.classifier import (
        demo_weights, hashed_linear_score)
    docs = spark.createDataFrame([(1, None), (2, "")],
                                 "doc_id long, text string")
    got = {r["doc_id"]: (r["clf_score"], r["clf_pred"])
           for r in hashed_linear_score(docs, demo_weights(64),
                                        bias=-3).collect()}
    assert got[1] == (-3, False)
    assert got[1] == got[2]


def test_hashed_linear_score_is_map_only(spark):
    """Model-as-literal scoring must add NO shuffle: the physical plan of
    the scoring projection contains no Exchange beyond the input's own."""
    from nci_seronet_proc_data_validator_spark.operators.classifier import (
        demo_weights, hashed_linear_score)
    docs = spark.range(100).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("text number "), F.col("id")).alias("text"))
    plan = hashed_linear_score(
        docs, demo_weights(256))._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_hashed_linear_score_streams_unchanged(spark, tmp_path):
    """The classifier is a stateless map-only projection, so the SAME
    operator applies to a readStream source with no code changes — the
    'score the crawl as it lands' deployment mode."""
    import hashlib
    from nci_seronet_proc_data_validator_spark.operators.classifier import (
        demo_weights, hashed_linear_score)
    src = str(tmp_path / "docs_src")
    spark.createDataFrame(
        [(1, "alpha beta"), (2, "")],
        "doc_id long, text string").write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .parquet(src))
    W = demo_weights(256)
    q = (hashed_linear_score(stream, W, bias=3)
         .writeStream.outputMode("append").format("memory")
         .queryName("clf_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {r["doc_id"]: r["clf_score"]
           for r in spark.sql("SELECT * FROM clf_out").collect()}

    def bucket(tok):
        return int(hashlib.md5(tok.encode()).hexdigest()[:8], 16) % 256
    assert got == {1: 3 + W[bucket("alpha")] + W[bucket("beta")], 2: 3}
