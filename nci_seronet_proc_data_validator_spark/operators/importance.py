"""DSIR-style hashed n-gram importance weighting for corpus curation.

Data Selection via Importance Resampling (Xie et al. 2023,
arXiv:2302.03169) scores each document by how much more likely its hashed
n-grams are under a target-domain distribution than under the raw-corpus
distribution, then keeps the highest-weight documents. This is the
standard "make 100 TB of crawl look like Wikipedia" primitive.

Spark-first shape (no Python in the row path):
- tokenize → word n-grams → 32-bit md5 bucket (engine-portable, same
  idiom as ``operators/dedup.py``) — map-only;
- ONE keyed aggregation over buckets computes the target and corpus
  counts together (conditional sums — no second scan for the target
  slice);
- bucket stats are ≤``buckets`` rows → broadcast back onto the doc
  n-grams; one keyed agg back to documents.
Two shuffles total (bucket agg + doc agg), both with map-side partials;
the broadcast is bounded by the bucket count, independent of corpus size.

Scoring is **integer-exact** by default: per document we report
Σ cnt·(t_b+1) and Σ cnt·(c_b+1) (add-one smoothed) and their ratio — a
Σ-ratio surrogate for DSIR's Π-ratio that needs no ``log``/``exp``
(libm ulps differ across engines; integer sums hash identically in the
DuckDB oracle). The classic log-likelihood-ratio weight is available with
``log_weights=True`` for production ranking (floats are fine when no
cross-engine hash equality is required).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_WS = "filter(split({c}, ' +'), x -> x != '')"


def _ngram_buckets(text_col: str, n: int, buckets: int,
                   pretokenized: bool = False) -> Column:
    """Word n-grams → 32-bit md5 bucket ids (list Column). The short-doc
    guard matters: Spark's sequence(1, 0) counts DOWN ([1, 0]), it is not
    empty like DuckDB's generate_series.

    ``pretokenized``: ``text_col`` already holds the whitespace-token
    array (skip the split/filter)."""
    ws = text_col if pretokenized else _WS.format(c=text_col)
    if n == 1:
        ng = ws
    else:
        ng = (f"CASE WHEN size({ws}) >= {n} THEN"
              f" transform(sequence(1, size({ws}) - {n - 1}),"
              f" i -> concat_ws(' ', slice({ws}, i, {n})))"
              f" ELSE array() END")
    return F.expr(
        f"transform({ng}, g -> CAST(conv(substring(md5(g), 1, 8), 16, 10)"
        f" AS BIGINT) % {buckets})")


def hashed_ngram_importance(df: DataFrame, target: Column, n: int = 2,
                            buckets: int = 4096, text_col: str = "text",
                            id_col: str = "doc_id",
                            log_weights: bool = False) -> DataFrame:
    """Per-document importance of corpus docs w.r.t. the ``target`` slice.

    ``target`` — boolean Column marking target-domain documents (they
    define the desired distribution; they are scored too).

    Returns (id_col, n_ngrams, sum_target_freq, sum_corpus_freq,
    importance) — importance is the smoothed Σ-ratio (or the summed
    log-ratio when ``log_weights``).
    """
    if n < 1 or buckets < 1:
        raise ValueError(f"n and buckets must be >= 1: {n=} {buckets=}")
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        spread_small_input,
    )
    # Stage the tokenization through a materialized ``_ws`` column: the
    # higher-order filter/transform functions are CodegenFallback, so
    # Catalyst does no common-subexpression elimination across the three
    # occurrences of filter(split(...)) inside the fused n-gram
    # expression — inlined, every row re-splits its text three times
    # (measured ~25% of the scan stage at sf0.1). Projecting ``_ws``
    # first makes later occurrences cheap attribute reads.
    # spread_small_input: single-file local scans arrive as ONE partition;
    # the n-gram/md5 stage is the compute-heavy part and must not run as
    # one task (no-op on cluster inputs already split >= cores).
    staged = spread_small_input(df).select(
        F.col(id_col), target.alias("_is_target"),
        F.expr(_WS.format(c=text_col)).alias("_ws"))
    base = staged.select(id_col, "_is_target",
                         _ngram_buckets("_ws", n, buckets,
                                        pretokenized=True).alias("_bk"))
    # doc_ng feeds BOTH the bucket-stats build and the scoring join
    # probe. The static plan prints the scan + n-gram subtree twice, but
    # AQE reuses the shuffle stage at runtime (same canonical exchange),
    # so the corpus tokenizes ONCE — an explicit .persist() here was
    # measured 35% SLOWER at sf0.1 (cache write of the doc×bucket rows
    # costs more than it saves; r13 A/B).
    doc_ng = (base.select(id_col, "_is_target",
                          F.explode("_bk").alias("bucket"))
              .groupBy(id_col, "_is_target", "bucket")
              .agg(F.count(F.lit(1)).alias("cnt")))
    stats = (doc_ng.groupBy("bucket")
             .agg(F.sum(F.when(F.col("_is_target"), F.col("cnt"))
                        .otherwise(F.lit(0))).alias("t_cnt"),
                  F.sum("cnt").alias("c_cnt")))
    joined = doc_ng.join(F.broadcast(stats), "bucket")
    if log_weights:
        w = (F.log((F.col("t_cnt") + 1).cast("double"))
             - F.log((F.col("c_cnt") + 1).cast("double")))
        agg = [F.sum("cnt").cast("long").alias("n_ngrams"),
               F.sum(F.col("cnt") * w).alias("importance")]
        return joined.groupBy(id_col).agg(*agg)
    return (joined.groupBy(id_col)
            .agg(F.sum("cnt").cast("long").alias("n_ngrams"),
                 F.sum(F.col("cnt") * (F.col("t_cnt") + 1)).cast("long")
                 .alias("sum_target_freq"),
                 F.sum(F.col("cnt") * (F.col("c_cnt") + 1)).cast("long")
                 .alias("sum_corpus_freq"))
            .select(id_col, "n_ngrams", "sum_target_freq",
                    "sum_corpus_freq",
                    (F.col("sum_target_freq").cast("double")
                     / F.col("sum_corpus_freq")).alias("importance")))


def importance_oracle_sql(target_pred: str, n: int = 2,
                          buckets: int = 4096,
                          table: str = "documents") -> str:
    """DuckDB mirror (same md5 bucketing, same smoothed Σ-ratio)."""
    return f"""
WITH w AS (
  SELECT doc_id, ({target_pred}) AS is_t,
         list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
  FROM {table}),
g AS (
  SELECT doc_id, is_t,
         CAST(concat('0x', substr(md5(array_to_string(ws[i:i+{n - 1}], ' ')),
                                  1, 8)) AS BIGINT) % {buckets} AS bucket
  FROM w, unnest(generate_series(1, len(ws) - {n - 1})) AS t(i)),
dn AS (SELECT doc_id, is_t, bucket, count(*) AS cnt
       FROM g GROUP BY 1, 2, 3),
s AS (SELECT bucket,
             SUM(CASE WHEN is_t THEN cnt ELSE 0 END) AS t_cnt,
             SUM(cnt) AS c_cnt
      FROM dn GROUP BY bucket)
SELECT doc_id,
       CAST(SUM(cnt) AS BIGINT) AS n_ngrams,
       CAST(SUM(cnt * (t_cnt + 1)) AS BIGINT) AS sum_target_freq,
       CAST(SUM(cnt * (c_cnt + 1)) AS BIGINT) AS sum_corpus_freq,
       CAST(CAST(SUM(cnt * (t_cnt + 1)) AS BIGINT) AS DOUBLE)
         / CAST(SUM(cnt * (c_cnt + 1)) AS BIGINT) AS importance
FROM dn JOIN s USING (bucket)
GROUP BY doc_id
"""
