"""Text-quality scoring and repetition detection — LLM-pipeline operators
beyond the reference's surface (the reference validates structured CSV
cells, not prose; these follow the same engine conventions: JVM-side
Column algebra only, no Python in the row path).

Design notes (100 TB posture):

- ``quality_features`` is **map-only**: every feature is an array-algebra
  expression over the whitespace token list (``split`` + ``filter`` +
  ``aggregate``), so the scan parallelizes with the input and nothing
  shuffles.
- ``repetition_features`` counts duplicate bigrams per document. The
  within-document top-bigram count could be computed with a per-row
  O(n_distinct * n) array fold, but at scale the right shape is
  explode → two keyed aggregations on ``(doc_id, bigram)`` then
  ``doc_id`` — partial aggregation (map-side combine) absorbs the
  explosion, and both shuffles are on high-cardinality keys.
- Integer features (counts, summed lengths) are exact on both engines;
  the single composite double is computed with an identical expression
  tree on both sides and rounded to 6 digits (the same contract the
  embedding-similarity oracles use).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# English function-word profile (same list both engines; the synthetic
# corpus is en-dominated word soup, which these thresholds target).
STOPWORDS = ("the", "and", "of", "to", "in", "a", "is")

#: tokens = non-empty runs between whitespace; '' guards `split`'s
#: leading/trailing empties so counts match DuckDB's filtered split.
_WS = "filter(split({c}, ' +'), x -> x != '')"


def _words(text_col: str) -> Column:
    return F.expr(_WS.format(c=text_col))


def quality_features(df: DataFrame, text_col: str = "text",
                     id_col: str = "doc_id") -> DataFrame:
    """Gopher-style quality features per document, map-only.

    Emitted features are exact integers (hash-stable across engines):
    word count, summed word length, stopword hits, distinct-word count —
    plus one rounded composite ``quality_score`` and an integer-math
    ``is_quality`` gate (>=5% stopwords and >=20% type-token ratio),
    so the boolean never rides on float rounding.
    """
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    ws = _words(text_col)
    base = df.select(
        F.col(id_col),
        F.size(ws).cast("long").alias("n_words"),
        F.expr(
            "aggregate(" + _WS.format(c=text_col) +
            ", 0L, (a, x) -> a + length(x))"
        ).cast("long").alias("sum_word_len"),
        F.size(F.expr(
            "filter(" + _WS.format(c=text_col) +
            f", x -> array_contains(array({stops}), x))"
        )).cast("long").alias("n_stop"),
        F.size(F.array_distinct(ws)).cast("long").alias("n_distinct"),
    ).filter(F.col("n_words") > 0)
    score = F.round(
        (F.col("n_stop") * 1.0 / F.col("n_words")
         + F.col("n_distinct") * 1.0 / F.col("n_words")) / 2, 6)
    gate = ((F.col("n_stop") * 20 >= F.col("n_words"))
            & (F.col("n_distinct") * 5 >= F.col("n_words")))
    return base.select("*", score.alias("quality_score"),
                       gate.alias("is_quality"))


def quality_oracle_sql(table: str = "documents") -> str:
    stops = ", ".join(f"'{w}'" for w in STOPWORDS)
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
  FROM {table}),
f AS (
  SELECT doc_id,
         CAST(len(ws) AS BIGINT) AS n_words,
         CAST(list_sum(list_transform(ws, x -> len(x))) AS BIGINT)
           AS sum_word_len,
         CAST(len(list_filter(ws,
                x -> list_contains([{stops}], x))) AS BIGINT) AS n_stop,
         CAST(len(list_distinct(ws)) AS BIGINT) AS n_distinct
  FROM w)
SELECT doc_id, n_words, sum_word_len, n_stop, n_distinct,
       round((n_stop * 1.0 / n_words + n_distinct * 1.0 / n_words) / 2, 6)
         AS quality_score,
       (n_stop * 20 >= n_words AND n_distinct * 5 >= n_words) AS is_quality
FROM f WHERE n_words > 0 ORDER BY doc_id
"""


# GPT-2-style pre-tokenizer, RE2-safe (no lookahead, which Java regex has
# but DuckDB's RE2 lacks): contraction suffixes, space-prefixed
# letter/digit runs, punctuation runs, residual whitespace. Both engines
# honor leftmost alternation preference, so counts agree.
BPE_PATTERN = r"'(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\s]+|\s+"


def repetition_features(df: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id") -> DataFrame:
    """Within-document bigram repetition: total/distinct bigram counts,
    the top bigram's frequency, and an ``is_repetitive`` gate (top bigram
    actually repeats AND covers >20% of all bigrams — the repeat floor
    keeps short all-unique docs out). Documents with fewer than two words
    have no bigrams and are excluded (both engines)."""
    ws = _words(text_col)
    base = (df.select(F.col(id_col), ws.alias("ws"))
            .filter(F.size("ws") >= 2))
    bigrams = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")
    per_bigram = (base.select(id_col, F.explode(bigrams).alias("bg"))
                  .groupBy(id_col, "bg")
                  .agg(F.count(F.lit(1)).alias("n")))
    out = (per_bigram.groupBy(id_col)
           .agg(F.sum("n").cast("long").alias("n_bigrams"),
                F.count(F.lit(1)).alias("n_distinct_bigrams"),
                F.max("n").cast("long").alias("top_count")))
    return out.select(
        id_col, "n_bigrams", "n_distinct_bigrams", "top_count",
        ((F.col("top_count") >= 2)
         & (F.col("top_count") * 5 > F.col("n_bigrams")))
        .alias("is_repetitive"))


def familiarity_features(df: DataFrame, text_col: str = "text",
                         id_col: str = "doc_id") -> DataFrame:
    """Corpus-statistics quality signal (the integer-exact stand-in for an
    n-gram LM perplexity): how "familiar" each document's bigrams are,
    measured as the summed corpus-wide frequency of its bigrams over its
    bigram count. Gibberish/outlier text scores near 1 (its bigrams occur
    nowhere else); boilerplate scores high.

    Shape at scale: one explode → corpus bigram counts (keyed agg,
    map-side partials), one shuffle join of doc-bigrams against those
    counts on the high-cardinality bigram key, one keyed agg back to
    docs. All counts are exact integers; the single ratio is one
    long/long → double divide (IEEE-identical cross-engine). Avoiding
    log() is deliberate — libm ulps differ across engines, integer
    ratios don't."""
    ws = _words(text_col)
    base = (df.select(F.col(id_col), ws.alias("ws"))
            .filter(F.size("ws") >= 2))
    bigrams = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")
    doc_bg = (base.select(id_col, F.explode(bigrams).alias("bg"))
              .groupBy(id_col, "bg")
              .agg(F.count(F.lit(1)).alias("n")))
    corpus = doc_bg.groupBy("bg").agg(F.sum("n").alias("cn"))
    return (doc_bg.join(corpus, "bg")
            .groupBy(id_col)
            .agg(F.sum("n").cast("long").alias("n_bigrams"),
                 F.sum(F.col("n") * F.col("cn")).cast("long")
                 .alias("sum_corpus_freq"))
            .select(id_col, "n_bigrams", "sum_corpus_freq",
                    (F.col("sum_corpus_freq").cast("double")
                     / F.col("n_bigrams")).alias("familiarity")))


def bigram_profile(df: DataFrame, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """Repetition + familiarity in ONE bigram pass.

    ``repetition_features`` and ``familiarity_features`` both start from
    the identical per-document bigram counts; profiling a corpus with both
    signals should not scan and explode the text twice. This fuses them:
    one explode → one (doc, bigram) agg → corpus counts (keyed agg with
    map-side partials) → broadcast-size-independent shuffle join on the
    bigram key → one agg back to documents carrying both signal families.
    Same row domain as the parts (docs with >= 2 words).

    Also emits the Gopher-style character-coverage repetition signals
    (Rae et al. 2021, arXiv:2112.11446 §A1.1) over the same pass:

    - ``top_bigram`` — the most frequent bigram, tie-broken by the larger
      string so both engines pick the same one (``max(struct(n, bg))``);
    - ``bigram_chars`` / ``dup_bigram_chars`` — total characters across
      all bigram occurrences, and across occurrences of bigrams that
      repeat (count >= 2). The Gopher "fraction of characters in
      duplicate n-grams" without the overlap correction (documented —
      occurrences are weighted, not unioned);
    - ``top_char_frac`` / ``dup_char_frac`` — the two coverage ratios,
      with integer-math gates ``is_top_heavy`` (top bigram covers > 20%
      of bigram characters — Gopher's 0.20 2-gram threshold) and
      ``is_dup_heavy`` (repeating bigrams cover > 50%).
    """
    ws = _words(text_col)
    base = (df.select(F.col(id_col), ws.alias("ws"))
            .filter(F.size("ws") >= 2))
    bigrams = F.expr(
        "transform(sequence(1, size(ws) - 1),"
        " i -> concat(element_at(ws, i), ' ', element_at(ws, i + 1)))")
    doc_bg = (base.select(id_col, F.explode(bigrams).alias("bg"))
              .groupBy(id_col, "bg")
              .agg(F.count(F.lit(1)).alias("n")))
    corpus = doc_bg.groupBy("bg").agg(F.sum("n").alias("cn"))
    out = (doc_bg.join(corpus, "bg")
           .groupBy(id_col)
           .agg(F.sum("n").cast("long").alias("n_bigrams"),
                F.count(F.lit(1)).alias("n_distinct_bigrams"),
                F.max("n").cast("long").alias("top_count"),
                F.max(F.struct(F.col("n"), F.col("bg")))["bg"]
                .alias("top_bigram"),
                F.sum(F.col("n") * F.length("bg")).cast("long")
                .alias("bigram_chars"),
                F.sum(F.when(F.col("n") >= 2, F.col("n") * F.length("bg"))
                      .otherwise(F.lit(0))).cast("long")
                .alias("dup_bigram_chars"),
                F.sum(F.col("n") * F.col("cn")).cast("long")
                .alias("sum_corpus_freq")))
    top_chars = F.col("top_count") * F.length("top_bigram")
    return out.select(
        id_col, "n_bigrams", "n_distinct_bigrams", "top_count",
        ((F.col("top_count") >= 2)
         & (F.col("top_count") * 5 > F.col("n_bigrams")))
        .alias("is_repetitive"),
        "top_bigram", "bigram_chars", "dup_bigram_chars",
        F.round(top_chars * 1.0 / F.col("bigram_chars"), 6)
        .alias("top_char_frac"),
        F.round(F.col("dup_bigram_chars") * 1.0 / F.col("bigram_chars"), 6)
        .alias("dup_char_frac"),
        (top_chars * 5 > F.col("bigram_chars")).alias("is_top_heavy"),
        (F.col("dup_bigram_chars") * 2 > F.col("bigram_chars"))
        .alias("is_dup_heavy"),
        "sum_corpus_freq",
        (F.col("sum_corpus_freq").cast("double")
         / F.col("n_bigrams")).alias("familiarity"))


def bigram_profile_oracle_sql(table: str = "documents") -> str:
    return f"""
WITH w AS (
  SELECT doc_id,
         list_filter(string_split_regex(text, ' +'), x -> x <> '') AS ws
  FROM {table}),
b AS (
  SELECT doc_id, ws[i] || ' ' || ws[i + 1] AS bg
  FROM w, unnest(generate_series(1, len(ws) - 1)) AS t(i)
  WHERE len(ws) >= 2),
db AS (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2),
c AS (SELECT bg, sum(n) AS cn FROM db GROUP BY bg),
g AS (
  SELECT doc_id,
         CAST(SUM(n) AS BIGINT) AS n_bigrams,
         count(*) AS n_distinct_bigrams,
         CAST(max(n) AS BIGINT) AS top_count,
         (max(struct_pack(n := n, bg := bg))).bg AS top_bigram,
         CAST(SUM(n * len(bg)) AS BIGINT) AS bigram_chars,
         CAST(SUM(CASE WHEN n >= 2 THEN n * len(bg) ELSE 0 END) AS BIGINT)
           AS dup_bigram_chars,
         CAST(SUM(n * cn) AS BIGINT) AS sum_corpus_freq
  FROM db JOIN c USING (bg)
  GROUP BY doc_id)
SELECT doc_id, n_bigrams, n_distinct_bigrams, top_count,
       (top_count >= 2 AND top_count * 5 > n_bigrams) AS is_repetitive,
       top_bigram, bigram_chars, dup_bigram_chars,
       round(top_count * len(top_bigram) * 1.0 / bigram_chars, 6)
         AS top_char_frac,
       round(dup_bigram_chars * 1.0 / bigram_chars, 6) AS dup_char_frac,
       (top_count * len(top_bigram) * 5 > bigram_chars) AS is_top_heavy,
       (dup_bigram_chars * 2 > bigram_chars) AS is_dup_heavy,
       sum_corpus_freq,
       CAST(sum_corpus_freq AS DOUBLE) / n_bigrams AS familiarity
FROM g ORDER BY doc_id
"""


def ccnet_buckets(df: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id",
                  lang_col: str = "lang") -> DataFrame:
    """CCNet-style head/middle/tail bucketing (Wenzek et al. 2020,
    arXiv:1911.00359): per language, rank documents by the LM-quality
    stand-in (corpus-bigram ``familiarity``, best first) and split into
    terciles — ``head`` is the cleanest third the pretraining mix
    usually keeps.

    Determinism: ntile depends only on the total order and the partition
    count; ordering is (familiarity DESC, doc_id), so both engines bucket
    identically with no float-threshold comparisons.

    Scale note: the per-language window puts one language's docs through
    one task — fine for calibration-sized corpora.
    """
    from pyspark.sql import Window as W
    prof = bigram_profile(df, text_col=text_col, id_col=id_col)
    langs = df.select(F.col(id_col), F.col(lang_col))
    w = W.partitionBy(lang_col).orderBy(F.col("familiarity").desc(),
                                        F.col(id_col))
    tercile = F.ntile(3).over(w)
    bucket = (F.when(tercile == 1, "head")
              .when(tercile == 2, "middle").otherwise("tail"))
    return (prof.join(langs, id_col)
            .select(id_col, lang_col, "n_bigrams", "n_distinct_bigrams",
                    "top_count", "is_repetitive", "top_bigram",
                    "bigram_chars", "dup_bigram_chars", "top_char_frac",
                    "dup_char_frac", "is_top_heavy", "is_dup_heavy",
                    "sum_corpus_freq", "familiarity",
                    bucket.alias("ppl_bucket")))


def ccnet_buckets_oracle_sql(table: str = "documents") -> str:
    return f"""
WITH prof AS ({bigram_profile_oracle_sql(table).strip()})
SELECT p.doc_id, d.lang, p.n_bigrams, p.n_distinct_bigrams, p.top_count,
       p.is_repetitive, p.top_bigram, p.bigram_chars, p.dup_bigram_chars,
       p.top_char_frac, p.dup_char_frac, p.is_top_heavy, p.is_dup_heavy,
       p.sum_corpus_freq, p.familiarity,
       CASE ntile(3) OVER (PARTITION BY d.lang
                           ORDER BY p.familiarity DESC, p.doc_id)
         WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
         AS ppl_bucket
FROM prof p JOIN {table} d ON p.doc_id = d.doc_id
"""


def with_winnow_signature(df: DataFrame, text_col: str = "text",
                          out_col: str = "winnow_sig", k: int = 8,
                          w: int = 4) -> DataFrame:
    """Winnowing document fingerprint (Schleimer, Wilkerson, Aiken 2003,
    SIGMOD — the MOSS algorithm): hash every ``k``-char gram of the
    whitespace-normalized text, slide a ``w``-hash window, keep each
    window's MINIMUM hash, signature = md5 of the sorted distinct selected
    hashes. Guarantees any shared substring of length >= k + w - 1 between
    two documents selects at least one common hash — the substring-level
    contamination/plagiarism primitive the whole-doc fingerprint
    (``md5(norm)``) can't provide.

    Map-only, no explode. STAGED through a real projection so the O(L)
    gram-hash array computes once per document — inlining it into the
    window transform would re-hash per window (O(L^2) md5 calls; Spark's
    CollapseProject keeps the stage because the alias is non-cheap and
    multiply-referenced). Ties inside a window pick the min VALUE, so tie
    order is irrelevant; docs shorter than ``k`` chars sign the empty
    selection.
    """
    tmp = f"__wg_{out_col}"
    staged = df.withColumn(tmp, F.expr(_grams_sql(text_col, k)))
    # explicit empty/short cases: Spark's sequence(1, 0) DESCENDS to
    # [1, 0] (slice then throws on start=0) where DuckDB's
    # generate_series(1, 0) is empty — never rely on that divergence.
    # Fewer hashes than one window → the whole array is the window.
    mins = _winnow_mins_spark(tmp, w)
    sig = F.substring(
        F.md5(F.array_join(
            F.array_sort(F.array_distinct(F.expr(mins))),
            "-")), 1, 16)
    return staged.withColumn(out_col, sig).drop(tmp)


def _winnow_mins_spark(grams_col: str, w: int) -> str:
    return (f"CASE WHEN size({grams_col}) = 0 THEN slice({grams_col}, 1, 0) "
            f"WHEN size({grams_col}) <= {w} THEN array(array_min({grams_col})) "
            f"ELSE transform(sequence(1, size({grams_col}) - {w - 1}), "
            f"j -> array_min(slice({grams_col}, j, {w}))) END")


def _norm_sql(text_col: str) -> str:
    return (f"regexp_replace(lower({text_col}), "
            f"'[ \\\\t\\\\n\\\\f\\\\r]+', ' ')")


def _grams_sql(text_col: str, k: int) -> str:
    # CAST: conv() returns a STRING — minima must compare numerically.
    # Explicit sub-k guard: Spark's sequence(1, 0) DESCENDS ([1, 0]),
    # it is not empty like DuckDB's generate_series(1, 0).
    n = _norm_sql(text_col)
    return (f"CASE WHEN length({n}) < {k} THEN array_repeat(0L, 0) "
            f"ELSE transform(sequence(1, length({n}) - {k - 1}), i -> "
            f"CAST(conv(substring(md5(substring({n}, i, {k})), 1, 8), "
            f"16, 10) AS LONG)) END")


def winnow_grams_oracle_expr(text_col: str = "text", k: int = 8) -> str:
    """DuckDB gram-hash array (stage 1) — compute ONCE in a subquery
    column, mirroring the Spark staging."""
    norm = f"regexp_replace(lower({text_col}), '[ \\t\\n\\f\\r]+', ' ', 'g')"
    return (f"list_transform(generate_series(1, "
            f"greatest(length({norm}) - {k - 1}, 0)), "
            f"i -> CAST(concat('0x', substr(md5(substr({norm}, i, {k})), "
            f"1, 8)) AS BIGINT))")


def winnow_mins_oracle_expr(grams_col: str, w: int = 4) -> str:
    """DuckDB window-minima list over a staged gram column — the raw
    selected-hash sequence ``_winnow_mins_spark`` mirrors (shared by the
    signature digest and the substring-dup posting list)."""
    return (f"CASE WHEN len({grams_col}) = 0 THEN ({grams_col})[1:0] "
            f"WHEN len({grams_col}) <= {w} THEN [list_min({grams_col})] "
            f"ELSE list_transform(generate_series(1, "
            f"len({grams_col}) - {w - 1}), "
            f"j -> list_min(({grams_col})[j:j+{w - 1}])) END")


def winnow_sig_oracle_expr(grams_col: str, w: int = 4) -> str:
    """DuckDB signature over the staged gram column (stage 2): same
    window minima, same numeric sort, strings only for the join.
    COALESCE: DuckDB string_agg of an empty list is NULL where Spark's
    array_join is '' (short docs)."""
    mins = winnow_mins_oracle_expr(grams_col, w)
    return (f"substr(md5(coalesce(list_aggregate(list_transform(list_sort("
            f"list_distinct({mins})), x -> CAST(x AS VARCHAR)), "
            f"'string_agg', '-'), '')), 1, 16)")
