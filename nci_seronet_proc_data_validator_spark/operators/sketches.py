"""Mergeable streaming sketches — HyperLogLog distinct counting and
Count-Min frequency estimation — the approximate-analytics tier a
100 TB pipeline runs where exact distinct/groupBy would shuffle the
full key space.

Why these shapes at scale:

- **HLL** (Flajolet et al. 2007): per stratum the state is m=2^p
  register maxima — the groupBy(stratum, bucket).max(rho) aggregation is
  map-side combinable (max is associative), so the shuffle carries at
  most strata×m tiny rows no matter how many tokens feed it. That IS the
  sketch property: registers merge by max, so partial aggregation = sketch
  union. Spark's own approx_count_distinct is the same algorithm fused
  into one agg; this explicit form exists because its registers are
  engine-portable (md5) and therefore oracle-checkable cross-engine.
- **CMS** (Cormode & Muthukrishnan 2005): the counter table is d×w ints
  built by one keyed count — again map-side combinable, bounded state
  (d·w counters), and point queries are a broadcast join against the
  tiny counter table. Heavy-hitter estimation without per-key state.

Exactness contract: every hash, register, and counter is integer
(32-bit md5-prefix hash — the package-wide engine-portable idiom,
``operators/dedup.py``). The HLL harmonic sum is computed as an EXACT
integer Σ 2^(R−M_j) (R=25 bounds the rank of a 24-bit suffix), so the
only float op is one literal·m²·2^R / S division — IEEE-exact and
identical on both engines; no log/exp anywhere (the standard small-range
LinearCounting correction needs ln(), whose last-ulp behavior is
libm-specific, so this operator reports the raw harmonic estimate plus
the zero-bucket count V — applying m·ln(m/V) is a driver-side scalar).
Ties/edge rules: hash suffix 0 → rho = R; probe words absent from the
corpus read counter 0 (LEFT join + coalesce) on both engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: HLL geometry: p=8 → m=256 buckets, 24-bit rank suffix, R = 24+1.
HLL_P = 8
HLL_M = 1 << HLL_P
HLL_R = 33 - HLL_P
#: alpha_m for m=256 (Flajolet et al. §4), embedded as the same literal
#: in both engines.
HLL_ALPHA = 0.7213 / (1.0 + 1.079 / HLL_M)

#: CMS geometry: d=4 salted hash rows × w=512 counters.
CMS_D = 4
CMS_W = 512

from nci_seronet_proc_data_validator_spark.operators.text_quality import (
    _WS,  # the package-wide token contract — single source
)

#: DuckDB twin of ``text_quality._WS`` (its oracles inline the same
#: expression; this is the one named copy)
_WS_SQL = "list_filter(string_split_regex({c}, ' +'), x -> x <> '')"


def _h32(col: str) -> str:
    """Spark SQL: engine-portable 32-bit hash (md5 hex prefix)."""
    return f"CAST(conv(substring(md5({col}), 1, 8), 16, 10) AS BIGINT)"


def _h32_sql(col: str) -> str:
    """DuckDB twin of ``_h32``."""
    return f"CAST(concat('0x', substr(md5({col}), 1, 8)) AS BIGINT)"


def token_counts(df: DataFrame, key_cols: list[str],
                 text_col: str = "text") -> DataFrame:
    """``(key_cols..., tok, _c)`` — token multiplicities from ONE
    tokenize scan + one keyed count (map-side combinable).

    The shared front half of every token sketch (r13): hashing work
    downstream then scales with DISTINCT tokens, not occurrences — md5
    per (key, tok) once instead of per occurrence — and several sketch
    arms can derive from one persisted copy (a global token count is
    ``groupBy(tok).sum(_c)`` of a per-key one; an exact distinct count
    is ``count(*)``). The input scan is spread across cores first: local
    single-file parquet otherwise runs the whole tokenize+hash stage as
    one task (no-op on an already-split cluster scan)."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        spread_small_input,
    )
    toks = spread_small_input(df).select(
        *key_cols, F.explode(F.expr(_WS.format(c=text_col))).alias("tok"))
    return (toks.groupBy(*key_cols, "tok")
            .agg(F.count(F.lit(1)).alias("_c")))


def hll_registers(df: DataFrame, key_col: str, text_col: str = "text",
                  tok_counts: DataFrame | None = None) -> DataFrame:
    """The HLL register table ``(key, bucket, m_j, n)`` — the sketch's
    ENTIRE state, built over the ``token_counts`` aggregate (max(rho) is
    multiplicity-blind; n sums the counts — identical registers, md5
    once per distinct (key, token) instead of per occurrence). The
    register updates stay order-insensitive monotone (max/sum), so a
    streaming deployment runs the same occurrence-level expressions
    under ``readStream`` (complete/update mode) and the register table
    after any prefix of micro-batches IS the sketch of the data so far.

    ``tok_counts``: a precomputed ``token_counts(df, [key_col])`` frame
    (column named ``key``) shared with sibling sketch arms. A STREAMING
    ``df`` uses the occurrence-level single-aggregation form (stacked
    streaming aggregations are unsupported); the registers are identical
    by the same monotonicity."""
    tc = tok_counts
    if tc is None and df.isStreaming:
        toks = df.select(
            F.col(key_col).alias("key"),
            F.explode(F.expr(_WS.format(c=text_col))).alias("tok"))
        hashed = toks.select("key", F.lit(1).cast("long").alias("_c"),
                             F.expr(_h32("tok")).alias("_h"))
    else:
        if tc is None:
            tc = token_counts(
                df.select(F.col(key_col).alias("key"), text_col),
                ["key"], text_col)
        # stage the hash once: bucket and rho both derive from _h, so
        # the md5 runs once per distinct token, not three times
        hashed = tc.select("key", "_c", F.expr(_h32("tok")).alias("_h"))
    w = F.expr(f"_h DIV {HLL_M}")
    rho = F.when(w == 0, F.lit(HLL_R)) \
        .otherwise(F.lit(HLL_R) - F.length(F.expr(
            f"bin(_h DIV {HLL_M})")))
    return (hashed.select("key", (F.col("_h") % HLL_M).alias("bucket"),
                          rho.alias("rho"), "_c")
            .groupBy("key", "bucket")
            .agg(F.max("rho").alias("m_j"), F.sum("_c").alias("n")))


def hll_finalize(regs: DataFrame) -> DataFrame:
    """Registers → ``(key, hll_estimate, zero_buckets, n_tokens)``; a
    second tiny aggregation over ≤ keys·m rows (batch-side — streaming
    deployments finalize the stored register table downstream)."""
    term = F.expr(f"shiftleft(CAST(1 AS BIGINT), {HLL_R} - m_j)")
    agg = (regs.groupBy("key")
           .agg(F.sum(term).alias("s_present"),
                F.count(F.lit(1)).alias("n_buckets"),
                F.sum("n").alias("n_tokens")))
    # absent buckets contribute a full 2^R each to the harmonic sum
    s = (F.col("s_present")
         + (F.lit(HLL_M) - F.col("n_buckets"))
         * F.lit(1 << HLL_R).cast("long"))
    est = F.round(F.lit(HLL_ALPHA) * HLL_M * HLL_M
                  * float(1 << HLL_R) / s.cast("double"), 4)
    return agg.select(
        "key", est.alias("hll_estimate"),
        (F.lit(HLL_M) - F.col("n_buckets")).cast("long")
        .alias("zero_buckets"),
        F.col("n_tokens").cast("long").alias("n_tokens"))


def hll_distinct(df: DataFrame, key_col: str, text_col: str = "text",
                 tok_counts: DataFrame | None = None) -> DataFrame:
    """Per-``key_col`` HLL distinct-token estimate:
    ``(key, hll_estimate, zero_buckets, n_tokens)`` —
    ``hll_registers`` + ``hll_finalize`` composed for batch use."""
    return hll_finalize(hll_registers(df, key_col, text_col, tok_counts))


def hll_distinct_oracle_sql(key_col: str, text_col: str = "text",
                            table: str = "documents") -> str:
    """DuckDB twin of ``hll_distinct`` — same registers bit for bit."""
    h = _h32_sql("tok")
    return f"""
WITH toks AS (
  SELECT {key_col} AS key, unnest({_WS_SQL.format(c=text_col)}) AS tok
  FROM {table}),
hb AS (
  SELECT key, {h} % {HLL_M} AS bucket,
         CASE WHEN {h} // {HLL_M} = 0 THEN {HLL_R}
              ELSE {HLL_R} - length(bin({h} // {HLL_M}))
         END AS rho
  FROM toks),
regs AS (
  SELECT key, bucket, max(rho) AS m_j, count(*) AS n
  FROM hb GROUP BY 1, 2),
agg AS (
  SELECT key,
         CAST(SUM(CAST(1 AS BIGINT) << ({HLL_R} - m_j)) AS BIGINT)
           AS s_present,
         count(*) AS n_buckets, CAST(SUM(n) AS BIGINT) AS n_tokens
  FROM regs GROUP BY 1)
SELECT key,
       round(CAST({HLL_ALPHA!r} AS DOUBLE) * {HLL_M} * {HLL_M}
             * CAST({float(1 << HLL_R)!r} AS DOUBLE)
             / CAST(s_present + ({HLL_M} - n_buckets)
                    * (CAST(1 AS BIGINT) << {HLL_R}) AS DOUBLE), 4)
         AS hll_estimate,
       CAST({HLL_M} - n_buckets AS BIGINT) AS zero_buckets,
       n_tokens
FROM agg
"""


def cms_build(df: DataFrame, text_col: str = "text",
              tok_counts: DataFrame | None = None) -> DataFrame:
    """The d×w Count-Min counter table ``(r, bucket, cnt)`` over token
    OCCURRENCES (multiplicity counts, the CMS contract), built from the
    ``token_counts`` aggregate: the d salted hashes run once per
    DISTINCT token and each bucket sums the token multiplicities —
    identical counters, a d× smaller explode, and the shuffle carries
    ≤ d·w rows after map-side combine either way.

    ``tok_counts``: any frame with ``tok``/``_c`` columns (extra columns
    are dropped; a per-key count is re-aggregated globally here). A
    STREAMING ``df`` uses the occurrence-level single-aggregation form
    (stacked streaming aggregations are unsupported) — identical
    counters, the original streaming contract."""
    tc = tok_counts
    if tc is None and df.isStreaming:
        tc = df.select(
            F.explode(F.expr(_WS.format(c=text_col))).alias("tok"),
            F.lit(1).cast("long").alias("_c"))
    else:
        if tc is None:
            tc = token_counts(df.select(text_col), [], text_col)
        tc = tc.groupBy("tok").agg(F.sum("_c").alias("_c"))
    rows = tc.select("_c", F.explode(F.array(*[
        F.struct(F.lit(r).alias("r"),
                 (F.expr(_h32(f"concat('{r}-', tok)")) % CMS_W)
                 .alias("bucket"))
        for r in range(CMS_D)])).alias("rb"))
    return (rows.select("rb.r", "rb.bucket", "_c")
            .groupBy("r", "bucket")
            .agg(F.sum("_c").cast("long").alias("cnt")))


def cms_point_query(counters: DataFrame, spark, words: list[str]
                    ) -> DataFrame:
    """CMS estimate per probe word: min over the d salted rows of the
    word's counter (absent counters read 0, via LEFT join from the probe
    side). The counter table — bounded at d·w rows by construction, the
    sketch property — is the broadcast build side."""
    probe_rows = [(w, r) for w in words for r in range(CMS_D)]
    from nci_seronet_proc_data_validator_spark.errors import local_rows_df
    probes = (local_rows_df(spark, probe_rows, "word string, r int")
              .withColumn("bucket",
                          F.expr(_h32("concat(r, '-', word)")) % CMS_W))
    joined = (probes.join(F.broadcast(counters), ["r", "bucket"], "left")
              .select("word", F.coalesce("cnt", F.lit(0)).alias("cnt")))
    return joined.groupBy("word").agg(F.min("cnt").alias("cms_count"))


def cms_oracle_sql(words: list[str], text_col: str = "text",
                   table: str = "documents") -> str:
    """DuckDB twin of ``cms_build`` + ``cms_point_query``."""
    vals = ", ".join(f"('{w}')" for w in words)
    h = _h32_sql("concat(r, '-', tok)")
    hp = _h32_sql("concat(r, '-', word)")
    return f"""
WITH toks AS (
  SELECT unnest({_WS_SQL.format(c=text_col)}) AS tok FROM {table}),
counters AS (
  SELECT r, {h} % {CMS_W} AS bucket, CAST(count(*) AS BIGINT) AS cnt
  FROM toks CROSS JOIN (SELECT unnest(generate_series(0, {CMS_D - 1}))
                        AS r)
  GROUP BY 1, 2),
probes AS (
  SELECT word, r, {hp} % {CMS_W} AS bucket
  FROM (VALUES {vals}) AS t(word)
  CROSS JOIN (SELECT unnest(generate_series(0, {CMS_D - 1})) AS r))
SELECT p.word, CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_count
FROM probes p LEFT JOIN counters c ON c.r = p.r AND c.bucket = p.bucket
GROUP BY 1
"""


def hist_quantiles(df: DataFrame, value_col: str, key_col: str,
                   qs: list[tuple[int, int]] = ((1, 10), (1, 2), (9, 10)),
                   bin_width: int = 16) -> DataFrame:
    """Histogram-sketch quantiles ``(key, q_num, q_den, est)`` — the
    fixed-bin stand-in for the t-digest/KLL tier (Spark's
    ``approx_percentile``): per key a bounded bucket→count table (ONE
    keyed count, map-side combinable — the mergeable-sketch shape), then
    the q-quantile estimate is the lower bound of the first bucket whose
    cumulative count reaches ceil(q·n). Everything is integer — targets
    come from rational q as (num, den) via ceiling division, never a
    float — so both engines agree exactly; estimate error is bounded by
    ``bin_width`` by construction."""
    # Spark DIV truncates, DuckDB // floors — identical on the
    # non-negative domain this sketch targets (counts/lengths).
    # NULL values are excluded explicitly: the engines disagree on NULL
    # bucket ordering (Spark sorts NULLS FIRST, DuckDB LAST), which
    # would shift every cumulative count.
    b = (df.filter(F.col(value_col).isNotNull())
         .select(F.col(key_col).alias("key"),
                 F.expr(f"CAST({value_col} AS BIGINT) DIV {bin_width}")
                 .alias("bucket"))
         .groupBy("key", "bucket")
         .agg(F.count(F.lit(1)).alias("cnt")))
    from pyspark.sql import Window as W
    wcum = (W.partitionBy("key").orderBy("bucket")
            .rowsBetween(W.unboundedPreceding, W.currentRow))
    wall = (W.partitionBy("key")
            .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    c = (b.withColumn("cum", F.sum("cnt").over(wcum))
         .withColumn("n", F.sum("cnt").over(wall)))
    qdf = F.array(*[F.struct(F.lit(n).alias("q_num"),
                             F.lit(d).alias("q_den"))
                    for n, d in qs])
    target = F.expr("(n * q_num + q_den - 1) DIV q_den")   # ceil(q*n)
    return (c.select("key", "bucket", "cum", "n",
                     F.explode(qdf).alias("q"))
            .select("key", "bucket", "cum", "n",
                    F.col("q.q_num").alias("q_num"),
                    F.col("q.q_den").alias("q_den"))
            .filter(F.col("cum") >= target)
            .groupBy("key", "q_num", "q_den")
            .agg((F.min("bucket") * bin_width).cast("long").alias("est")))


def hist_quantiles_oracle_sql(value_col: str, key_col: str,
                              qs: list[tuple[int, int]] =
                              ((1, 10), (1, 2), (9, 10)),
                              bin_width: int = 16,
                              table: str = "documents") -> str:
    """DuckDB twin of ``hist_quantiles``."""
    qvals = ", ".join(f"({n}, {d})" for n, d in qs)
    return f"""
WITH b AS (
  SELECT {key_col} AS key,
         CAST(CAST({value_col} AS BIGINT) // {bin_width} AS BIGINT)
           AS bucket,
         count(*) AS cnt
  FROM {table} WHERE {value_col} IS NOT NULL GROUP BY 1, 2),
c AS (
  SELECT key, bucket,
         SUM(cnt) OVER (PARTITION BY key ORDER BY bucket
                        ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(cnt) OVER (PARTITION BY key) AS n
  FROM b)
SELECT key, q_num, q_den, CAST(min(bucket) * {bin_width} AS BIGINT) AS est
FROM c CROSS JOIN (SELECT * FROM (VALUES {qvals}) AS t(q_num, q_den))
WHERE cum >= (n * q_num + q_den - 1) // q_den
GROUP BY 1, 2, 3
"""
