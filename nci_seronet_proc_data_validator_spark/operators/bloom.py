"""Portable Bloom-filter membership — the BFF-style decontamination /
blocklist primitive (Allen AI's "Bloom Filter Filter" and Dolma's dedup
both gate a TB-scale corpus against a compact bitset instead of joining
on raw n-grams).

Spark-first shape for 100 TB:

- **The filter is data, not state**: an ``(word_idx, bits)`` DataFrame of
  ``m/32`` rows built with one ``bit_or`` aggregation over the (small)
  reference side. At m = 2^18 bits that is 8 K rows — broadcast it; the
  corpus side then probes **map-side** (explode j positions, broadcast
  hash join, re-group), so the corpus never shuffles on n-gram values at
  all. This beats the exact-join decontaminator when even the distinct
  reference n-gram set is too big to broadcast raw.
- **Integer-exact and engine-portable**: positions come from the same
  md5-prefix 32-bit hash + LCG affine family as MinHash
  (``operators/dedup``), masks are ``2^bit`` with bit < 32 (exact in
  DOUBLE on both engines), and the bitset is LONG ``bit_or``. DuckDB
  reproduces the filter bit-for-bit, so even the false positives match —
  the oracle compares equal by construction.
- False positives are inherent to Bloom semantics: callers treat a hit
  as "candidate, verify or accept the fp rate", exactly like the LSH
  family treats its buckets.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.dedup import (
    MINHASH_PRIME, _lcg_coeffs,
)

DEFAULT_M_BITS = 1 << 18   # 262144 bits = 8192 32-bit words (~64 KB)
DEFAULT_J = 5              # hash functions


def _position_exprs(h_col: str, m_bits: int, j: int) -> list[str]:
    """The j bit positions of hash ``h_col`` as SQL text (the same
    strings are embedded verbatim in :func:`bloom_oracle_sql`, so both
    engines derive identical positions)."""
    return [f"(({a} * {h_col} + {b}) % {MINHASH_PRIME}) % {m_bits}"
            for a, b in _lcg_coeffs(j)]


def bloom_build(hashes: DataFrame, h_col: str = "h",
                m_bits: int = DEFAULT_M_BITS, j: int = DEFAULT_J
                ) -> DataFrame:
    """Aggregate a hash column into the bitset: ``(word_idx, bits)``.
    Words no position touches are absent (probe side treats missing as
    zero). One explode (j rows per hash) + one ``bit_or`` shuffle over at
    most ``m_bits/32`` groups."""
    pos = "pos"
    positions = ", ".join(_position_exprs(h_col, m_bits, j))
    return (hashes
            .select(F.explode(F.expr(f"array({positions})")).alias(pos))
            .select(F.expr(f"{pos} div 32").alias("word_idx"),
                    F.expr(f"CAST(pow(2, {pos} % 32) AS LONG)")
                    .alias("mask"))
            .groupBy("word_idx")
            .agg(F.expr("bit_or(mask)").alias("bits")))


def bloom_probe(probes: DataFrame, bloom: DataFrame, h_col: str = "h",
                m_bits: int = DEFAULT_M_BITS, j: int = DEFAULT_J
                ) -> DataFrame:
    """Append ``bloom_hit`` (boolean) to ``probes``: true iff ALL j bits
    of ``h_col`` are set. The bitset is broadcast; the probe side only
    explodes j rows per hash, joins map-side, and re-groups on its own
    key — no shuffle keyed on hash values."""
    keys = [c for c in probes.columns]
    positions = ", ".join(_position_exprs(h_col, m_bits, j))
    exploded = probes.select(
        *keys, F.explode(F.expr(f"array({positions})")).alias("pos"))
    checked = (exploded
               .select(*keys,
                       F.expr("pos div 32").alias("word_idx"),
                       F.expr("CAST(pow(2, pos % 32) AS LONG)")
                       .alias("mask"))
               .join(F.broadcast(bloom), "word_idx", "left")
               .select(*keys,
                       (F.col("bits").isNotNull()
                        & (F.expr("bits & mask") == F.col("mask")))
                       .alias("bit_set")))
    # bool_and, not sum == j: a duplicated probe row would double the
    # sum and turn a true hit into a FALSE NEGATIVE — the one error
    # class a Bloom filter's contract forbids
    return (checked.groupBy(*keys)
            .agg(F.expr("bool_and(bit_set)").alias("bloom_hit")))


def bloom_contaminated(corpus: DataFrame, bench: DataFrame, n: int = 5,
                       id_col: str = "doc_id", text_col: str = "text",
                       m_bits: int = DEFAULT_M_BITS, j: int = DEFAULT_J
                       ) -> DataFrame:
    """Bloom-gated benchmark decontamination: per corpus doc, how many of
    its distinct n-grams hit the benchmark Bloom filter. A superset of
    the exact-join ``contamination.benchmark_overlap`` hits (fp rate
    ~(1 - e^{-j*n/m})^j); at scale this replaces the broadcast of the
    raw n-gram set with a fixed 64 KB bitset."""
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        shingle_hashes, shingles, spread_small_input, tokens)

    def sh(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            shingle_hashes(shingles(tokens(text_col), n)).alias("sh"))

    bloom = bloom_build(
        sh(bench).select(F.explode("sh").alias("h")).distinct(),
        "h", m_bits, j)
    corpus_sh = sh(spread_small_input(corpus))
    probes = corpus_sh.select(id_col, F.explode("sh").alias("h"))
    hits = (bloom_probe(probes, bloom, "h", m_bits, j)
            .groupBy(id_col)
            .agg(F.sum(F.col("bloom_hit").cast("long"))
                 .alias("n_bloom_hits")))
    return (corpus_sh.join(hits, id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("n_bloom_hits", F.lit(0)).cast("long")
                    .alias("n_bloom_hits"))
            .withColumn("bloom_flag", F.col("n_bloom_hits") > 0))


def bloom_oracle_sql(bench_ngrams_sql: str, probes_sql: str,
                     m_bits: int = DEFAULT_M_BITS, j: int = DEFAULT_J
                     ) -> str:
    """DuckDB mirror of build+probe. ``bench_ngrams_sql`` yields distinct
    ``h``; ``probes_sql`` yields ``(doc_id, h)``. Returns per-doc
    ``(doc_id, n_bloom_hits)`` (docs with zero hits absent — caller
    left-joins). CASTs: DuckDB bit_or(BIGINT) is BIGINT but SUM is
    HUGEINT."""
    pos_exprs = ", ".join(_position_exprs("h", m_bits, j))
    return f"""
WITH bh AS ({bench_ngrams_sql}),
bpos AS (SELECT unnest([{pos_exprs}]) AS pos FROM bh),
words AS (SELECT pos // 32 AS word_idx,
                 bit_or(CAST(pow(2, pos % 32) AS BIGINT)) AS bits
          FROM bpos GROUP BY 1),
pr AS ({probes_sql}),
ppos AS (SELECT doc_id, h, unnest([{pos_exprs}]) AS pos FROM pr),
checked AS (
  SELECT p.doc_id, p.h,
         (w.bits IS NOT NULL AND
          (w.bits & CAST(pow(2, p.pos % 32) AS BIGINT))
            = CAST(pow(2, p.pos % 32) AS BIGINT)) AS bit_set
  FROM ppos p LEFT JOIN words w ON w.word_idx = p.pos // 32),
per_h AS (
  SELECT doc_id, h, bool_and(bit_set) AS bloom_hit
  FROM checked GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(CASE WHEN bloom_hit THEN 1 ELSE 0 END) AS BIGINT)
         AS n_bloom_hits
FROM per_h GROUP BY doc_id
"""
