"""Large-scale deduplication operators: exact, MinHash+LSH, SimHash,
n-gram Jaccard, embedding-cosine near-dup.

These extend the engine beyond the reference's surface for training-data
pipelines. Everything is pure Spark SQL expression algebra (higher-order
functions over arrays) — no Python in the row path — so the same code runs
on 100 TB:

- shingling/minhash/simhash are map-only projections (linear scan);
- LSH banding shuffles once, on ``band_hash`` alone (the band id is
  hashed INTO band_hash, so every probe/self join is single-key and a
  corpus index bucketed by band_hash joins exchange-free); bucket sizes
  are bounded by collision probability, so skew is self-limiting;
  genuinely hot buckets (boilerplate dups) are handled by AQE skew
  splitting;
- candidate verification joins only within buckets (no quadratic blow-up).

Hash function: the leading 8 hex digits of md5, an engine-portable 32-bit
value (same in DuckDB for the oracle), combined with deterministic affine
permutations (a*h + b) mod p over the 32-bit space. Constants come from a
fixed LCG so oracle SQL can embed the identical numbers.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Mersenne-ish prime just above 2^32; a*h stays < 2^62 (no bigint overflow,
# identical semantics in DuckDB BIGINT arithmetic).
MINHASH_PRIME = 4294967311
DEFAULT_K = 64          # signature length
DEFAULT_BANDS = 16      # LSH bands (rows per band = K / BANDS)


def _lcg_coeffs(k: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the k permutations (a odd, < 2^30)."""
    out = []
    for i in range(k):
        a = ((1103515245 * (i + 1) + 12345) % (1 << 30)) | 1
        b = (214013 * (i + 1) + 2531011) % (1 << 30)
        out.append((a, b))
    return out


def spread_small_input(df: DataFrame) -> DataFrame:
    """Repartition up to the session's parallelism when the input scan has
    fewer partitions than cores.

    Local/test parquet is often a single file with one row group → the
    compute-heavy signature stages run as ONE task on a 32-core machine.
    The narrow repartition of raw text is trivially cheap at that size. On
    a real cluster the input is already split into ≥cores partitions, the
    condition is false, and this is a no-op — no shuffle added at scale.
    """
    if df.isStreaming:
        # no static partition count to inspect; micro-batch parallelism
        # is the source's concern (maxFilesPerTrigger etc.)
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


_TOKEN_RX = "[a-z0-9]+"  # THE token definition — shared by tokens/tokens_sql


def tokens(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(F.lower(c), F.lit(_TOKEN_RX), F.lit(0))


def shingles(tokens_col: Column, n: int = 3) -> Column:
    """Word n-gram shingles. Empty when the document has < n tokens
    (sequence() would run backwards otherwise)."""
    return F.when(
        F.size(tokens_col) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(tokens_col) - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(tokens_col, i, n)))
    ).otherwise(F.array().cast("array<string>"))


def shingle_hashes(shingles_col: Column) -> Column:
    """Distinct 32-bit shingle hashes: first 8 md5 hex digits as bigint —
    portable across engines (DuckDB: CAST('0x'||substr(md5(s),1,8) AS
    BIGINT))."""
    return F.array_distinct(F.transform(
        shingles_col,
        lambda s: F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")))


def minhash_signature(hashes_col: Column, k: int = DEFAULT_K) -> Column:
    """k-permutation MinHash signature; null-free, MAX sentinel for empty
    docs so signatures never collide with real hashes.

    Single pass over the shingle array: fold each hash into a running
    k-vector of minima against a constant (a, b) coefficient array —
    O(k*|sh|) arithmetic like the naive form, but ONE traversal and one
    small expression tree instead of k independent transform+array_min
    branches (VERDICT r1 perf note #8)."""
    # one generated expression, not k struct Columns (py4j round-trips
    # per Column dominate the build of every LSH-family query otherwise)
    coeffs = F.expr("array(" + ", ".join(
        f"named_struct('a', CAST({a} AS LONG), 'b', CAST({b} AS LONG))"
        for a, b in _lcg_coeffs(k)) + ")")
    init = F.expr(f"array_repeat({MINHASH_PRIME}L, {k})")
    return F.aggregate(
        hashes_col, init,
        lambda acc, h: F.zip_with(
            acc, coeffs,
            lambda m, c: F.least(m, (c["a"] * h + c["b"])
                                 % F.lit(MINHASH_PRIME))))


def lsh_band_table(df: DataFrame, id_col: str, sig_col: str,
                   bands: int = DEFAULT_BANDS) -> DataFrame:
    """Explode the signature into (id, band_id, band_hash). Band hash is
    the md5 of the band id + '-'-joined band slice — the id is INSIDE the
    hash, so every downstream join keys on the single ``band_hash``
    column. One join key means a bucketBy(band_hash) persisted index
    co-locates probe joins with no corpus-side Exchange (the optimizer
    can't widen the key set back to two columns), and the shuffle
    distribution already separates bands."""
    k = DEFAULT_K
    rows = k // bands
    entries = F.expr("array(" + ", ".join(
        "named_struct('band_id', {b}, 'band_hash', "
        "md5(concat_ws('-', '{b}', {slices})))".format(
            b=b,
            slices=", ".join(f"CAST({sig_col}[{b * rows + r}] AS STRING)"
                             for r in range(rows)))
        for b in range(bands)) + ")")
    return (df.select(F.col(id_col), F.explode(entries).alias("band"))
            .select(id_col, "band.band_id", "band.band_hash"))


def minhash_lsh_pairs(docs: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3,
                      k: int = DEFAULT_K, bands: int = DEFAULT_BANDS,
                      min_jaccard: float = 0.0) -> DataFrame:
    """Full MinHash+LSH near-dup pipeline:

    text → shingles → 32-bit hashes → k-minhash signature → band buckets →
    candidate pairs (same bucket, id_a < id_b) → exact shingle-set Jaccard.

    One scan to build signatures, one shuffle on band buckets, one
    self-join restricted to buckets, one (broadcastable) join back to
    shingle sets for verification. Returns (id_a, id_b, jaccard).
    """
    base = spread_small_input(docs).select(
        F.col(id_col),
        shingle_hashes(shingles(tokens(text_col), n)).alias("sh"))
    base = base.withColumn("sig", minhash_signature(F.col("sh"), k))
    # The signature table feeds BOTH sides of the band self-join and both
    # verification joins — without persistence the text→shingle→signature
    # pipeline executes 4×. At scale this materialization is the "signature
    # index" an LSH system would store anyway.
    base = base.persist()

    bands_df = lsh_band_table(base, id_col, "sig", bands)
    a = bands_df.alias("a")
    b = bands_df.alias("b")
    cand = (a.join(b, ["band_hash"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())

    sh = base.select(F.col(id_col), F.col("sh"))
    out = (cand
           .join(sh.select(F.col(id_col).alias("id_a"),
                           F.col("sh").alias("sh_a")), "id_a")
           .join(sh.select(F.col(id_col).alias("id_b"),
                           F.col("sh").alias("sh_b")), "id_b")
           .select(
               "id_a", "id_b",
               (F.size(F.array_intersect("sh_a", "sh_b")) /
                F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
                ).alias("jaccard")))
    return out.filter(F.col("jaccard") >= min_jaccard)


def cross_corpus_pairs(new_docs: DataFrame, corpus: DataFrame,
                       id_col: str = "doc_id", text_col: str = "text",
                       n: int = 3, k: int = DEFAULT_K,
                       bands: int = DEFAULT_BANDS,
                       min_jaccard: float = 0.0) -> DataFrame:
    """Incremental dedup: near-dup pairs between a NEW batch and an
    EXISTING corpus — the everyday production dedup (each crawl/delivery
    checks against the training set already on disk), as opposed to the
    within-corpus self-join of ``minhash_lsh_pairs``.

    Shape at 100 TB: the corpus signature/band table is built ONCE per
    corpus version and persisted (write it ``bucketBy(band_hash)`` so
    probe joins co-locate without a corpus-side shuffle); each new batch —
    typically orders of magnitude smaller — builds its own signatures
    map-only and joins only its band buckets. Candidate verification is
    exact shingle-set Jaccard restricted to candidates. Cost scales with
    the batch, not the corpus. Returns (new_id, corpus_id, jaccard).
    """
    def _sig_base(df: DataFrame) -> DataFrame:
        out = df.select(
            F.col(id_col),
            shingle_hashes(shingles(tokens(text_col), n)).alias("sh"))
        return out.withColumn("sig", minhash_signature(F.col("sh"), k))

    corpus_base = _sig_base(spread_small_input(corpus)).persist()
    new_base = _sig_base(new_docs).persist()
    nb = lsh_band_table(new_base, id_col, "sig", bands) \
        .withColumnRenamed(id_col, "new_id")
    cb = lsh_band_table(corpus_base, id_col, "sig", bands) \
        .withColumnRenamed(id_col, "corpus_id")
    cand = (nb.join(cb, ["band_hash"])
            .filter(F.col("new_id") != F.col("corpus_id"))
            .select("new_id", "corpus_id").distinct())
    out = (cand
           .join(new_base.select(F.col(id_col).alias("new_id"),
                                 F.col("sh").alias("sh_n")), "new_id")
           .join(corpus_base.select(F.col(id_col).alias("corpus_id"),
                                    F.col("sh").alias("sh_c")), "corpus_id")
           .select(
               "new_id", "corpus_id",
               (F.size(F.array_intersect("sh_n", "sh_c")) /
                F.greatest(F.size(F.array_union("sh_n", "sh_c")), F.lit(1))
                ).alias("jaccard")))
    return out.filter(F.col("jaccard") >= min_jaccard)


def cross_corpus_oracle_sql(new_pred: str, corpus_pred: str,
                            n: int = 3, k: int = DEFAULT_K,
                            bands: int = DEFAULT_BANDS,
                            min_jaccard: float = 0.0) -> str:
    """DuckDB mirror of ``cross_corpus_pairs`` where the new batch and the
    corpus are ``documents`` rows matching ``new_pred`` / ``corpus_pred``
    (the same split predicates the driver query applies in Spark)."""
    rows = k // bands
    coeffs = _lcg_coeffs(k)
    sig_exprs = ",\n    ".join(
        f"coalesce(list_min(list_transform(sh, h -> ({a} * h + {b}) % "
        f"{MINHASH_PRIME})), {MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(coeffs))
    band_rows = ",\n    ".join(
        "({b}, md5({concat}))".format(
            b=b, concat=" || '-' || ".join(
                [f"'{b}'"] + [f"CAST(s{b * rows + r} AS VARCHAR)"
                              for r in range(rows)]))
        for b in range(bands))
    shingle_expr = (
        f"list_distinct(CASE WHEN len(t) >= {n} "
        f"THEN list_transform(generate_series(1, len(t) - {n - 1}), "
        f"i -> CAST(concat('0x', substr(md5(concat_ws(' ', t[i], t[i+1], "
        f"t[i+2])), 1, 8)) AS BIGINT)) "
        f"ELSE [] END)")
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents WHERE ({new_pred}) OR ({corpus_pred})),
shing AS (SELECT doc_id, {shingle_expr} AS sh FROM toks),
sig AS (SELECT doc_id, sh,
    {sig_exprs}
  FROM shing),
bands AS (
  SELECT doc_id, band.* FROM sig,
    LATERAL (VALUES {band_rows}) AS band(band_id, band_hash)),
cand AS (
  SELECT DISTINCT nb.doc_id AS new_id, cb.doc_id AS corpus_id
  FROM bands nb JOIN bands cb
    ON nb.band_hash = cb.band_hash
   AND nb.doc_id <> cb.doc_id
  WHERE nb.doc_id IN (SELECT doc_id FROM documents WHERE {new_pred})
    AND cb.doc_id IN (SELECT doc_id FROM documents WHERE {corpus_pred}))
SELECT new_id, corpus_id,
       CAST(len(list_intersect(sn.sh, sc.sh)) AS DOUBLE)
         / greatest(len(sn.sh) + len(sc.sh) - len(list_intersect(sn.sh, sc.sh)), 1)
         AS jaccard
FROM cand
JOIN shing sn ON sn.doc_id = new_id
JOIN shing sc ON sc.doc_id = corpus_id
WHERE CAST(len(list_intersect(sn.sh, sc.sh)) AS DOUBLE)
        / greatest(len(sn.sh) + len(sc.sh) - len(list_intersect(sn.sh, sc.sh)), 1)
      >= {min_jaccard}
ORDER BY new_id, corpus_id
"""


def minhash_lsh_pairs_oracle_sql(n: int = 3, k: int = DEFAULT_K,
                                 bands: int = DEFAULT_BANDS,
                                 min_jaccard: float = 0.0) -> str:
    """DuckDB SQL for the FULL MinHash+LSH pipeline (signatures → bands →
    candidate pairs → exact Jaccard), constants identical to the Spark
    operator."""
    rows = k // bands
    coeffs = _lcg_coeffs(k)
    sig_exprs = ",\n    ".join(
        f"coalesce(list_min(list_transform(sh, h -> ({a} * h + {b}) % {MINHASH_PRIME})), "
        f"{MINHASH_PRIME}) AS s{i}"
        for i, (a, b) in enumerate(coeffs))
    band_rows = ",\n    ".join(
        "({b}, md5({concat}))".format(
            b=b, concat=" || '-' || ".join(
                [f"'{b}'"] + [f"CAST(s{b * rows + r} AS VARCHAR)"
                              for r in range(rows)]))
        for b in range(bands))
    shingle_expr = (
        f"list_distinct(CASE WHEN len(t) >= {n} "
        f"THEN list_transform(generate_series(1, len(t) - {n - 1}), "
        f"i -> CAST(concat('0x', substr(md5(concat_ws(' ', t[i], t[i+1], t[i+2])), 1, 8)) AS BIGINT)) "
        f"ELSE [] END)")
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t FROM documents),
shing AS (SELECT doc_id, {shingle_expr} AS sh FROM toks),
sig AS (SELECT doc_id, sh,
    {sig_exprs}
  FROM shing),
bands AS (
  SELECT doc_id, band.* FROM sig,
    LATERAL (VALUES {band_rows}) AS band(band_id, band_hash)),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b
    ON a.band_hash = b.band_hash
   AND a.doc_id < b.doc_id)
SELECT id_a, id_b,
       CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
         / greatest(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)), 1)
         AS jaccard
FROM cand
JOIN shing sa ON sa.doc_id = id_a
JOIN shing sb ON sb.doc_id = id_b
WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / greatest(len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)), 1)
      >= {min_jaccard}
ORDER BY id_a, id_b
"""


# ------------------------------------------------------------------ SimHash
def tokens_sql(col: str) -> str:
    """``tokens()`` as a SQL string (for generated-expression builders);
    same ``_TOKEN_RX`` so the token definition has one source."""
    return f"regexp_extract_all(lower({col}), '{_TOKEN_RX}', 0)"


def simhash64(token_array_sql: str) -> Column:
    """64-bit SimHash from the two leading 32-bit words of each token's
    md5. Bit i of the result is 1 iff the sum over tokens of ±1 (bit set →
    +1) is positive. One aggregate over the token array — map-only.

    Takes the token array as a SQL string (e.g. ``tokens_sql("text")``)
    so the whole 64-bit counter fold is ONE generated expression with
    self-named lambda variables — 64 per-bit ``F.when`` Columns cost
    ~0.4 s of py4j chatter per build, and Python-lambda variables get
    engine-generated names, so a partial string form can't bind.
    The ``_h1/_h2`` subtrees repeat in the text, but identical trees
    collapse in codegen subexpression elimination exactly as shared
    Column objects would."""
    if isinstance(token_array_sql, Column):
        raise TypeError(
            "simhash64 takes a SQL string (use tokens_sql(col)), not a "
            "Column — a Column repr interpolated into F.expr produces an "
            "opaque parse error")

    def _h(word: int) -> str:
        off = 1 if word == 1 else 9
        return (f"CAST(conv(substring(md5(t), {off}, 8), 16, 10) "
                f"AS BIGINT)")
    bits_sql = ", ".join(
        f"CASE WHEN (shiftright({_h(1) if i < 32 else _h(2)}, {i % 32})"
        f" % 2) = 1 THEN 1 ELSE -1 END"
        for i in range(64))
    counters = F.expr(
        f"aggregate({token_array_sql}, array_repeat(0L, 64), "
        f"(acc, t) -> zip_with(acc, array({bits_sql}), (x, y) -> x + y))")
    # Pack bits 0..62 via exact double powers of two (shift amounts must be
    # literals in Spark, but pow(2, i) is exact for any power of two);
    # bit 63 is the sign bit, set with the min-long literal.
    low = F.aggregate(
        F.zip_with(F.slice(counters, 1, 63),
                   F.sequence(F.lit(0), F.lit(62)),
                   lambda c, i: F.when(
                       c > 0, F.pow(F.lit(2.0), i.cast("double")).cast("long"))
                   .otherwise(F.lit(0).cast("long"))),
        F.lit(0).cast("long"), lambda a, x: a + x)
    top = F.when(F.element_at(counters, 64) > 0,
                 F.lit(-9223372036854775808)).otherwise(F.lit(0).cast("long"))
    return low.bitwiseOR(top)


def simhash_pairs(docs: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", max_hamming: int = 8) -> DataFrame:
    """Near-dup candidates by SimHash: band the 64 bits into 4 x 16-bit
    chunks (pigeonhole: hamming ≤ 3 guarantees a shared chunk; wider
    distances are caught probabilistically), bucket-join, verify hamming.
    """
    base = spread_small_input(docs).select(
        F.col(id_col),
        simhash64(tokens_sql(text_col)).alias("sh64")).persist()
    chunks = F.array(*[
        F.struct(F.lit(c).alias("chunk_id"),
                 F.shiftright(F.col("sh64"), 16 * c)
                 .bitwiseAND(F.lit(0xFFFF)).alias("chunk"))
        for c in range(4)])
    bt = (base.select(id_col, "sh64", F.explode(chunks).alias("c"))
          .select(id_col, "sh64", "c.chunk_id", "c.chunk"))
    a, b = bt.alias("a"), bt.alias("b")
    ham = F.bit_count(F.col("a.sh64").bitwiseXOR(F.col("b.sh64")))
    return (a.join(b, ["chunk_id", "chunk"])
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    ham.alias("hamming"))
            # The hamming verify is written after the pair dedup but
            # EXECUTES inside the join: Catalyst pushes the
            # deterministic filter through the distinct all the way
            # into the join condition (r13 plan audit — rewriting it
            # as filter-before-distinct produced a byte-identical
            # plan), so far pairs never reach the distinct's exchange.
            .distinct()
            .filter(F.col("hamming") <= max_hamming))


def ngram_jaccard_pairs(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", n: int = 3,
                        min_jaccard: float = 0.05) -> DataFrame:
    """Exact n-gram Jaccard near-dup join via prefix filtering (AllPairs/
    PPJoin) — the LOSSLESS alternative to MinHash LSH.

    Under any fixed global order of shingles (we use ascending hash), two
    sets with Jaccard ≥ t must share at least one element within each
    other's first ``|S| - ceil(t*|S|) + 1`` elements, so candidates =
    pairs sharing a prefix token; every candidate is then verified with
    the exact intersection-over-union. Unlike LSH banding there are no
    false negatives at the threshold.

    Scale shape: one shuffle on prefix tokens (the inverted index), one
    bucket-local self-join, verification joins back to the persisted
    shingle sets. A boilerplate shingle shared by many docs makes a hot
    bucket — production deployments order the global permutation by
    ascending document frequency (smallest buckets first in every
    prefix), which this operator accepts by pre-sorting ``sh``; AQE skew
    splitting covers the rest.
    """
    base = spread_small_input(docs).select(
        F.col(id_col),
        F.array_sort(
            shingle_hashes(shingles(tokens(text_col), n))).alias("sh"))
    base = base.withColumn("sz", F.size("sh")).persist()

    plen = (F.col("sz") - F.ceil(F.lit(min_jaccard) * F.col("sz")) + 1) \
        .cast("int")
    pref = base.select(F.col(id_col),
                       F.explode(F.slice(F.col("sh"), F.lit(1), plen))
                       .alias("tok"))
    a, b = pref.alias("a"), pref.alias("b")
    cand = (a.join(b, "tok")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"))
            .distinct())

    sh = base.select(F.col(id_col), F.col("sh"))
    out = (cand
           .join(sh.select(F.col(id_col).alias("id_a"),
                           F.col("sh").alias("sh_a")), "id_a")
           .join(sh.select(F.col(id_col).alias("id_b"),
                           F.col("sh").alias("sh_b")), "id_b")
           .select(
               "id_a", "id_b",
               (F.size(F.array_intersect("sh_a", "sh_b")) /
                F.greatest(F.size(F.array_union("sh_a", "sh_b")), F.lit(1))
                ).alias("jaccard")))
    return out.filter(F.col("jaccard") >= min_jaccard)


def ngram_jaccard_oracle_sql(n: int = 3, min_jaccard: float = 0.05) -> str:
    """Brute-force all-pairs Jaccard in DuckDB — feasible at oracle scale,
    and exactly what the prefix-filtered join must reproduce (losslessness
    is the operator's contract, so the oracle needs no prefix logic)."""
    gram = ", ".join("t[i]" if j == 0 else f"t[i+{j}]" for j in range(n))
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS t
  FROM documents),
sh AS (
  SELECT doc_id,
         list_distinct(CASE WHEN len(t) >= {n}
           THEN list_transform(generate_series(1, len(t) - {n - 1}),
                i -> CAST(concat('0x', substr(md5(
                       concat_ws(' ', {gram})), 1, 8))
                     AS BIGINT))
           ELSE [] END) AS sh
  FROM toks)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           / greatest(len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh)),
                      1) AS jaccard
  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
WHERE jaccard >= {min_jaccard}
ORDER BY id_a, id_b
"""


def simhash_pairs_oracle_sql(max_hamming: int = 8) -> str:
    """DuckDB SQL for the full SimHash near-dup pipeline: 64-bit simhash →
    4 x 16-bit chunk buckets → candidate pairs → hamming verify. Constants
    identical to ``simhash_pairs``; ``>> n & 65535`` extracts the same 16
    bits whether the engine's shift sign-extends or not."""
    bit_sums = ",\n    ".join(
        f"sum(CASE WHEN (h{1 if i < 32 else 2} >> {i % 32}) & 1 = 1 "
        f"THEN 1 ELSE -1 END) AS c{i}"
        for i in range(64))
    low_terms = " + ".join(
        f"(CASE WHEN coalesce(c{i}, 0) > 0 THEN CAST({1 << i} AS BIGINT) "
        f"ELSE 0 END)" for i in range(63))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS tok
  FROM documents),
hashed AS (
  SELECT doc_id,
         CAST(concat('0x', substr(md5(tok), 1, 8)) AS BIGINT) AS h1,
         CAST(concat('0x', substr(md5(tok), 9, 8)) AS BIGINT) AS h2
  FROM toks),
counters AS (
  SELECT doc_id,
    {bit_sums}
  FROM hashed GROUP BY doc_id),
sig AS (
  SELECT d.doc_id,
         CAST({low_terms} AS BIGINT)
         | (CASE WHEN coalesce(c63, 0) > 0
                 THEN CAST(-9223372036854775808 AS BIGINT)
                 ELSE 0 END) AS sh64
  FROM documents d LEFT JOIN counters USING (doc_id)),
chunks AS (
  SELECT doc_id, sh64, c.chunk_id,
         (sh64 >> (16 * c.chunk_id)) & 65535 AS chunk
  FROM sig, LATERAL (VALUES (0), (1), (2), (3)) AS c(chunk_id))
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       bit_count(xor(a.sh64, b.sh64)) AS hamming
FROM chunks a JOIN chunks b
  ON a.chunk_id = b.chunk_id AND a.chunk = b.chunk AND a.doc_id < b.doc_id
WHERE bit_count(xor(a.sh64, b.sh64)) <= {max_hamming}
ORDER BY id_a, id_b
"""


# -------------------------------------------------- embedding near-dup LSH
def _hyperplane_coeffs(n_planes: int, dim: int) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG, zero-mean)."""
    out, state = [], 20260813
    for _ in range(n_planes):
        row = []
        for _ in range(dim):
            state = (1103515245 * state + 12345) % (1 << 31)
            row.append((state / float(1 << 31)) - 0.5)
        out.append(row)
    return out


def embedding_bucket(vec_col: Column, dim: int, n_planes: int = 8) -> Column:
    """Random-hyperplane LSH bucket: the sign bits of n_planes dot
    products. Cosine-similar vectors collide with high probability."""
    planes = _hyperplane_coeffs(n_planes, dim)
    bits = []
    for p, row in enumerate(planes):
        row_lit = F.expr("array(" + ", ".join(
            f"CAST('{float(v)!r}' AS DOUBLE)" for v in row) + ")")
        dot = F.aggregate(
            F.zip_with(vec_col, row_lit,
                       lambda x, w: x.cast("double") * w),
            F.lit(0.0), lambda a, x: a + x)
        bits.append(F.when(dot > 0,
                           F.shiftleft(F.lit(1), p)).otherwise(F.lit(0)))
    out = bits[0]
    for b in bits[1:]:
        out = out.bitwiseOR(b)
    return out


def embedding_near_dup_pairs(emb: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding", dim: int = 64,
                             n_planes: int = 8,
                             min_cosine: float = 0.95) -> DataFrame:
    """Embedding near-duplicates: hyperplane-LSH bucket, then exact cosine
    within buckets. The bucket join keeps the pair count ~N²/2^planes
    instead of N²."""
    def norm(c: Column) -> Column:
        return F.sqrt(F.aggregate(
            F.transform(c, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0), lambda a, x: a + x))

    base = spread_small_input(emb).select(
        F.col(id_col), F.col(vec_col).alias("v"),
        embedding_bucket(F.col(vec_col), dim, n_planes).alias("bucket"),
        norm(F.col(vec_col)).alias("nrm")).persist()
    a, b = base.alias("a"), base.alias("b")
    dot = F.aggregate(
        F.zip_with(F.col("a.v"), F.col("b.v"),
                   lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0), lambda a_, x: a_ + x)
    cos = dot / (F.col("a.nrm") * F.col("b.nrm"))
    return (a.join(b, "bucket")
            .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
            .select(F.col(f"a.{id_col}").alias("id_a"),
                    F.col(f"b.{id_col}").alias("id_b"),
                    F.round(cos, 6).alias("cosine"))
            .filter(F.col("cosine") >= min_cosine))


def embedding_near_dup_oracle_sql(dim: int = 64, n_planes: int = 8,
                                  min_cosine: float = 0.95) -> str:
    """DuckDB SQL mirroring the hyperplane-LSH near-dup pipeline, plane
    constants embedded verbatim (left-fold dot products → identical IEEE
    doubles)."""
    planes = _hyperplane_coeffs(n_planes, dim)

    def dot(vec: str, row: list[float]) -> str:
        lits = ", ".join(repr(v) for v in row)
        return (f"list_reduce(list_transform(list_zip({vec}, [{lits}]), "
                f"s -> CAST(s[1] AS DOUBLE) * s[2]), (a, x) -> a + x)")

    bucket = " | ".join(
        f"(CASE WHEN {dot('embedding', row)} > 0 THEN {1 << p} ELSE 0 END)"
        for p, row in enumerate(planes))
    return f"""
WITH base AS (
  SELECT vec_id, embedding,
         ({bucket}) AS bucket,
         sqrt(list_reduce(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
              (a, x) -> a + x)) AS nrm
  FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
                s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),
              (x, y) -> x + y) / (a.nrm * b.nrm), 6) AS cosine
FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(list_reduce(list_transform(list_zip(a.embedding, b.embedding),
              s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)),
            (x, y) -> x + y) / (a.nrm * b.nrm), 6) >= {min_cosine}
ORDER BY id_a, id_b
"""


# ------------------------------------------------- substring-level near-dup
def winnow_fingerprints(docs: DataFrame, id_col: str = "doc_id",
                        text_col: str = "text", k: int = 8,
                        w: int = 4) -> DataFrame:
    """Per-document array of DISTINCT winnowing-selected gram hashes
    (``(id, fps)``) — the posting-list form of the MOSS fingerprint whose
    digest ``text_quality.with_winnow_signature`` publishes.

    Map-only; gram hashing is STAGED through a real projection so the
    O(L) md5 array computes once per document (same rationale as
    ``with_winnow_signature``)."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        _grams_sql, _winnow_mins_spark)
    staged = spread_small_input(docs).select(
        F.col(id_col), F.expr(_grams_sql(text_col, k)).alias("__wg"))
    return staged.select(
        F.col(id_col),
        F.array_distinct(F.expr(_winnow_mins_spark("__wg", w))).alias("fps"))


def substr_dup_pairs(docs: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 8, w: int = 4,
                     min_shared: int = 2, max_df: int = 64) -> DataFrame:
    """ExactSubstr-style substring-duplication candidate pairs (Lee et
    al. 2022 "Deduplicating Training Data Makes Language Models Better",
    re-expressed for Spark): the suffix-array pass the paper uses is
    replaced by winnowing fingerprints, whose guarantee (Schleimer et
    al. 2003) is that any shared substring of length >= k + w - 1 chars
    selects at least one common hash — so every pair of documents
    sharing a long verbatim passage surfaces here.

    Shape at 100 TB:
    - posting list is SPARSE (winnowing keeps ~2/(w+1) of gram positions,
      deduped per doc) — one explode, one ``groupBy(fp)`` shuffle;
    - pair generation happens inside each fingerprint bucket
      (``collect_set`` + triangular explode), so there is no posting
      self-join and no second shuffle of the corpus;
    - ``max_df`` caps bucket width: a fingerprint present in more docs
      than that is corpus boilerplate (licence headers, navboxes) — the
      pair blow-up is bounded by max_df² per bucket and the cap is
      applied identically in the oracle;
    - the final ``(id_a, id_b)`` aggregation and the two size joins are
      keyed shuffles on pair/doc ids.

    Output: ``id_a, id_b, n_shared`` (shared fingerprints, long) and
    ``overlap_bp`` (n_shared / min(|fps|) in integer basis points — no
    float compare crosses the engine boundary).
    """
    # The doc's fingerprint-set size rides along on every posting row (one
    # long) so the final overlap ratio needs NO join back to a sizes
    # table: the naive two-join form re-ran the whole winnowing scan (the
    # O(L) md5 gram chain) once per join side — three corpus scans for
    # one answer. Here `documents` is scanned ONCE and the only shuffles
    # are the two keyed aggregations (guide: shuffle metadata, not
    # recompute payloads).
    fps = winnow_fingerprints(docs, id_col, text_col, k, w)
    posting = fps.select(F.col(id_col),
                         F.size("fps").cast("long").alias("n_fp"),
                         F.explode("fps").alias("fp"))
    # struct sorts field-by-field, ids are distinct -> same bucket order
    # as the old array_sort(collect_set(id)).
    buckets = (posting.groupBy("fp")
               .agg(F.array_sort(F.collect_set(
                   F.struct(F.col(id_col).alias("id"),
                            F.col("n_fp").alias("n")))).alias("ids"))
               .filter((F.size("ids") >= 2) & (F.size("ids") <= max_df)))
    pairs = (buckets.select(F.explode(F.expr(
        "flatten(transform(ids, (x, i) -> transform("
        "slice(ids, i + 2, size(ids)), "
        "y -> named_struct('id_a', x.id, 'n_a', x.n, "
        "'id_b', y.id, 'n_b', y.n))))")).alias("p"))
        .select("p.id_a", "p.id_b", "p.n_a", "p.n_b"))
    shared = (pairs.groupBy("id_a", "id_b")
              .agg(F.count(F.lit(1)).alias("n_shared"),
                   F.min("n_a").alias("n_a"), F.min("n_b").alias("n_b"))
              .filter(F.col("n_shared") >= min_shared))
    return shared.select("id_a", "id_b", "n_shared",
                         F.expr("n_shared * 10000 div least(n_a, n_b)")
                         .alias("overlap_bp"))


def substr_dup_oracle_sql(k: int = 8, w: int = 4, min_shared: int = 2,
                          max_df: int = 64, table: str = "documents",
                          id_col: str = "doc_id",
                          text_col: str = "text") -> str:
    """DuckDB mirror: same staged grams, same window minima, same df cap
    (HAVING over the posting list), same integer basis-point overlap."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        winnow_grams_oracle_expr, winnow_mins_oracle_expr)
    grams = winnow_grams_oracle_expr(text_col, k)
    mins = winnow_mins_oracle_expr("grams", w)
    return f"""
WITH g AS (SELECT {id_col}, {grams} AS grams FROM {table}),
m AS (SELECT {id_col}, list_distinct({mins}) AS fps FROM g),
p AS (SELECT {id_col}, unnest(fps) AS fp FROM m),
d AS (SELECT fp FROM p GROUP BY fp
      HAVING count(*) BETWEEN 2 AND {max_df}),
pp AS (SELECT a.{id_col} AS id_a, b.{id_col} AS id_b
       FROM p a JOIN d USING (fp) JOIN p b
         ON a.fp = b.fp AND a.{id_col} < b.{id_col}),
n AS (SELECT id_a, id_b, CAST(count(*) AS BIGINT) AS n_shared
      FROM pp GROUP BY 1, 2),
s AS (SELECT {id_col} AS sid, CAST(len(fps) AS BIGINT) AS n_fp FROM m)
SELECT id_a, id_b, n_shared,
       n_shared * 10000 // least(sa.n_fp, sb.n_fp) AS overlap_bp
FROM n JOIN s sa ON sa.sid = id_a JOIN s sb ON sb.sid = id_b
WHERE n_shared >= {min_shared}
ORDER BY id_a, id_b
"""
