"""Training-data preparation operators: chunking, deterministic
split/shuffle, and token-budget sequence packing — the steps between "the
corpus is clean" (dedup/quality/PII, elsewhere in ``operators/``) and "a
training run can read it". The reference has none of this; the shapes are
standard pretraining prep.

Scale posture:

- ``chunk_documents`` is a pure map (explode over computed offsets) — no
  shuffle, parallel in the scan.
- ``train_val_split`` is a pure map: the split decision and the shuffle
  key are both content-free hashes of the id, so the assignment is stable
  under repartitioning, re-runs, and engine choice (md5-prefix ints, the
  engine-portable hash used by the dedup pipeline).
- ``pack_sequences`` is the GPT-style concat-and-cut: documents are
  concatenated in id order per shard and cut every ``budget`` tokens; a
  document belongs to the sequence where it starts. One window cumsum
  partitioned by the shard key — the shuffle moves each shard once, and
  shards pack independently (the global-concat variant would be a single
  global sort; sharded packing is what a 1000-executor run does anyway).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _hash_int(col: Column, prefix: str = "") -> Column:
    """First 8 md5 hex digits as a bigint — portable across engines
    (DuckDB: ``CAST('0x' || substr(md5(x), 1, 8) AS BIGINT)``)."""
    return F.conv(F.substring(F.md5(F.concat(F.lit(prefix), col)), 1, 8),
                  16, 10).cast("long")


def chunk_documents(docs: DataFrame, chunk_chars: int = 500,
                    overlap: int = 100, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """Split documents into fixed-width character chunks with overlap —
    context-window prep. Chunk ``i`` starts at ``1 + i*(chunk-overlap)``
    (1-based, matching both engines' substr); the final chunk may be
    short; a document shorter than one stride yields exactly one chunk.
    """
    stride = chunk_chars - overlap
    if stride <= 0:
        raise ValueError("chunk_chars must exceed overlap")
    n = F.length(F.col(text_col))
    # number of chunks = 1 + ceil(max(0, n - chunk) / stride)
    n_chunks = F.lit(1) + F.ceil(
        F.greatest(n - chunk_chars, F.lit(0)) / F.lit(stride)).cast("int")
    return (docs.select(
        id_col,
        F.posexplode(F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.substring(F.col(text_col),
                                  (i * stride + 1).cast("int"),
                                  chunk_chars))).alias("chunk_idx", "chunk"))
        .withColumn("chunk_len", F.length("chunk"))
        .withColumn("chunk_hash", _hash_int(F.col("chunk"))))


def chunk_documents_oracle_sql(chunk_chars: int = 500, overlap: int = 100,
                               table: str = "documents") -> str:
    stride = chunk_chars - overlap
    return f"""
WITH d AS (
  SELECT doc_id, text,
         1 + CAST(ceil(greatest(length(text) - {chunk_chars}, 0)
                       / {stride}.0) AS INT) AS n_chunks
  FROM {table})
SELECT doc_id, i AS chunk_idx,
       length(substr(text, i * {stride} + 1, {chunk_chars})) AS chunk_len,
       CAST('0x' || substr(md5(substr(text, i * {stride} + 1,
                                      {chunk_chars})), 1, 8) AS BIGINT)
         AS chunk_hash
FROM d, unnest(generate_series(0, n_chunks - 1)) AS t(i)
ORDER BY doc_id, chunk_idx
"""


def train_val_split(docs: DataFrame, val_pct: int = 10,
                    seed: str = "split-v1",
                    id_col: str = "doc_id") -> DataFrame:
    """Deterministic split + shuffle key: ``val`` iff
    ``hash(seed, id) % 100 < val_pct``; ``shuffle_key`` is an independent
    hash for stable pseudorandom training order. Pure map — assignment
    survives re-runs, repartitioning, and backfills (the property
    random() splits lack)."""
    h = _hash_int(F.col(id_col).cast("string"), f"{seed}:")
    return docs.select(
        id_col,
        F.when(h % 100 < val_pct, F.lit("val"))
         .otherwise(F.lit("train")).alias("split"),
        _hash_int(F.col(id_col).cast("string"), f"{seed}:order:")
        .alias("shuffle_key"))


def train_val_split_oracle_sql(val_pct: int = 10, seed: str = "split-v1",
                               table: str = "documents") -> str:
    def h(prefix: str) -> str:
        return (f"CAST('0x' || substr(md5('{prefix}' || "
                f"CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT)")
    return f"""
SELECT doc_id,
       CASE WHEN {h(seed + ':')} % 100 < {val_pct}
            THEN 'val' ELSE 'train' END AS split,
       {h(seed + ':order:')} AS shuffle_key
FROM {table}
ORDER BY doc_id
"""


PACK_SHARD_SEED = "pack-shard:"


def pack_shard_key(id_col: str = "doc_id", n_shards: int = 256) -> Column:
    """Scale-safe default shard key: an id-hash bucket. Deterministic,
    engine-portable (same md5-prefix hash as the split/dedup operators),
    and high-cardinality by construction — raise ``n_shards`` with the
    cluster, each window task sorts ~1/n_shards of the corpus. The
    distributed equivalent of packing per input split, without depending
    on file layout."""
    return (_hash_int(F.col(id_col).cast("string"), PACK_SHARD_SEED)
            % n_shards).cast("long")


def pack_sequences(docs: DataFrame, budget: int = 2048,
                   shard_col: str | None = None, n_shards: int = 256,
                   id_col: str = "doc_id",
                   text_col: str = "text") -> DataFrame:
    """GPT-style sequence packing: concatenate documents in id order
    within each shard, cut every ``budget`` tokens; a document belongs to
    the sequence in which its first token lands. Returns per-sequence
    stats ``(shard, seq_id, n_docs, total_tokens)``.

    ``shard_col`` bounds the window's parallelism: all of a shard's rows
    sort on one task. The default (``shard_col=None``) derives a
    ``n_shards``-way id-hash shard (``pack_shard_key``), so parallelism
    scales with ``n_shards`` regardless of input layout; pass an explicit
    column (e.g. ``lang``) only when shard membership must be semantic."""
    ntok = F.size(F.regexp_extract_all(
        F.lower(F.col(text_col)), F.lit("[a-z0-9]+"), F.lit(0)))
    if shard_col is None:
        docs = docs.withColumn("_pack_shard",
                               pack_shard_key(id_col, n_shards))
        shard_col = "_pack_shard"
    w = (Window.partitionBy(shard_col).orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    offset = F.coalesce(F.sum("n_tok").over(w), F.lit(0))
    return (docs.select(shard_col, id_col, ntok.alias("n_tok"))
            .withColumn("seq_id", F.floor(offset / budget))
            .groupBy(F.col(shard_col).alias("shard"), "seq_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tok").alias("total_tokens")))


def pack_sequences_oracle_sql(budget: int = 2048,
                              table: str = "documents",
                              shard_col: str | None = None,
                              n_shards: int = 256) -> str:
    if shard_col is None:
        shard = (f"CAST('0x' || substr(md5('{PACK_SHARD_SEED}' || "
                 f"CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % {n_shards}")
    else:
        shard = shard_col
    return f"""
WITH t AS (
  SELECT {shard} AS shard, doc_id,
         len(regexp_extract_all(lower(text), '[a-z0-9]+')) AS n_tok
  FROM {table}),
o AS (
  SELECT shard, doc_id, n_tok,
         COALESCE(SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
  FROM t)
SELECT shard, CAST(floor(off / {budget}.0) AS BIGINT) AS seq_id,
       count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens
FROM o GROUP BY 1, 2 ORDER BY shard, seq_id
"""


def build_vocab(docs: DataFrame, n: int = 50_000,
                text_col: str = "text",
                tok_counts: DataFrame | None = None) -> DataFrame:
    """Frequency-truncated vocabulary with dense integer ids.

    Tokens = lowercase [a-z0-9]+ runs (the same regex family as
    ``dedup.tokens``); ids are 1..n by (count desc, token) — deterministic.
    The corpus-wide part is one keyed agg + TakeOrdered top-n; id
    assignment then runs on the ALREADY-truncated vocab (bounded by n,
    not the corpus) as a broadcast rank-count self-join — the same
    zero-WindowExec idiom as ``search.bm25_topk``, so the no-global-window
    plan guard holds for every query composing this. id 0 is reserved for
    <unk>.

    ``tok_counts``: a precomputed ``(token, n_occ)`` aggregate (extra
    columns ignored) shared with sibling pipeline stages — skips this
    function's own tokenize scan (r13).
    """
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        tokens as _tokens)
    if tok_counts is not None:
        top = (tok_counts.select("token", "n_occ")
               .orderBy(F.col("n_occ").desc(), "token")
               .limit(n))
    else:
        top = (docs.select(F.explode(_tokens(text_col)).alias("token"))
               .groupBy("token").agg(F.count(F.lit(1)).alias("n_occ"))
               .orderBy(F.col("n_occ").desc(), "token")
               .limit(n))
    # rank(t) = 1 + |{peer strictly before t}| over the <= n survivors
    peers = top.select(F.col("n_occ").alias("peer_occ"),
                       F.col("token").alias("peer_tok"))
    before = ((F.col("peer_occ") > F.col("n_occ"))
              | ((F.col("peer_occ") == F.col("n_occ"))
                 & (F.col("peer_tok") < F.col("token"))))
    return (top.join(F.broadcast(peers), before, "left")
            .groupBy("token", "n_occ")
            .agg((F.count("peer_tok") + 1).cast("long").alias("token_id")))


def vocab_encode(docs: DataFrame, vocab: DataFrame, unk_id: int = 0,
                 text_col: str = "text", id_col: str = "doc_id",
                 toks: DataFrame | None = None) -> DataFrame:
    """Encode each document as its token-id array against ``vocab`` —
    the final text→training-tokens step before ``pack_sequences``.

    Shape: posexplode tokens (map-only) → BROADCAST join against the
    bounded vocabulary → one keyed agg reassembling ids in order.
    Out-of-vocabulary tokens map to ``unk_id``.

    ``toks``: a precomputed ``(id_col, pos, token)`` posexplode shared
    with sibling pipeline stages — skips this function's own tokenize
    scan (r13).
    """
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        tokens as _tokens)
    if toks is None:
        toks = docs.select(
            F.col(id_col),
            F.posexplode(_tokens(text_col)).alias("pos", "token"))
    joined = toks.join(F.broadcast(vocab.select("token", "token_id")),
                       "token", "left")
    ids = F.transform(
        F.array_sort(F.collect_list(F.struct(
            "pos", F.coalesce("token_id", F.lit(unk_id)).alias("tid")))),
        lambda s: s["tid"])
    encoded = (joined.groupBy(id_col)
               .agg(ids.alias("token_ids"),
                    F.count(F.lit(1)).cast("long").alias("n_tokens"),
                    F.sum(F.when(F.col("token_id").isNull(), 1)
                          .otherwise(0)).cast("long").alias("n_unk")))
    # Zero-token docs (empty/punctuation-only text) vanish in posexplode;
    # keep them as empty encodings so downstream joins (pack_sequences
    # keeps n_tok=0 docs too) never lose documents.
    return (docs.select(id_col).distinct()
            .join(encoded, id_col, "left")
            .select(id_col,
                    F.coalesce("token_ids",
                               F.array().cast("array<bigint>"))
                    .alias("token_ids"),
                    F.coalesce("n_tokens", F.lit(0)).cast("long")
                    .alias("n_tokens"),
                    F.coalesce("n_unk", F.lit(0)).cast("long")
                    .alias("n_unk")))


def vocab_encode_oracle_sql(n_vocab: int, unk_id: int = 0,
                            table: str = "documents") -> str:
    """DuckDB mirror: same tokenization, same (count desc, token) ranking,
    same ordered reassembly."""
    return f"""
WITH t AS (
  SELECT doc_id, i AS pos, toks[i] AS token
  FROM (SELECT doc_id,
               regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
        FROM {table}),
       unnest(generate_series(1, len(toks))) AS u(i)),
v AS (
  SELECT token,
         row_number() OVER (ORDER BY count(*) DESC, token) AS token_id
  FROM t GROUP BY token
  ORDER BY count(*) DESC, token LIMIT {n_vocab}),
e AS (
  SELECT doc_id,
         list(coalesce(v.token_id, {unk_id}) ORDER BY pos) AS token_ids,
         CAST(count(*) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS n_unk
  FROM t LEFT JOIN v USING (token)
  GROUP BY doc_id)
SELECT d.doc_id,
       coalesce(e.token_ids, []) AS token_ids,
       coalesce(e.n_tokens, 0) AS n_tokens,
       coalesce(e.n_unk, 0) AS n_unk
FROM (SELECT DISTINCT doc_id FROM {table}) d
LEFT JOIN e USING (doc_id)
"""


def write_training_shards(df: DataFrame, path: str,
                          max_records_per_file: int = 100_000,
                          n_shards: int | None = None,
                          id_col: str = "doc_id",
                          fmt: str = "parquet") -> None:
    """Write a curated corpus as bounded-size training shards.

    The 100 TB concern this solves: training loaders want many
    uniform-size files (shufflable, resumable, one per reader), while a
    naive ``df.write`` emits one file per upstream partition — skewed
    stages produce 10 GB files next to 10 KB ones. Two controls compose:

    - ``repartition(n_shards, hash(id))`` evens out record counts across
      writer tasks (deterministic id-hash, not round-robin, so re-runs
      place rows identically);
    - ``maxRecordsPerFile`` caps each task's output file size, splitting
      any remaining overage without another shuffle.

    ``n_shards=None`` derives ceil(count/max_records) — one counting
    pass; pass it explicitly at scale to skip that.
    """
    if max_records_per_file < 1:
        raise ValueError(f"max_records_per_file must be >= 1: "
                         f"{max_records_per_file}")
    if n_shards is None:
        n = df.count()
        n_shards = max(1, -(-n // max_records_per_file))
    out = (df.repartition(n_shards, F.col(id_col))
           .write.mode("overwrite")
           .option("maxRecordsPerFile", max_records_per_file))
    if fmt == "parquet":
        out.parquet(path)
    elif fmt == "json":
        out.json(path)
    else:
        raise ValueError(f"unknown training shard format {fmt!r}")
