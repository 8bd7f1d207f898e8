"""Product quantization (PQ) — the codebook compression tier of the ANN
stack (Jégou et al. 2011), completing the engine's similarity family:
brute-force → IVF (coarse clusters) → int8 scalar quantization → PQ
(vector codebooks, ~dim·32/m·log2(ksub)× compression).

Spark-first shape for 100 TB:

- **Fit** trains one k-means codebook per subspace by reusing the
  engine's distributed Lloyd (``operators/kmeans``) over a SLICED
  embedding column — every subspace fit is the same
  assignment-map/aggregate-reduce rounds, and only m·ksub·(dim/m)
  scalars ever reach the driver (model sync, the k-means contract).
  The m fits run as separate jobs here; a fused single-pass variant
  (explode per subspace, one keyed Lloyd over (subspace, centroid))
  drops in when fit-time scans dominate.
- **Encode is map-only.** All m codebooks ride the plan as literal
  arithmetic; each row's code is m argmins computed in one projection —
  no shuffle, no join, streaming-safe (the k-means/classifier/PCA
  model-as-literal idiom).
- **ADC search never touches raw vectors.** Asymmetric distance
  computation expands the query against the codebook literals and sums
  per-subspace lookup terms over the stored codes — the scan reads
  m bytes of code per row instead of dim floats.

Exactness contract (the k-means idiom, shared with the DuckDB oracle
generators below): vectors and queries are quantized to integer
micro-units up front (``round(x·1e6)`` as BIGINT), codebooks are the
Lloyd chain's integer centroids, so every subspace distance, every
argmin, and every ADC sum is EXACT int64 arithmetic — both engines agree
bit for bit, no float rounding anywhere. Argmin ties break to the LOWEST
code (first minimum of the code-ordered array). Magnitude: components
are ~1e6 micro-units, so a squared diff is ≲4e12, ×dim(64) ≲ 2.6e14 —
far below 2^63.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.kmeans import (
    QUANT, _arr_sql, quantize, sqdist_sql,
)

_DIST = ("list_reduce(list_transform(list_zip({a}, {b}), "
         "s -> (s[1] - s[2]) * (s[1] - s[2])), (x, y) -> x + y)")
_QUANTIZE = ("list_transform({col}, "
             f"x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT))")


def pq_fit(emb: DataFrame, dim: int, m: int = 4, ksub: int = 8,
           iters: int = 2, id_col: str = "vec_id",
           vec_col: str = "embedding") -> list[list[list[int]]]:
    """Train ``m`` subspace codebooks of ``ksub`` INTEGER centroids each
    (quantized micro-units — the Lloyd chain's native form). Returns
    ``codebooks[m][code][dim/m]``; code ids are 0-based positions in
    ascending surviving-centroid order (empty clusters drop out, so ksub
    is an upper bound)."""
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_fit)
    if dim % m != 0:
        raise ValueError(f"dim must divide into m subspaces: {dim=} {m=}")
    dsub = dim // m
    books: list[list[list[int]]] = []
    for s in range(m):
        sub = emb.select(
            F.col(id_col),
            F.slice(F.col(vec_col), s * dsub + 1, dsub).alias(vec_col))
        rows = (kmeans_fit(sub, k=ksub, iters=iters,
                           id_col=id_col, vec_col=vec_col)
                .orderBy("centroid_id", "pos").collect())
        by_cid: dict[int, list[int]] = {}
        for r in rows:
            by_cid.setdefault(r["centroid_id"], []).append(int(r["cq"]))
        books.append([by_cid[c] for c in sorted(by_cid)])
    return books


def pq_fit_fused(emb: DataFrame, dim: int, m: int = 4, ksub: int = 8,
                 iters: int = 2, id_col: str = "vec_id",
                 vec_col: str = "embedding", include_full: bool = False
                 ) -> tuple[list[list[list[int]]], list[list[int]]]:
    """The fused single-pass PQ fit the module docstring promises: ALL
    slice fits run as ONE keyed Lloyd — rows explode to (slice, subvec),
    each iteration is a single map-only assignment against an
    array-of-codebooks literal plus ONE aggregation keyed on
    (slice, cluster, dim) — so the m (+1) codebooks train in exactly
    ``iters`` shuffle rounds and ``iters + 1`` driver syncs total,
    instead of m× that. Bit-identical to per-slice ``pq_fit`` (each
    slice's arithmetic is independent; init ids — the k lowest — are the
    same ids for every slice).

    ``include_full=True`` appends the FULL vector as one more slice, so
    the coarse IVF centroids co-train in the same chain (k must equal
    ksub); the last returned book is then the coarse codebook in
    quantized micro-units.

    Returns ``(books, cids)``: per slice the codebook vectors AND the
    surviving ORIGINAL cluster ids (positions drop when a cluster
    empties) — consumers that key on cluster identity (coarse IVF
    routing ties) need the originals."""
    if dim % m != 0:
        raise ValueError(f"dim must divide into m subspaces: {dim=} {m=}")
    dsub = dim // m
    spans = [(s * dsub, dsub) for s in range(m)]
    if include_full:
        spans.append((0, dim))
    # Persist the NARROW quantized table, not the exploded slice table:
    # sub carries 2× v's payload (m subspace slices + the full-vector
    # slice re-materialize every component), and v must be scanned for
    # the init collect anyway — caching v makes that init scan the ONE
    # read of the embeddings (the pre-r14 shape scanned the parquet
    # twice: once for init, once to materialize sub) and each
    # iteration's re-explode from cache is a map-only transform (r14,
    # guide §5 cache the cheaper-to-hold intermediate).
    v = emb.select(F.col(id_col).alias("vid"),
                   quantize(F.col(vec_col)).alias("qv")).persist()
    sub = v.select(
        "vid",
        F.posexplode(F.array(*[F.slice("qv", lo + 1, ln)
                               for lo, ln in spans])).alias("s", "qv"))
    init = v.orderBy("vid").limit(ksub).collect()
    centers = [[list(r["qv"])[lo:lo + ln] for r in init]
               for lo, ln in spans]
    cids = [list(range(len(c))) for c in centers]
    for _ in range(iters):
        c_lit_sql = ("array(" + ", ".join(
            "array(" + ", ".join(_arr_sql(c) for c in book) + ")"
            for book in centers) + ")")
        cid_lit = F.expr("array(" + ", ".join(
            "array(" + ", ".join(str(int(c)) for c in cs) + ")"
            for cs in cids) + ")")
        dists = F.expr(f"transform(element_at({c_lit_sql}, s + 1), "
                       f"c -> {sqdist_sql('qv', 'c')})")
        assigned = (sub.withColumn("_d", dists)
                    .select("s", "vid", "qv",
                            F.element_at(
                                F.element_at(cid_lit, F.col("s") + 1),
                                F.array_position("_d", F.array_min("_d"))
                                .cast("int")).alias("cid")))
        sums = (assigned
                .select("s", "cid", F.posexplode("qv").alias("pos", "val"))
                .groupBy("s", "cid", "pos")
                .agg(F.sum("val").alias("sm"), F.count(F.lit(1)).alias("n"))
                .withColumn("cq", F.round(F.col("sm").cast("double")
                                          / F.col("n")).cast("long")))
        by_s: dict[int, dict[int, dict[int, int]]] = {}
        for r in sums.collect():
            by_s.setdefault(r["s"], {}).setdefault(
                r["cid"], {})[r["pos"]] = r["cq"]
        centers, cids = [], []
        for si in range(len(spans)):
            by_cid = by_s.get(si, {})
            cs = sorted(by_cid)
            cids.append(cs)
            centers.append([[by_cid[c][p] for p in sorted(by_cid[c])]
                            for c in cs])
    v.unpersist()
    return centers, cids


def _quantize_sql(vec: str) -> str:
    """``quantize`` as SQL text over a column reference."""
    return (f"transform({vec}, x -> CAST(round(CAST(x AS DOUBLE) * "
            f"{QUANT}) AS LONG))")


def _code_col(qv_sql: str, codebooks: list[list[list[int]]]) -> Column:
    """m argmins over the codebook literals — ONE array<int> expression.

    Instantiated as text: the Column form built m·ksub squared-distance
    trees (~30 py4j round-trips each — the dominant pq_ann driver cost,
    r8 cProfile). ``qv_sql`` should reference a STAGED projection column,
    not an inline expression, or each of the m·ksub distance terms
    re-embeds (and without CSE re-evaluates) the whole quantize tree."""
    dsub = len(codebooks[0][0])
    codes = []
    for s, book in enumerate(codebooks):
        sub = f"slice({qv_sql}, {s * dsub + 1}, {dsub})"
        d = ("array(" + ", ".join(
            sqdist_sql(sub, _arr_sql(c)) for c in book) + ")")
        codes.append(f"CAST(array_position({d}, array_min({d})) - 1 "
                     f"AS INT)")
    return F.expr("array(" + ", ".join(codes) + ")")


def pq_encode(emb: DataFrame, codebooks: list[list[list[int]]],
              vec_col: str = "embedding",
              out_col: str = "pq_code") -> DataFrame:
    """Append ``out_col``: array<int> of m codebook indices (0-based),
    one argmin per subspace, computed entirely map-side over the
    quantized vector (staged once per row, then sliced per subspace)."""
    tmp = "__pq_qv"
    return (emb.withColumn(tmp, quantize(F.col(vec_col)))
            .withColumn(out_col, _code_col(tmp, codebooks))
            .drop(tmp))


def _lut_col(qq_sql: str, codebooks: list[list[list[int]]]) -> Column:
    """The query's ADC lookup table — array<array<long>> of m×ksub
    integer subspace distances against the codebook literals. Computed
    ONCE per query row BEFORE the candidate join, so the O(m·ksub·dsub)
    expression never rides the per-candidate scan. Text-instantiated for
    the same reason as ``_code_col``; query frames are tiny, so the
    quantize tree is inlined per term rather than staged."""
    dsub = len(codebooks[0][0])
    return F.expr("array(" + ", ".join(
        "array(" + ", ".join(
            sqdist_sql(f"slice({qq_sql}, {s * dsub + 1}, {dsub})",
                       _arr_sql(c))
            for c in book) + ")"
        for s, book in enumerate(codebooks)) + ")")


def _adc_dist(code_col: str, lut: str, m: int) -> Column:
    """Σ_s LUT[s][code_s]: m array lookups per candidate row — the whole
    per-candidate ADC cost. One generated sum expression."""
    return F.expr(" + ".join(
        f"element_at(element_at({lut}, {s + 1}), "
        f"CAST(element_at({code_col}, {s + 1}) AS INT) + 1)"
        for s in range(m)))


def pq_adc_topk(codes: DataFrame, queries: DataFrame,
                codebooks: list[list[list[int]]], k: int = 5,
                id_col: str = "vec_id", code_col: str = "pq_code",
                query_id: str = "query_id",
                query_vec: str = "qe") -> DataFrame:
    """Asymmetric-distance top-k: for every query, the k nearest stored
    CODES (approximate squared L2, exact int64 in micro-unit²). The query
    side is broadcast; the code scan sums per-subspace lookups from
    codebook literals — no raw-vector reads, no shuffle keyed on content;
    ranking is a per-query window (partitioned — never global). No
    self-filter: a query that is also a corpus row ranks itself."""
    from pyspark.sql import Window as W
    q = queries.select(query_id,
                       _lut_col(_quantize_sql(query_vec), codebooks)
                       .alias("_lut"))
    scored = (codes.crossJoin(F.broadcast(q))
              .select(query_id, F.col(id_col).alias("neighbor_id"),
                      _adc_dist(code_col, "_lut",
                                len(codebooks)).alias("adc_dist")))
    w = W.partitionBy(query_id).orderBy("adc_dist", "neighbor_id")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .orderBy(query_id, "rank"))


def ivfpq_topk(emb: DataFrame, centroids: DataFrame,
               codebooks: list[list[list[int]]], queries: DataFrame,
               k: int = 5, nprobe: int = 2, id_col: str = "vec_id",
               vec_col: str = "embedding", query_id: str = "query_id",
               query_vec: str = "qe",
               codes: DataFrame | None = None,
               centroid_list: list[tuple[int, list[float]]] | None = None
               ) -> DataFrame:
    """Bounded-probe PQ search — the FAISS IVF-PQ shape (codes quantize
    raw vectors; residual encoding is the drop-in refinement): coarse IVF
    routing picks ``nprobe`` clusters per query, ADC runs ONLY over the
    codes of those clusters. Candidate count is corpus_fraction ×
    nprobe/K instead of the whole scan — the scale path
    ``pq_adc_topk``'s compressed-domain full scan needs at real corpus
    sizes. Probe routing is cosine (matching ``similarity.ivf_assign``,
    so a bucketBy(cluster_id) code index co-locates both consumers);
    within candidates the ranking is exact-integer ADC.

    Pass a prebuilt ``codes`` frame (id, cluster_id, pq_code — e.g. the
    persisted index a production deployment reads back) to skip the
    in-line assign+encode build. Pass ``centroid_list`` — driver-known
    ``(cid, ce)`` pairs, e.g. from the fused fit — to route probes
    MAP-ONLY (``similarity.ivf_probes_literal``) instead of via the
    broadcast crossJoin + per-query window; identical values."""
    from pyspark.sql import Window as W
    from nci_seronet_proc_data_validator_spark.operators.similarity import (
        _dot, _norm, ivf_assign, ivf_probes_literal)
    if codes is None:
        codes = pq_encode(
            ivf_assign(emb, centroids, id_col=id_col, vec_col=vec_col),
            codebooks, vec_col=vec_col)
    codes = codes.select(id_col, "cluster_id", "pq_code")
    if centroid_list is not None:
        probes = (ivf_probes_literal(queries, centroid_list, nprobe,
                                     qid_col=query_id, qvec_col=query_vec)
                  .select(query_id,
                          _lut_col(_quantize_sql(query_vec), codebooks)
                          .alias("_lut"),
                          "cluster_id"))
    else:
        qsim = (_dot(F.col(query_vec), F.col("ce"))
                / (_norm(F.col(query_vec)) * _norm(F.col("ce"))))
        wq = W.partitionBy(query_id).orderBy(
            F.round(F.col("_qsim"), 12).desc(), F.col("centroid_id"))
        probes = (queries.crossJoin(F.broadcast(centroids))
                  .withColumn("_qsim", qsim)
                  .withColumn("_rn", F.row_number().over(wq))
                  .filter(F.col("_rn") <= nprobe)
                  .select(query_id,
                          _lut_col(_quantize_sql(query_vec), codebooks)
                          .alias("_lut"),
                          F.col("centroid_id").alias("cluster_id")))
    w = W.partitionBy(query_id).orderBy("adc_dist", "neighbor_id")
    # Probe side is (queries × nprobe) rows — query-batch-scale by
    # contract — so broadcast it (guide §3.2): the corpus-sized code
    # index stays in place (bucketed or not) instead of being
    # shuffled/sorted under a sort-merge join.
    return (F.broadcast(probes).join(codes, "cluster_id")
            .select(query_id, F.col(id_col).alias("neighbor_id"),
                    _adc_dist("pq_code", "_lut",
                              len(codebooks)).alias("adc_dist"))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .orderBy(query_id, "rank"))


# ------------------------------------------------------------- oracles
def pq_ctes(dim: int, m: int = 4, ksub: int = 8, iters: int = 2,
            n_queries: int = 5, table: str = "embeddings") -> list[str]:
    """The full PQ pipeline as DuckDB CTEs: per subspace a prefixed Lloyd
    chain (``p{s}…``), the 0-based codebook (``p{s}cb``), the argmin
    encode (``p{s}enc``), and the per-subspace ADC partials (``p{s}adc``)
    summed into ``pqadc(query_id, neighbor_id, adc_dist)``. All integer —
    bit-exact against the Spark operators above."""
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_ctes)
    dsub = dim // m
    ctes: list[str] = [f"""pqq AS (
  SELECT vec_id AS query_id, {_QUANTIZE.format(col='embedding')} AS qq
  FROM {table} WHERE vec_id < {n_queries})"""]
    partials = []
    for s in range(m):
        lo, hi = s * dsub + 1, (s + 1) * dsub
        sub = (f"(SELECT vec_id, list_slice(embedding, {lo}, {hi}) "
               f"AS embedding FROM {table})")
        ctes.extend(kmeans_ctes(k=ksub, iters=iters, table=sub,
                                prefix=f"p{s}"))
        ctes.append(f"""p{s}cb AS (
  SELECT row_number() OVER (ORDER BY cid) - 1 AS code, qc
  FROM p{s}c{iters})""")
        ctes.append(f"""p{s}enc AS (
  SELECT vid, code FROM (
    SELECT v.vid, b.code,
           row_number() OVER (PARTITION BY v.vid
             ORDER BY {_DIST.format(a='v.qv', b='b.qc')}, b.code) AS rn
    FROM p{s}v v CROSS JOIN p{s}cb b) WHERE rn = 1)""")
        qsub = f"list_slice(q.qq, {lo}, {hi})"
        ctes.append(f"""p{s}adc AS (
  SELECT q.query_id, e.vid, {_DIST.format(a=qsub, b='b.qc')} AS d
  FROM pqq q CROSS JOIN p{s}enc e JOIN p{s}cb b ON b.code = e.code)""")
        partials.append(f"SELECT * FROM p{s}adc")
    ctes.append(f"""pqadc AS (
  SELECT query_id, vid AS neighbor_id, CAST(SUM(d) AS BIGINT) AS adc_dist
  FROM ({' UNION ALL '.join(partials)}) GROUP BY 1, 2)""")
    return ctes


def pq_adc_oracle_sql(dim: int, m: int = 4, ksub: int = 8, iters: int = 2,
                      n_queries: int = 5, k: int = 5,
                      table: str = "embeddings") -> str:
    """DuckDB twin of fit → encode → ``pq_adc_topk`` (full compressed
    scan)."""
    joined = ",\n".join(pq_ctes(dim, m, ksub, iters, n_queries, table))
    return f"""
WITH {joined}
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT query_id, neighbor_id, adc_dist,
         row_number() OVER (PARTITION BY query_id
           ORDER BY adc_dist, neighbor_id) AS rank
  FROM pqadc)
WHERE rank <= {k}
ORDER BY query_id, rank
"""


def ivfpq_oracle_sql(dim: int, m: int = 4, ksub: int = 8, iters: int = 2,
                     coarse_k: int = 8, coarse_iters: int = 2,
                     n_queries: int = 5, k: int = 5, nprobe: int = 2,
                     table: str = "embeddings") -> str:
    """DuckDB twin of ``ivfpq_topk``: the coarse Lloyd chain (prefix
    ``g``) routes queries and vectors by cosine exactly as
    ``similarity.ivf_assign`` does; ADC restricted to probed clusters."""
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_ctes)
    dot = ("list_reduce(list_transform(list_zip({a}, {b}), "
           "s -> CAST(s[1] AS DOUBLE) * CAST(s[2] AS DOUBLE)), "
           "(x, y) -> x + y)")
    nrm = ("sqrt(list_reduce(list_transform({a}, "
           "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), (x, y) -> x + y))")

    def cos(a: str, b: str) -> str:
        return (f"{dot.format(a=a, b=b)} / "
                f"({nrm.format(a=a)} * {nrm.format(a=b)})")

    coarse = kmeans_ctes(k=coarse_k, iters=coarse_iters, table=table,
                         prefix="g")
    cent = (f"gcent AS (\n  SELECT cid AS centroid_id, "
            f"list_transform(qc, x -> CAST(x AS DOUBLE) / {QUANT}) AS ce\n"
            f"  FROM gc{coarse_iters})")
    routing = [cent, f"""gassigned AS (
  SELECT vec_id, centroid_id AS cluster_id FROM (
    SELECT e.vec_id, c.centroid_id,
           row_number() OVER (PARTITION BY e.vec_id
             ORDER BY round({cos('e.embedding', 'c.ce')}, 12) DESC,
                      c.centroid_id) AS rn
    FROM {table} e CROSS JOIN gcent c)
  WHERE rn = 1)""", f"""gq AS (
  SELECT vec_id AS query_id, embedding AS qe FROM {table}
  WHERE vec_id < {n_queries})""", f"""gprobes AS (
  SELECT query_id, centroid_id AS cluster_id FROM (
    SELECT q.query_id, c.centroid_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round({cos('q.qe', 'c.ce')}, 12) DESC,
                      c.centroid_id) AS rn
    FROM gq q CROSS JOIN gcent c)
  WHERE rn <= {nprobe})"""]
    pq = pq_ctes(dim, m, ksub, iters, n_queries, table)
    joined = ",\n".join(coarse + routing + pq)
    return f"""
WITH {joined}
SELECT query_id, neighbor_id, adc_dist, rank FROM (
  SELECT d.query_id, d.neighbor_id, d.adc_dist,
         row_number() OVER (PARTITION BY d.query_id
           ORDER BY d.adc_dist, d.neighbor_id) AS rank
  FROM pqadc d
  JOIN gassigned a ON a.vec_id = d.neighbor_id
  JOIN gprobes p ON p.query_id = d.query_id
                AND p.cluster_id = a.cluster_id)
WHERE rank <= {k}
ORDER BY query_id, rank
"""
