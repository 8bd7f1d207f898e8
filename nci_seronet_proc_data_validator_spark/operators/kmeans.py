"""Distributed k-means (Lloyd's algorithm) over an embedding column —
the centroid-training step the IVF ANN index (``operators/similarity``)
needs; the reference has no vector pipeline at all.

This is the engine's one genuinely *iterative* DataFrame algorithm, so
its design doubles as the template for iterative work at 100 TB:

- **The model rides the plan, shuffle nothing per iteration.** Centroids
  are k·dim values — always driver scale, exactly like MLlib's KMeans,
  which collects centers between iterations. Each Lloyd iteration embeds
  the current centroids as an array *literal*, so assignment is a pure
  map (per-row argmin over the literal — no crossJoin row expansion, no
  ranking window, no shuffle of vector data at all); the only exchange
  is the keyed aggregation on ``(cluster, dim)`` whose cardinality is
  k·dim — partial aggregation absorbs the per-row work map-side.
- **Bounded lineage for free.** The per-iteration centroid collect (k·dim
  scalars — model sync, not data collection) cuts the plan at every
  round; no checkpointing needed regardless of iteration count.
- **Exact cross-engine arithmetic via integer quantization.** Float
  means are order-dependent (double addition is non-associative, and
  Spark's partial aggregation order is nondeterministic), so the oracle
  contract quantizes components to integer micro-units
  (``round(x · 1e6)`` as BIGINT) up front: squared-L2 distances and
  per-dimension sums are then EXACT integer math, ties break on integer
  equality, and both engines converge bit-identically. dim·(1e7)² per
  term × 64 dims stays far below 2^63.

Determinism: init = the k lowest-id vectors (cluster ids 0..k-1 in id
order); assignment ties go to the lowest cluster id; empty clusters drop
out (both engines share the semantics).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.dedup import (
    spread_small_input,
)

QUANT = 1_000_000


def quantize(vec_col: Column) -> Column:
    """float array → integer micro-unit array (exact both engines)."""
    return F.transform(
        vec_col,
        lambda x: F.round(x.cast("double") * QUANT).cast("long"))


def sqdist_sql(a: str, b: str) -> str:
    """Integer squared distance of two array<long> expressions, as SQL
    text. Building it as a Column costs ~30 py4j round-trips (each
    higher-order lambda is its own JVM call); the PQ code/LUT builders
    instantiate it m·ksub ≈ 100+ times per model, which made driver
    build — not execution — pq_ann's dominant cost (7.7 s construct vs
    0.9 s execute, cProfile r8). Text instantiation is driver-free until
    one final parse."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"0L, (acc, v) -> acc + v)")


def _arr_sql(vals) -> str:
    """array<long> literal as ONE SQL expression — per-element ``F.lit``
    Columns cost a py4j round-trip each, which dominates model-as-literal
    builds (centroids, codebooks)."""
    return "array(" + ", ".join(f"{int(x)}L" for x in vals) + ")"


def kmeans_fit(emb: DataFrame, k: int = 8, iters: int = 2,
               id_col: str = "vec_id", vec_col: str = "embedding"
               ) -> DataFrame:
    """Run ``iters`` Lloyd iterations; return the final centroids in
    exploded scalar form ``(centroid_id, pos, cq, n_assigned)`` where
    ``cq`` is the quantized component after the last mean update and
    ``n_assigned`` the size of the cluster in the final assignment.

    The returned frame is a LOCAL model frame (one slice, k·dim rows)
    built from the final iteration's own model-sync collect — the loop
    already holds every output value driver-side, so re-executing the
    distributed assignment+aggregation subtree per downstream action
    (the pre-r14 shape: one full corpus scan per consumer action) bought
    nothing. Model syncs are the Lloyd contract (MLlib collects centers
    the same way); values are bit-identical by construction (r14).
    """
    from nci_seronet_proc_data_validator_spark.errors import local_rows_df
    rows, _assigned = _lloyd(emb, k, iters, id_col, vec_col)
    data = sorted((int(r["cid"]), int(r["pos"]), int(r["cq"]), int(r["n"]))
                  for r in rows)
    return local_rows_df(
        emb.sparkSession, data,
        "centroid_id int, pos int, cq long, n_assigned long")


def kmeans_assignments(emb: DataFrame, k: int = 8, iters: int = 2,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_rows: int | None = None, advise: bool = True
                       ) -> DataFrame:
    """The FINAL Lloyd assignment ``(vid, qv, cid)`` — the cluster
    partition downstream consumers (IVF build, SemDeDup) group by.
    Matches the oracle CTE ``a{iters}`` (assignment under the
    ``c{iters-1}`` model, i.e. the argmin computed in the last
    iteration before the final mean update).

    A pinned k over input with no declared ``max_rows`` bound trips the
    scale advisor: assignment itself is linear in N, but every downstream
    within-cluster consumer (SemDeDup pairing, IVF probe lists) inherits
    mean cluster size N/k, which grows without bound when k is a
    compile-time constant. ``advise=False`` is for callers that already
    ran the rule for this invocation (semdedup)."""
    if advise:
        from nci_seronet_proc_data_validator_spark.plans.advisor import (
            warn_fixed_k)
        warn_fixed_k("kmeans_assignments", k, max_rows)
    # final_stats=False: the assignment is the argmin under the model
    # AFTER iters-1 mean updates (the oracle's a{iters} contract), so the
    # final iteration's stats aggregation+collect — a full scan + keyed
    # agg + driver sync whose result this caller throws away — is skipped
    # outright: iters-1 sync jobs instead of iters (r14, guide §1.2
    # "don't compute things you throw away").
    _rows, assigned = _lloyd(emb, k, iters, id_col, vec_col,
                             final_stats=False)
    return assigned


def _lloyd(emb: DataFrame, k: int, iters: int,
           id_col: str, vec_col: str, final_stats: bool = True):
    """Shared Lloyd loop: returns (final iteration's collected stats rows,
    final assignment DF). ``final_stats=False`` skips the LAST iteration's
    stats aggregation+collect entirely (returning ``None`` for the rows):
    the final assignment only needs the model after iters-1 mean updates,
    so assignment-only consumers save one full scan+agg+sync job."""
    if k < 1 or iters < 1:
        raise ValueError(f"kmeans requires k >= 1 and iters >= 1 "
                         f"(got k={k}, iters={iters})")
    # Quantized vectors feed the init scan plus every iteration's
    # assignment — persist once (the same input caching MLlib's KMeans
    # does; at cluster scale this is the one intermediate worth memory).
    v = spread_small_input(emb).select(
        F.col(id_col).alias("vid"),
        quantize(F.col(vec_col)).alias("qv")).persist()
    # Initial model: the k lowest-id vectors, collected driver-side (k·dim
    # scalars — model sync, not data collection).
    centers = [r["qv"] for r in v.orderBy("vid").limit(k).collect()]
    cids = list(range(len(centers)))
    stats_rows = None
    assigned = None
    for it in range(iters):
        # model-as-literal via ONE generated expression per iteration —
        # k*dim F.lit Columns cost ~0.3 s of py4j round-trips each pass
        c_lit_sql = ("array(" + ", ".join(
            "array(" + ", ".join(f"{int(x)}L" for x in c) + ")"
            for c in centers) + ")")
        cid_lit = F.expr(
            "array(" + ", ".join(str(int(c)) for c in cids) + ")")
        # Map-only assignment: per-row argmin of exact integer distances
        # over the centroid literal. array_position takes the FIRST
        # minimum and the literal is in ascending-cid order, so ties go to
        # the lowest cluster id — the documented rule. Empty clusters drop
        # out of (centers, cids) together, preserving original cid values.
        dists = F.expr(
            f"transform({c_lit_sql}, c -> {sqdist_sql('qv', 'c')})")
        assigned = (v.withColumn("_d", dists)
                    .select("vid", "qv",
                            F.element_at(
                                cid_lit,
                                F.array_position("_d", F.array_min("_d"))
                                .cast("int")).alias("cid")))
        if it == iters - 1 and not final_stats:
            break
        sums = (assigned
                .select("cid", F.posexplode("qv").alias("pos", "val"))
                .groupBy("cid", "pos")
                .agg(F.sum("val").alias("s"), F.count(F.lit(1)).alias("n"))
                .withColumn("cq", F.round(F.col("s").cast("double")
                                          / F.col("n")).cast("long")))
        rows = sums.collect()
        if it == iters - 1:
            stats_rows = rows
        by_cid: dict[int, dict[int, int]] = {}
        for r in rows:
            by_cid.setdefault(r["cid"], {})[r["pos"]] = r["cq"]
        cids = sorted(by_cid)
        centers = [[by_cid[c][pos] for pos in sorted(by_cid[c])]
                   for c in cids]
    # Release the training cache (graph.py's pattern): the returned
    # frames re-derive the quantization lazily — one cheap map — instead
    # of pinning executor memory for every later kmeans consumer
    # (semdedup, IVF build) in the session.
    v.unpersist()
    return stats_rows, assigned


def kmeans_ctes(k: int | str = 8, iters: int = 2,
                table: str = "embeddings", prefix: str = "") -> list[str]:
    """The unrolled-Lloyd CTE chain shared by the k-means oracle and any
    oracle composing on top of the trained centroids (``{prefix}c{iters}``
    is the final centroid table, ``{prefix}s{iters}`` its per-component
    stats). ``prefix`` namespaces the CTEs so several independent chains
    (e.g. one per PQ subspace) coexist in one statement; ``table`` may be
    a parenthesized subquery exposing (vec_id, embedding)."""
    dist = ("list_reduce(list_transform(list_zip({a}, {b}), "
            "s -> (s[1] - s[2]) * (s[1] - s[2])), (x, y) -> x + y)")
    p = prefix
    ctes = [f"""{p}v AS (
  SELECT vec_id AS vid,
         list_transform(embedding,
           x -> CAST(round(CAST(x AS DOUBLE) * {QUANT}) AS BIGINT)) AS qv
  FROM {table})""", f"""{p}c0 AS (
  SELECT row_number() OVER (ORDER BY vid) - 1 AS cid, qv AS qc
  FROM (SELECT vid, qv FROM {p}v ORDER BY vid LIMIT {k}))"""]
    for i in range(1, iters + 1):
        ctes.append(f"""{p}a{i} AS (
  SELECT vid, qv, cid FROM (
    SELECT v.vid, v.qv, c.cid,
           row_number() OVER (PARTITION BY v.vid
             ORDER BY {dist.format(a='v.qv', b='c.qc')}, c.cid) AS rn
    FROM {p}v v CROSS JOIN {p}c{i - 1} c) WHERE rn = 1)""")
        ctes.append(f"""{p}s{i} AS (
  SELECT cid, pos, sum(val) AS s, count(*) AS n,
         CAST(round(CAST(sum(val) AS DOUBLE) / count(*)) AS BIGINT) AS cq
  FROM (SELECT cid, unnest(qv) AS val,
               unnest(generate_series(0, len(qv) - 1)) AS pos
        FROM {p}a{i})
  GROUP BY 1, 2)""")
        ctes.append(f"""{p}c{i} AS (
  SELECT cid, list(cq ORDER BY pos) AS qc FROM {p}s{i} GROUP BY cid)""")
    return ctes


def kmeans_oracle_sql(k: int = 8, iters: int = 2,
                      table: str = "embeddings") -> str:
    """DuckDB twin with the iterations unrolled as CTEs (parallel
    ``unnest`` zips value with 0-based position)."""
    joined = ",\n".join(kmeans_ctes(k, iters, table))
    return f"""
WITH {joined}
SELECT cid AS centroid_id, pos, cq, n AS n_assigned
FROM s{iters} ORDER BY centroid_id, pos
"""


def kmeans_centroid_vectors(emb: DataFrame, k: int = 8, iters: int = 2,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding") -> DataFrame:
    """Trained centroids as float vectors ``(centroid_id, ce)`` — the
    shape ``similarity.ivf_topk`` consumes. De-quantization is a single
    IEEE double divide per component, bit-identical on both engines
    (int64→double conversion is exact at centroid magnitudes and both
    engines round the quotient to nearest).

    Like :func:`kmeans_fit`, the output is a LOCAL model frame built from
    the final sync's collected rows (k·dim scalars): the pre-r14 shape
    re-executed the whole Lloyd final round — a full corpus scan + agg —
    inside every consumer action just to regroup values the driver
    already held (r14)."""
    from nci_seronet_proc_data_validator_spark.errors import local_rows_df
    rows, _assigned = _lloyd(emb, k, iters, id_col, vec_col)
    by_cid: dict[int, dict[int, int]] = {}
    for r in rows:
        by_cid.setdefault(int(r["cid"]), {})[int(r["pos"])] = int(r["cq"])
    data = [(c, [by_cid[c][p] / QUANT for p in sorted(by_cid[c])])
            for c in sorted(by_cid)]
    return local_rows_df(emb.sparkSession, data,
                         "centroid_id int, ce array<double>")


def kmeans_centroid_vectors_cte(k: int = 8, iters: int = 2,
                                table: str = "embeddings") -> str:
    """``cent(centroid_id, ce)`` CTE over the trained ``c{iters}`` chain
    (prepend ``kmeans_ctes(...)``)."""
    return (f"cent AS (\n  SELECT cid AS centroid_id, "
            f"list_transform(qc, x -> CAST(x AS DOUBLE) / {QUANT}) AS ce\n"
            f"  FROM c{iters})")
