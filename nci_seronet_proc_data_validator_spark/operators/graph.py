"""Connected components over a near-duplicate pair graph — turns pairwise
dedup output (MinHash LSH / n-gram Jaccard / embedding LSH) into cluster
assignments, the form a training-data pipeline actually consumes (keep one
doc per cluster).

Spark-first shape: iterative min-label propagation expressed as DataFrame
joins — each round is one keyed equi-join plus one keyed aggregation, both
shuffling on the node id, with AQE free to coalesce/skew-split. Rounds
needed = graph diameter, which for near-dup graphs is tiny (clusters are
dense cliques-ish; single digits in practice). The label frontier is
persisted per round and the lineage truncated with ``localCheckpoint``
every few rounds so a long run cannot accumulate an unbounded plan — the
standard alternating large-star/small-star optimization (Kiveris et al.)
drops in here if a workload ever shows high-diameter components.

Driver involvement per round is one ``count()`` of changed labels
(convergence test) — an aggregate scalar, not data collection.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_CHECKPOINT_EVERY = 5


def connected_components(pairs: DataFrame, src: str = "id_a",
                         dst: str = "id_b",
                         max_iter: int = 25) -> DataFrame:
    """Cluster ids for every node appearing in ``pairs``.

    Returns ``(id, cluster_id)`` where ``cluster_id`` is the minimum node
    id in the component — a deterministic canonical representative.
    """
    e = pairs.select(F.col(src).cast("long").alias("src"),
                     F.col(dst).cast("long").alias("dst"))
    # Eager checkpoint, not persist: the edge set is orders smaller than
    # the corpus that produced it, and truncating lineage here keeps every
    # iteration's plan at "two cached inputs + a join" — otherwise Catalyst
    # re-optimizes the full upstream (LSH) plan once per round, which at
    # any scale turns driver planning time into the per-round floor.
    e = (e.union(e.select(F.col("dst").alias("src"),
                          F.col("src").alias("dst")))
         .distinct().localCheckpoint())
    labels = (e.select(F.col("src").alias("id")).distinct()
              .withColumn("label", F.col("id")).persist())
    prev_sum = labels.agg(F.sum("label")).first()[0]
    for it in range(max_iter):
        # min(own, neighbor labels) as ONE union + keyed min: unioning
        # the current labels into the contribution stream replaces the
        # former nbr_min aggregate + left join back onto labels — one
        # exchange instead of two per round, same fixpoint (r13).
        contrib = (e.join(labels.withColumnRenamed("id", "src"), "src")
                   .select(F.col("dst").alias("id"), "label"))
        new_labels = (contrib.union(labels.select("id", "label"))
                      .groupBy("id").agg(F.min("label").alias("label")))
        # Path halving (pointer jumping): label <- label[label]. One more
        # keyed join per round, but convergence drops from O(diameter)
        # rounds to O(log diameter) — at cluster scale rounds are the
        # synchronization barriers, so fewer rounds beats leaner rounds.
        # Invariant label[x] <= x makes the shortcut monotone-safe.
        lab2 = new_labels.select(F.col("id").alias("lid"),
                                 F.col("label").alias("label2"))
        new_labels = (new_labels
                      .join(lab2, new_labels["label"] == lab2["lid"], "left")
                      .select("id",
                              F.least(F.col("label"),
                                      F.coalesce("label2", "label"))
                              .alias("label")))
        if (it + 1) % _CHECKPOINT_EVERY == 0:
            new_labels = new_labels.localCheckpoint(eager=False)
        new_labels = new_labels.persist()
        # Convergence without a compare-join: labels only ever decrease,
        # so any change strictly lowers sum(label) — one scalar aggregate
        # per round (which also materializes the persisted frontier).
        new_sum = new_labels.agg(F.sum("label")).first()[0]
        labels.unpersist()
        labels = new_labels
        if new_sum == prev_sum:
            break
        prev_sum = new_sum
    e.unpersist()
    # Materialize the result OFF the persisted frontier so repeat callers
    # (dedup_clusters, keep_canonical, corpus_funnel) don't accumulate
    # cached frontiers in executor memory across invocations.
    out = (labels.select("id", F.col("label").alias("cluster_id"))
           .localCheckpoint())
    labels.unpersist()
    return out


_PR_SCALE = 1_000_000_000


def pagerank(edges: DataFrame, iters: int = 3,
             src: str = "src", dst: str = "dst") -> DataFrame:
    """Fixed-point PageRank (damping 0.85) over the symmetrized edge set —
    every quantity is an integer multiple of 1e-9, every step is integer
    floor arithmetic, so ranks are bit-identical on any engine and any
    partitioning (float PageRank sums are order-dependent; this isn't).

    Per iteration: one equi-join (contributions to neighbors) + one keyed
    aggregation — the same two-shuffle round as ``connected_components``,
    with the edge set checkpointed once up front so the per-round plan
    stays constant-size. Fixed iteration count → no driver actions in the
    loop at all. Dangling mass is dropped (simplified variant, mirrored
    exactly by the oracle). Returns ``(node_id, rank)`` with rank scaled
    by 1e9."""
    e = edges.select(F.col(src).cast("long").alias("s"),
                     F.col(dst).cast("long").alias("d"))
    e = (e.union(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
         .distinct().localCheckpoint())
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    nodes = deg.select(F.col("s").alias("node_id"), "deg")
    n = nodes.count()
    base = (15 * (_PR_SCALE // n)) // 100
    r = nodes.withColumn("rank", F.lit(_PR_SCALE // n))
    for _ in range(iters):
        contrib = (e.join(r.withColumnRenamed("node_id", "s"), "s")
                   .select(F.col("d").alias("node_id"),
                           F.expr("rank div deg").alias("c")))
        r = (nodes.join(contrib.groupBy("node_id")
                        .agg(F.sum("c").alias("sc")), "node_id", "left")
             .select("node_id", "deg",
                     (F.lit(base)
                      + F.expr(f"(85 * coalesce(sc, 0L)) div 100"))
                     .alias("rank")))
    return r.select("node_id", "rank")


def pagerank_oracle_sql(edges_sql: str, iters: int = 3,
                        limit: int | None = None) -> str:
    """Unrolled-iteration oracle (same integer fixed-point contract).
    ``edges_sql`` must emit ``src``/``dst``."""
    # AS MATERIALIZED throughout: every CTE here is referenced by each
    # unrolled iteration; inlined, DuckDB re-evaluates edges_sql once per
    # reference and the chain explodes combinatorially with iters (OOM
    # observed at 6M edges, round 9). Values are unchanged.
    ctes = [f"raw AS MATERIALIZED ({edges_sql})", """e AS MATERIALIZED (
  SELECT src AS s, dst AS d FROM raw
  UNION
  SELECT dst AS s, src AS d FROM raw)""", """deg AS MATERIALIZED (
  SELECT s, count(*) AS deg FROM e GROUP BY s)""", f"""r0 AS MATERIALIZED (
  SELECT s AS node_id, deg,
         CAST({_PR_SCALE} AS BIGINT)
           // (SELECT count(*) FROM deg) AS rank
  FROM deg)"""]
    base = (f"(15 * (CAST({_PR_SCALE} AS BIGINT) "
            f"// (SELECT count(*) FROM deg))) // 100")
    for i in range(1, iters + 1):
        ctes.append(f"""r{i} AS MATERIALIZED (
  SELECT n.node_id, n.deg,
         {base} + (85 * COALESCE(c.sc, 0)) // 100 AS rank
  FROM r0 n
  LEFT JOIN (
    SELECT e.d AS node_id, SUM(p.rank // p.deg) AS sc
    FROM e JOIN r{i - 1} p ON e.s = p.node_id
    GROUP BY e.d) c ON c.node_id = n.node_id)""")
    tail = f"LIMIT {limit}" if limit else ""
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT node_id, CAST(rank AS BIGINT) AS rank
FROM r{iters} ORDER BY rank DESC, node_id {tail}
"""


def keep_canonical(corpus: DataFrame, components: DataFrame,
                   id_col: str = "doc_id") -> DataFrame:
    """The dedup pipeline's terminal step: drop every clustered document
    except its canonical representative (``cluster_id`` — the component's
    min id). One broadcast-able anti-join against the (tiny) non-canonical
    id set; untouched documents pass through by construction."""
    losers = components.filter(
        F.col("id") != F.col("cluster_id")).select("id")
    return corpus.join(F.broadcast(losers),
                       corpus[id_col] == losers["id"], "left_anti")


def keep_canonical_oracle_sql(pairs_sql: str, corpus: str = "documents",
                              id_col: str = "doc_id") -> str:
    """Oracle for ``keep_canonical`` over ``connected_components`` of the
    pair graph produced by ``pairs_sql``."""
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach AS (
  SELECT src AS id, src AS root FROM edges
  UNION
  SELECT e.dst AS id, r.root AS root
  FROM reach r JOIN edges e ON e.src = r.id),
cc AS (SELECT id, min(root) AS cluster_id FROM reach GROUP BY id)
SELECT c.{id_col}, c.lang
FROM {corpus} c
WHERE c.{id_col} NOT IN (SELECT id FROM cc WHERE id <> cluster_id)
ORDER BY c.{id_col}
"""


def keep_best_oracle_sql(pairs_sql: str, score_sql: str,
                         corpus: str = "documents",
                         id_col: str = "doc_id") -> str:
    """Oracle for ``keep_best_in_cluster`` over connected components of
    the ``pairs_sql`` graph. ``score_sql`` is a SQL expression over the
    corpus alias ``d`` (may yield NULL — the ordering mirrors the
    operator's null_last/-score/id struct argmax: scored docs first,
    highest score wins, ties and all-NULL clusters fall to min id)."""
    return f"""
WITH RECURSIVE
pairs AS ({pairs_sql}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs),
reach AS (
  SELECT src AS id, src AS root FROM edges
  UNION
  SELECT e.dst AS id, r.root AS root
  FROM reach r JOIN edges e ON e.src = r.id),
cc AS (SELECT id, min(root) AS cluster_id FROM reach GROUP BY id),
m AS (SELECT cc.id, cc.cluster_id, {score_sql} AS score
      FROM cc JOIN {corpus} d ON d.{id_col} = cc.id),
best AS (
  SELECT id AS keep_id FROM (
    SELECT id, row_number() OVER (PARTITION BY cluster_id
      ORDER BY (score IS NULL), score DESC, id) AS rn FROM m)
  WHERE rn = 1)
SELECT c.{id_col}, c.lang
FROM {corpus} c
WHERE c.{id_col} NOT IN (
  SELECT id FROM cc WHERE id NOT IN (SELECT keep_id FROM best))
ORDER BY c.{id_col}
"""


def keep_best_in_cluster(corpus: DataFrame, components: DataFrame,
                         score_col: str, id_col: str = "doc_id"
                         ) -> DataFrame:
    """Quality-aware canonical selection: within each near-dup cluster
    keep the HIGHEST-``score_col`` document (ties break to the smaller
    id — deterministic), instead of ``keep_canonical``'s min-id pick.
    The pick production pipelines actually want: when a page and its
    mirror near-duplicate, keep the cleaner copy.

    Shape: clusters are tiny relative to the corpus (only clustered ids
    appear in ``components``), so the argmax runs on the cluster
    membership joined with scores — one keyed agg over cluster_id — and
    the survivors-complement set is broadcast back as an anti-join, the
    same terminal shape as ``keep_canonical``.
    """
    t = dict(corpus.dtypes)[score_col]
    if t not in ("tinyint", "smallint", "int", "bigint", "float",
                 "double") and not t.startswith("decimal"):
        # enforce the numeric contract at call time: -string is NULL in
        # Spark, which would silently reduce the argmax to min-id
        raise TypeError(f"keep_best_in_cluster: score column "
                        f"{score_col!r} must be numeric, got {t}")
    membership = (components
                  .join(corpus.select(F.col(id_col).alias("id"), score_col),
                        "id"))
    # negate the SCORE, never the id (ids may be strings). A NULL score
    # must never beat a scored sibling — but a NULL struct FIELD sorts
    # first under min(), so an unscored doc would silently win its whole
    # cluster. The leading null_last flag pushes NULL-scored docs behind
    # every scored one; coalesce keeps the struct comparison NULL-free;
    # an all-NULL cluster degrades to keep_canonical's min-id pick.
    # min(struct(null_last, -score, id)) = max score, ties -> min id.
    sc = F.col(score_col)
    best = (membership.groupBy("cluster_id")
            .agg(F.min(F.struct(
                sc.isNull().cast("int").alias("null_last"),
                (-F.coalesce(sc, F.lit(0))).alias("ns"),
                F.col("id").alias("keep_id")))
                 .alias("b"))
            .select(F.col("b.keep_id").alias("keep_id")))
    losers = (components.join(
        F.broadcast(best), components["id"] == best["keep_id"],
        "left_anti").select("id"))
    return corpus.join(F.broadcast(losers),
                       corpus[id_col] == losers["id"], "left_anti")


def knn_graph(pairs: DataFrame, k: int, src: str = "a", dst: str = "b",
              weight: str = "w") -> DataFrame:
    """k-NN graph construction: from a weighted candidate pair list
    (undirected, one row per unordered pair) keep, per node, its top-k
    strongest partners (weight desc, partner id asc — deterministic),
    then re-symmetrize to an undirected edge set. The standard sparsifier
    in front of graph clustering / label propagation over similarity
    pairs (and the step that makes triangle counting tractable: degrees
    are bounded by 2k by construction, so downstream joins can't blow up
    on a hub).

    Shape: one explode to both directions (map-only), one partitioned
    window top-k (single shuffle on the node id), one distinct over the
    canonicalized survivors. Returns ``(a, b)`` with a < b.
    """
    from pyspark.sql import Window
    directed = pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"),
                            F.col(weight).alias("w"))
    directed = directed.union(directed.select(
        F.col("d").alias("s"), F.col("s").alias("d"), "w"))
    win = Window.partitionBy("s").orderBy(F.col("w").desc(),
                                          F.col("d").asc())
    kept = (directed.withColumn("__rn", F.row_number().over(win))
            .filter(F.col("__rn") <= k))
    return (kept.select(F.least("s", "d").alias(src),
                        F.greatest("s", "d").alias(dst))
            .distinct())


def knn_graph_oracle_sql(pairs_sql: str, k: int, src: str = "a",
                         dst: str = "b", weight: str = "w") -> str:
    """DuckDB twin of ``knn_graph`` (same rank contract)."""
    return f"""
WITH knn_pairs AS MATERIALIZED ({pairs_sql}),
directed AS (
  SELECT {src} AS s, {dst} AS d, {weight} AS w FROM knn_pairs
  UNION ALL
  SELECT {dst} AS s, {src} AS d, {weight} AS w FROM knn_pairs),
ranked AS (
  SELECT s, d, row_number() OVER (PARTITION BY s
                                  ORDER BY w DESC, d ASC) AS rn
  FROM directed)
SELECT DISTINCT least(s, d) AS {src}, greatest(s, d) AS {dst}
FROM ranked WHERE rn <= {k}
"""


def triangle_counts(edges: DataFrame, src: str = "a",
                    dst: str = "b", materialize: bool = True) -> DataFrame:
    """Per-node triangle counts over an undirected edge set (rows
    canonical ``src < dst``, no duplicates — ``knn_graph`` output
    qualifies). Node-iterator shape: wedges from one self-equi-join on
    the middle node, closed by a second equi-join against the edge set —
    two hash joins, no cartesian anywhere. On degree-skewed graphs the
    classic refinement is degree-ordered orientation (orient each edge
    low-degree → high-degree before the wedge join) to bound per-node
    work; with k-NN input, degrees are already ≤ 2k so the plain
    orientation by id is within a constant of optimal.

    Returns ``(node_id, triangles)`` for every node incident to at least
    one edge (0 for nodes in edges but in no triangle).

    ``materialize=False`` skips the defensive ``localCheckpoint`` when
    the caller's edge set is ALREADY materialized (a checkpointed k-NN
    graph): the wedge join references the edges three times, and
    re-checkpointing a projection of a checkpoint is a wasted eager
    pass (r13).
    """
    e = edges.select(F.col(src).cast("long").alias("x"),
                     F.col(dst).cast("long").alias("y"))
    if materialize:
        e = e.localCheckpoint()
    w = (e.alias("e1")
         .join(e.alias("e2"), F.col("e1.y") == F.col("e2.x"))
         .select(F.col("e1.x").alias("ta"), F.col("e1.y").alias("tb"),
                 F.col("e2.y").alias("tc")))
    tri = w.join(e.alias("e3"), (F.col("ta") == F.col("e3.x"))
                 & (F.col("tc") == F.col("e3.y")))
    per_node = (tri.select(F.explode(F.array("ta", "tb", "tc"))
                           .alias("node_id"))
                .groupBy("node_id").agg(F.count(F.lit(1))
                                        .alias("triangles")))
    nodes = (e.select(F.col("x").alias("node_id"))
             .union(e.select(F.col("y").alias("node_id"))).distinct())
    return (nodes.join(per_node, "node_id", "left")
            .select("node_id", F.coalesce("triangles", F.lit(0))
                    .cast("long").alias("triangles")))


def triangle_counts_oracle_sql(edges_sql: str, src: str = "a",
                               dst: str = "b") -> str:
    """DuckDB twin of ``triangle_counts``."""
    return f"""
WITH e AS MATERIALIZED (SELECT {src} AS x, {dst} AS y FROM ({edges_sql})),
tri AS MATERIALIZED (
  SELECT e1.x AS ta, e1.y AS tb, e2.y AS tc
  FROM e e1
  JOIN e e2 ON e1.y = e2.x
  JOIN e e3 ON e3.x = e1.x AND e3.y = e2.y),
per_node AS (
  SELECT node_id, count(*) AS triangles
  FROM (SELECT ta AS node_id FROM tri
        UNION ALL SELECT tb FROM tri
        UNION ALL SELECT tc FROM tri)
  GROUP BY node_id),
nodes AS (SELECT x AS node_id FROM e UNION SELECT y FROM e)
SELECT n.node_id, CAST(COALESCE(p.triangles, 0) AS BIGINT) AS triangles
FROM nodes n LEFT JOIN per_node p USING (node_id)
"""
