"""Integer-exact principal direction of an embedding column — the
whitening step ANN pipelines run before quantization (IVF-PQ style).

Spark-first shape for 100 TB (the k-means model-sync pattern,
``operators/kmeans.py``, applied to second moments):

- **Fit is ONE aggregation pass.** Each partition quantizes its vectors
  and computes integer gram partials with one Arrow-batched numpy
  matmul; only O(partitions·d²) scalars reach the driver regardless of
  corpus size.
- **Power iteration is driver math.** The covariance is d×d (64×64
  here); no data-scale work leaves the executors.

Integer partials are order-free, so the fit and every iterate are
bit-identical to the DuckDB twin (``power_iter_oracle_sql``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: Input quantization for the power-iteration gram (coarser than the
#: k-means 1e6 so n·Σqv_i·qv_j and s_i·s_j stay inside int64 — the
#: binding products are n·g ≤ n²·qmax² and s_i·s_j ≤ (n·qmax)², both
#: (n·qmax)² ≤ 2^63−1, so with qmax = |x|·POW_QUANT ≤ 1e5 the safe
#: bound is n ≤ ⌊√(2^63−1)⌋/1e5 ≈ 3.0·10⁴ rows; shrink POW_QUANT
#: quadratically-in-1/n for bigger corpora (1e4 → n ≈ 3·10⁵).
POW_QUANT = 100_000
#: Iterate-vector scale (components reported as val / POW_XSCALE).
POW_XSCALE = 1_000_000
#: Scaled-covariance shrink: C'' = floor((n·G − s sᵀ) / 2^POW_SHIFT) —
#: eigenvectors are scale-invariant, the shrink keeps Σ_j c·x in int64.
POW_SHIFT = 20


def _floordiv_sql(a: str, d: int, div: str) -> str:
    """Engine-portable FLOOR division for possibly-negative integers:
    both Spark's DIV and DuckDB's // truncate/floor differently only on
    negatives, and both engines' % takes the dividend's sign — so
    subtract the nonneg remainder first, then divide exactly."""
    return (f"(({a}) - ((({a}) % {d}) + {d}) % {d}) {div} {d}")


def int_gram_fit(emb: DataFrame, dim: int, vec_col: str = "embedding"
                 ) -> tuple[int, list[int], list[list[int]]]:
    """Integer second-moment fit: quantize components to POW_QUANT
    micro-units (half-up ``floor(v·Q + 0.5)`` — the engine-portable tie
    rule, ``similarity.quantize_embeddings``), then per-partition int64
    gram partials via one Arrow-batched numpy matmul (BLAS beats a
    d²-expression codegen agg, and avoids its quadratic plan-build
    cost). Integer partials are ORDER-FREE, so the merged ``(n, s, G)``
    is bit-identical no matter how partitions interleave — a float fit
    can't promise that. Only O(partitions·d²) scalars reach the
    driver."""
    import numpy as np

    def gram_partial(batches):
        import numpy as _np
        import pandas as _pd
        n = 0
        mq = 0
        s = _np.zeros(dim, dtype=_np.int64)
        g = _np.zeros((dim, dim), dtype=_np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            X = _np.asarray([list(v) for v in pdf[vec_col]], dtype=float)
            Q = _np.floor(X * POW_QUANT + 0.5).astype(_np.int64)
            n += len(Q)
            mq = max(mq, int(_np.abs(Q).max()))
            s += Q.sum(axis=0)
            g += Q.T @ Q
        yield _pd.DataFrame({"n": [n], "mq": [mq], "s": [s.tolist()],
                             "g": [g.flatten().tolist()]})

    parts = (emb.select(vec_col)
             .mapInPandas(gram_partial,
                          "n long, mq long, s array<long>, g array<long>")
             .collect())
    n = sum(int(r["n"]) for r in parts)
    mq = max((int(r["mq"]) for r in parts), default=0)
    # int64 envelope (exact python-int check): the binding products are
    # n·g ≤ (n·mq)² and s_i·s_j ≤ (n·mq)²; numpy would WRAP silently
    if (n * mq) ** 2 > (1 << 63) - 1:
        raise ValueError(
            f"int_gram_fit int64 overflow risk: n={n}, max|q|={mq} — "
            f"lower POW_QUANT (currently {POW_QUANT})")
    s = np.sum([r["s"] for r in parts], axis=0, dtype=np.int64)
    g = np.sum([np.asarray(r["g"], dtype=np.int64).reshape(dim, dim)
                for r in parts], axis=0, dtype=np.int64)
    return n, [int(v) for v in s], [[int(v) for v in row] for row in g]


def power_iteration_top_component(n: int, s: list[int],
                                  g: list[list[int]], dim: int,
                                  iters: int = 4) -> list[int]:
    """Driver-side power iteration on the integer moments — model-scale
    math (d×d), the k-means model-sync contract. Every operation mirrors
    the SQL oracle bit for bit: scaled covariance C'' by portable floor
    division, exact integer mat-vec, norm as the SAME left-to-right
    double fold over pos order, update by floor(v + 0.5) half-up
    rounding. Returns the ``iters``-th iterate at POW_XSCALE (the
    'power_iter' sketch — a fixed-step iterate, not a converged claim).
    """
    import math
    d2 = 1 << POW_SHIFT
    c = [[((n * g[i][j] - s[i] * s[j])) // d2 for j in range(dim)]
         for i in range(dim)]
    x = [POW_XSCALE] * dim
    for _ in range(iters):
        y = [sum(c[i][j] * x[j] for j in range(dim)) for i in range(dim)]
        acc = 0.0
        for i in range(dim):
            acc += float(y[i]) * float(y[i])
        nrm = math.sqrt(acc)
        if nrm == 0.0:
            x = [0] * dim
        else:
            x = [int(math.floor(float(y[i]) * POW_XSCALE / nrm + 0.5))
                 for i in range(dim)]
    return x


def power_iter_oracle_sql(dim: int, iters: int = 4,
                          table: str = "embeddings",
                          vec_col: str = "embedding") -> str:
    """DuckDB twin of ``int_gram_fit`` + ``power_iteration_top_component``
    with the iterations unrolled as CTEs (the kmeans oracle idiom);
    emits ``(pos, val)`` at POW_XSCALE."""
    d2 = 1 << POW_SHIFT
    ctes = [f"""pwv AS MATERIALIZED (
  SELECT vec_id, list_transform({vec_col},
           x -> CAST(floor(CAST(x AS DOUBLE) * {POW_QUANT} + 0.5)
                AS BIGINT)) AS qv
  FROM {table})""", """pwe AS MATERIALIZED (
  SELECT vec_id, unnest(qv) AS val,
         unnest(generate_series(0, len(qv) - 1)) AS pos
  FROM pwv)""", """pwn AS MATERIALIZED (SELECT CAST(count(*) AS BIGINT) AS n FROM pwv)""",
            """pws AS MATERIALIZED (
  SELECT pos, CAST(SUM(val) AS BIGINT) AS s FROM pwe GROUP BY pos)""",
            """pwg AS MATERIALIZED (
  SELECT a.pos AS pi, b.pos AS pj, CAST(SUM(a.val * b.val) AS BIGINT) AS g
  FROM pwe a JOIN pwe b USING (vec_id) GROUP BY 1, 2)""", f"""pwc AS MATERIALIZED (
  SELECT pi, pj,
         {_floordiv_sql('n.n * g.g - si.s * sj.s', d2, '//')} AS c
  FROM pwg g JOIN pws si ON si.pos = g.pi
  JOIN pws sj ON sj.pos = g.pj CROSS JOIN pwn n)""", f"""pwx0 AS MATERIALIZED (
  SELECT unnest(generate_series(0, {dim - 1})) AS pos,
         CAST({POW_XSCALE} AS BIGINT) AS val)"""]
    for t in range(1, iters + 1):
        ctes.append(f"""pwy{t} AS MATERIALIZED (
  SELECT c.pi AS pos, CAST(SUM(c.c * x.val) AS BIGINT) AS y
  FROM pwc c JOIN pwx{t - 1} x ON x.pos = c.pj GROUP BY 1)""")
        ctes.append(f"""pwm{t} AS MATERIALIZED (
  SELECT sqrt(list_reduce(
           list_transform(list(CAST(y AS DOUBLE) ORDER BY pos),
                          v -> v * v),
           (acc, v) -> acc + v)) AS nrm
  FROM pwy{t})""")
        ctes.append(f"""pwx{t} AS MATERIALIZED (
  SELECT pos,
         CASE WHEN m.nrm = 0
              THEN CAST(0 AS BIGINT)
              ELSE CAST(floor(CAST(y AS DOUBLE) * {POW_XSCALE} / m.nrm
                              + 0.5) AS BIGINT)
         END AS val
  FROM pwy{t} CROSS JOIN pwm{t} m)""")
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT pos, val FROM pwx{iters} ORDER BY pos
"""
