"""Integer power iteration (operators/pca.py): bit-exact against its
DuckDB twin and numpy, and partition-invariant."""


def test_power_iteration_matches_duckdb_and_finds_top_direction(spark):
    """Integer power iteration: bit-exact vs the unrolled-CTE DuckDB
    twin, and on data with a dominant direction the 64-step iterate
    aligns with numpy's top eigenvector."""
    import duckdb
    import numpy as np
    import pandas as pd

    from nci_seronet_proc_data_validator_spark.operators.pca import (
        POW_XSCALE, int_gram_fit, power_iter_oracle_sql,
        power_iteration_top_component)
    rng = np.random.RandomState(11)
    d = 16
    direction = rng.randn(d)
    direction /= np.linalg.norm(direction)
    # strong 1-D signal + small isotropic noise -> big eigengap
    X = (np.outer(rng.randn(300) * 3.0, direction)
         + rng.randn(300, d) * 0.2)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>")
    n, s, g = int_gram_fit(df, d)
    x = power_iteration_top_component(n, s, g, d, iters=64)
    con = duckdb.connect()
    con.register("embeddings", pd.DataFrame(
        {"vec_id": range(len(X)),
         "embedding": [list(map(float, r)) for r in X]}))
    duck = [v for _, v in con.execute(
        power_iter_oracle_sql(d, iters=64)).fetchall()]
    assert x == duck
    xv = np.array(x, dtype=float) / POW_XSCALE
    xv /= np.linalg.norm(xv)
    C = np.cov(X.T, bias=True)
    _, vecs = np.linalg.eigh(C)
    assert abs(float(vecs[:, -1] @ xv)) > 0.999


def test_int_gram_fit_is_partition_invariant(spark):
    """Integer partials are order-free: any repartitioning gives the
    bit-identical (n, s, G)."""
    import numpy as np

    from nci_seronet_proc_data_validator_spark.operators.pca import (
        int_gram_fit)
    rng = np.random.RandomState(4)
    X = rng.randn(120, 8)
    df = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>")
    a = int_gram_fit(df, 8)
    b = int_gram_fit(df.repartition(13), 8)
    assert a == b
