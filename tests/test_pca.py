"""Distributed PCA: one-pass covariance agg + driver eigh, verified
against numpy at test scale."""

import numpy as np
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.pca import pca_fit

DIM, N, K = 12, 300, 4


def _data():
    rng = np.random.RandomState(11)
    # anisotropic: variance concentrated in a few directions
    basis = rng.randn(DIM, DIM)
    scales = np.array([10, 6, 3, 2] + [0.3] * (DIM - 4))
    return rng.randn(N, DIM) * scales @ basis.T + rng.randn(DIM) * 5


def _df(spark, X):
    return spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>")


def test_pca_matches_numpy(spark):
    X = _data()
    mean, comps = pca_fit(_df(spark, X), DIM, K)
    # mean matches
    assert np.allclose(mean, X.mean(axis=0), atol=1e-8)
    # components match numpy eigh of the same covariance (up to sign,
    # which pca_fit normalizes — apply the same normalization here)
    cov = np.cov(X, rowvar=False, bias=True)
    vals, vecs = np.linalg.eigh(cov)
    want = vecs[:, ::-1][:, :K].T
    for r in range(K):
        m = np.argmax(np.abs(want[r]))
        if want[r][m] < 0:
            want[r] = -want[r]
    assert np.allclose(comps, want, atol=1e-6)


def test_pca_validates_inputs(spark):
    import pytest
    df = _df(spark, _data())
    with pytest.raises(ValueError):
        pca_fit(df, DIM, 0)
    with pytest.raises(ValueError):
        pca_fit(df.limit(1), DIM, 2)


def test_pca_fit_wide_matches_expression_path(spark):
    """The Arrow/BLAS gram path produces the same model as the
    expression-aggregate path (same moments, float-order tolerance)."""
    from nci_seronet_proc_data_validator_spark.operators.pca import (
        pca_fit_wide)
    X = _data()
    df = _df(spark, X).repartition(7)
    mean_a, comps_a = pca_fit(df, DIM, K)
    mean_b, comps_b = pca_fit_wide(df, DIM, K)
    assert np.allclose(mean_a, mean_b, atol=1e-10)
    assert np.allclose(comps_a, comps_b, atol=1e-7)


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
