"""Product quantization: subspace codebooks via the distributed Lloyd,
map-only encode, integer-exact ADC search — verified against a numpy
twin over the same quantized micro-unit arithmetic."""

import numpy as np
import pytest

from nci_seronet_proc_data_validator_spark.operators.pq import (
    pq_adc_topk,
    pq_encode,
    pq_fit,
)

DIM, M, KSUB, N = 16, 4, 8, 200


# module-scoped model fixtures: every test used to re-run the Lloyd fits
# (~25 s of suite time); the fits are deterministic, so share them
@pytest.fixture(scope="module")
def pqX():
    return _data()


@pytest.fixture(scope="module")
def pq_df(spark, pqX):
    return _df(spark, pqX)


@pytest.fixture(scope="module")
def pq_books(pq_df):
    return pq_fit(pq_df, DIM, m=M, ksub=KSUB, iters=2)


@pytest.fixture(scope="module")
def pq_centroids(pq_df):
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_centroid_vectors)
    return kmeans_centroid_vectors(pq_df, k=6, iters=2)


def _data():
    rng = np.random.RandomState(3)
    # clustered data so codebooks are meaningful
    centers = rng.randn(6, DIM) * 4
    return np.vstack([c + rng.randn(N // 6 + 1, DIM) * 0.5
                      for c in centers])[:N]


def _quant(X):
    # round-half-even like both engines' round() on exact doubles is NOT
    # what we want — Spark F.round rounds HALF_UP on positives, but these
    # are random irrationals; np.round's tie rule never fires in practice.
    return np.round(np.asarray(X, dtype=np.float64) * 1e6).astype(np.int64)


def _df(spark, X):
    return spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>")


def _np_encode(X, books):
    dsub = DIM // M
    Xq = _quant(X)
    codes = np.zeros((len(X), M), dtype=int)
    for s, book in enumerate(books):
        sub = Xq[:, s * dsub:(s + 1) * dsub]
        d = ((sub[:, None, :] - np.array(book, dtype=np.int64)[None, :, :])
             ** 2).sum(-1)
        codes[:, s] = d.argmin(axis=1)   # numpy argmin = first min, same tie rule
    return codes


def test_pq_encode_matches_numpy(spark, pqX, pq_df, pq_books):
    X, df, books = pqX, pq_df, pq_books
    assert len(books) == M and all(len(b[0]) == DIM // M for b in books)
    assert all(isinstance(b[0][0], int) for b in books)
    got = np.array([r["pq_code"] for r in
                    pq_encode(df, books).orderBy("vec_id").collect()])
    assert (got == _np_encode(X, books)).all()


def test_pq_encode_is_map_only_and_streams(spark, tmp_path, pqX, pq_df,
                                           pq_books):
    X, df, books = pqX, pq_df, pq_books
    plan = pq_encode(df, books)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    src = str(tmp_path / "pq_src")
    df.write.parquet(src)
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>").parquet(src)
    q = (pq_encode(stream, books)
         .writeStream.outputMode("append").format("memory")
         .queryName("pq_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    streamed = {r["vec_id"]: list(r["pq_code"]) for r in
                spark.sql("SELECT * FROM pq_out").collect()}
    want = _np_encode(X, books)
    assert streamed[0] == list(want[0]) and len(streamed) == len(X)


def _np_adc(X, books, qi):
    """Integer ADC distances of query qi against every stored code."""
    dsub = DIM // M
    Xq = _quant(X)
    cds = _np_encode(X, books)
    d = np.zeros(len(X), dtype=np.int64)
    for s in range(M):
        lut_s = ((Xq[qi][s * dsub:(s + 1) * dsub][None, :]
                  - np.array(books[s], dtype=np.int64)) ** 2).sum(-1)
        d += lut_s[cds[:, s]]
    return d


def test_pq_adc_recall_against_brute_force(spark, pqX, pq_df, pq_books):
    """ADC top-k over codes recovers most of the true neighbors on
    clustered data, and exactly matches the numpy integer ADC twin."""
    X, df, books = pqX, pq_df, pq_books
    codes = pq_encode(df, books)
    qs = spark.createDataFrame(
        [(int(i), [float(v) for v in X[i]]) for i in (0, 50, 150)],
        "query_id long, qe array<double>")
    got, gotd = {}, {}
    for r in pq_adc_topk(codes, qs, books, k=5).collect():
        got.setdefault(r["query_id"], []).append(r["neighbor_id"])
        gotd.setdefault(r["query_id"], []).append(r["adc_dist"])
    for qi in (0, 50, 150):
        d = _np_adc(X, books, qi)
        order = np.lexsort((np.arange(len(X)), d))[:5]
        assert got[qi] == list(order), qi
        assert gotd[qi] == [int(d[v]) for v in order], qi
        # quantizer quality: every ADC neighbor comes from the query's
        # own generating cluster (within-cluster docs share codes, so
        # exact-rank order inside the cluster is tie-broken by id —
        # doc-level top-5 equality is not the right bar for a quantizer)
        cluster = qi // 34
        assert all(v // 34 == cluster for v in got[qi]), (qi, got[qi])


def test_ivfpq_restricts_candidates_and_agrees_with_full_adc(
        spark, pqX, pq_df, pq_books, pq_centroids):
    """Bounded-probe IVF-PQ: results come only from probed clusters, and
    when the query's true cluster is probed, the top hit matches the
    full-scan ADC top hit."""
    from nci_seronet_proc_data_validator_spark.operators.pq import (
        ivfpq_topk)
    X, df = pqX, pq_df
    centroids, books = pq_centroids, pq_books
    qs = spark.createDataFrame(
        [(0, [float(v) for v in X[0]]), (150, [float(v) for v in X[150]])],
        "query_id long, qe array<double>")
    bounded = {}
    for r in ivfpq_topk(df, centroids, books, qs, k=5, nprobe=2).collect():
        bounded.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["adc_dist"]))
    full = {}
    for r in pq_adc_topk(pq_encode(df, books), qs, books, k=5).collect():
        full.setdefault(r["query_id"], []).append(
            (r["neighbor_id"], r["adc_dist"]))
    for qi in (0, 150):
        assert len(bounded[qi]) == 5
        # ADC distances agree between the two paths for shared ids
        fd = dict(full[qi])
        for vid, d in bounded[qi]:
            if vid in fd:
                assert d == fd[vid]
        # top-1 of the bounded probe equals the full-scan top-1 (the
        # query's own cluster is always among its 2 nearest probes)
        assert bounded[qi][0] == full[qi][0]


def test_pq_fit_fused_equals_per_slice_fits(spark, pq_df, pq_books):
    """The fused one-chain Lloyd is bit-identical to m independent
    subspace fits, and its include_full slice reproduces the standalone
    coarse k-means codebook (original cluster ids preserved)."""
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_fit)
    from nci_seronet_proc_data_validator_spark.operators.pq import (
        pq_fit_fused)
    df, books = pq_df, pq_books
    fused, cids = pq_fit_fused(df, DIM, m=M, ksub=KSUB, iters=2,
                               include_full=True)
    assert fused[:M] == books
    by = {}
    for r in kmeans_fit(df, k=KSUB, iters=2).collect():
        by.setdefault(r["centroid_id"], []).append(int(r["cq"]))
    assert fused[-1] == [by[c] for c in sorted(by)]
    assert cids[-1] == sorted(by)


def test_pq_oracle_sql_matches_spark(spark, pqX, pq_df, pq_books,
                                     pq_centroids):
    """The DuckDB oracle generators reproduce the Spark ADC and IVF-PQ
    results bit for bit on a parquet snapshot of the test data."""
    import duckdb

    from nci_seronet_proc_data_validator_spark.operators.pq import (
        ivfpq_oracle_sql, ivfpq_topk, pq_adc_oracle_sql)
    X, df, books = pqX, pq_df, pq_books
    con = duckdb.connect()
    con.register("embeddings",
                 __import__("pandas").DataFrame(
                     {"vec_id": range(len(X)),
                      "embedding": [list(map(float, r)) for r in X]}))
    qs = (df.filter("vec_id < 3")
          .selectExpr("vec_id AS query_id", "embedding AS qe"))
    spark_adc = [(r["query_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
                 for r in pq_adc_topk(pq_encode(df, books), qs, books,
                                      k=5).collect()]
    duck_adc = con.execute(
        pq_adc_oracle_sql(DIM, m=M, ksub=KSUB, iters=2,
                          n_queries=3, k=5)).fetchall()
    assert spark_adc == [(a, b, int(c), d) for a, b, c, d in duck_adc]

    spark_ivf = [(r["query_id"], r["neighbor_id"], r["adc_dist"], r["rank"])
                 for r in ivfpq_topk(df, pq_centroids, books, qs,
                                     k=5, nprobe=2).collect()]
    duck_ivf = con.execute(
        ivfpq_oracle_sql(DIM, m=M, ksub=KSUB, iters=2, coarse_k=6,
                         coarse_iters=2, n_queries=3, k=5,
                         nprobe=2)).fetchall()
    assert spark_ivf == [(a, b, int(c), d) for a, b, c, d in duck_ivf]
