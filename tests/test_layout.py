"""Z-order layout: key parity with DuckDB, and the clustering property
that makes it worth a shuffle — per-file min/max spans shrink on EVERY
interleaved column, not just the leading sort key."""

import duckdb
import pytest
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.layout import (
    with_zorder_key,
    zorder_key_sql,
)

COLS = [("c1", 0, 4095), ("c2", 0, 4095)]


def _grid(spark, n=16384):
    """Deterministic pseudo-random 2-D points (independent dimensions)."""
    return spark.range(n).select(
        F.col("id"),
        (F.col("id") * 2654435761 % 4096).alias("c1"),
        (F.col("id") * 40503 % 4096).alias("c2"))


def test_zorder_key_matches_duckdb(spark):
    got = {r["id"]: r["zkey"]
           for r in with_zorder_key(_grid(spark, 512), COLS).collect()}
    duck_expr = zorder_key_sql(COLS, dialect="duck")
    want = duckdb.sql(
        "SELECT id, " + duck_expr + " AS zkey FROM ("
        "SELECT range AS id, range * 2654435761 % 4096 AS c1, "
        "range * 40503 % 4096 AS c2 FROM range(512))").fetchall()
    assert got == {i: z for i, z in want}
    assert len(set(got.values())) > 500  # keys actually spread


def test_zorder_key_is_one_expression(spark):
    # the key is generated SQL, not per-bit Column objects — a single
    # projection expression that stays inside whole-stage codegen
    df = with_zorder_key(_grid(spark, 16), COLS)
    assert "zkey" in df.columns
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


@pytest.fixture(scope="module")
def span_ratios(spark, tmp_path_factory):
    """Write the same grid z-ordered and single-column-sorted (range
    partition + sort on the key, 16 files each); return mean(file
    span)/global span per column for both layouts."""
    def ratios(path):
        stats = (spark.read.parquet(path)
                 .groupBy(F.input_file_name())
                 .agg(*[F.expr(f"{f}({c}) AS {c}_{f}")
                        for c in ("c1", "c2") for f in ("min", "max")])
                 .collect())
        out = {}
        for c in ("c1", "c2"):
            spans = [r[f"{c}_max"] - r[f"{c}_min"] for r in stats]
            out[c] = (sum(spans) / len(spans)) / 4095.0
        return out

    base = tmp_path_factory.mktemp("layout")
    zpath = str(base / "z")
    spath = str(base / "s")
    grid = _grid(spark)
    (with_zorder_key(grid, COLS).repartitionByRange(16, "zkey")
     .sortWithinPartitions("zkey").drop("zkey")
     .write.mode("overwrite").parquet(zpath))
    (grid.repartitionByRange(16, "c1").sortWithinPartitions("c1")
     .write.mode("overwrite").parquet(spath))
    return ratios(zpath), ratios(spath)


def test_zorder_clusters_every_dimension(span_ratios):
    z, _ = span_ratios
    # 16 files over 2 interleaved dims ~ 4x4 tiles: each file should span
    # roughly a quarter of each dimension; 0.6 is a loose upper bound
    assert z["c1"] < 0.6 and z["c2"] < 0.6


def test_single_sort_clusters_only_its_key(span_ratios):
    _, s = span_ratios
    assert s["c1"] < 0.2          # the sort key clusters tightly
    assert s["c2"] > 0.8          # the other dimension does not cluster
    # and z-order beats single-sort on the non-key dimension by a lot


def test_interleave_is_invertible(spark):
    """Exact Morton property: de-interleaving the Spark-computed key
    recovers the quantized inputs bit for bit (identity quantization:
    lo=0, hi=2**bits-1 makes quantize a no-op)."""
    bits = 12
    cols = [("c1", 0, 4095), ("c2", 0, 4095)]
    rows = with_zorder_key(_grid(spark, 256), cols, bits=bits).collect()

    def deinterleave(z, j, n=2):
        return sum(((z >> (i * n + j)) & 1) << i for i in range(bits))

    for r in rows:
        assert deinterleave(r["zkey"], 0) == r["c1"]
        assert deinterleave(r["zkey"], 1) == r["c2"]


def test_key_width_guard():
    # Spark's << masks shift amounts (Java) — an overflowing interleave
    # must be rejected, not silently corrupted
    with pytest.raises(ValueError, match="BIGINT"):
        zorder_key_sql([(c, 0, 100) for c in ("a", "b", "c")], bits=22)
