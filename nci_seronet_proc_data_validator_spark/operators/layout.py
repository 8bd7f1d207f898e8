"""Multi-dimensional data layout: Z-order (Morton) clustering for
write-path file skipping.

At 100 TB the cheapest query is the one that never reads the file: parquet
row-group/file min-max statistics prune scans, but a table sorted by ONE
column only clusters THAT column. Interleaving the bits of several
(quantized) columns into one Morton key and range-partitioning + sorting
by it gives every interleaved column locality, so predicates on ANY of
them skip most files — the technique behind Delta/Iceberg ``ZORDER BY``
and the reference's implicit full-scan-per-query model's antithesis
(the reference re-reads every sheet per validation run,
``File_Submission_Object.py``/``s3.py`` — at its data scale that is fine;
at ours, layout is the first lever).

Spark-first shape: the key is ONE generated arithmetic expression
(shift/mask interleave — identical text is valid Spark SQL and DuckDB
SQL, so the oracle shares it verbatim), a clustered write is
``repartitionByRange(zkey)`` + ``sortWithinPartitions(zkey)`` — a single
range shuffle, no UDFs, no driver loops. Quantization is exact integer
arithmetic (floor division), so the key is oracle-checkable bit for bit;
the only dialect split is Spark ``DIV`` vs DuckDB ``//``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interleave_sql(cols: list[str], bits: int) -> str:
    """Morton interleave of ``len(cols)`` non-negative integer
    expressions, each already < 2**bits — bit ``i`` of column ``j`` lands
    at position ``i*n + j``. Valid in BOTH Spark SQL and DuckDB
    (``>>``/``<<``/``&`` are shared; disjoint targets make ``+`` a safe
    OR). First column gets the low bit (ties break on it last)."""
    n = len(cols)
    if n * bits > 63:
        # Spark's << masks the shift amount to 6 bits (Java semantics) —
        # an overflowing interleave would silently fold high-column bits
        # onto low positions (and DuckDB errors instead of matching).
        raise ValueError(f"interleaved key needs {n * bits} bits; "
                         "must fit a signed BIGINT (<= 63)")
    terms = [f"(((({c}) >> {i}) & 1) << {i * n + j})"
             for i in range(bits)
             for j, c in enumerate(cols)]
    return "(" + " + ".join(terms) + ")"


def quantize_sql(col: str, lo: int, hi: int, bits: int,
                 dialect: str = "spark") -> str:
    """Map an integer column in ``[lo, hi]`` onto ``[0, 2**bits)`` by
    exact integer floor division (the one dialect split: Spark ``DIV``,
    DuckDB ``//``). NULLs map to bucket 0 (cluster together)."""
    div = "DIV" if dialect == "spark" else "//"
    span = max(hi - lo, 1)
    return (f"(CAST(coalesce(least(greatest({col}, {lo}), {hi}) - {lo}, 0)"
            f" AS BIGINT) * {(1 << bits) - 1} {div} {span})")


def zorder_key_sql(cols: list[tuple[str, int, int]], bits: int = 12,
                   dialect: str = "spark") -> str:
    """The full engine-shared Z-order key: quantize each ``(col, lo,
    hi)`` then interleave. 2–3 columns at 12 bits each keeps the key in
    a BIGINT with headroom."""
    q = [quantize_sql(c, lo, hi, bits, dialect) for c, lo, hi in cols]
    return interleave_sql(q, bits)


def with_zorder_key(df: DataFrame, cols: list[tuple[str, int, int]],
                    bits: int = 12, out: str = "zkey") -> DataFrame:
    """Append the Morton key as a column (one generated expression, no
    per-bit Column objects)."""
    return df.withColumn(out, F.expr(zorder_key_sql(cols, bits)))
