"""Findings (error-accumulator) core.

The reference accumulates findings by appending one pandas row per violation
(``File_Submission_Object.py:149-160``: ``update_error_table →
add_error_values → sort_and_drop``), with schema
``(Message_Type, CSV_Sheet_Name, Row_Index, Column_Name, Column_Value,
Error_Message)`` (``File_Submission_Object.py:21``) and a column-level table
``(Message_Type, CSV_Sheet_Name, Column_Name, Error_Message)``
(``File_Submission_Object.py:19-20``).

Spark-first design: findings are never appended row-by-row. Each rule
compiles to a Column predicate; all rules of a sheet are evaluated in ONE
projection that builds an ``array<struct>`` of candidate findings and
explodes the non-null ones — a single whole-stage-codegen pass over the
sheet. Cross-rule combination is ``unionByName`` of already-bulk DataFrames.

Deviation from reference recorded per SURVEY.md §2.9(5): dedup of findings
includes ``CSV_Sheet_Name`` in the key (the reference's ``sort_and_drop``
omits it, collapsing identical findings across sheets — a bug).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

MESSAGE_TYPE = "Message_Type"
SHEET_NAME = "CSV_Sheet_Name"
ROW_INDEX = "Row_Index"
COLUMN_NAME = "Column_Name"
COLUMN_VALUE = "Column_Value"
ERROR_MESSAGE = "Error_Message"

FINDING_COLUMNS = [MESSAGE_TYPE, SHEET_NAME, ROW_INDEX, COLUMN_NAME,
                   COLUMN_VALUE, ERROR_MESSAGE]

FINDING_SCHEMA = T.StructType([
    T.StructField(MESSAGE_TYPE, T.StringType(), False),
    T.StructField(SHEET_NAME, T.StringType(), False),
    T.StructField(ROW_INDEX, T.LongType(), False),
    T.StructField(COLUMN_NAME, T.StringType(), False),
    T.StructField(COLUMN_VALUE, T.StringType(), True),
    T.StructField(ERROR_MESSAGE, T.StringType(), False),
])

# Column-level findings (header/schema problems): no row identity.
COLUMN_FINDING_COLUMNS = [MESSAGE_TYPE, SHEET_NAME, COLUMN_NAME, ERROR_MESSAGE]
COLUMN_FINDING_SCHEMA = T.StructType([
    T.StructField(MESSAGE_TYPE, T.StringType(), False),
    T.StructField(SHEET_NAME, T.StringType(), False),
    T.StructField(COLUMN_NAME, T.StringType(), False),
    T.StructField(ERROR_MESSAGE, T.StringType(), False),
])

# Sentinel Row_Index values, mirroring the reference's conventions:
# -3 duplicate ids (File_Submission_Object.py:188), -5 count mismatch
# (:412,415), -10 cross-sheet id errors (:338).
ROW_DUPLICATE_ID = -3
ROW_COUNT_MISMATCH = -5
ROW_CROSS_SHEET = -10
# Ours, not the reference's: a whole-submission validation FAILURE
# (unreadable/poisoned sheet, compile error). The reference logs it and
# moves to the next submission (nci-seronet-data-validator.py:109-111);
# the streaming watcher additionally records it durably as one finding
# row so the sink carries the outcome.
ROW_VALIDATION_FAILURE = -99

ERROR = "Error"
WARNING = "Warning"


def local_rows_df(spark: SparkSession, rows: list, schema) -> DataFrame:
    """Driver-computed metadata rows (A4 count mismatches, P10 header
    findings, failure records, arrival ledgers) as a SINGLE-slice frame.

    ``createDataFrame(list)`` parallelizes local rows into
    ``defaultParallelism`` pickled slices, and EVERY slice costs a
    Python-worker round trip per action — all wait, no compute. Measured
    on a 24-submission burst drain (r13, event-log trace): the
    completion status action unioned 24 such frames into a 768-task
    stage holding 170 s of blocked task time and 1.7 s of CPU for ~150
    metadata rows. These frames are metadata-scale by contract, so one
    slice per ~100k rows (almost always exactly one) keeps each frame a
    single task. EMPTY input goes through the same one-slice path:
    ``createDataFrame([], schema)`` still parallelizes into
    defaultParallelism empty pickled slices, each a Python round trip
    per action.

    Classic-session only: the explicit ``sparkContext.parallelize`` has
    no Spark Connect equivalent (where ``createDataFrame(list)`` is a
    true LocalRelation and this perf issue does not exist) — branch on
    session type before calling this if Connect support is ever in
    scope."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1 + len(rows) // 100_000),
        schema)


def empty_findings(spark: SparkSession) -> DataFrame:
    """A zero-row findings DataFrame with the canonical schema."""
    return local_rows_df(spark, [], FINDING_SCHEMA)


def sql_string_map(spark: SparkSession, pairs) -> str:
    """``(key, value)`` string pairs as ONE Spark SQL ``map(...)``
    literal — per-entry ``F.lit`` Columns cost a py4j round-trip each
    (2N at an N-submission burst).

    The literals escape backslash and quote with a backslash, which the
    parser decodes only while ``spark.sql.parser.escapedStringLiterals``
    is false (the default). Under the legacy setting every escaped key
    would silently change, so the render refuses instead."""
    if spark.conf.get("spark.sql.parser.escapedStringLiterals",
                      "false").lower() != "false":
        raise ValueError("sql_string_map needs "
                         "spark.sql.parser.escapedStringLiterals=false")

    def q(s: str) -> str:
        return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"
    return "map(" + ", ".join(f"{q(k)}, {q(v)}" for k, v in pairs) + ")"


def finding_struct(severity: Column | str, sheet: Column | str,
                   row_index: Column, column_name: Column | str,
                   column_value: Column, message: Column) -> Column:
    """A struct Column in canonical finding shape (for array+explode)."""
    sev = F.lit(severity) if isinstance(severity, str) else severity
    sh = F.lit(sheet) if isinstance(sheet, str) else sheet
    cn = F.lit(column_name) if isinstance(column_name, str) else column_name
    return F.struct(
        sev.cast("string").alias(MESSAGE_TYPE),
        sh.cast("string").alias(SHEET_NAME),
        row_index.cast("long").alias(ROW_INDEX),
        cn.cast("string").alias(COLUMN_NAME),
        column_value.cast("string").alias(COLUMN_VALUE),
        message.cast("string").alias(ERROR_MESSAGE),
    )


def explode_findings(df: DataFrame, candidates: list[Column]) -> DataFrame:
    """Evaluate many rule candidates in ONE pass over ``df``.

    ``candidates`` are Columns of finding-struct-or-null (use
    ``F.when(violation, finding_struct(...))``). Builds an array, explodes,
    drops null elements. One scan, no unions, fully codegen'd — the shape
    that scales to 100 TB (vs. the reference's per-rule filter+append,
    ``File_Submission_Object.py:151``).

    Null stripping happens AFTER the explode (``WHERE _f IS NOT NULL``)
    rather than via ``array_compact``: array_compact desugars to a
    higher-order ``filter(..., lambda)`` which is CodegenFallback and
    demotes the whole candidate expression tree to interpreted evaluation.
    """
    if not candidates:
        return empty_findings(df.sparkSession)
    arr = F.array(*candidates)
    return (df.select(F.explode(arr).alias("_f"))
              .where(F.col("_f").isNotNull())
              .select(*[F.col(f"_f.{c}").alias(c) for c in FINDING_COLUMNS]))


def union_findings(parts: Iterable[DataFrame]) -> DataFrame | None:
    """Combine finding DataFrames (bulk ``unionByName``).

    Balanced pairwise fold, not a left-deep reduce: every ``unionByName``
    call analyzes its whole subtree JVM-side, so a left-deep chain of n
    parts re-analyzes a growing plan n times (quadratic — measured ~1.3s
    of the rulebook's driver build at n=17); the balanced tree analyzes
    each subtree once per level (n log n)."""
    parts = [p for p in parts if p is not None]
    if not parts:
        return None
    while len(parts) > 1:
        nxt = [a.unionByName(b, allowMissingColumns=False)
               for a, b in zip(parts[::2], parts[1::2])]
        if len(parts) % 2:
            nxt.append(parts[-1])
        parts = nxt
    return parts[0]


def dedup_findings(findings: DataFrame) -> DataFrame:
    """Reference ``sort_and_drop`` (File_Submission_Object.py:152-156):
    drop duplicate findings keyed by (Row_Index, Column_Name, Column_Value).

    We add CSV_Sheet_Name to the key (documented fix of reference bug
    SURVEY.md §2.9(5)).
    """
    return findings.dropDuplicates(
        [SHEET_NAME, ROW_INDEX, COLUMN_NAME, COLUMN_VALUE])


def findings_summary(findings: DataFrame) -> DataFrame:
    """Crosstab of sheet × Message_Type with zero backfill.

    Reference: ``pd.crosstab`` + ``fix_table``
    (nci-seronet-data-validator.py:215-231). Spark: groupBy + pivot with an
    explicit value list (avoids the extra distinct-scan pivot pass) +
    ``na.fill(0)``.
    """
    return (findings.groupBy(SHEET_NAME)
            .pivot(MESSAGE_TYPE, [ERROR, WARNING])
            .count()
            .na.fill(0, [ERROR, WARNING])
            .withColumnsRenamed({ERROR: "Errors", WARNING: "Warnings"}))
