"""Typed shadow columns — the Spark answer to mixed-type object columns.

The reference re-types every CELL independently (``convert_data_type``,
nci-seronet-data-validator.py:196-206): values containing ``_`` stay strings
(IDs), else try ``float(x)``, else try ``dateutil.parser.parse(x)``, else
keep string. The resulting heterogeneous columns drive per-cell
``isinstance`` dispatch in every check (File_Submission_Object.py:215, 253,
296, 538).

Spark columns are homogeneous, so we keep the raw string column and derive
two *shadow* columns per checked column:

- ``c__num`` — DOUBLE, non-null iff the reference would have coerced the
  cell to float;
- ``c__ts``  — TIMESTAMP, non-null iff the reference would have parsed a
  datetime (and the float attempt failed — float wins in the reference's
  try-order).

"is a number" ≙ ``c__num IS NOT NULL``; "is a date" ≙ ``c__ts IS NOT
NULL``; "is a string" ≙ both null. All pure Column expressions —
whole-stage codegen, no Python in the row path.

Deviation (documented per SURVEY.md §7 hard-part 1): ``dateutil.parser`` is
more lenient than any fixed format list. We accept an explicit format
family (ISO dates/datetimes, US ``M/D/Y``, month-name forms like
"Jan 5 2020", and bare ``HH:MM[:SS]`` times) which covers the rulebook's
fixtures; the remaining gap (weekday words, partial dates that dateutil
backfills from "today", exotic orderings) is enumerated and pinned by
``tests/test_typing_parity.py`` — extend ``_TS_FORMATS`` to widen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

NUM_SUFFIX = "__num"
TS_SUFFIX = "__ts"

# try_to_timestamp formats tried in order (first non-null wins).
_TS_FORMATS = [
    "yyyy-MM-dd HH:mm:ss",
    "yyyy-MM-dd'T'HH:mm:ss",
    "yyyy-MM-dd",
    "M/d/yyyy H:mm:ss",
    "M/d/yyyy H:mm",
    "M/d/yyyy",
    "M/d/yy",
    "HH:mm:ss",
    "H:mm",
    # month-name forms dateutil accepts ("Jan 5 2020", "January 5, 2020",
    # "5 Jan 2020") — VERDICT r1 gap #6
    "MMM d yyyy",
    "MMM d, yyyy",
    "MMMM d yyyy",
    "MMMM d, yyyy",
    "d MMM yyyy",
    "d MMMM yyyy",
]


def num_col(c: str) -> str:
    return c + NUM_SUFFIX


def ts_col(c: str) -> str:
    return c + TS_SUFFIX


def numeric_shadow(c: Column) -> Column:
    """DOUBLE shadow: float(x) succeeded and value has no '_' (ID exemption,
    nci-seronet-data-validator.py:197-198)."""
    return F.when(~c.contains("_"), c.try_cast("double"))


# Every format in _TS_FORMATS starts "digits then -, / or :", "digits then
# space then month name", or a month name. Gating the parse attempts behind
# this one cheap regex makes non-date columns ~30× cheaper to shadow
# (failed JVM datetime parses are exception-driven and expensive; a regex
# reject is a few ns).
#
# The month-name arms are spelled as an explicit alternation, not
# ``[A-Za-z]{3,9} [0-9]``: free-text columns like "site 41" matched the
# loose word-then-digit shape on ~95% of rows, and each false positive
# paid up to 15 exception-driven parse failures (measured: the two
# free-text biospecimen columns cost ~1s each per 150k rows at sf0.1).
# Java's MMM/MMMM parsing is case-sensitive capitalized, so anchoring on
# the capitalized month prefix rejects exactly the values that could
# never parse anyway. Shared verbatim with the DuckDB oracle gate
# (``duckdb_shadow_exprs``) so both engines shadow identical cells.
_MONTHS = "(Jan|Feb|Mar|Apr|May|Jun|Jul|Aug|Sep|Oct|Nov|Dec)"
_DATELIKE = (f"^([0-9]{{1,4}}[-/:]|[0-9]{{1,2}} {_MONTHS}"
             f"|{_MONTHS}[a-z]* [0-9])")


def _num_shadow_sql(c: str) -> str:
    """``numeric_shadow`` as Spark-SQL text (identical semantics: CASE with
    a false/null condition yields NULL, same as the guarded ``F.when``)."""
    q = f"`{c}`"
    return (f"CASE WHEN NOT contains({q}, '_')"
            f" THEN try_cast({q} AS DOUBLE) END AS `{num_col(c)}`")


# Shape-dispatch fast paths: a failed JVM datetime parse is exception-
# driven (~µs); a regex shape test is ~ns. Each shape below is matched by
# EXACTLY ONE format of _TS_FORMATS, so dispatching on it preserves the
# coalesce's first-match semantics while the common cases (ISO date, ISO
# datetime, zero-padded time) cost one parse instead of up to 15.
# Measured: the biospecimen fixture sheet (8 date/time columns, 150k rows)
# dropped 12.0s -> ~4s at sf0.1.
_TS_FAST_SHAPES = [
    ("^[0-9]{4}-[0-9]{2}-[0-9]{2}$", "yyyy-MM-dd"),
    ("^[0-9]{4}-[0-9]{2}-[0-9]{2} [0-9]{1,2}:[0-9]{2}:[0-9]{2}$",
     "yyyy-MM-dd HH:mm:ss"),
    ("^[0-9]{4}-[0-9]{2}-[0-9]{2}T[0-9]{1,2}:[0-9]{2}:[0-9]{2}$",
     "yyyy-MM-dd'T'HH:mm:ss"),
    ("^[0-9]{2}:[0-9]{2}:[0-9]{2}$", "HH:mm:ss"),
    # bare H:mm / HH:mm (no seconds): only "H:mm" of _TS_FORMATS parses it
    ("^[0-9]{1,2}:[0-9]{2}$", "H:mm"),
]


def _ts_shadow_sql(c: str) -> str:
    q = f"`{c}`"

    def parse(fmt: str) -> str:
        return "try_to_timestamp({}, '{}')".format(
            q, fmt.replace("'", "''"))

    fast = " ".join(f"WHEN {q} RLIKE '{shape}' THEN {parse(fmt)}"
                    for shape, fmt in _TS_FAST_SHAPES)
    full = ", ".join(parse(fmt) for fmt in _TS_FORMATS)
    return (f"CASE WHEN NOT contains({q}, '_')"
            f" AND try_cast({q} AS DOUBLE) IS NULL"
            f" AND {q} RLIKE '{_DATELIKE}'"
            f" THEN CASE {fast} ELSE coalesce({full}) END"
            f" END AS `{ts_col(c)}`")


def duckdb_shadow_exprs(columns: list[str]) -> list[str]:
    """The SAME shadows as DuckDB select-list expressions — used by the
    driver-oracle fixture CTEs so check templates (which reference
    ``c__num``/``c__ts``) evaluate identically on both engines.

    Dialect bridge: DuckDB's TIMESTAMP cast covers the ISO family of
    ``_TS_FORMATS``; bare ``HH:mm[:ss]`` times go through a prepended
    epoch date (Spark's ``try_to_timestamp`` defaults missing date fields
    to 1970-01-01). Values outside that shared domain (e.g. ``M/d/yyyy``)
    parse on Spark only — oracle fixtures must not emit them
    (``plans/fixture.py`` documents the contract).
    """
    out = []
    for c in columns:
        out.append(f"CASE WHEN NOT contains({c}, '_')"
                   f" THEN TRY_CAST({c} AS DOUBLE) END AS {num_col(c)}")
        out.append(
            f"CASE WHEN NOT contains({c}, '_')"
            f" AND TRY_CAST({c} AS DOUBLE) IS NULL"
            f" AND regexp_matches({c}, '{_DATELIKE}')"
            f" THEN coalesce(TRY_CAST({c} AS TIMESTAMP),"
            f" TRY_CAST('1970-01-01 ' || {c} AS TIMESTAMP))"
            f" END AS {ts_col(c)}")
    return out


def with_typed_shadows(df: DataFrame, columns: list[str] | None = None,
                       skip: tuple[str, ...] = ("row_index",)) -> DataFrame:
    """Add ``c__num`` / ``c__ts`` shadows for each string column in ONE
    projection (the reference rebuilds the whole table cell-by-cell,
    nci-seronet-data-validator.py:91-92).

    Implementation note: shadows are attached via ``selectExpr`` with
    generated SQL text rather than Column composition — a 30-column sheet
    needs ~2,000 py4j round-trips to build the equivalent Column tree
    (~0.7s driver time per sheet; the rulebook builds ten), versus one
    call here. ``tests/test_typing_parity.py`` pins the semantics.
    """
    columns = columns or [c for c, t in df.dtypes
                          if t == "string" and c not in skip]
    exprs = []
    for c in columns:
        exprs.append(_num_shadow_sql(c))
        exprs.append(_ts_shadow_sql(c))
    return df.selectExpr("*", *exprs) if exprs else df

