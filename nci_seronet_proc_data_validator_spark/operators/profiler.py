"""Deequ-style table profiler: one-pass column metrics and constraint
verification — the "unit tests for data"
tier (Schelter et al., *Automating Large-Scale Data Quality
Verification*, VLDB 2018) that a 100 TB ingest pipeline runs before
anything else touches a new snapshot.

This generalizes the reference's hand-written per-sheet checks
(`/root/reference/Validation_Rules.py` hard-codes every column's rule;
`File_Submission_Object.py:151-168` evaluates them per-row in pandas)
into a schema-driven profiler: metrics are derived from the DataFrame
schema, and verification compiles every constraint into ONE aggregation
pass.

Why these shapes at scale:

- **profile_table** is a single global aggregate — partial (map-side)
  aggregation reduces each input split to one tiny state row, so the
  shuffle carries #partitions rows regardless of input size. The only
  scale caveat is ``count(DISTINCT ...)`` over k columns, which Spark
  plans as an Expand (k+1 rows per input row) before the partial agg;
  where that Expand dominates, the HLL register sketch
  (``operators/sketches.py``) counts distincts in one mergeable pass.
  The profile stays exact because exact is oracle-checkable bit-for-bit.
- **verify_constraints** is conditional-count algebra: every
  constraint becomes a ``sum(CASE WHEN violated THEN 1 END)`` column in
  the same single-pass aggregate — adding a constraint adds zero scans
  and zero shuffles.
- **fk_violations** (referential integrity) is the one constraint that
  genuinely needs a second table: a broadcast LEFT ANTI join against
  the dimension's key column — map-only when the dimension fits the
  broadcast threshold, a keyed shuffle join otherwise (Catalyst picks).
- **profile_drift** compares two snapshot profiles — profile outputs
  are O(columns×metrics) rows, so the comparison is model-scale.

Exactness contract: every metric value is BIGINT (counts, integer
min/max/sums, floor-quantized centi-units for doubles, floored epoch
seconds for timestamps, lengths for strings), so partial-aggregation
order cannot perturb a bit and the DuckDB oracle matches exactly.
Metric/constraint expressions are written in the SQL dialect subset
both engines share and templated per column; the two per-engine
variants (timestamp epoch, regex match) are explicit named pairs.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Exact-DISTINCT syntax only: count(DISTINCT x) adds an Expand group;
# approx_count_distinct(x) does not (and contains "distinct" as a bare
# substring, so a substring test would miscount the width).
_EXACT_DISTINCT_RE = re.compile(r"count\s*\(\s*distinct\b", re.I)


# --------------------------------------------------------------- metrics
# (metric_name, spark_template, duckdb_template); {c} is the column.
# DuckDB integer sum() returns HUGEINT — always CAST ... AS BIGINT there.
_COMMON = [
    ("nonnull", "count({c})", "count({c})"),
    ("nulls", "count(*) - count({c})", "count(*) - count({c})"),
    ("distinct", "count(DISTINCT {c})", "count(DISTINCT {c})"),
]
_INTEGRAL = [
    ("min", "min({c})", "min({c})"),
    ("max", "max({c})", "max({c})"),
    ("sum", "CAST(sum({c}) AS BIGINT)", "CAST(sum({c}) AS BIGINT)"),
]
# doubles: floor-quantize to centi-units FIRST (floor is monotone, so
# min/max commute with it; the sum is then an exact integer sum)
_FLOATING = [
    ("min_c100", "min(CAST(floor({c} * 100) AS BIGINT))",
     "min(CAST(floor({c} * 100) AS BIGINT))"),
    ("max_c100", "max(CAST(floor({c} * 100) AS BIGINT))",
     "max(CAST(floor({c} * 100) AS BIGINT))"),
    ("sum_c100", "CAST(sum(CAST(floor({c} * 100) AS BIGINT)) AS BIGINT)",
     "CAST(sum(CAST(floor({c} * 100) AS BIGINT)) AS BIGINT)"),
]
# timestamps: truncated epoch seconds. unix_seconds() truncates sub-
# second precision and, unlike CAST(ts AS BIGINT), resolves for both
# TIMESTAMP and TIMESTAMP_NTZ (parquet scans surface NTZ; the inner cast
# reinterprets NTZ wall time in the session zone, which session.py pins
# to UTC — exactly DuckDB's epoch() reading of a naive timestamp).
# floor == truncate for the non-negative epochs here.
_TIMESTAMP = [
    ("min_epoch", "min(unix_seconds(CAST({c} AS TIMESTAMP)))",
     "min(CAST(floor(epoch({c})) AS BIGINT))"),
    ("max_epoch", "max(unix_seconds(CAST({c} AS TIMESTAMP)))",
     "max(CAST(floor(epoch({c})) AS BIGINT))"),
]
# dates get their own class: Spark cannot CAST(DATE AS BIGINT) (the
# timestamp template above is an AnalysisException on DATE columns) —
# epoch DAYS is the shared integer form: unix_date() in Spark, date
# subtraction (INTEGER days) in DuckDB
_DATE = [
    ("min_days", "min(unix_date({c}))",
     "CAST(min({c} - DATE '1970-01-01') AS BIGINT)"),
    ("max_days", "max(unix_date({c}))",
     "CAST(max({c} - DATE '1970-01-01') AS BIGINT)"),
]
_STRING = [
    ("min_len", "min(length({c}))", "CAST(min(length({c})) AS BIGINT)"),
    ("max_len", "max(length({c}))", "CAST(max(length({c})) AS BIGINT)"),
    ("sum_len", "CAST(sum(length({c})) AS BIGINT)",
     "CAST(sum(length({c})) AS BIGINT)"),
]

_BY_CLASS = {"integral": _INTEGRAL, "floating": _FLOATING,
             "timestamp": _TIMESTAMP, "date": _DATE, "string": _STRING,
             "other": []}


def _type_class(spark_dtype: str) -> str:
    t = spark_dtype.lower()
    if t in ("tinyint", "smallint", "int", "bigint") or t.startswith("decimal"):
        return "integral" if not t.startswith("decimal") else "floating"
    if t in ("float", "double"):
        return "floating"
    if t in ("timestamp", "timestamp_ntz"):
        return "timestamp"
    if t == "date":
        return "date"
    if t in ("string", "varchar"):
        return "string"
    return "other"


def _metric_plan(dtypes: list[tuple[str, str]],
                 columns: list[str] | None = None):
    """[(col, metric, spark_sql, duck_sql)] in deterministic order."""
    cols = columns or [c for c, _ in dtypes]
    tmap = dict(dtypes)
    plan = []
    for c in cols:
        for name, s_tpl, d_tpl in _COMMON + _BY_CLASS[_type_class(tmap[c])]:
            plan.append((c, name, s_tpl.format(c=c), d_tpl.format(c=c)))
    return plan


def profile_table(df: DataFrame,
                  columns: list[str] | None = None) -> DataFrame:
    """One-pass schema-driven profile → long form
    ``(col_name, metric, value BIGINT)``.

    One global aggregate (map-side partials → single tiny row), then a
    driver-free unpivot of that row via explode(array(struct...)).
    """
    return _agg_unpivot(df, _metric_plan(df.dtypes, columns))


def _struct_agg(df: DataFrame, agg_items: list[str]) -> DataFrame:
    """One-row global aggregate over ``agg_items`` (``<expr> AS alias``
    strings), with exact-DISTINCT aggregates planned SEPARATELY from the
    algebraic ones.

    Why: Spark plans a mixed multi-DISTINCT aggregate as ONE
    Expand(k distinct groups + 1) whose partial aggregate keys on the
    expanded distinct columns AND evaluates every algebraic function for
    every expanded row — for the fused quality pass that was 59 agg
    functions dragged through a 15-slot Expand and a 74-column exchange
    (r13 plan audit). Splitting into an algebraic aggregate (plain
    partial agg, no Expand, tiny shuffle) and a distinct-only aggregate
    (Expand whose partial agg is a pure keyed dedup with ZERO carried
    functions) and cross-joining the two 1-row results computes the
    identical values: measured 3.2 s → 1.1 s at sf0.1/local[32], row
    equality checked. The input is scanned once per side; at any scale
    the distinct side's Expand already multiplies rows (k+1)×, so the
    second scan is small against the per-row work it stops duplicating.
    """
    items_d = [it for it in agg_items if _EXACT_DISTINCT_RE.search(it)]
    items_a = [it for it in agg_items if not _EXACT_DISTINCT_RE.search(it)]
    if not items_d or not items_a:
        return (df.agg(F.expr(f"struct({', '.join(agg_items)})")
                       .alias("_m")).select("_m.*"))
    a = df.agg(F.expr(f"struct({', '.join(items_a)})").alias("_a"))
    b = df.agg(F.expr(f"struct({', '.join(items_d)})").alias("_b"))
    return a.crossJoin(b).select("_a.*", "_b.*")


def _agg_unpivot(df: DataFrame, plan) -> DataFrame:
    """``[(col, metric, spark_sql, ...)]`` → one aggregate + inline
    unpivot, each ONE generated expression (not a Column per metric —
    see :func:`fused_quality_pass` for why)."""
    aggd = _struct_agg(df, [f"CAST(({s}) AS LONG) AS m{i}"
                            for i, (_, _, s, *_) in enumerate(plan)])
    rows = ", ".join(
        f"named_struct('col_name', {_qs(c)}, 'metric', {_qs(m)}, "
        f"'value', m{i})"
        for i, (c, m, *_rest) in enumerate(plan))
    return aggd.selectExpr(f"inline(array({rows}))")


def _qs(v: str) -> str:
    """SQL string literal for generated-SQL assembly — the engine's one
    quoting primitive (``functions/checks._sql_quote``), re-exported
    under the local name the assembly code uses."""
    from nci_seronet_proc_data_validator_spark.functions.checks import (
        _sql_quote,
    )
    return _sql_quote(v)


def _masked(tpl: str, slice_sql: str) -> str:
    """Rewrite a metric template to aggregate only rows satisfying
    ``slice_sql``: column references become CASE-masked (aggregates
    ignore the NULLs the mask injects) and ``count(*)`` becomes the
    conditional row count."""
    return (tpl.replace("count(*)",
                        f"sum(CASE WHEN {slice_sql} THEN 1 ELSE 0 END)")
            .replace("{c}", f"(CASE WHEN {slice_sql} THEN {{c}} END)"))


def fused_quality_pass(df: DataFrame, constraints: list[Constraint],
                       slice_sql: str | None = None,
                       drift_added: tuple[str, ...] = (),
                       columns: list[str] | None = None) -> DataFrame:
    """The whole quality tier in ONE aggregation pass → long form
    ``(arm, col_name, metric, value BIGINT)``:

    - ``arm='profile'``: every typed column metric;
    - ``arm='verify'``: every constraint's violation count;
    - ``arm='drift'`` (when ``slice_sql`` is given): the same metrics
      recomputed over only the rows satisfying ``slice_sql`` (CASE-masked
      aggregates — aggregates skip the injected NULLs, ``count(*)``
      becomes a conditional sum), compared in-plan to the full-table
      values: metric is tagged ``/added`` (columns in ``drift_added``,
      i.e. absent from the stored baseline being mimicked), ``/changed``
      or ``/unchanged``, value = delta (slice value for added columns).

    Why fused: :func:`profile_table` + :func:`verify_constraints` +
    :func:`profile_drift`-over-two-profiles costs one scan each — at
    100 TB that is the difference between one pass and four. The fusion
    is free because all three are conditional-count algebra over the
    same rows; only :func:`fk_violations` genuinely needs a second
    table. ``profile_drift`` remains the form for comparing two STORED
    profile snapshots.

    The one CPU caveat: fusing doubles the DISTINCT-aggregate groups
    (full + slice-masked per column), and every distinct group widens
    the Expand. The distincts stay exact because exact is
    oracle-checkable."""
    tpl_plan = [(c, name, s_tpl) for (c, name, s_tpl, _)
                in _metric_tpl_plan(df.dtypes, columns)]
    plan = [(c, name, s_tpl.format(c=c)) for (c, name, s_tpl) in tpl_plan]
    # Assemble the whole pass as TWO generated SQL expressions (a
    # struct-of-aggregates and an inline(array(named_struct...))) instead
    # of one Column object per metric: the per-Column py4j round-trips
    # dominated this function's wall time (~2.7 s of driver chatter for a
    # ~130-aggregate plan) and are pure overhead at any scale.
    agg_items = [f"CAST(({s}) AS LONG) AS m{i}"
                 for i, (_, _, s) in enumerate(plan)]
    agg_items += [f"CAST(({k.spark_sql}) AS LONG) AS v{i}"
                  for i, k in enumerate(constraints)]
    if slice_sql:
        agg_items += [
            f"CAST(({_masked(s_tpl, slice_sql).format(c=c)}) AS LONG)"
            f" AS md{i}"
            for i, (c, _name, s_tpl) in enumerate(tpl_plan)]
    aggd = _struct_agg(df, agg_items)
    rows = [f"named_struct('arm', 'profile', 'col_name', {_qs(c)}, "
            f"'metric', {_qs(m)}, 'value', m{i})"
            for i, (c, m, _) in enumerate(plan)]
    rows += [f"named_struct('arm', 'verify', 'col_name', {_qs(k.col_name)},"
             f" 'metric', {_qs(k.name)}, 'value', v{i})"
             for i, k in enumerate(constraints)]
    if slice_sql:
        for i, (c, m, _) in enumerate(plan):
            if c in drift_added:
                rows.append(
                    f"named_struct('arm', 'drift', 'col_name', {_qs(c)}, "
                    f"'metric', {_qs(m + '/added')}, 'value', md{i})")
            else:
                status = (f"CASE WHEN md{i} IS NULL THEN 'removed' "
                          f"WHEN md{i} - m{i} != 0 THEN 'changed' "
                          f"ELSE 'unchanged' END")
                rows.append(
                    f"named_struct('arm', 'drift', 'col_name', {_qs(c)}, "
                    f"'metric', concat({_qs(m + '/')}, {status}), "
                    f"'value', coalesce(md{i} - m{i}, md{i}, m{i}))")
    return aggd.selectExpr(f"inline(array({', '.join(rows)}))")


def _metric_tpl_plan(dtypes: list[tuple[str, str]],
                     columns: list[str] | None = None):
    """Like :func:`_metric_plan` but keeps the UNformatted spark template
    (needed to re-template with a masked column)."""
    cols = columns or [c for c, _ in dtypes]
    tmap = dict(dtypes)
    plan = []
    for c in cols:
        for name, s_tpl, _d_tpl in _COMMON + _BY_CLASS[_type_class(tmap[c])]:
            plan.append((c, name, s_tpl, None))
    return plan


def profile_oracle_sql(table: str, dtypes: list[tuple[str, str]],
                       columns: list[str] | None = None) -> str:
    """DuckDB twin of :func:`profile_table`: one scan into a 1-row
    materialized CTE, unpivoted by a model-scale UNION ALL."""
    plan = _metric_plan(dtypes, columns)
    aggs = ",\n       ".join(f"{d} AS m{i}"
                             for i, (_, _, _, d) in enumerate(plan))
    arms = "\nUNION ALL\n".join(
        f"SELECT '{c}' AS col_name, '{m}' AS metric, "
        f"CAST(m{i} AS BIGINT) AS value FROM p"
        for i, (c, m, _, _) in enumerate(plan))
    return f"WITH p AS MATERIALIZED (\n  SELECT {aggs}\n  FROM {table}\n)\n{arms}"


# ----------------------------------------------------------- constraints
@dataclass(frozen=True)
class Constraint:
    """A data-quality assertion compiled to a violation COUNT.

    ``spark_sql`` / ``duck_sql`` are aggregate expressions returning the
    number of violating rows (0 = constraint holds). Where the dialects
    agree only one template is written; both are full expressions with
    the column already substituted.
    """
    name: str
    col_name: str
    spark_sql: str
    duck_sql: str


def not_null(c: str) -> Constraint:
    e = f"sum(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)"
    return Constraint("not_null", c, e, f"CAST({e} AS BIGINT)")


def unique(c: str) -> Constraint:
    e = f"count({c}) - count(DISTINCT {c})"
    return Constraint("unique", c, e, e)


def in_set(c: str, values: list[str]) -> Constraint:
    lit = ", ".join(f"'{v}'" for v in values)
    e = (f"sum(CASE WHEN {c} IS NOT NULL AND {c} NOT IN ({lit}) "
         f"THEN 1 ELSE 0 END)")
    return Constraint("in_set", c, e, f"CAST({e} AS BIGINT)")


def non_negative(c: str) -> Constraint:
    e = f"sum(CASE WHEN {c} < 0 THEN 1 ELSE 0 END)"
    return Constraint("non_negative", c, e, f"CAST({e} AS BIGINT)")


def between(c: str, lo: str, hi: str) -> Constraint:
    """Bounds are SQL literals (e.g. ``TIMESTAMP '1992-01-01'``, ``0``)."""
    e = f"sum(CASE WHEN {c} < {lo} OR {c} > {hi} THEN 1 ELSE 0 END)"
    return Constraint("between", c, e, f"CAST({e} AS BIGINT)")


def matches(c: str, regex: str) -> Constraint:
    s = (f"sum(CASE WHEN {c} IS NOT NULL AND NOT ({c} RLIKE '{regex}') "
         f"THEN 1 ELSE 0 END)")
    d = (f"CAST(sum(CASE WHEN {c} IS NOT NULL AND NOT "
         f"regexp_matches({c}, '{regex}') THEN 1 ELSE 0 END) AS BIGINT)")
    return Constraint("matches", c, s, d)


def verify_constraints(df: DataFrame,
                       constraints: list[Constraint]) -> DataFrame:
    """Evaluate every constraint in ONE aggregation pass → long form
    ``(col_name, metric, value BIGINT)`` where metric is the constraint
    name and value its violation count."""
    return _agg_unpivot(df, [(k.col_name, k.name, k.spark_sql)
                             for k in constraints])


def verify_oracle_sql(table: str, constraints: list[Constraint]) -> str:
    aggs = ",\n       ".join(f"{k.duck_sql} AS v{i}"
                             for i, k in enumerate(constraints))
    arms = "\nUNION ALL\n".join(
        f"SELECT '{k.col_name}' AS col_name, '{k.name}' AS metric, "
        f"v{i} AS value FROM v"
        for i, k in enumerate(constraints))
    return f"WITH v AS MATERIALIZED (\n  SELECT {aggs}\n  FROM {table}\n)\n{arms}"


def fk_violations(fact: DataFrame, fact_key: str,
                  dim: DataFrame, dim_key: str) -> DataFrame:
    """Referential integrity: rows of ``fact`` whose non-null key has no
    match in ``dim`` → ``(col_name, metric='fk_violations', value)``.

    Broadcast LEFT ANTI join (dimension key column only, deduplicated) —
    map-only under the broadcast threshold; Catalyst falls back to a
    keyed shuffle join for jumbo dimensions.
    """
    keys = dim.select(F.col(dim_key).alias(fact_key)).distinct()
    miss = (fact.filter(F.col(fact_key).isNotNull())
            .join(F.broadcast(keys), fact_key, "left_anti"))
    return miss.agg(F.count(F.lit(1)).alias("value")).select(
        F.lit(fact_key).alias("col_name"),
        F.lit("fk_violations").alias("metric"),
        F.col("value").cast("long").alias("value"))


def fk_oracle_sql(fact: str, fact_key: str, dim: str, dim_key: str) -> str:
    # NOT EXISTS, not NOT IN: NULL dim keys must not poison the predicate
    return f"""
SELECT '{fact_key}' AS col_name, 'fk_violations' AS metric,
       CAST(count(*) AS BIGINT) AS value
FROM {fact} f
WHERE f.{fact_key} IS NOT NULL
  AND NOT EXISTS (SELECT 1 FROM {dim} d WHERE d.{dim_key} = f.{fact_key})
"""


# The anomaly FLAG as one SQL expression over columns (h0, h1, h2, c) —
# shared VERBATIM by the Spark plan and the DuckDB oracle, so the
# double-precision arithmetic is bit-identical on both engines:
# |c - mean| > k·sd  ⇔  (n·c - sx)² > k²·(n·sxx - sx²), n=3 history
# slices; zero-variance history flags ANY change (3c ≠ sx).
_ANOM_FLAG_SQL = """
CASE WHEN (3e0 * (CAST(h0 AS DOUBLE)*h0 + CAST(h1 AS DOUBLE)*h1
                  + CAST(h2 AS DOUBLE)*h2)
           - (CAST(h0 AS DOUBLE)+h1+h2) * (CAST(h0 AS DOUBLE)+h1+h2)) <= 0e0
     THEN CASE WHEN 3*c <> h0+h1+h2 THEN 1 ELSE 0 END
     ELSE CASE WHEN (3e0*c - (CAST(h0 AS DOUBLE)+h1+h2))
                    * (3e0*c - (CAST(h0 AS DOUBLE)+h1+h2))
                  > {k2}e0 * (3e0 * (CAST(h0 AS DOUBLE)*h0
                                     + CAST(h1 AS DOUBLE)*h1
                                     + CAST(h2 AS DOUBLE)*h2)
                              - (CAST(h0 AS DOUBLE)+h1+h2)
                                * (CAST(h0 AS DOUBLE)+h1+h2))
               THEN 1 ELSE 0 END
END"""


def anomaly_slices_pass(df: DataFrame, history_preds: list[str],
                        current_pred: str,
                        columns: list[str] | None = None,
                        k: int = 3) -> DataFrame:
    """Oracle-checkable anomaly detection in ONE aggregation pass: the
    profile metrics of three in-table history slices (``history_preds``,
    CASE-masked aggregate twins) and of the ``current_pred`` slice are
    computed together, then every (col, metric) gets the mean ± k·σ flag
    of :data:`_ANOM_FLAG_SQL` — Deequ-style anomaly detection on metric
    history, for history snapshots that live as partitions/date-slices
    of one table.

    Output: ``(arm='anomaly', col_name, metric='{m}/anom',
    value=0|1 BIGINT)``.
    """
    if len(history_preds) != 3:
        raise ValueError("exactly 3 history slices (n is baked into the "
                         f"shared flag expression): {history_preds}")
    tpl_plan = _metric_tpl_plan(df.dtypes, columns)
    # Generated-SQL assembly (not per-Column py4j calls) — see
    # fused_quality_pass for why.
    agg_items = []
    for j, pred in enumerate(list(history_preds) + [current_pred]):
        tag = f"h{j}" if j < 3 else "c"
        agg_items += [
            f"CAST(({_masked(s_tpl, pred).format(c=c)}) AS LONG)"
            f" AS {tag}m{i}"
            for i, (c, _name, s_tpl, _) in enumerate(tpl_plan)]
    aggd = _struct_agg(df, agg_items)
    rows = [f"named_struct('col_name', {_qs(c)}, 'metric', {_qs(m)}, "
            f"'h0', h0m{i}, 'h1', h1m{i}, 'h2', h2m{i}, 'c', cm{i})"
            for i, (c, m, _, _) in enumerate(tpl_plan)]
    flag = _ANOM_FLAG_SQL.format(k2=k * k)
    return (aggd.selectExpr(f"inline(array({', '.join(rows)}))")
            .selectExpr("col_name",
                        "concat(metric, '/anom') AS metric",
                        f"CAST(({flag}) AS BIGINT) AS value"))


def anomaly_slices_oracle_sql(table: str, dtypes: list[tuple[str, str]],
                              history_preds: list[str], current_pred: str,
                              columns: list[str] | None = None,
                              k: int = 3) -> str:
    """DuckDB twin of :func:`anomaly_slices_pass`: four profile CTEs
    (one per slice) joined on (col_name, metric), then the SAME
    ``_ANOM_FLAG_SQL`` text."""
    slices = list(history_preds) + [current_pred]
    names = ["ah0", "ah1", "ah2", "ac"]
    ctes = ",\n".join(
        f"{nm} AS MATERIALIZED ({profile_oracle_sql(f'(SELECT * FROM {table} WHERE {pred})', dtypes, columns)})"
        for nm, pred in zip(names, slices))
    flag = _ANOM_FLAG_SQL.format(k2=k * k)
    return f"""
WITH {ctes}
SELECT ac.col_name, concat(ac.metric, '/anom') AS metric,
       CAST(({flag}) AS BIGINT) AS value
FROM (SELECT col_name, metric, value AS c FROM ac) ac
JOIN (SELECT col_name, metric, value AS h0 FROM ah0) ah0
  USING (col_name, metric)
JOIN (SELECT col_name, metric, value AS h1 FROM ah1) ah1
  USING (col_name, metric)
JOIN (SELECT col_name, metric, value AS h2 FROM ah2) ah2
  USING (col_name, metric)
"""


def profile_drift(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema/metric drift between two profile outputs: full outer join
    on (col_name, metric) with deltas; NULL side = added/removed column.
    Profile outputs are tiny, so this is model-scale regardless of the
    snapshots' size."""
    o = old.select("col_name", "metric", F.col("value").alias("old_value"))
    n = new.select("col_name", "metric", F.col("value").alias("new_value"))
    return (o.join(n, ["col_name", "metric"], "full_outer")
            .withColumn("delta", F.col("new_value") - F.col("old_value"))
            .withColumn("status",
                        F.when(F.col("old_value").isNull(), F.lit("added"))
                        .when(F.col("new_value").isNull(), F.lit("removed"))
                        .when(F.col("delta") != 0, F.lit("changed"))
                        .otherwise(F.lit("unchanged"))))
