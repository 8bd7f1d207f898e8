"""Oracle-checked parity queries for the engine's side-effecting surfaces.

Round-5 verdict: 16 of 57 operators were "test-verified only —
sinks/JDBC/streaming surfaces with no DuckDB-oracle form". This module
gives those surfaces an oracle form by running the side effect INSIDE the
query callable and returning the read-back result as a DataFrame, so the
driver's DuckDB compare certifies the full write→read round-trip:

- ``q_submission_misc``: registry fusion of the three small validation
  queries (``j6_anti_join`` + ``a4_count_reconcile`` + ``o3_union_slices``)
  plus round-trip arms for the remaining driver-side surfaces:
  ``sink_csv`` (S9 partitioned error-report sink, reference
  ``File_Submission_Object.py:417-430``), ``sink_xlsx`` (S10: the
  one-worksheet-per-sheet workbook written by the dependency-free
  SpreadsheetML writer and read back through its reader, reference
  ``s3.py:45-113``), ``status`` (S11 status vocabulary incl. the
  clean-file SUCCESS row, reference ``File_Submission_Object.py:
  458-479``), ``notify`` (S12 mrkdwn payload built then re-parsed,
  reference ``nci-seronet-data-validator.py:208-250``), ``colcmp``
  (P10 header-vs-catalog set compare, reference
  ``File_Submission_Object.py:55-72`` — the oracle reads DuckDB's
  information_schema), and ``read_any`` (S3 suffix-dispatch multi-file
  scan reassembling the table from disjoint CSV + parquet slices,
  reference ``s3.py:116-179``). Each oracle recomputes the expected
  content directly, so a hash match proves the write→read round-trip.
- ``q_streaming_parity``: the §2.8 streaming operators executed to
  completion under ``trigger(availableNow=True)`` — watermarked hourly
  rollup (complete mode), ``dropDuplicatesWithinWatermark`` exact dedup
  over a source with planted duplicates, stream-static broadcast
  enrichment, BOTH ``applyInPandasWithState`` stateful operators
  (session tracking and the conversion-funnel state machine), and the
  CDC apply stream (two change batches merged into versioned parquet
  snapshots) — each read back from its sink and oracled by the batch
  SQL the streaming semantics must converge to.
- ``q_jdbc_roundtrip``: live embedded-Derby JDBC round-trip (S5/S6/J7
  shapes: Spark JDBC append, then a scan whose JOIN + predicate +
  projection execute DB-side via the ``query`` option) plus the S11
  probe/UPDATE/INSERT upsert (reference ``File_Submission_Object.py:
  439-499``) run twice against DBAPI sqlite to prove revalidation
  updates-not-duplicates; the final table states are oracled by plain
  SQL over the same parquet inputs.

Temp artifacts are written under one session-scoped root (fresh subdir
per invocation — repeat calls never collide) and left in place until
process exit: the returned DataFrames read them lazily (the driver
collects after the callable returns), so cleanup is an ``atexit`` rmtree
of the root, not per-call — long driver/bench sessions no longer grow
/tmp without bound.
"""

from __future__ import annotations

import atexit
import itertools
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.errors import (
    COLUMN_NAME,
    COLUMN_VALUE,
    ERROR_MESSAGE,
    MESSAGE_TYPE,
    ROW_INDEX,
    SHEET_NAME,
    SUB_COL,
)
from nci_seronet_proc_data_validator_spark.sources.readers import read_table

_UNIQ = itertools.count()
_SESSION_ROOT: str | None = None


def _session_root() -> str:
    """One tmp root per driver process, removed at interpreter exit.

    Artifacts must outlive the query callable (lazy reads), so the only
    safe cleanup point is process exit; ``ignore_errors`` covers files
    the JVM still holds open (unlink-while-open is fine on POSIX)."""
    global _SESSION_ROOT
    if _SESSION_ROOT is None:
        _SESSION_ROOT = tempfile.mkdtemp(prefix="spark_graft_parity_")
        atexit.register(shutil.rmtree, _SESSION_ROOT, ignore_errors=True)
    return _SESSION_ROOT


def _tmpdir(tag: str) -> str:
    return tempfile.mkdtemp(prefix=f"{tag}_", dir=_session_root())


def _uniq() -> str:
    return f"{os.getpid()}_{next(_UNIQ)}"


# --------------------------------------------------------------------------
# submission_misc: j6 + a4 + o3 + S9 sink write→readback, one tagged union.
# Common shape (arm, k, s1, s2, v); sort keys (arm, k, s1) are non-null and
# unique per row on both engines.
# --------------------------------------------------------------------------

_SINK_BAD_SEGMENTS = ("FURNITURE", "HOUSEHOLD")
_WARN_PRIORITY = "5-LOW"
# P10 catalog fixture: customer's real columns minus c_mktsegment (so the
# actual header has one unexpected column) plus c_address (so the catalog
# has one missing column). Shared verbatim by the oracle SQL.
_COLCMP_EXPECTED = ("c_custkey", "c_name", "c_nationkey", "c_acctbal",
                    "c_address")


def _sink_findings(cust: DataFrame) -> DataFrame:
    """Driver-scale findings fixture in the canonical errors schema:
    flag customers in the 'unexpected' market segments."""
    return (cust.filter(F.col("c_mktsegment").isin(*_SINK_BAD_SEGMENTS))
            .select(F.lit("Error").alias(MESSAGE_TYPE),
                    F.lit("customer.csv").alias(SHEET_NAME),
                    F.col("c_custkey").alias(ROW_INDEX),
                    F.lit("Mktsegment").alias(COLUMN_NAME),
                    F.col("c_mktsegment").alias(COLUMN_VALUE),
                    F.lit("Unexpected Value").alias(ERROR_MESSAGE)))


def _warn_findings(orders: DataFrame) -> DataFrame:
    """Warning-severity findings on a second sheet (orders), so the
    workbook, job-status, and notification arms exercise the
    multi-sheet + mixed-severity paths."""
    return (orders.filter(F.col("o_orderpriority") == _WARN_PRIORITY)
            .select(F.lit("Warning").alias(MESSAGE_TYPE),
                    F.lit("orders.csv").alias(SHEET_NAME),
                    F.col("o_orderkey").alias(ROW_INDEX),
                    F.lit("Orderpriority").alias(COLUMN_NAME),
                    F.col("o_orderpriority").alias(COLUMN_VALUE),
                    F.lit("Low Priority").alias(ERROR_MESSAGE)))


def q_submission_misc(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")

    null_s = F.lit(None).cast("string")
    null_v = F.lit(None).cast("double")

    # J6: submitted-id anti-restriction (customers with no 'P' order).
    p_orders = orders.filter(F.col("o_orderstatus") == "P")
    j6 = (cust.join(p_orders, cust.c_custkey == p_orders.o_custkey,
                    "left_anti")
          .select(F.lit("j6").alias("arm"),
                  F.col("c_custkey").alias("k"),
                  F.lit("").alias("s1"), null_s.alias("s2"),
                  null_v.alias("v")))

    # A4: declared-vs-distinct count reconciliation, unpivoted to rows.
    a4 = (cust.agg(F.count(F.lit(1)).alias("declared"))
          .crossJoin(orders.agg(
              F.countDistinct("o_custkey").alias("dwo")))
          .select(F.explode(F.array(
              F.struct(F.lit("declared").alias("s1"),
                       F.col("declared").cast("double").alias("v")),
              F.struct(F.lit("distinct_with_orders").alias("s1"),
                       F.col("dwo").cast("double").alias("v")),
              F.struct(F.lit("matches").alias("s1"),
                       (F.col("declared") == F.col("dwo"))
                       .cast("double").alias("v")))).alias("e"))
          .select(F.lit("a4").alias("arm"),
                  F.lit(-1).cast("bigint").alias("k"),
                  F.col("e.s1").alias("s1"), null_s.alias("s2"),
                  F.col("e.v").alias("v")))

    # O3: union of two filtered slices, slice tag in the arm.
    def _slice(pred, tag):
        return (cust.filter(pred)
                .select(F.lit(f"o3_{tag}").alias("arm"),
                        F.col("c_custkey").alias("k"),
                        F.col("c_mktsegment").alias("s1"),
                        null_s.alias("s2"), null_v.alias("v")))
    o3 = _slice(F.col("c_mktsegment") == "BUILDING", "A").unionByName(
        _slice(F.col("c_acctbal") > 9500, "B"))

    # S9 sink round-trip: findings → partitioned-CSV error reports →
    # read back (partition column restored by directory discovery).
    from nci_seronet_proc_data_validator_spark.sinks.reports import (
        build_notification_payload,
        job_status_rows,
        write_error_reports,
    )
    out_dir = _tmpdir("sink_csv")
    write_error_reports(_sink_findings(cust), out_dir, fmt="csv")
    back = spark.read.option("header", "true").csv(out_dir)
    sink = back.select(
        F.lit("sink_csv").alias("arm"),
        F.col(ROW_INDEX).cast("bigint").alias("k"),
        F.concat_ws("|", F.col(SHEET_NAME), F.col(COLUMN_NAME),
                    F.col(COLUMN_VALUE), F.col(ERROR_MESSAGE)).alias("s1"),
        F.col(MESSAGE_TYPE).alias("s2"), F.lit(None).cast("double").alias("v"))

    findings = _sink_findings(cust).unionByName(_warn_findings(orders))

    # S10 workbook round-trip: the same findings through the reference's
    # one-worksheet-per-sheet xlsx artifact (dependency-free SpreadsheetML
    # writer) and back through its reader — driver-scale by contract.
    from nci_seronet_proc_data_validator_spark.sinks.xlsx_minimal import (
        read_xlsx_rows,
    )
    import pandas as pd
    wb_path = os.path.join(_tmpdir("sink_xlsx"), "report.xlsx")
    write_error_reports(findings, wb_path, fmt="xlsx")
    frames = []
    for i in (0, 1):  # worksheets sort by sheet name: customer, orders
        cols, rows = read_xlsx_rows(wb_path, sheet=i)
        frames.append(pd.DataFrame(rows, columns=cols))
    sink_x = (spark.createDataFrame(
        pd.concat(frames, ignore_index=True).astype(str))
        .select(F.lit("sink_xlsx").alias("arm"),
                F.col(ROW_INDEX).cast("bigint").alias("k"),
                F.concat_ws("|", F.col(COLUMN_NAME), F.col(COLUMN_VALUE),
                            F.col(ERROR_MESSAGE)).alias("s1"),
                F.col(MESSAGE_TYPE).alias("s2"), null_v.alias("v")))

    # S11 status vocabulary: per-file + submission-wide statuses derived
    # from the findings (clean.csv planted to prove the zero-findings row).
    status = (job_status_rows(findings, "sub1", "2024-01-01",
                              sheet_names=["customer.csv", "orders.csv",
                                           "clean.csv"])
              .select(F.lit("status").alias("arm"),
                      F.lit(-1).cast("bigint").alias("k"),
                      F.col("file_name").alias("s1"),
                      F.concat_ws("|", F.col("data_validation_status"),
                                  F.col("batch_validation_status"))
                      .alias("s2"),
                      (F.col("n_errors") + F.col("n_warnings"))
                      .cast("double").alias("v")))

    # S12 notification payload build → parse round-trip: the A2 summary
    # rendered to the mrkdwn payload, then the per-sheet counts and the
    # verdict recovered from the payload text itself.
    import re
    from nci_seronet_proc_data_validator_spark.errors import (
        findings_summary,
    )
    summary = sorted(findings_summary(findings).collect(),
                     key=lambda r: r[SHEET_NAME])
    payload = build_notification_payload(summary, "sub1", "tester")
    text = payload["blocks"][0]["text"]["text"]
    notif_rows: list[tuple] = []
    for line in text.split("\n"):
        m = re.match(r"• `(.+)` — (\d+) Errors / (\d+) Warnings", line)
        if m:
            notif_rows.append((0, m.group(1),
                               f"{m.group(2)} Errors / {m.group(3)} Warnings"))
        m = re.match(r"\*(Submission \w+ validation)\* "
                     r"\((\d+) errors, (\d+) warnings\)", line)
        if m:
            notif_rows.append((1, m.group(1),
                               f"{m.group(2)} errors, {m.group(3)} warnings"))
    notify = (spark.createDataFrame(notif_rows, "k bigint, s1 string, "
                                    "s2 string")
              .select(F.lit("notify").alias("arm"), "k", "s1", "s2",
                      null_v.alias("v")))

    # P10 column-name set compare: actual parquet header vs a catalog with
    # one column renamed — both directions of the set difference.
    from nci_seronet_proc_data_validator_spark.submission import (
        column_compare_rows,
    )
    colcmp = (spark.createDataFrame(
        column_compare_rows("customer.csv", cust.columns,
                            list(_COLCMP_EXPECTED)),
        "sev string, sheet string, col string, msg string")
        .select(F.lit("colcmp").alias("arm"),
                F.lit(-1).cast("bigint").alias("k"),
                F.col("col").alias("s1"), F.col("msg").alias("s2"),
                null_v.alias("v")))

    # S3 suffix-dispatch multi-file scan: the customer table staged as
    # disjoint CSV and parquet slices, reassembled by read_any (CSV group
    # is untyped strings, so the union widens — cast back in projection).
    read_any_arm = _read_any_arm(spark, cust)

    # J2 composite-key enrichment: the confirmatory sheet enriched by
    # BOTH its parents via merge_tables — assay.csv on the single key,
    # assay_target.csv on the composite (Assay_ID, Assay_Target); the
    # oracle repeats the two broadcast LEFT JOINs on the fixture CTEs.
    j2 = _j2_arm(spark, sf_dir, null_v)

    # O4 first-row scalars: a submission.csv-shaped 2-column key/value
    # sheet built from data-derived counts, parsed by
    # parse_submission_metadata (CBC name = column 2's HEADER, counts at
    # data rows 2–3); the oracle recomputes the counts.
    o4 = _o4_arm(spark, cust, orders, null_v)

    # r12: validate_batched over two mixed-CBC submissions (one compiled
    # plan, per-row __cbc_id, per-submission dup scoping) — the batched
    # path's findings oracle-checked, not just serial-equivalence-tested.
    batched = _batched_arm(spark, sf_dir, null_v)

    return (j6.unionByName(a4).unionByName(o3).unionByName(sink)
            .unionByName(sink_x).unionByName(status).unionByName(notify)
            .unionByName(colcmp).unionByName(read_any_arm)
            .unionByName(j2).unionByName(o4).unionByName(batched)
            .orderBy("arm", "k", "s1"))


def _j2_arm(spark: SparkSession, sf_dir: str, null_v) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        merge_tables,
        merged_table,
    )
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        ASSAY,
        ASSAY_TARGET,
        CONFIRMATORY,
        fixture_sheet_df,
    )
    # the raw child sheet WITHOUT the join-added columns the fixture
    # pre-bakes for the rulebook (they are exactly what enrichment adds)
    conf = (fixture_sheet_df(spark, sf_dir, CONFIRMATORY)
            .select("row_index", "Assay_ID", "Assay_Target"))
    merged = {
        spec.sheet: merged_table(fixture_sheet_df(spark, sf_dir, spec),
                                 spec.sheet)
        for spec in (ASSAY, ASSAY_TARGET)}
    enriched, drop_list = merge_tables("confirmatory_clinical_test.csv",
                                       conf, merged)
    assert set(drop_list) == {"Assay_Name", "Assay_Antigen_Source"}, \
        drop_list
    return enriched.select(
        F.lit("j2").alias("arm"), F.col("row_index").alias("k"),
        F.concat_ws("|", "Assay_ID", "Assay_Target").alias("s1"),
        F.concat_ws("|", F.coalesce("Assay_Name", F.lit("<null>")),
                    F.coalesce("Assay_Antigen_Source", F.lit("<null>")))
        .alias("s2"),
        null_v.alias("v"))


def _o4_arm(spark: SparkSession, cust: DataFrame, orders: DataFrame,
            null_v) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.submission import (
        parse_submission_metadata,
    )
    n_cust, n_ord = cust.count(), orders.count()
    subdf = spark.createDataFrame(
        [("Validate", "", 1), ("", str(n_cust), 2), ("", str(n_ord), 3)],
        "Submission_Intent string, Feinstein string, row_index bigint")
    meta = parse_submission_metadata(subdf, {"Feinstein": "14"})
    rows = [(0, "cbc", f"{meta['cbc_name']}|{meta['cbc_id']}"),
            (1, "declared_participants", meta["declared_participants"]),
            (2, "declared_biospecimens", meta["declared_biospecimens"])]
    return (spark.createDataFrame(rows, "k bigint, s1 string, s2 string")
            .select(F.lit("o4").alias("arm"), "k", "s1", "s2",
                    null_v.alias("v")))


# --- batched arm: validate_batched over two mixed-CBC submissions --------
# The r12 headline path, oracle-checked: two demographic-only submissions
# derived from `customer` (even keys -> sub A / cbc 14, odd -> sub B /
# cbc 41), run through the REAL validate_batched (one compiled plan,
# per-row __cbc_id, PerRowCbc C5 rendering, per-submission dup grouping
# and dedup). The paired key `h` makes the SAME Research_Participant_ID
# values appear in BOTH submissions (cross-submission isolation is load-
# bearing: a batch that leaked IDs across the tag would dup-flag them)
# and collide WITHIN each submission every 400 participants (real dup
# findings per sub). The oracle binds the SAME rulebook per submission
# with its literal CBC and renders findings through the standard
# dual-engine generators (_column_select/_dup_select) — no hand-written
# check SQL, so the engines cannot drift.
_BATCHED_H = "CAST((c_custkey - (c_custkey % 2)) / 2 AS BIGINT)"
_BATCHED_RPID = (
    f"CASE WHEN ({_BATCHED_H}) % 97 = 0 THEN 'BAD_ID!'"
    f" WHEN ({_BATCHED_H}) % 53 = 0 THEN ''"
    f" ELSE '14_' || lpad(CAST(({_BATCHED_H}) % 400 AS STRING), 6, '0')"
    f" END")
_BATCHED_SUBS = (("A", "14", 0), ("B", "41", 1))   # (sub id, cbc, parity)


def _batched_cols() -> "dict[str, str]":
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        DEMOGRAPHIC,
    )
    # Subset of the rulebook demographic fixture: plain-check columns
    # only (no enrichment-dependent SARS, no ICD-10 join column), so the
    # single-sheet submission binds with drop_list=[] on both engines.
    cols = {"Research_Participant_ID": _BATCHED_RPID}
    for c in ("Age", "Race", "Ethnicity", "Gender"):
        cols[c] = DEMOGRAPHIC.columns[c]
    return cols


def _batched_arm(spark: SparkSession, sf_dir: str, null_v) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_batched,
    )
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        FIXED_TODAY,
    )
    cols = _batched_cols()
    raw = read_table(spark, sf_dir, "customer").selectExpr(
        "CAST(c_custkey AS LONG) AS row_index",
        *[f"CAST({e} AS STRING) AS {c}" for c, e in cols.items()])
    subs = {
        sid: {"sheets": {"demographic.csv":
                         raw.filter(f"row_index % 2 = {par}")},
              "cbc_id": cbc, "today": FIXED_TODAY}
        for sid, cbc, par in _BATCHED_SUBS}
    # the caller runs the returned plan after the `with` has released the
    # sheet caches, so it reads its sources, as this arm always has
    with validate_batched(spark, subs) as (findings, _clean):
        return findings.select(
            F.lit("batched").alias("arm"),
            F.col(ROW_INDEX).alias("k"),
            F.concat_ws("|", F.col(SUB_COL), F.col(SHEET_NAME),
                        F.col(COLUMN_NAME), F.col(COLUMN_VALUE)).alias("s1"),
            F.concat_ws("|", F.col(MESSAGE_TYPE),
                        F.col(ERROR_MESSAGE)).alias("s2"),
            null_v.alias("v"))


def _batched_sub_oracle_parts() -> "list[tuple[str, str, str, object]]":
    """Per batched submission: (sid, cte_name, cte_sql, BoundSheet with
    that submission's LITERAL cbc) — the oracle building blocks shared
    by the ``batched`` arm (submission_misc) and the ``watch_multi`` arm
    (streaming_parity), so the two twins cannot drift."""
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        duckdb_shadow_exprs,
    )
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        FIXED_TODAY,
    )
    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules,
    )
    cols = _batched_cols()
    out = []
    for sid, cbc, par in _BATCHED_SUBS:
        inner = ("SELECT CAST(c_custkey AS BIGINT) AS row_index, "
                 + ", ".join(f"CAST({e} AS STRING) AS {c}"
                             for c, e in cols.items())
                 + f" FROM customer WHERE c_custkey % 2 = {par}")
        shadows = duckdb_shadow_exprs(list(cols))
        cte = f"bsub_{sid}"
        cte_sql = (f"{cte} AS MATERIALIZED (SELECT *, "
                   + ", ".join(shadows) + f" FROM ({inner}))")
        bound = bind_sheet_rules("demographic.csv", list(cols), cbc,
                                 drop_list=[], today=FIXED_TODAY)
        out.append((sid, cte, cte_sql, bound))
    return out


def _sql_batched_arm() -> "tuple[str, str]":
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        _column_select,
        _dup_select,
    )
    ctes, legs = [], []
    for sid, cte, cte_sql, bound in _batched_sub_oracle_parts():
        ctes.append(cte_sql)
        sel = [_column_select(cte, "demographic.csv", cr.column, cr.checks)
               for cr in bound.column_rules]
        sel += [_dup_select(cte, "demographic.csv", c)
                for c in bound.dup_id_columns]
        body = "\nUNION ALL\n".join(sel)
        legs.append(
            f"SELECT 'batched' AS arm, f.Row_Index AS k,\n"
            f"  '{sid}|' || f.CSV_Sheet_Name || '|' || f.Column_Name"
            f" || '|' || f.Column_Value AS s1,\n"
            f"  f.Message_Type || '|' || f.Error_Message AS s2,\n"
            f"  CAST(NULL AS DOUBLE) AS v\nFROM ({body}) f")
    return (",\n".join(ctes), "\nUNION ALL\n".join(legs))


def _read_any_arm(spark: SparkSession, cust: DataFrame) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_any,
    )
    cols = ["c_custkey", "c_name", "c_mktsegment", "c_acctbal"]
    stage = _tmpdir("read_any")
    csv_dir = os.path.join(stage, "csv")
    pq_dir = os.path.join(stage, "pq")
    (cust.filter(F.col("c_custkey") % 3 < 2).select(*cols)
     .write.option("header", "true").csv(csv_dir))
    (cust.filter(F.col("c_custkey") % 3 == 2).select(*cols)
     .write.parquet(pq_dir))
    paths = ([os.path.join(csv_dir, f) for f in os.listdir(csv_dir)
              if f.endswith(".csv")]
             + [os.path.join(pq_dir, f) for f in os.listdir(pq_dir)
                if f.endswith(".parquet")])
    df = read_any(spark, paths, fmt="suffix")
    return df.select(
        F.lit("read_any").alias("arm"),
        F.col("c_custkey").cast("bigint").alias("k"),
        F.col("c_name").alias("s1"), F.col("c_mktsegment").alias("s2"),
        F.col("c_acctbal").cast("double").alias("v"))


def sql_submission_misc() -> str:
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        ASSAY,
        ASSAY_TARGET,
        CONFIRMATORY,
        cte_name,
        fixture_sheet_cte,
    )
    segs = ", ".join(f"'{s}'" for s in _SINK_BAD_SEGMENTS)
    exp_list = ", ".join(f"'{c}'" for c in _COLCMP_EXPECTED)
    # each CTE is referenced exactly once — no MATERIALIZED, so DuckDB
    # prunes the unused fixture columns/shadows down to the j2 arm's five
    fx_ctes = ",\n".join(
        f"{cte_name(s)} AS ({fixture_sheet_cte(s)})"
        for s in (CONFIRMATORY, ASSAY, ASSAY_TARGET))
    conf, assay, at = (cte_name(s)
                       for s in (CONFIRMATORY, ASSAY, ASSAY_TARGET))
    batched_ctes, batched_legs = _sql_batched_arm()
    return f"""
WITH {fx_ctes},
{batched_ctes},
sheet_counts AS MATERIALIZED (
  SELECT 'customer.csv' AS sheet,
         (SELECT count(*) FROM customer
          WHERE c_mktsegment IN ({segs})) AS e, 0 AS w
  UNION ALL
  SELECT 'orders.csv', 0,
         (SELECT count(*) FROM orders
          WHERE o_orderpriority = '{_WARN_PRIORITY}')
  UNION ALL
  SELECT 'clean.csv', 0, 0
),
actual_cols AS (
  SELECT column_name AS col FROM information_schema.columns
  WHERE table_name = 'customer'
)
SELECT * FROM (
  SELECT 'j6' AS arm, c_custkey AS k, '' AS s1,
         CAST(NULL AS VARCHAR) AS s2, CAST(NULL AS DOUBLE) AS v
  FROM customer
  WHERE NOT EXISTS (SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
  UNION ALL
  SELECT 'a4', CAST(-1 AS BIGINT), t.s1, NULL, t.v FROM (
    SELECT 'declared' AS s1,
           CAST((SELECT count(*) FROM customer) AS DOUBLE) AS v
    UNION ALL
    SELECT 'distinct_with_orders',
           CAST((SELECT count(DISTINCT o_custkey) FROM orders) AS DOUBLE)
    UNION ALL
    SELECT 'matches',
           CAST(CAST((SELECT count(*) FROM customer)
                 = (SELECT count(DISTINCT o_custkey) FROM orders) AS INT)
                AS DOUBLE)) t
  UNION ALL
  SELECT 'o3_A', c_custkey, c_mktsegment, NULL, NULL FROM customer
  WHERE c_mktsegment = 'BUILDING'
  UNION ALL
  SELECT 'o3_B', c_custkey, c_mktsegment, NULL, NULL FROM customer
  WHERE c_acctbal > 9500
  UNION ALL
  SELECT 'sink_csv', c_custkey,
         'customer.csv|Mktsegment|' || c_mktsegment || '|Unexpected Value',
         'Error', NULL
  FROM customer WHERE c_mktsegment IN ({segs})
  UNION ALL
  SELECT 'sink_xlsx', c_custkey,
         'Mktsegment|' || c_mktsegment || '|Unexpected Value',
         'Error', NULL
  FROM customer WHERE c_mktsegment IN ({segs})
  UNION ALL
  SELECT 'sink_xlsx', o_orderkey,
         'Orderpriority|' || o_orderpriority || '|Low Priority',
         'Warning', NULL
  FROM orders WHERE o_orderpriority = '{_WARN_PRIORITY}'
  UNION ALL
  SELECT 'status', CAST(-1 AS BIGINT), sheet,
         (CASE WHEN e > 0 THEN 'FILE_PROCESSED_ERRORS_FOUND'
               WHEN w > 0 THEN 'FILE_PROCESSED_WARNINGS_FOUND'
               ELSE 'FILE_PROCESSED_SUCCESS' END)
         || '|' ||
         (CASE WHEN (SELECT max(CASE WHEN e > 0 THEN 1 ELSE 0 END)
                     FROM sheet_counts) = 1 THEN 'FILE_VALIDATION_FAILURE'
               WHEN (SELECT max(CASE WHEN w > 0 THEN 1 ELSE 0 END)
                     FROM sheet_counts) = 1
                    THEN 'FILE_VALIDATION_SUCCESS_WARNINGS'
               ELSE 'FILE_VALIDATION_SUCCESS' END),
         CAST(e + w AS DOUBLE)
  FROM sheet_counts
  UNION ALL
  SELECT 'notify', 0, sheet,
         CAST(e AS VARCHAR) || ' Errors / ' || CAST(w AS VARCHAR)
         || ' Warnings', NULL
  FROM sheet_counts WHERE e + w > 0
  UNION ALL
  SELECT 'notify', 1,
         CASE WHEN (SELECT sum(e) FROM sheet_counts) = 0
              THEN 'Submission PASSED validation'
              ELSE 'Submission FAILED validation' END,
         CAST((SELECT sum(e) FROM sheet_counts) AS VARCHAR) || ' errors, '
         || CAST((SELECT sum(w) FROM sheet_counts) AS VARCHAR)
         || ' warnings', NULL
  UNION ALL
  SELECT 'colcmp', CAST(-1 AS BIGINT), col,
         'Column Found in CSV is not Expected', NULL
  FROM actual_cols WHERE col NOT IN ({exp_list})
  UNION ALL
  SELECT 'colcmp', CAST(-1 AS BIGINT), col,
         'This Column is Expected and is missing from CSV File', NULL
  FROM (SELECT unnest([{exp_list}]) AS col) e
  WHERE col NOT IN (SELECT col FROM actual_cols)
  UNION ALL
  SELECT 'read_any', c_custkey, c_name, c_mktsegment, c_acctbal
  FROM customer
  UNION ALL
  SELECT 'j2', c.row_index, c.Assay_ID || '|' || c.Assay_Target,
         coalesce(a.Assay_Name, '<null>') || '|'
         || coalesce(t.Assay_Antigen_Source, '<null>'), NULL
  FROM {conf} c
  LEFT JOIN (SELECT Assay_ID, Assay_Name FROM {assay}) a
    ON c.Assay_ID = a.Assay_ID
  LEFT JOIN (SELECT Assay_ID, Assay_Target, Assay_Antigen_Source
             FROM {at}) t
    ON c.Assay_ID = t.Assay_ID AND c.Assay_Target = t.Assay_Target
  UNION ALL
  SELECT 'o4', 0, 'cbc', 'Feinstein|14', NULL
  UNION ALL
  SELECT 'o4', 1, 'declared_participants',
         CAST((SELECT count(*) FROM customer) AS VARCHAR), NULL
  UNION ALL
  SELECT 'o4', 2, 'declared_biospecimens',
         CAST((SELECT count(*) FROM orders) AS VARCHAR), NULL
  UNION ALL
{batched_legs}
)
ORDER BY arm, k, s1
"""


# --------------------------------------------------------------------------
# streaming_parity: §2.8 operators run to completion (availableNow) and
# read back from their sinks; the oracle is the batch SQL each streaming
# semantics must converge to. Shape (arm, k, s, n, v); sort keys
# (arm, k, s) non-null + unique.
# --------------------------------------------------------------------------

def _normalized_events_dir(spark: SparkSession, sf_dir: str) -> str:
    """Stage events with a pinned schema (the raw parquet's ts physical
    type varies by driver round — see ``read_events``) so the streaming
    source schema is stable. This IS the watcher ingest shape: files
    landing in a directory, schema known up front."""
    from nci_seronet_proc_data_validator_spark.driver_queries import (
        read_events,
    )
    src = _tmpdir("events_src")
    (read_events(spark, sf_dir)
     .select("event_id", "ts", "user_id", "event_type", "value",
             F.unix_timestamp("ts").alias("epoch"),
             F.unix_micros("ts").alias("ts_us"))
     .write.mode("overwrite").parquet(src))
    return src


_EV_SCHEMA = ("event_id bigint, ts timestamp, user_id bigint, "
              "event_type string, value double")


def _run_to_memory(stream_df: DataFrame, name: str, mode: str,
                   stop_on_idle: bool = False) -> DataFrame:
    """Run an availableNow stream into a memory sink and return the sink
    table. ``stop_on_idle`` is for ``applyInPandasWithState`` with
    ProcessingTimeTimeout: under availableNow its trailing
    state-cleanup batch waits on the processing-time timeout horizon
    and the query never self-terminates — poll until the data batches
    are done (progress recorded AND the source reports no new data),
    then stop. The timeout horizon (gap_seconds) exceeds the poll
    window by orders of magnitude, so the cleanup batch can never have
    emitted timeout rows before the stop — output is exactly the data
    batches' emissions."""
    import time as _time
    q = (stream_df.writeStream.outputMode(mode).format("memory")
         .queryName(name).trigger(availableNow=True).start())
    if stop_on_idle:
        # Idle = a COMPLETED zero-input batch with no data pending: once
        # the engine records numInputRows == 0 the data batches are done
        # and everything after is the state-cleanup spin (observed: an
        # unbounded series of empty batches, isTriggerActive flapping).
        # Structured progress fields only — never the English status
        # message, which is Spark-version fragile.
        deadline = _time.time() + 600
        idle = False
        # Accumulate data-batch ids as progress arrives: recentProgress
        # retains only the last ~100 entries, and the empty-batch idle
        # spin below can evict early data batches before a one-shot
        # read at the end would see them.
        data_batch_ids: set[int] = set()
        while _time.time() < deadline and q.isActive:
            for p in q.recentProgress:
                if p["numInputRows"] > 0:
                    data_batch_ids.add(p["batchId"])
            lp = q.lastProgress
            if (lp is not None and lp["numInputRows"] == 0
                    and not q.status["isDataAvailable"]):
                idle = True
                break
            _time.sleep(0.2)
        if q.isActive and not idle:
            q.stop()
            raise TimeoutError(
                f"stream '{name}' never went idle within 600 s; "
                "refusing to return partial memory-sink contents")
        # The sessions/funnel oracles assume ONE emission per key, which
        # holds only if availableNow drained the source in a single data
        # micro-batch (maxFilesPerTrigger unset). Fail loud if a conf/
        # default change ever splits the data across batches instead of
        # surfacing as a value mismatch later. Checked regardless of HOW
        # the stream ended — a multi-batch run that self-terminates
        # before the idle poll sees it must not slip past the guard.
        for p in q.recentProgress:
            if p["numInputRows"] > 0:
                data_batch_ids.add(p["batchId"])
        data_batches = len(data_batch_ids)
        if data_batches > 1:
            if q.isActive:
                q.stop()
            raise AssertionError(
                f"stream '{name}' ran {data_batches} data batches "
                "under availableNow; stateful parity oracles require "
                "a single data batch (one emission per key)")
        if q.isActive:
            q.stop()
    q.awaitTermination(600)
    return stream_df.sparkSession.table(name)


def q_streaming_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.streaming.watcher import (
        dedup_stream,
        enrich_stream,
        hourly_rollup_stream,
    )
    uid = _uniq()
    ev_dir = _normalized_events_dir(spark, sf_dir)

    def ev_stream() -> DataFrame:
        return spark.readStream.schema(_EV_SCHEMA).parquet(ev_dir)

    null_n = F.lit(None).cast("bigint")
    null_v = F.lit(None).cast("double")

    # Watermarked hourly rollup. Complete mode emits ALL windows (the
    # availableNow batch never closes them in append mode); epoch-micros
    # keys sidestep timestamp rendering differences.
    rollup = _run_to_memory(hourly_rollup_stream(ev_stream()),
                            f"parity_rollup_{uid}", "complete")
    rollup_arm = rollup.select(
        F.lit("rollup").alias("arm"),
        F.unix_micros(F.col("hour")).alias("k"),
        F.col("event_type").alias("s"),
        F.col("n").alias("n"), F.col("total_value").alias("v"))

    # Streaming exact dedup over planted duplicates: the corpus unioned
    # with an id-shifted copy of itself; one row per content hash must
    # survive. Constant event time keeps the watermark from ever
    # advancing, so no row can be late-dropped regardless of how the
    # file source batches — the dedup state alone decides.
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    dup_dir = _tmpdir("dedup_src")
    (docs.unionByName(docs.select(
        (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"))
     .write.mode("overwrite").parquet(dup_dir))
    doc_stream = (spark.readStream.schema("doc_id bigint, text string")
                  .parquet(dup_dir)
                  .withColumn("ts", F.lit("2024-01-01 00:00:00")
                              .cast("timestamp")))
    dedup = _run_to_memory(
        dedup_stream(doc_stream).select("content_hash"),
        f"parity_dedup_{uid}", "append")
    dedup_arm = dedup.select(
        F.lit("dedup").alias("arm"), F.lit(-1).cast("bigint").alias("k"),
        F.col("content_hash").alias("s"), null_n.alias("n"),
        null_v.alias("v"))

    # Stream-static broadcast enrichment (purchases joined to the
    # customer dimension); append mode passes every matched row through.
    dim = (read_table(spark, sf_dir, "customer")
           .select(F.col("c_custkey").alias("user_id"), "c_mktsegment"))
    enriched = _run_to_memory(
        enrich_stream(ev_stream().filter(F.col("event_type") == "purchase"),
                      dim).select("event_id", "c_mktsegment", "user_id",
                                  "value"),
        f"parity_enrich_{uid}", "append")
    enrich_arm = enriched.select(
        F.lit("enrich").alias("arm"), F.col("event_id").alias("k"),
        F.col("c_mktsegment").alias("s"), F.col("user_id").alias("n"),
        F.col("value").alias("v"))

    # Stateful session tracking (applyInPandasWithState). One
    # availableNow batch → no processing-time timeouts can fire, so the
    # emitted rows are exactly each user's final running state:
    # (rollover count, events in the open session, last epoch) — the
    # gap-split recursion the batch sessionize oracle computes.
    from nci_seronet_proc_data_validator_spark.streaming.stateful import (
        track_funnel,
        track_sessions,
    )
    sess_stream = (spark.readStream.schema("user_id bigint, epoch bigint")
                   .parquet(ev_dir))
    sessions = _run_to_memory(track_sessions(sess_stream, gap_seconds=1800),
                              f"parity_sessions_{uid}", "append",
                              stop_on_idle=True)
    sessions_arm = sessions.select(
        F.lit("sessions").alias("arm"), F.col("user_id").alias("k"),
        F.col("session_count").cast("string").alias("s"),
        F.col("n_events").alias("n"),
        F.col("last_seen").cast("double").alias("v"))

    # Stateful conversion funnel: the per-user state machine must land on
    # the batch operator's min-qualifying-frontier recursion.
    fun_stream = (spark.readStream
                  .schema("user_id bigint, ts_us bigint, event_type string")
                  .parquet(ev_dir))
    funnel = _run_to_memory(
        track_funnel(fun_stream, ["view", "click", "purchase"]),
        f"parity_funnel_{uid}", "append")
    funnel_arm = funnel.select(
        F.lit("funnel").alias("arm"), F.col("user_id").alias("k"),
        F.col("reached_step").cast("string").alias("s"),
        F.col("frontier_us").alias("n"), null_v.alias("v"))

    # Stream-stream interval join: purchase anchors matched to same-user
    # clicks within ±15 min; under one availableNow batch every inner
    # match emits (the watermark only bounds state for later batches).
    from nci_seronet_proc_data_validator_spark.streaming.watcher import (
        interval_join_stream,
    )
    interval = _run_to_memory(
        interval_join_stream(
            ev_stream().filter(F.col("event_type") == "purchase"),
            ev_stream().filter(F.col("event_type") == "click"),
            window_minutes=15)
        .select("anchor_id", "event_id", "a_user"),
        f"parity_interval_{uid}", "append")
    interval_arm = interval.select(
        F.lit("interval").alias("arm"), F.col("anchor_id").alias("k"),
        F.col("event_id").cast("string").alias("s"),
        F.col("a_user").alias("n"), null_v.alias("v"))

    # CDC apply: two COMMUTATIVE change batches (disjoint key sets, so
    # the file source's batch order can't change the outcome) streamed
    # with maxFilesPerTrigger=1 — two foreachBatch merges, two committed
    # snapshot versions; the arm reads the final snapshot back.
    cdc_arm = _cdc_arm(spark, sf_dir)

    # Watcher end-to-end: a fixture sheet staged as CSV, drained by
    # validate_stream (foreachBatch -> the batch rule compiler), findings
    # parquet read back and count-aggregated (row ids are CSV lines of
    # Spark's staged part files, which the oracle cannot name — the
    # finding multiset is comparable).
    watch_arm = _watch_arm(spark, sf_dir)

    # Restart-recovery on-disk contract (r11): crash the watcher in the
    # at-least-once replay window (after the epoch's findings write,
    # before its checkpoint commit), restart, drain — then read the SINK
    # DIRECTORY back and hash it against the batch-compile SQL twin. The
    # pytest recovery matrix proves findings-multiset equivalence at the
    # DataFrame level; this arm oracle-checks the replayed epoch-keyed
    # parquet layout itself (streaming/watcher.py:49-83).
    recovery_arm = _recovery_arm(spark, sf_dir)

    return (rollup_arm.unionByName(dedup_arm).unionByName(enrich_arm)
            .unionByName(sessions_arm).unionByName(funnel_arm)
            .unionByName(interval_arm).unionByName(cdc_arm)
            .unionByName(watch_arm).unionByName(recovery_arm)
            .unionByName(_watch_multi_arm(spark, sf_dir))
            .unionByName(_watch_complete_arm(spark, sf_dir))
            .orderBy("arm", "k", "s"))


_FINDING_KEYS = ("Message_Type", "Column_Name", "Column_Value",
                 "Error_Message")


def _multiset_arm(findings: DataFrame, arm: str, keys) -> DataFrame:
    """A drained findings sink as parity rows: the multiplicity ``n`` of
    each ``keys`` combination, ``s`` the keys joined by '|', ``k`` -1."""
    return (findings.groupBy(*keys)
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.lit(arm).alias("arm"),
                    F.lit(-1).cast("bigint").alias("k"),
                    F.concat_ws("|", *keys).alias("s"),
                    F.col("n"), F.lit(None).cast("double").alias("v")))


def _equipment_stream(spark: SparkSession, sf_dir: str, tag: str,
                      partitions: "int | None" = None):
    """Stage the EQUIPMENT fixture sheet as CSV part files and return
    ``(run, out)``: ``run(**kw)`` starts ``validate_stream`` over it with
    the oracle's CBC and binding, ``out`` is the findings sink."""
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        EQUIPMENT,
    )
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        CBC_ID,
        FIXED_TODAY,
    )
    from nci_seronet_proc_data_validator_spark.streaming.watcher import (
        validate_stream,
    )
    spec = EQUIPMENT
    in_dir, cp, out = (_tmpdir(f"{tag}_{t}") for t in ("in", "cp", "out"))
    staged = (read_table(spark, sf_dir, spec.base)
              .selectExpr(*[f"CAST({e} AS STRING) AS {c}"
                            for c, e in spec.columns.items()]))
    if partitions is not None:
        staged = staged.repartition(partitions)
    staged.write.mode("overwrite").option("header", "true").csv(in_dir)
    bind_kwargs = {"drop_list": list(spec.drop_list), "today": FIXED_TODAY}

    def run(**kw):
        return validate_stream(spark, in_dir, cp, spec.sheet,
                               list(spec.columns), CBC_ID, out,
                               bind_kwargs=bind_kwargs, **kw)
    return run, out


def _watch_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    run, out = _equipment_stream(spark, sf_dir, "watch")
    run().awaitTermination(600)
    return _multiset_arm(spark.read.parquet(out), "watch", _FINDING_KEYS)


def _watch_multi_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """r12: the multi-SUBMISSION watcher end-to-end — the batched arm's
    two mixed-CBC customer-derived submissions staged as per-submission
    CSV directories, drained by ONE validate_stream_multi query
    (per-row ``__cbc_id``, PerRowCbc C5 rendering), findings parquet
    read back and count-aggregated per submission (streaming part-file
    order makes row identity non-comparable; the tagged finding
    multiset is). The oracle recomputes per submission with its literal
    CBC from the same bound rules."""
    import os

    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        FIXED_TODAY,
    )
    from nci_seronet_proc_data_validator_spark.streaming.watcher import (
        validate_stream_multi,
    )
    cols = _batched_cols()
    root, cp, out = (_tmpdir(f"wmulti_{t}") for t in ("in", "cp", "out"))
    cust = read_table(spark, sf_dir, "customer")
    for sid, _cbc, par in _BATCHED_SUBS:
        (cust.filter(f"c_custkey % 2 = {par}")
         .selectExpr(*[f"CAST({e} AS STRING) AS {c}"
                       for c, e in cols.items()])
         .write.mode("overwrite").option("header", "true")
         .csv(os.path.join(root, sid, "demographic.csv")))
    q = validate_stream_multi(
        spark, os.path.join(root, "*", "demographic.csv"), cp,
        "demographic.csv", list(cols),
        {sid: cbc for sid, cbc, _par in _BATCHED_SUBS}, out,
        bind_kwargs={"today": FIXED_TODAY},
        # staged layout: .../<sub>/demographic.csv/part-*.csv — the
        # submission id is the grandparent path segment
        sub_pattern=r".*/([^/]+)/[^/]+/[^/]+$")
    q.awaitTermination(600)
    return _multiset_arm(spark.read.parquet(out), "watch_multi",
                         (SUB_COL, *_FINDING_KEYS))


# --- watch_complete: the submission-completeness-gated watcher ----------
# Two 2-sheet submissions (demographic + biospecimen + submission.csv)
# with DIFFERENT labs, staged as per-submission CSV files and drained by
# ONE validate_stream_submissions query at one file per micro-batch (fully
# interleaved arrival); the oracle recomputes the FULL batch compile per
# submission — per-sheet rules, dup-ID legs, the J3 participant cross
# decode, and the A4 count reconciliation — from the same bound rules.
_WC_SUBS = (("wcA", "LabA", "14", 0), ("wcB", "LabB", "41", 1))
_WC_DECLARED = ("3", "5")         # planted (participants, biospecimens)


def _wc_rpid(cbc: str, shift: int, lo: int, span: int) -> str:
    """Participant-id generator: mostly well-formed '{cbc}_NNNNNN' ids in
    [lo, lo+span), with planted malformed and blank values. Demographic
    uses [0, 400); biospecimen [200, 450) — so ids exist in demographic
    only, in both, and in biospecimen only, firing three distinct J3
    presence patterns."""
    h = f"(c_custkey + {shift})"
    return (f"CASE WHEN {h} % 97 = 0 THEN 'BAD_ID!'"
            f" WHEN {h} % 53 = 0 THEN ''"
            f" ELSE '{cbc}_' || lpad(CAST({lo} + ({h} % {span})"
            f" AS STRING), 6, '0') END")


def _wc_demo_cols(cbc: str) -> "dict[str, str]":
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        DEMOGRAPHIC,
    )
    cols = {"Research_Participant_ID": _wc_rpid(cbc, 0, 0, 400)}
    for c in ("Age", "Race", "Ethnicity", "Gender"):
        cols[c] = DEMOGRAPHIC.columns[c]
    return cols


def _wc_bio_cols(cbc: str) -> "dict[str, str]":
    rp = _wc_rpid(cbc, 37, 200, 250)
    return {
        "Research_Participant_ID": rp,
        # contains its participant id (C7) and is well-formed exactly
        # when the participant id is; %120 suffix plants duplicate ids
        # (custkeys 1200 apart collide on both components)
        "Biospecimen_ID": (f"({rp}) || '_' || "
                           f"lpad(CAST((c_custkey + 37) % 120"
                           f" AS STRING), 3, '0')"),
        "Biospecimen_Type": ("CASE WHEN c_custkey % 3 = 0 THEN 'PBMC'"
                             " WHEN c_custkey % 3 = 1 THEN 'Serum'"
                             " ELSE 'Plasma' END"),       # vocab error
    }


def _wc_bound(cbc: str):
    """(bound_demo, bound_bio) — the SAME binding validate() uses for
    this submission shape: demographic has no present parent (drop_list
    []); biospecimen is enriched with Age from demographic's
    Merged_Table (ENRICH_PARENTS), so Age rides drop_list."""
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        FIXED_TODAY,
    )
    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules,
    )
    bd = bind_sheet_rules("demographic.csv", list(_wc_demo_cols(cbc)),
                          cbc, drop_list=[], today=FIXED_TODAY)
    bb = bind_sheet_rules("biospecimen.csv", list(_wc_bio_cols(cbc)),
                          cbc, drop_list=["Age"], today=FIXED_TODAY)
    return bd, bb


def _watch_complete_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage, drain, read back. Sheets are staged as single CSV FILES per
    submission (coalesce(1) + rename of the part file — the watcher's
    path contract is <root>/<submission>/<sheet>.csv); submission.csv is
    a 4-line literal carrying the lab name and the planted declared
    counts. maxFilesPerTrigger=1 interleaves the two submissions' sheets
    across micro-batches, exercising the completeness gate's ledger."""
    import glob as _glob
    import os
    import shutil

    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        FIXED_TODAY,
    )
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream_submissions,
    )

    root, cp, out = (_tmpdir(f"wcomp_{t}") for t in ("in", "cp", "out"))
    cust = read_table(spark, sf_dir, "customer")
    dp, db = _WC_DECLARED
    for sid, lab, cbc, par in _WC_SUBS:
        sub_dir = os.path.join(root, sid)
        os.makedirs(sub_dir, exist_ok=True)
        for sheet, cols in (("demographic.csv", _wc_demo_cols(cbc)),
                            ("biospecimen.csv", _wc_bio_cols(cbc))):
            stage = os.path.join(root, f"_stage_{sid}_{sheet}")
            (cust.filter(f"c_custkey % 2 = {par}")
             .selectExpr(*[f"CAST({e} AS STRING) AS {c}"
                           for c, e in cols.items()])
             .coalesce(1).write.mode("overwrite")
             .option("header", "true").csv(stage))
            part = _glob.glob(os.path.join(stage, "part-*.csv"))[0]
            shutil.move(part, os.path.join(sub_dir, sheet))
            shutil.rmtree(stage)
        with open(os.path.join(sub_dir, "submission.csv"), "w") as f:
            f.write(f"key,{lab}\nname,{sid}\np,{dp}\nb,{db}\n")

    q = validate_stream_submissions(
        spark, root, cp,
        frozenset({"submission.csv", "demographic.csv",
                   "biospecimen.csv"}),
        out, cbc_map={lab: cbc for _s, lab, cbc, _p in _WC_SUBS},
        bind_kwargs={"today": FIXED_TODAY}, max_files_per_trigger=1)
    q.awaitTermination(600)
    return _multiset_arm(
        spark.read.parquet(os.path.join(out, "findings")), "watch_complete",
        (SUB_COL, "Message_Type", "CSV_Sheet_Name",
         *_FINDING_KEYS[1:]))


def _sql_watch_complete_arm() -> "tuple[str, str]":
    """(CTEs, UNION-ALL legs) of the watch_complete oracle: per
    submission, the batch compile recomputed — per-sheet rule legs
    (keep-first coalesce, so the global dedup is an identity here),
    dup-ID legs, the J3 participant cross decode (prior/confirmatory
    absent -> empty CTEs), and both A4 reconciliation rows (passing =
    distinct ids with no finding on their ID column at Row_Index >= 0,
    per registering sheet)."""
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        participant_cross_oracle_sql,
    )
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        duckdb_shadow_exprs,
    )
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        _column_select,
        _dup_select,
    )

    dp, db = _WC_DECLARED
    ctes = ["wc_empty AS (SELECT CAST(NULL AS VARCHAR)"
            " AS Research_Participant_ID WHERE 1 = 0)"]
    legs = []

    def agg(sid: str, body: str, tag: str) -> str:
        return (
            f"SELECT 'watch_complete' AS arm, CAST(-1 AS BIGINT) AS k,\n"
            f"  '{sid}|' || Message_Type || '|' || CSV_Sheet_Name || '|'"
            f" || Column_Name || '|' || Column_Value || '|'"
            f" || Error_Message AS s,\n"
            f"  count(*) AS n, CAST(NULL AS DOUBLE) AS v\n"
            f"FROM ({body}) wc_{tag}_{sid}\nGROUP BY 1, 2, 3")

    for sid, _lab, cbc, par in _WC_SUBS:
        bd, bb = _wc_bound(cbc)
        sheet_ctes = {}
        for sheet, cols, bound in (
                ("demographic.csv", _wc_demo_cols(cbc), bd),
                ("biospecimen.csv", _wc_bio_cols(cbc), bb)):
            inner = ("SELECT CAST(c_custkey AS BIGINT) AS row_index, "
                     + ", ".join(f"CAST({e} AS STRING) AS {c}"
                                 for c, e in cols.items())
                     + f" FROM customer WHERE c_custkey % 2 = {par}")
            cte = f"wc_{sheet.split('.')[0]}_{sid}"
            ctes.append(f"{cte} AS MATERIALIZED (SELECT *, "
                        + ", ".join(duckdb_shadow_exprs(list(cols)))
                        + f" FROM ({inner}))")
            sheet_ctes[sheet] = (cte, bound)

        # per-sheet rule legs, materialized once: the A4 passing counts
        # re-read them
        row_sel = []
        dup_sel = []
        for sheet, (cte, bound) in sheet_ctes.items():
            row_sel.extend(_column_select(cte, sheet, cr.column, cr.checks)
                           for cr in bound.column_rules)
            dup_sel.extend(_dup_select(cte, sheet, c)
                           for c in bound.dup_id_columns)
        rows_cte = f"wc_rows_{sid}"
        ctes.append(f"{rows_cte} AS MATERIALIZED ("
                    + "\nUNION ALL\n".join(row_sel) + ")")
        legs.append(agg(sid, f"SELECT * FROM {rows_cte}", "row"))
        if dup_sel:
            legs.append(agg(sid, "\nUNION ALL\n".join(dup_sel), "dup"))

        # J3 participant cross: prior/confirmatory were not submitted
        legs.append(agg(sid, participant_cross_oracle_sql(
            "wc_empty", sheet_ctes["demographic.csv"][0],
            sheet_ctes["biospecimen.csv"][0], "wc_empty", cbc), "cross"))

        # A4: both registering sheets contribute participant ids; only
        # biospecimen registers biospecimen ids. Any finding on the ID
        # column at a real row disqualifies the id (Message_Type-blind,
        # like the engine's anti-join).
        demo_cte = sheet_ctes["demographic.csv"][0]
        bio_cte = sheet_ctes["biospecimen.csv"][0]

        def _errs(sheet: str, col: str) -> str:
            return (f"SELECT Column_Value FROM {rows_cte} "
                    f"WHERE CSV_Sheet_Name = '{sheet}'"
                    f" AND Column_Name = '{col}' AND Row_Index >= 0")

        part_pass = (
            f"SELECT count(DISTINCT id) AS n FROM ("
            f"SELECT Research_Participant_ID AS id FROM {demo_cte}"
            f" WHERE Research_Participant_ID NOT IN"
            f" ({_errs('demographic.csv', 'Research_Participant_ID')})"
            f" UNION ALL "
            f"SELECT Research_Participant_ID FROM {bio_cte}"
            f" WHERE Research_Participant_ID NOT IN"
            f" ({_errs('biospecimen.csv', 'Research_Participant_ID')}))")
        bio_pass = (
            f"SELECT count(DISTINCT id) AS n FROM ("
            f"SELECT Biospecimen_ID AS id FROM {bio_cte}"
            f" WHERE Biospecimen_ID NOT IN"
            f" ({_errs('biospecimen.csv', 'Biospecimen_ID')}))")
        a4 = []
        for declared, label, fname, pass_sql in (
                (dp, "Participat", "submit_Participant_IDs", part_pass),
                (db, "Biospecimen", "submit_Biospecimen_IDs", bio_pass)):
            a4.append(
                f"SELECT 'Error' AS Message_Type,"
                f" 'submission.csv' AS CSV_Sheet_Name,"
                f" CAST(-5 AS BIGINT) AS Row_Index,"
                f" '{fname}' AS Column_Name,"
                f" '{declared}' AS Column_Value,"
                f" 'After validation only ' || CAST(n AS VARCHAR)"
                f" || ' {label} IDS are valid' AS Error_Message"
                f" FROM ({pass_sql}) WHERE n <> {declared}")
        legs.append(agg(sid, "\nUNION ALL\n".join(a4), "a4"))

    return (",\n".join(ctes), "\n  UNION ALL\n".join(legs))


def _sql_watch_multi_arm() -> "tuple[str, str]":
    """(CTEs, UNION-ALL legs) of the watch_multi oracle: per submission,
    the SAME bound rules rendered by the standard dual-engine generator,
    count-aggregated — generated beside the batched arm's twin from
    shared parts (:func:`_batched_sub_oracle_parts`)."""
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        _column_select,
    )
    ctes, legs = [], []
    for sid, cte, cte_sql, bound in _batched_sub_oracle_parts():
        ctes.append(cte_sql)
        body = "\nUNION ALL\n".join(
            _column_select(cte, "demographic.csv", cr.column, cr.checks)
            for cr in bound.column_rules)
        legs.append(
            f"SELECT 'watch_multi' AS arm, CAST(-1 AS BIGINT) AS k,\n"
            f"  '{sid}|' || Message_Type || '|' || Column_Name || '|'"
            f" || Column_Value || '|' || Error_Message AS s,\n"
            f"  count(*) AS n, CAST(NULL AS DOUBLE) AS v\n"
            f"FROM ({body}) wm_{sid}\nGROUP BY 1, 2, 3")
    return (",\n".join(ctes), "\n  UNION ALL\n".join(legs))


def _recovery_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The watch arm under an injected crash/replay: 4 staged CSV files,
    2 per trigger → 2 epochs; the status_cb raises on the SECOND batch
    after its findings are on disk but before the checkpoint commit (the
    at-least-once window), a restarted query replays that epoch into the
    same sink (dynamic partition overwrite of its own ``epoch=`` dir),
    and the read-back multiset must equal the batch compile — no
    duplicate from the half-committed write, no gap."""
    run, out = _equipment_stream(spark, sf_dir, "recov", partitions=4)
    seen: list[int] = []

    def crash_on_second(_findings, epoch_id):
        seen.append(epoch_id)
        if len(seen) == 2:
            raise RuntimeError(
                "injected crash after findings write, before commit")

    q = run(status_cb=crash_on_second, max_files_per_trigger=2)
    try:
        q.awaitTermination(600)
    except Exception:
        pass          # the injected crash surfaces as a query exception
    if q.isActive:    # defensive: never leave a zombie stream behind
        q.stop()
    # restart from the SAME checkpoint: the uncommitted epoch replays
    # with the same id, overwriting its own partition, then drains
    run(max_files_per_trigger=2).awaitTermination(600)
    return _multiset_arm(spark.read.parquet(out), "recovery",
                         _FINDING_KEYS)


def _cdc_arm(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.streaming.cdc import (
        apply_cdc_stream,
        current_version,
        init_snapshot,
        read_snapshot,
    )
    nation = read_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey")
    base, ch_dir, cp = _tmpdir("cdc_base"), _tmpdir("cdc_ch"), _tmpdir("cdc_cp")
    init_snapshot(nation.select("n_nationkey", "n_name"), base)

    def _changes(rk: int, tag: str, new_key: int) -> DataFrame:
        ups = nation.filter(F.col("n_regionkey") == rk).select(
            "n_nationkey",
            F.concat(F.lit(f"{tag}_"), F.col("n_name")).alias("n_name"),
            F.lit("upsert").alias("op"))
        ins = spark.createDataFrame(
            [(new_key, f"NEW_{tag}", "upsert")],
            "n_nationkey bigint, n_name string, op string")
        dels = nation.filter(F.col("n_regionkey") == (3 if tag == "A" else 4)
                             ).select("n_nationkey",
                                      F.lit("").alias("n_name"),
                                      F.lit("delete").alias("op"))
        return ups.unionByName(ins).unionByName(dels)

    _changes(0, "A", 1000).coalesce(1).write.mode("append").parquet(ch_dir)
    _changes(1, "B", 2000).coalesce(1).write.mode("append").parquet(ch_dir)
    stream = (spark.readStream
              .schema("n_nationkey bigint, n_name string, op string")
              .option("maxFilesPerTrigger", 1).parquet(ch_dir))
    q = apply_cdc_stream(stream, base, "n_nationkey", cp)
    q.awaitTermination(600)
    final = read_snapshot(spark, base)
    return final.select(
        F.lit("cdc").alias("arm"), F.col("n_nationkey").alias("k"),
        F.col("n_name").alias("s"),
        F.lit(current_version(base)).cast("bigint").alias("n"),
        F.lit(None).cast("double").alias("v"))


def sql_streaming_parity() -> str:
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        EQUIPMENT,
        cte_name,
        fixture_sheet_cte,
    )
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        _column_select,
        rulebook_bound_sheets,
    )
    spec = EQUIPMENT
    bound = next(b for s, b in rulebook_bound_sheets()
                 if s.sheet == spec.sheet)
    name = cte_name(spec)
    watch_sels = "\n  UNION ALL\n".join(
        _column_select(name, spec.sheet, cr.column, cr.checks)
        for cr in bound.column_rules)
    watch_arm = "".join(f"""
  UNION ALL
  SELECT '{tag}', CAST(-1 AS BIGINT),
         Message_Type || '|' || Column_Name || '|' || Column_Value
         || '|' || Error_Message,
         count(*), NULL
  FROM ({watch_sels}) {tag[0]}w
  GROUP BY 1, 2, 3""" for tag in ("watch", "recovery"))
    wm_ctes, wm_legs = _sql_watch_multi_arm()
    wc_ctes, wc_legs = _sql_watch_complete_arm()
    return (_SQL_STREAMING_HEAD
            + f",\n{name} AS MATERIALIZED ({fixture_sheet_cte(spec)}),\n"
            + wm_ctes + ",\n" + wc_ctes + "\n"
            + _SQL_STREAMING_BODY + watch_arm
            + "\n  UNION ALL\n" + wm_legs
            + "\n  UNION ALL\n" + wc_legs
            + "\n)\nORDER BY arm, k, s\n")


_SQL_STREAMING_HEAD = """
WITH ep AS (
  -- floor, not round: Spark's unix_timestamp truncates sub-second parts,
  -- DuckDB's CAST(double AS BIGINT) rounds to nearest
  SELECT user_id, CAST(floor(epoch(CAST(ts AS TIMESTAMP))) AS BIGINT) AS ep
  FROM events),
rolls AS (
  SELECT user_id, ep,
         CASE WHEN ep - lag(ep) OVER w > 1800 THEN 1 ELSE 0 END AS roll
  FROM ep WINDOW w AS (PARTITION BY user_id ORDER BY ep)),
sess AS (
  SELECT user_id, ep,
         sum(roll) OVER (PARTITION BY user_id ORDER BY ep
                         ROWS UNBOUNDED PRECEDING) AS sid
  FROM rolls),
sess_final AS (
  SELECT user_id, max(sid) AS session_count, max(ep) AS last_seen
  FROM sess GROUP BY 1),
eus AS (
  SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
         event_type
  FROM events),
f1 AS (SELECT user_id AS u, min(ts_us) AS t FROM eus
       WHERE event_type = 'view' GROUP BY 1),
f2 AS (SELECT e.user_id AS u, min(e.ts_us) AS t FROM eus e
       JOIN f1 ON f1.u = e.user_id
       WHERE e.event_type = 'click' AND e.ts_us > f1.t GROUP BY 1),
f3 AS (SELECT e.user_id AS u, min(e.ts_us) AS t FROM eus e
       JOIN f2 ON f2.u = e.user_id
       WHERE e.event_type = 'purchase' AND e.ts_us > f2.t GROUP BY 1)"""

_SQL_STREAMING_BODY = """
SELECT * FROM (
  SELECT 'rollup' AS arm,
         epoch_us(date_trunc('hour', CAST(ts AS TIMESTAMP))) AS k,
         event_type AS s, count(*) AS n,
         CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS v
  FROM events GROUP BY 2, 3
  UNION ALL
  SELECT 'dedup', CAST(-1 AS BIGINT), h, NULL, NULL
  FROM (SELECT DISTINCT md5(text) AS h FROM documents)
  UNION ALL
  SELECT 'enrich', event_id, c_mktsegment, user_id, value
  FROM events LEFT JOIN customer ON user_id = c_custkey
  WHERE event_type = 'purchase'
  UNION ALL
  SELECT 'sessions', sf.user_id, CAST(sf.session_count AS VARCHAR),
         count(*), CAST(sf.last_seen AS DOUBLE)
  FROM sess s JOIN sess_final sf
    ON s.user_id = sf.user_id AND s.sid = sf.session_count
  GROUP BY 2, 3, 5
  UNION ALL
  SELECT 'funnel', f1.u,
         CAST(CASE WHEN f3.u IS NOT NULL THEN 3
                   WHEN f2.u IS NOT NULL THEN 2 ELSE 1 END AS VARCHAR),
         CASE WHEN f3.u IS NOT NULL THEN f3.t
              WHEN f2.u IS NOT NULL THEN f2.t ELSE f1.t END, NULL
  FROM f1 LEFT JOIN f2 ON f1.u = f2.u LEFT JOIN f3 ON f1.u = f3.u
  UNION ALL
  SELECT 'cdc', n_nationkey, CASE WHEN n_regionkey = 0 THEN 'A_' || n_name
                                  WHEN n_regionkey = 1 THEN 'B_' || n_name
                                  ELSE n_name END,
         CAST(2 AS BIGINT), NULL
  FROM nation WHERE n_regionkey NOT IN (3, 4)
  UNION ALL
  SELECT 'cdc', 1000, 'NEW_A', 2, NULL
  UNION ALL
  SELECT 'cdc', 2000, 'NEW_B', 2, NULL
  UNION ALL
  SELECT 'interval', a.event_id, CAST(p.event_id AS VARCHAR), a.user_id,
         NULL
  FROM eus a JOIN eus p ON a.user_id = p.user_id
   AND p.ts_us BETWEEN a.ts_us - 900000000 AND a.ts_us + 900000000
  WHERE a.event_type = 'purchase' AND p.event_type = 'click'"""


SQL_STREAMING_PARITY = sql_streaming_parity()


# --------------------------------------------------------------------------
# jdbc_roundtrip: live Derby JDBC write + DB-side join/pushdown scan, and
# the S11 DBAPI upsert run twice (idempotent revalidation). Shape
# (arm, k, s1, s2, v); sort keys (arm, k, s1) non-null + unique.
# --------------------------------------------------------------------------

_DERBY_PROPS = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}


def _derby_exec(spark: SparkSession, url: str, *stmts: str) -> None:
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    try:
        st = conn.createStatement()
        for s in stmts:
            st.execute(s)
        st.close()
    finally:
        conn.close()


def _sqlite_factory(path: str):
    def factory():
        import sqlite3
        return sqlite3.connect(path, timeout=60)
    return factory


def q_jdbc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from nci_seronet_proc_data_validator_spark.sinks.reports import (
        upsert_job_status,
    )
    null_s = F.lit(None).cast("string")
    null_v = F.lit(None).cast("double")

    # ---- Derby: JDBC append then DB-side join + predicate scan (S5/S6/J7)
    dbdir = _tmpdir("derby")
    url = f"jdbc:derby:{dbdir}/db;create=true"
    _derby_exec(
        spark, url,
        "CREATE TABLE nation_m (n_nationkey BIGINT, n_name VARCHAR(32), "
        "n_regionkey BIGINT)",
        "CREATE TABLE region_m (r_regionkey BIGINT, r_name VARCHAR(32))",
        "CREATE TABLE supplier_m (s_suppkey BIGINT, s_name VARCHAR(64), "
        "s_acctbal DOUBLE)")
    (read_table(spark, sf_dir, "nation")
     .select("n_nationkey", "n_name", "n_regionkey").coalesce(4)
     .write.jdbc(url, "nation_m", mode="append", properties=_DERBY_PROPS))
    (read_table(spark, sf_dir, "region")
     .select("r_regionkey", "r_name").coalesce(1)
     .write.jdbc(url, "region_m", mode="append", properties=_DERBY_PROPS))
    (read_table(spark, sf_dir, "supplier")
     .select("s_suppkey", "s_name", "s_acctbal").coalesce(4)
     .write.jdbc(url, "supplier_m", mode="append", properties=_DERBY_PROPS))

    def _derby_query(q: str) -> DataFrame:
        return (spark.read.format("jdbc").option("url", url)
                .option("query", q).options(**_DERBY_PROPS).load())

    # join + filter execute INSIDE Derby (the restored S6 jobs-queue
    # shape); Derby upper-cases result identifiers, so rename by position.
    scan_join = _derby_query(
        "SELECT n.n_nationkey, n.n_name, r.r_name "
        "FROM nation_m n JOIN region_m r ON n.n_regionkey = r.r_regionkey "
        "WHERE r.r_name <> 'ASIA'").toDF("k", "s1", "s2").select(
        F.lit("scan_join").alias("arm"), F.col("k").cast("bigint"),
        "s1", "s2", null_v.alias("v"))
    scan_sup = _derby_query(
        "SELECT s_suppkey, s_name, s_acctbal FROM supplier_m "
        "WHERE s_acctbal > 5000").toDF("k", "s1", "v").select(
        F.lit("scan_sup").alias("arm"), F.col("k").cast("bigint"),
        "s1", null_s.alias("s2"), F.col("v").cast("double"))

    # ---- S11 upsert, run twice: second run UPDATEs existing keys and
    # INSERTs new ones — revalidation must not duplicate job rows.
    sqldb = os.path.join(_tmpdir("upsert"), "status.db")
    import sqlite3
    conn = sqlite3.connect(sqldb)
    conn.execute("CREATE TABLE job_status (file_name TEXT, "
                 "file_status TEXT, n_errors INTEGER)")
    conn.commit()
    conn.close()
    factory = _sqlite_factory(sqldb)

    nation = read_table(spark, sf_dir, "nation")
    region = read_table(spark, sf_dir, "region")
    first = nation.select(
        F.concat(F.col("n_name"), F.lit(".csv")).alias("file_name"),
        F.lit("FIRST").alias("file_status"),
        F.col("n_nationkey").cast("int").alias("n_errors"))
    second = (nation.filter(F.col("n_regionkey") < 2).select(
        F.concat(F.col("n_name"), F.lit(".csv")).alias("file_name"),
        F.lit("SECOND").alias("file_status"),
        (F.col("n_nationkey") * 10).cast("int").alias("n_errors"))
        .unionByName(region.select(
            F.concat(F.lit("EXTRA_"), F.col("r_name"), F.lit(".csv"))
            .alias("file_name"),
            F.lit("SECOND").alias("file_status"),
            F.col("r_regionkey").cast("int").alias("n_errors"))))
    upsert_job_status(first, factory, table="job_status", key="file_name")
    upsert_job_status(second, factory, table="job_status", key="file_name")

    conn = sqlite3.connect(sqldb)
    rows = conn.execute(
        "SELECT file_name, file_status, n_errors FROM job_status").fetchall()
    conn.close()
    upsert = (spark.createDataFrame(
        [(fn, st, int(n)) for fn, st, n in rows],
        "file_name string, file_status string, n_errors int")
        .select(F.lit("upsert").alias("arm"),
                F.lit(-1).cast("bigint").alias("k"),
                F.col("file_name").alias("s1"),
                F.col("file_status").alias("s2"),
                F.col("n_errors").cast("double").alias("v")))

    return (scan_join.unionByName(scan_sup).unionByName(upsert)
            .orderBy("arm", "k", "s1"))


SQL_JDBC_ROUNDTRIP = """
SELECT * FROM (
  SELECT 'scan_join' AS arm, n_nationkey AS k, n_name AS s1, r_name AS s2,
         CAST(NULL AS DOUBLE) AS v
  FROM nation JOIN region ON n_regionkey = r_regionkey
  WHERE r_name <> 'ASIA'
  UNION ALL
  SELECT 'scan_sup', s_suppkey, s_name, NULL, s_acctbal
  FROM supplier WHERE s_acctbal > 5000
  UNION ALL
  SELECT 'upsert', CAST(-1 AS BIGINT), u.s1, u.s2, u.v FROM (
    SELECT n_name || '.csv' AS s1,
           CASE WHEN n_regionkey < 2 THEN 'SECOND' ELSE 'FIRST' END AS s2,
           CAST(CASE WHEN n_regionkey < 2 THEN n_nationkey * 10
                     ELSE n_nationkey END AS DOUBLE) AS v
    FROM nation
    UNION ALL
    SELECT 'EXTRA_' || r_name || '.csv', 'SECOND',
           CAST(r_regionkey AS DOUBLE)
    FROM region) u
)
ORDER BY arm, k, s1
"""
