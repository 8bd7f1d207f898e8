"""JDBC sources (S5–S7), gated — the test environment has no database.

Reference behaviors re-expressed:
- S5 ``get_mysql_queries`` (File_Submission_Object.py:501-527): per-sheet
  hand-written SELECTs with projection + predicate pushdown. Spark's JDBC
  source pushes both automatically when given the query; the one rename
  (``Test_Result`` → ``SARS_CoV_2_PCR_Test_Result``) stays explicit.
- S6 jobs-queue scan (nci-seronet-data-validator.py:152-159): the reference
  issues a JOIN with no ON clause (a filtered cross join) and then
  overwrites the result with a second mis-parameterized read — both bugs
  (SURVEY.md §2.9.1). We implement the evident intent: an equi-join of the
  submission and file validator tables on submission id, filtered on both
  status columns.
- S7 INFORMATION_SCHEMA column catalog (nci:145-150): the schema authority.
  Without a database, ``static_expected_columns`` (sources/catalog.py)
  stands in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

# Per-sheet Merged_Table queries (S5). `%s` params from the reference are
# inlined as named constants for the one parameterized case.
MERGED_TABLE_QUERIES = {
    "prior_clinical_test.csv":
        "SELECT Research_Participant_ID, Test_Result "
        "FROM Participant_Prior_Test_Result WHERE Test_Name = 'SARS_Cov_2_PCR'",
    "demographic.csv":
        "SELECT Research_Participant_ID, Age FROM Participant",
    "biospecimen.csv":
        "SELECT Research_Participant_ID, Biospecimen_ID, Biospecimen_Type "
        "FROM Biospecimen",
    "aliquot.csv": "SELECT Aliquot_ID, Biospecimen_ID FROM Aliquot",
    "equipment.csv":
        "SELECT Equipment_ID, Biospecimen_ID FROM Biospecimen_Equipment",
    "reagent.csv": "SELECT Reagent_Name, Biospecimen_ID FROM Reagent_Biospecimen",
    "consumable.csv":
        "SELECT Consumable_Name, Biospecimen_ID FROM Consumable_Biospecimen",
    "assay.csv": "SELECT Assay_ID, Assay_Name FROM Assay",
    "assay_target.csv":
        "SELECT Assay_ID, Assay_Target, Assay_Antigen_Source FROM Assay",
    "confirmatory_clinical_test.csv":
        "SELECT Research_Participant_ID, Assay_ID "
        "FROM Participant_Confirmatory_Assay_Result",
}


# Post-read column renames per sheet (File_Submission_Object.py:506:
# ``Test_Result`` → ``SARS_CoV_2_PCR_Test_Result`` for the prior-test
# fallback table).
SHEET_RENAMES = {
    "prior_clinical_test.csv": {
        "Test_Result": "SARS_CoV_2_PCR_Test_Result"},
}


def apply_sheet_renames(df: DataFrame, sheet_name: str) -> DataFrame:
    for old, new in SHEET_RENAMES.get(sheet_name, {}).items():
        df = df.withColumnRenamed(old, new)
    return df


def read_merged_table(spark: SparkSession, url: str, sheet_name: str,
                      properties: dict | None = None) -> DataFrame | None:
    """S5: DB fallback Merged_Table for a sheet that was not submitted.
    Wrapping the SELECT as a JDBC subquery pushes projection and predicate
    to the database, like the reference's hand-written SQL."""
    q = MERGED_TABLE_QUERIES.get(sheet_name)
    if q is None or not url:
        return None
    df = (spark.read.format("jdbc")
          .option("url", url)
          .option("query", q)
          .options(**(properties or {}))
          .load())
    return apply_sheet_renames(df, sheet_name)


def pending_submissions_sql(
        batch_status: str = "Batch_Validation_SUCCESS",
        file_status: str = "FILE_VALIDATION_IN_PROGRESS") -> str:
    """S6 jobs-queue SQL with the intent restored.

    Reference (nci-seronet-data-validator.py:152-159): same projection and
    status params, but the JOIN has no ON clause (filtered cross join) and
    the result is immediately overwritten by a second read parameterized
    with ``["65"]`` — both documented bugs (SURVEY.md §2.9.1). We emit the
    evident intent: equi-join on submission_file_id, single read, statuses
    qualified to the table that owns them.
    """
    for s in (batch_status, file_status):
        if "'" in s:
            raise ValueError(f"unsafe status literal: {s!r}")
    return (f"SELECT sub.orig_file_id, sub.submission_file_id, "
            f"tbl.unzipped_file_id, sub.submission_validation_file_location, "
            f"tbl.file_validation_file_location "
            f"FROM table_submission_validator AS sub "
            f"JOIN table_file_validator AS tbl "
            f"ON sub.submission_file_id = tbl.submission_file_id "
            f"WHERE sub.batch_validation_status = '{batch_status}' "
            f"AND tbl.file_validation_status = '{file_status}'")


def read_pending_submissions(spark: SparkSession, url: str,
                             batch_status: str = "Batch_Validation_SUCCESS",
                             file_status: str = "FILE_VALIDATION_IN_PROGRESS",
                             properties: dict | None = None
                             ) -> DataFrame | None:
    """S6: the jobs queue (see ``pending_submissions_sql``)."""
    if not url:
        return None
    q = pending_submissions_sql(batch_status, file_status)
    return (spark.read.format("jdbc").option("url", url)
            .option("query", q).options(**(properties or {})).load())


def read_cbc_map(spark: SparkSession, url: str,
                 properties: dict | None = None) -> dict[str, str]:
    """CBC lab-name → 2-digit id map from the CBC table.

    The reference resolves one name per submission at load time
    (``SELECT CBC_ID FROM CBC WHERE CBC_Name = %s``,
    File_Submission_Object.py:82-87); the set form here reads the whole
    (tiny) table once. Pass ``lambda: read_cbc_map(spark, url)`` as a
    watcher's ``cbc_map``/``cbc_by_sub`` to re-resolve per micro-batch —
    a lab registered while the watcher runs is honored by the next batch
    without restart (``streaming.watcher._resolve``)."""
    if not url:
        return {}
    df = (spark.read.format("jdbc").option("url", url)
          .option("query", "SELECT CBC_Name, CBC_ID FROM CBC")
          .options(**(properties or {})).load())
    # by position: databases that upper-case unquoted identifiers
    # (Derby, Oracle) return CBC_NAME, not CBC_Name
    return {str(name): str(cid) for name, cid in df.collect()}


# Reference's bookkeeping anti-filter, verbatim incl. the lowercase 't' in
# Submission_time (nci-seronet-data-validator.py:148).
IGNORED_CATALOG_COLUMNS = [
    "Submission_ID", "Submission_CBC", "Biorepository_ID", "Shipping_ID",
    "Test_Agreement", "Submission_time",
]


def expected_columns_sql(db_name: str) -> str:
    """S7 catalog SQL (nci-seronet-data-validator.py:145-147)."""
    if "'" in db_name:
        raise ValueError(f"unsafe schema name: {db_name!r}")
    return (f"SELECT TABLE_NAME, COLUMN_NAME FROM INFORMATION_SCHEMA.COLUMNS "
            f"WHERE TABLE_SCHEMA = '{db_name}'")


def read_expected_columns(spark: SparkSession, url: str, db_name: str,
                          properties: dict | None = None) -> DataFrame | None:
    """S7: INFORMATION_SCHEMA.COLUMNS catalog scan with the reference's
    bookkeeping-column anti-filter (nci:148-150)."""
    if not url:
        return None
    df = (spark.read.format("jdbc").option("url", url)
          .option("query", expected_columns_sql(db_name))
          .options(**(properties or {})).load())
    return df.filter(~df.COLUMN_NAME.isin(IGNORED_CATALOG_COLUMNS))
