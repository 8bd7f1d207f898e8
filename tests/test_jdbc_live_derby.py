"""LIVE JDBC round-trips against embedded Apache Derby (bundled with
Spark's jars) — the S5/S6 scans and the gated JDBC writer execute against
a real SQL database in-process, not just as pinned SQL text, and so
does the CBC name -> id lookup.

Derby stands in for MySQL: both resolve unquoted identifiers
case-insensitively, so the reference's hand-written SELECTs
(``sources/jdbc.MERGED_TABLE_QUERIES``) run verbatim. MySQL-only surfaces
(INFORMATION_SCHEMA) stay covered by the SQL-text contract tests
(test_jdbc_sql.py).
"""

import pytest


DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _derby(spark, tmp_path, name):
    url = f"jdbc:derby:{tmp_path}/{name};create=true"
    conn = spark._jvm.java.sql.DriverManager.getConnection(url)
    return url, conn


def _exec(conn, *stmts):
    st = conn.createStatement()
    for s in stmts:
        st.execute(s)
    st.close()


@pytest.fixture(scope="module")
def derby_props():
    return {"driver": DRIVER}


def test_merged_table_scan_live(spark, tmp_path, derby_props):
    """S5: the reference's per-sheet SELECT (projection + predicate
    pushdown via the JDBC query option) against real tables, including
    the Test_Result -> SARS_CoV_2_PCR_Test_Result rename."""
    from nci_seronet_proc_data_validator_spark.sources.jdbc import (
        read_merged_table)
    url, conn = _derby(spark, tmp_path, "merged")
    _exec(
        conn,
        "CREATE TABLE Participant_Prior_Test_Result ("
        "Research_Participant_ID VARCHAR(16), Test_Name VARCHAR(32), "
        "Test_Result VARCHAR(16))",
        "INSERT INTO Participant_Prior_Test_Result VALUES "
        "('14_111111', 'SARS_Cov_2_PCR', 'Positive'), "
        "('14_222222', 'Other_Test', 'Negative')",
        "CREATE TABLE Participant (Research_Participant_ID VARCHAR(16), "
        "Age VARCHAR(8))",
        "INSERT INTO Participant VALUES ('14_111111', '42')",
    )
    conn.close()

    prior = read_merged_table(spark, url, "prior_clinical_test.csv",
                              derby_props)
    rows = prior.collect()
    # predicate pushed: only the SARS_Cov_2_PCR row comes back
    assert len(rows) == 1
    assert [c.upper() for c in prior.columns] == [
        "RESEARCH_PARTICIPANT_ID", "SARS_COV_2_PCR_TEST_RESULT"]
    assert rows[0][1] == "Positive"

    demo = read_merged_table(spark, url, "demographic.csv", derby_props)
    assert demo.count() == 1 and len(demo.columns) == 2

    assert read_merged_table(spark, url, "not_a_sheet.csv",
                             derby_props) is None


def test_cbc_map_live(spark, tmp_path, derby_props):
    """The reference's CBC lookup (File_Submission_Object.py:82-87) read
    as one name -> 2-digit id map, the form the watchers take."""
    from nci_seronet_proc_data_validator_spark.sources.jdbc import (
        read_cbc_map)
    url, conn = _derby(spark, tmp_path, "cbc")
    _exec(
        conn,
        "CREATE TABLE CBC (CBC_ID INT, CBC_Name VARCHAR(32))",
        "INSERT INTO CBC VALUES (14, 'Feinstein_CBC01'), "
        "(27, 'Arizona_CBC02')",
    )
    conn.close()

    assert read_cbc_map(spark, url, derby_props) == {
        "Feinstein_CBC01": "14", "Arizona_CBC02": "27"}
    assert read_cbc_map(spark, "", derby_props) == {}


def test_pending_submissions_join_live(spark, tmp_path, derby_props):
    """S6: the restored-ON-clause jobs-queue query (reference bug
    SURVEY.md 2.9.1 fixed) joins and filters correctly on a real DB."""
    from nci_seronet_proc_data_validator_spark.sources.jdbc import (
        read_pending_submissions)
    url, conn = _derby(spark, tmp_path, "jobs")
    _exec(
        conn,
        "CREATE TABLE table_submission_validator ("
        "orig_file_id VARCHAR(16), submission_file_id VARCHAR(16), "
        "submission_validation_file_location VARCHAR(64), "
        "batch_validation_status VARCHAR(64))",
        "CREATE TABLE table_file_validator ("
        "submission_file_id VARCHAR(16), unzipped_file_id VARCHAR(16), "
        "file_validation_file_location VARCHAR(64), "
        "file_validation_status VARCHAR(64))",
        "INSERT INTO table_submission_validator VALUES "
        "('o1', 's1', 'loc1', 'Batch_Validation_SUCCESS'), "
        "('o2', 's2', 'loc2', 'Batch_Validation_FAILURE')",
        "INSERT INTO table_file_validator VALUES "
        "('s1', 'u1', 'floc1', 'FILE_VALIDATION_IN_PROGRESS'), "
        "('s1', 'u2', 'floc2', 'FILE_VALIDATION_SUCCESS'), "
        "('s2', 'u3', 'floc3', 'FILE_VALIDATION_IN_PROGRESS')",
    )
    conn.close()

    out = read_pending_submissions(spark, url, properties=derby_props)
    rows = out.collect()
    # equi-join (not the reference's cross join) + both status filters:
    # only (s1, u1) qualifies. (Derby upper-cases unquoted identifiers in
    # result metadata; MySQL would echo them as written.)
    assert len(rows) == 1
    r = {c.lower(): v for c, v in rows[0].asDict().items()}
    assert (r["orig_file_id"], r["unzipped_file_id"]) == ("o1", "u1")


def test_job_status_jdbc_write_live(spark, tmp_path, derby_props):
    """S11 (gated writer): job-status rows append through Spark's JDBC
    sink and read back byte-identical."""
    from nci_seronet_proc_data_validator_spark.sinks.reports import (
        job_status_rows, write_job_status_jdbc)
    findings = spark.createDataFrame(
        [("Error", "demographic.csv", 3, "Age", "300", "range")],
        "Message_Type string, CSV_Sheet_Name string, Row_Index long, "
        "Column_Name string, Column_Value string, Error_Message string")
    status = job_status_rows(findings, "sub-9", "2026-08-14 00:00:00")
    url = f"jdbc:derby:{tmp_path}/statusdb;create=true"
    assert write_job_status_jdbc(status, url, "job_status",
                                 derby_props) is True
    back = (spark.read.format("jdbc").option("url", url)
            .option("dbtable", "job_status").options(**derby_props).load())
    got = {tuple(r) for r in back.collect()}
    want = {tuple(r) for r in status.collect()}
    assert got == want
