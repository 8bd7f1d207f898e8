"""Cross-sheet integrity (J3–J6, A4): all 10 presence patterns + count
reconciliation, per FIXTURES.md's planted-violation matrix."""

import datetime

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.submission import SubmissionValidator


def _df(spark, columns, rows):
    # row_index = CSV line number (data starts at line 2).
    return spark.createDataFrame(
        [Row(**dict(zip(columns, r)), row_index=i + 2)
         for i, r in enumerate(rows)])


def _submission(spark):
    prior = _df(spark, ["Research_Participant_ID", "SARS_CoV_2_PCR_Test_Result"], [
        ("14_000001", "Positive"),   # everywhere
        ("14_000002", "Negative"),   # prior only
        ("14_000004", "Positive"),   # prior+demo, no bio
        ("14_000005", "Positive"),   # prior+bio, no demo
    ])
    demo = _df(spark, ["Research_Participant_ID", "Age"], [
        ("14_000001", "30"),
        ("14_000003", "40"),         # demo only
        ("14_000004", "50"),
        ("14_000006", "60"),         # demo+bio, no prior
    ])
    bio = _df(spark, ["Research_Participant_ID", "Biospecimen_ID",
                      "Biospecimen_Type"], [
        ("14_000001", "14_000001_001", "PBMC"),      # everywhere
        ("14_000005", "14_000005_001", "Serum"),
        ("14_000006", "14_000006_001", "PBMC"),
        ("14_000007", "14_000007_001", "Serum"),     # bio only
    ])
    confirm = _df(spark, ["Research_Participant_ID", "Assay_ID"], [
        ("14_000001", "14_001"),
    ])
    aliquot = _df(spark, ["Aliquot_ID", "Biospecimen_ID"], [
        ("14_000001_001_01", "14_000001_001"),
        ("14_000099_001_01", "14_000099_001"),   # aliquot only → missing from bio
    ])
    equipment = _df(spark, ["Equipment_ID", "Biospecimen_ID"], [
        ("equipA", "14_000001_001"),
        ("equipB", "14_000007_001"),  # equipment for non-PBMC bio → NOT PBMC error
    ])
    return {
        "prior_clinical_test.csv": prior,
        "demographic.csv": demo,
        "biospecimen.csv": bio,
        "confirmatory_clinical_test.csv": confirm,
        "aliquot.csv": aliquot,
        "equipment.csv": equipment,
    }


@pytest.fixture(scope="module")
def findings_rows(spark):
    """One validate() + collect for the two presence-pattern tests (the
    validator config is identical — rebuilding it per test was ~40% of
    this file's wall time)."""
    v = SubmissionValidator(spark, _submission(spark), cbc_id="14",
                            today=datetime.date(2026, 1, 1))
    return v.validate().findings.collect()


def test_participant_presence_patterns(findings_rows):
    rows = [r for r in findings_rows
            if r["CSV_Sheet_Name"] == "Cross_Participant_ID.csv"]
    by_id = {r["Column_Value"]: r["Error_Message"] for r in rows}
    assert by_id["14_000002"] == (
        "ID is found in Prior_Clinical_Test, but is missing from Demographic and Biospecimen")
    assert by_id["14_000003"] == (
        "ID is found in Demographic, but is missing from Prior_Clinical_Test and Biospecimen")
    assert by_id["14_000007"] == (
        "ID is found in Biospecimen, but is missing from Prior_Clinical_Test and Demographic")
    assert by_id["14_000004"] == (
        "ID is found in Prior_Clinical_Test and Demographic but is missing from Biospecimen")
    assert by_id["14_000005"] == (
        "ID is found in Prior_Clinical_Test and Biospecimen but is missing from Demographic")
    assert by_id["14_000006"] == (
        "ID is found in Demographic and Biospecimen but is missing from Prior_Clinical_Test")
    # the fully-present participant is NOT flagged (missing only from
    # confirmatory matches none of the 6 patterns)
    assert "14_000001" not in by_id
    assert all(r["Row_Index"] == -10 for r in rows)


def test_biospecimen_presence_patterns(findings_rows):
    rows = [r for r in findings_rows
            if r["CSV_Sheet_Name"] == "Cross_Biospecimen_ID.csv"]
    msgs = {(r["Column_Value"], r["Error_Message"]) for r in rows}
    assert ("14_000099_001",
            "ID is found in Aliquot.csv, however ID is missing from Biospecimen.csv") in msgs
    # Keep-first semantics (reference dedup key omits the message): an ID
    # missing from several tables keeps only its aliquot-rule finding.
    assert ("14_000007_001",
            "ID is found in Biospecimen.csv, however is missing from Aliquot.csv") in msgs
    assert ("14_000006_001",
            "ID is found in Biospecimen.csv, however is missing from Aliquot.csv") in msgs
    assert ("14_000005_001",
            "ID is found in Biospecimen.csv, however is missing from Aliquot.csv") in msgs
    # exactly one finding per ID on the cross sheet
    ids = [r["Column_Value"] for r in rows]
    assert len(ids) == len(set(ids))


def test_count_reconciliation(spark):
    v = SubmissionValidator(spark, _submission(spark), cbc_id="14",
                            declared_participants=3,   # actual distinct passing ≠ 3
                            # bio/aliquot/equipment all register into
                            # Bio_List (Validation_Rules.py:34-35): distinct
                            # passing bio IDs = 5 → matches, no finding
                            declared_biospecimens=5,
                            today=datetime.date(2026, 1, 1))
    res = v.validate()
    recon = res.findings.filter("Row_Index = -5").collect()
    assert len(recon) == 1
    r = recon[0]
    assert r["Column_Name"] == "submit_Participant_IDs"
    assert r["Column_Value"] == "3"
    assert "IDS are valid" in r["Error_Message"]


def test_column_findings(spark):
    sheets = _submission(spark)
    v = SubmissionValidator(
        spark, sheets, cbc_id="14",
        expected_columns={"demographic.csv": ["Research_Participant_ID",
                                              "Age", "Race"]},
        today=datetime.date(2026, 1, 1))
    res = v.validate()
    got = {(r["Column_Name"], r["Error_Message"])
           for r in res.column_findings.collect()}
    assert ("Race", "This Column is Expected and is missing from CSV File") in got


def test_enrichment_skips_columns_the_sheet_already_has(spark):
    """A submitted sheet that carries its own copy of a dependency column
    (e.g. demographic.csv shipping SARS_CoV_2_PCR_Test_Result) keeps the
    SUBMITTED values — merge_tables must not join a second same-named
    column (AMBIGUOUS_REFERENCE on the next selectExpr) and the column
    must NOT land in drop_list (it was not added by the join)."""
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        merge_tables)
    demo = spark.createDataFrame(
        [("14_000001", "30", "White", "OwnValue")],
        "Research_Participant_ID string, Age string, Race string, "
        "SARS_CoV_2_PCR_Test_Result string")
    prior_mt = spark.createDataFrame(
        [("14_000001", "Positive")],
        "Research_Participant_ID string, SARS_CoV_2_PCR_Test_Result string")
    enriched, drop_list = merge_tables(
        "demographic.csv", demo,
        {"prior_clinical_test.csv": prior_mt})
    assert enriched.columns.count("SARS_CoV_2_PCR_Test_Result") == 1
    assert drop_list == []
    row = enriched.collect()[0]
    assert row["SARS_CoV_2_PCR_Test_Result"] == "OwnValue"
    # and the full validate() path no longer raises AMBIGUOUS_REFERENCE
    import datetime
    from nci_seronet_proc_data_validator_spark.submission import (
        SubmissionValidator)
    prior = spark.createDataFrame(
        [("14_000001", "Positive", "From Medical Record", "2020-05-01", 2)],
        "Research_Participant_ID string, SARS_CoV_2_PCR_Test_Result string, "
        "SARS_CoV_2_PCR_Test_Result_Provenance string, "
        "Date_of_SARS_CoV_2_PCR_sample_collection string, row_index long")
    demo_rx = demo.withColumn("row_index", F.lit(2).cast("long"))
    res = SubmissionValidator(
        spark, {"prior_clinical_test.csv": prior,
                "demographic.csv": demo_rx},
        cbc_id="14", today=datetime.date(2026, 1, 1)).validate()
    rows = res.findings.collect()     # must not raise AMBIGUOUS_REFERENCE
    # no finding may carry the parent's value for the duplicated column —
    # the submitted copy is the one in play (demographic's rulebook has
    # no rule for the column, so it simply yields no findings)
    assert not [r for r in rows
                if r["Column_Name"] == "SARS_CoV_2_PCR_Test_Result"
                and r["Column_Value"] == "Positive"
                and r["CSV_Sheet_Name"] == "demographic.csv"]


def _rows(df):
    return sorted(tuple(str(v) for v in r) for r in df.collect())


def test_duplicate_typed_biospecimen_decodes_by_min_type(spark):
    """A Biospecimen_ID listed twice with different types decodes with
    its min type (PBMC < Serum), as the DuckDB oracle does: one
    ``Cross_Biospecimen_ID.csv`` finding, the same at every shuffle
    partition count (a spine that copies the row per type leaves the
    keyed dedup to keep whichever message arrives first)."""
    sheets = {
        "biospecimen.csv": _df(spark, ["Research_Participant_ID",
                                       "Biospecimen_ID", "Biospecimen_Type"], [
            ("14_000001", "14_000001_001", "PBMC"),
            ("14_000001", "14_000001_001", "Serum"),
        ]),
        "aliquot.csv": _df(spark, ["Aliquot_ID", "Biospecimen_ID"], [
            ("14_000001_001_01", "14_000001_001"),
        ]),
        "equipment.csv": _df(spark, ["Equipment_ID", "Biospecimen_ID"], [
            ("equipA", "14_000001_001"),
        ]),
    }
    want = [("ID is found in Biospecimen.csv and has Biospecimen_Type of "
             "PBMC, however ID is missing from Reagent.csv")]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in (1, 2, 4, 8):
            spark.conf.set("spark.sql.shuffle.partitions", str(n))
            res = SubmissionValidator(spark, sheets, cbc_id="14",
                                      today=datetime.date(2026, 1, 1))
            got = [r["Error_Message"] for r in res.validate().findings
                   .filter("CSV_Sheet_Name = 'Cross_Biospecimen_ID.csv'"
                           " AND Column_Value = '14_000001_001'").collect()]
            assert got == want, f"shuffle.partitions={n}: {got}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_cross_sql_matches_duckdb_oracle(spark):
    """The SQL cross-sheet decoders return exactly the rows of their
    DuckDB oracle mirrors run on the same rows — including duplicate
    keys, a missing source leg (an empty table for the oracle), blank
    and malformed keys, the PBMC type decode and a duplicate ID with
    mixed types. The submitted-id restriction is a filter on the
    oracle's output."""
    import duckdb

    from nci_seronet_proc_data_validator_spark.operators.joins import (
        biospecimen_cross_oracle_sql,
        biospecimen_cross_sql,
        participant_cross_oracle_sql,
        participant_cross_sql,
    )

    con = duckdb.connect()

    def both(tables):
        """{sheet: (columns, rows) or (columns, None) when missing} →
        Spark views (None for missing) + DuckDB tables (empty when
        missing)."""
        views, duck = {}, {}
        for n, (cols, rows) in tables.items():
            t = "t_" + n.replace(".", "_")
            con.execute(f"CREATE OR REPLACE TABLE {t} ("
                        + ", ".join(f"{c} VARCHAR" for c in cols) + ")")
            if rows:
                con.executemany(f"INSERT INTO {t} VALUES ("
                                + ", ".join("?" * len(cols)) + ")", rows)
                spark.createDataFrame(
                    rows, ", ".join(f"{c} string" for c in cols)
                ).createOrReplaceTempView(t)
            views[n], duck[n] = (t if rows else None), t
        return views, duck

    def oracle(sql):
        return sorted(tuple(str(v) for v in r)
                      for r in con.execute(sql).fetchall())

    # participant: 3 of 4 sources submitted (confirmatory missing),
    # dup key in prior, one malformed id, one blank
    rpid = ["Research_Participant_ID"]
    views, duck = both({
        "prior_clinical_test.csv": (rpid, [
            ("14_000001",), ("14_000001",), ("14_000002",), ("bad",),
            ("",)]),
        "demographic.csv": (rpid, [("14_000002",), ("14_000003",)]),
        "biospecimen.csv": (rpid + ["Biospecimen_ID", "Biospecimen_Type"], [
            ("14_000003", "x", "PBMC"), ("14_000004", "y", "Serum")]),
        "confirmatory_clinical_test.csv": (rpid, None),
    })
    submitted = ["14_000001", "14_000002", "14_000003", "14_000004"]
    spark.createDataFrame([(i,) for i in submitted], "Research_Participant_ID"
                          " string").createOrReplaceTempView("t_submitted_p")
    want = oracle(participant_cross_oracle_sql(
        duck["prior_clinical_test.csv"], duck["demographic.csv"],
        duck["biospecimen.csv"], duck["confirmatory_clinical_test.csv"],
        "14"))
    got = spark.sql(participant_cross_sql(views, "14", "t_submitted_p"))
    assert _rows(got) == [r for r in want if r[4] in submitted]
    assert got.count() > 0
    # without the submitted restriction
    got2 = spark.sql(participant_cross_sql(views, "14", None))
    assert _rows(got2) == want

    # biospecimen: bio + aliquot + equipment submitted (reagent,
    # consumable missing); PBMC and non-PBMC; dup key in aliquot; one
    # ID listed twice in bio with mixed types
    bid = ["Biospecimen_ID"]
    bviews, bduck = both({
        "biospecimen.csv": (bid + ["Biospecimen_Type"], [
            ("14_000001_001", "PBMC"), ("14_000001_002", "Serum"),
            ("14_000001_003", "PBMC"), ("14_000001_005", "Serum"),
            ("14_000001_005", "PBMC"), ("", "PBMC"), ("bad", "Serum")]),
        "aliquot.csv": (bid, [("14_000001_001",), ("14_000001_001",),
                              ("14_000001_004",), ("14_000001_005",)]),
        "equipment.csv": (bid, [("14_000001_002",), ("14_000001_001",),
                                ("14_000001_005",)]),
        "reagent.csv": (bid, None),
        "consumable.csv": (bid, None),
    })
    bwant = oracle(biospecimen_cross_oracle_sql(
        *(bduck[n] for n in ("biospecimen.csv", "aliquot.csv",
                             "equipment.csv", "reagent.csv",
                             "consumable.csv")), "14"))
    bgot = spark.sql(biospecimen_cross_sql(
        bviews, "14", None, type_sources={"biospecimen.csv"}))
    assert _rows(bgot) == bwant and bgot.count() > 0


def test_cross_sql_renders_are_wellformed():
    """Pure-text checks: quote escaping, boolean rendering, missing
    sources as FALSE literals, no stray Python-bool spellings."""
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        biospecimen_cross_sql,
        participant_cross_sql,
    )
    views = {"prior_clinical_test.csv": "vp", "demographic.csv": "vd",
             "biospecimen.csv": "vb",
             "confirmatory_clinical_test.csv": None}
    sql = participant_cross_sql(views, "14", None)
    assert " True" not in sql and " False" not in sql   # SQL booleans only
    # missing confirmatory leg appears as a FALSE literal in any_missing
    assert "AND FALSE)" in sql
    assert "RLIKE '^14[_]{1}[0-9]{6}$'" in sql
    bsql = biospecimen_cross_sql(
        {"biospecimen.csv": "vb", "aliquot.csv": "va",
         "equipment.csv": None, "reagent.csv": None,
         "consumable.csv": None},
        "14", "vsub", type_sources={"biospecimen.csv"})
    assert "BROADCAST(sub)" in bsql and "LEFT SEMI JOIN" in bsql
    assert "Biospecimen_Type = 'PBMC'" in bsql.replace("(", "").replace(")", "")
