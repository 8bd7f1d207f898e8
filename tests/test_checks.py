"""Scalar-check semantics vs the reference's behavior (SURVEY.md §2.6).

Fixtures plant one violation per error class (FIXTURES.md planted-violation
matrix) and assert the exact findings — message text, severity, row index —
the reference would emit.
"""

import datetime

import pytest
from pyspark.sql import Row

from nci_seronet_proc_data_validator_spark.operators.typing import with_typed_shadows
from nci_seronet_proc_data_validator_spark.plans.rulebook import bind_sheet_rules
from nci_seronet_proc_data_validator_spark.plans.rules import (
    compile_sheet_findings,
    dup_id_findings_sql,
)


def _sheet(spark, rows, columns):
    # row_index = CSV line number (data starts at line 2).
    return spark.createDataFrame(
        [Row(**dict(zip(columns, r)), row_index=i + 2)
         for i, r in enumerate(rows)])


def _findings(spark, sheet_name, rows, columns, cbc_id="14"):
    df = _sheet(spark, rows, columns)
    df = with_typed_shadows(df)
    bound = bind_sheet_rules(sheet_name, columns, cbc_id,
                             today=datetime.date(2026, 1, 1))
    out = compile_sheet_findings(df, sheet_name, bound.column_rules)
    return {(r["Row_Index"], r["Column_Name"]): r
            for r in out.collect()}, bound


COLS = ["Research_Participant_ID", "Age", "Race"]


def test_in_list_and_number_and_id(spark):
    rows = [
        ("14_000001", "30", "White"),           # clean
        ("14_00000x", "30", "White"),           # bad ID format
        ("99_000003", "30", "White"),           # wrong CBC
        ("14_000004", "17.5", "White"),         # decimal age
        ("14_000005", "300", "White"),          # age out of range
        ("14_000006", "abc", "White"),          # not a number
        ("14_000007", "30", "Martian"),         # out of vocabulary
        ("14_000008", "", "White"),             # missing required
    ]
    f, bound = _findings(spark, "demographic.csv", rows, COLS)

    assert (3, "Research_Participant_ID") in f
    assert f[(3, "Research_Participant_ID")]["Error_Message"] == \
        "ID is Not Valid Format, Expecting XX_XXXXXX"
    assert f[(4, "Research_Participant_ID")]["Error_Message"] == \
        "ID is Valid however has wrong CBC code. Expecting CBC Code (14)"
    assert f[(5, "Age")]["Error_Message"] == \
        "Value must be an interger between 1 and 200, decimal values are not allowed"
    assert (6, "Age") in f and (7, "Age") in f
    assert f[(8, "Race")]["Error_Message"].startswith(
        "Unexpected Value.  Value must be one of the following:")
    missing = f[(9, "Age")]
    assert missing["Message_Type"] == "Error"
    assert missing["Error_Message"] == \
        "Missing Values are not allowed for this column.  Please recheck data"
    # clean row produced nothing
    assert not any(k[0] == 2 for k in f)


def test_keep_first_dedup_per_cell(spark):
    # A bad-format ID also fails the CBC regex; reference keeps only the
    # first finding (format error) via drop_duplicates keep='first'.
    rows = [("xx", "30", "White")]
    f, _ = _findings(spark, "demographic.csv", rows, COLS)
    assert f[(2, "Research_Participant_ID")]["Error_Message"] == \
        "ID is Not Valid Format, Expecting XX_XXXXXX"
    assert len([k for k in f if k[1] == "Research_Participant_ID"]) == 1


def test_dup_ids(spark):
    rows = [("14_000001", "30", "White"), ("14_000001", "31", "White"),
            ("14_000002", "32", "White")]
    with_typed_shadows(_sheet(spark, rows, COLS)) \
        .createOrReplaceTempView("__t_dup_ids")
    got = spark.sql(dup_id_findings_sql(
        "__t_dup_ids", "demographic.csv", "Research_Participant_ID")).collect()
    assert len(got) == 1
    assert got[0]["Row_Index"] == -3
    assert got[0]["Column_Value"] == "14_000001"
    assert got[0]["Error_Message"] == \
        "Id is repeated 2 times, Multiple repeats are not allowed"


def test_check_expr_refuses_column_valued_checks(spark):
    """A check is SQL text only: a pyspark Column (or any non-str) in
    ``violation``, ``message`` or ``message_sql`` has no text form for
    the findings render or the DuckDB oracle, so construction refuses
    it."""
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.functions.checks import (
        CheckExpr,
    )
    with pytest.raises(TypeError, match="violation"):
        CheckExpr(F.col("Age") == "13", "x")
    with pytest.raises(TypeError, match="message"):
        CheckExpr("Age = '13'", F.lit("x"))
    with pytest.raises(TypeError, match="message_sql"):
        CheckExpr("Age = '13'", "x", message_sql=F.lit("x"))
    assert CheckExpr("Age = '13'", "x").sql == "Age = '13'"


def test_sars_conditional_missing_and_dependency(spark):
    cols = ["Research_Participant_ID", "SARS_CoV_2_PCR_Test_Result",
            "Is_Symptomatic"]
    rows = [
        ("14_000001", "Positive", ""),      # missing, required for Positive → Error
        ("14_000002", "Negative", ""),      # missing, Negative → Warning
        ("14_000003", "Positive", "Maybe"),  # out of list for Positive cohort
        ("14_000004", "Negative", "Yes"),   # 'Yes' not allowed when Negative
    ]
    f, _ = _findings(spark, "demographic.csv", rows, cols)
    assert f[(2, "Is_Symptomatic")]["Message_Type"] == "Error"
    assert "requred for Sars Positive" in f[(2, "Is_Symptomatic")]["Error_Message"]
    assert f[(3, "Is_Symptomatic")]["Message_Type"] == "Warning"
    assert f[(4, "Is_Symptomatic")]["Error_Message"] == \
        "SARS_CoV_2_PCR_Test_Result is in ['Positive'].  Value must be one of the following: ['Yes', 'No']"
    assert f[(5, "Is_Symptomatic")]["Error_Message"] == \
        "SARS_CoV_2_PCR_Test_Result is in ['Negative'].  Value must be one of the following: ['No', 'N/A']"


def test_date_checks_and_expiration_warning(spark):
    cols = ["Biospecimen_ID", "Date_of_Sample_Collection",
            "Collection_Tube_Type_Expiration_Date"]
    rows = [
        ("14_000001_001", "2020-05-01", "2030-01-01"),   # clean
        ("14_000001_002", "not-a-date", "2030-01-01"),   # unparseable
        ("14_000001_003", "1850-01-01", "2030-01-01"),   # before 1900
        ("14_000001_004", "2020-05-01", "2020-01-01"),   # expired → Warning
    ]
    f, _ = _findings(spark, "biospecimen.csv", rows, cols)
    assert f[(3, "Date_of_Sample_Collection")]["Error_Message"] == \
        "Value must be a Valid Date MM/DD/YYYY"
    assert f[(4, "Date_of_Sample_Collection")]["Error_Message"] == \
        "Date is valid however must be between 1900-01-01 and 2026-01-01"
    exp = f[(5, "Collection_Tube_Type_Expiration_Date")]
    assert exp["Message_Type"] == "Warning"
    assert exp["Error_Message"] == \
        "Expiration Date has already passed, check to make sure date is correct"


def test_viability_and_live_total(spark):
    cols = ["Biospecimen_ID", "Biospecimen_Type",
            "Live_Cells_Hemocytometer_Count", "Total_Cells_Hemocytometer_Count",
            "Viability_Hemocytometer_Count"]
    rows = [
        ("14_000001_001", "PBMC", "50", "100", "50"),    # clean: 50/100*100=50
        ("14_000001_002", "PBMC", "120", "100", "120"),  # live > total
        ("14_000001_003", "PBMC", "50", "100", "60"),    # viability wrong
        ("14_000001_004", "PBMC", "N/A", "N/A", "N/A"),  # N/A allowed
    ]
    f, _ = _findings(spark, "biospecimen.csv", rows, cols)
    assert f[(3, "Total_Cells_Hemocytometer_Count")]["Error_Message"] == \
        "Live Cell Count must be less than Total Cell Count"
    assert f[(4, "Viability_Hemocytometer_Count")]["Error_Message"] == \
        "Viability Count must be equal to (Live_Count / Total_Count) * 100"
    assert not any(k[0] == 2 for k in f)
    assert not any(k[0] == 5 for k in f)


def test_string_check_rejects_coerced_types(spark):
    cols = ["Assay_ID", "Assay_Name", "Technology_Type"]
    rows = [
        ("14_001", "My Assay", "ELISA"),     # clean
        ("14_002", "12345", "ELISA"),        # number where string required
        ("14_003", "2020-01-01", "ELISA"),   # date where string required
    ]
    f, _ = _findings(spark, "assay.csv", rows, cols)
    assert f[(3, "Assay_Name")]["Error_Message"] == \
        "Value must be a string and NOT N/A"
    assert f[(4, "Assay_Name")]["Error_Message"] == \
        "Value must be a string and NOT N/A"


def test_unit_value_dependency_trio(spark):
    cols = ["Research_Participant_ID", "SARS_CoV_2_PCR_Test_Result",
            "Current_HIV_infection", "Duration_of_HIV_infection",
            "Duration_of_HIV_infection_unit"]
    rows = [
        ("14_000001", "Positive", "Yes", "30", "Day"),    # clean
        ("14_000002", "Positive", "Yes", "400", "Day"),   # duration out of range
        ("14_000003", "Positive", "No", "30", "Day"),     # must be N/A when not current
        ("14_000004", "Positive", "Yes", "30", "Fortnight"),  # bad unit
        ("14_000005", "Positive", "No", "N/A", "N/A"),    # clean N/A trio
    ]
    f, _ = _findings(spark, "prior_clinical_test.csv", rows, cols)
    assert (3, "Duration_of_HIV_infection") in f
    assert "interger between 0 and 365" in f[(3, "Duration_of_HIV_infection")]["Error_Message"]
    assert f[(4, "Duration_of_HIV_infection")]["Error_Message"] == \
        "Current_HIV_infection is in ['No', 'Unknown', 'N/A'].  Value must be one of the following: ['N/A']"
    assert f[(5, "Duration_of_HIV_infection_unit")]["Error_Message"] == \
        "Duration_of_HIV_infection is a Number .  Value must be one of the following: ['Day', 'Month', 'Year']"
    assert not any(k[0] in (2, 6) for k in f)


def test_icd10_dot_normalization(spark):
    """Reference icd10.exists strips dots before lookup — 'E11.9' and
    'E119' are the same code; unknown codes flag either way."""
    from nci_seronet_proc_data_validator_spark.functions.checks import check_icd10
    from nci_seronet_proc_data_validator_spark.operators.joins import icd10_flag_join
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        with_typed_shadows,
    )
    from nci_seronet_proc_data_validator_spark.sources.icd10 import load_icd10_codes

    codes = load_icd10_codes(spark)
    df = _sheet(spark, [("E11.9",), ("E119",), ("NOTACODE",), ("N/A",)],
                ["Other_Comorbidity"])
    df = icd10_flag_join(with_typed_shadows(df), "Other_Comorbidity",
                         codes, "ok")
    from nci_seronet_proc_data_validator_spark.plans.rules import ColumnRules
    out = compile_sheet_findings(
        df, "demographic.csv",
        [ColumnRules("Other_Comorbidity",
                     check_icd10("Other_Comorbidity", "ok"))])
    bad = {r["Row_Index"] for r in out.collect()}
    assert bad == {4}  # only NOTACODE flags; dotted + dotless both valid


def test_fix_reference_bugs_flag_surfaces(spark):
    """fix_reference_bugs=False must reproduce the reference exactly:
    Storage_*_Initials hit the unconditional 'Initials' substring branch,
    and all-blank ingest rows are kept (dropna is a no-op under
    na_filter=False)."""
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        cleanup_sheet,
        read_sheet_csv,
    )
    cols = ["Research_Participant_ID", "Storage_Time_at_2_8",
            "Storage_Start_Time_at_2_8_Initials"]
    fixed = bind_sheet_rules("biospecimen.csv", cols, "14")
    asis = bind_sheet_rules("biospecimen.csv", cols, "14",
                            fix_reference_bugs=False)

    def msgs(bound):
        cr = {c.column: c for c in bound.column_rules}
        return [ce.message for ce
                in cr["Storage_Start_Time_at_2_8_Initials"].checks
                if isinstance(ce.message, str)]

    # fixed: dependency-scoped messages; as-is: one unconditional string rule
    assert any("Storage_Time_at_2_8 is a Number" in m for m in msgs(fixed))
    assert "Value must be a string and NOT N/A" in msgs(asis)
    assert not any("is a Number" in m for m in msgs(asis))

    # blank-row gate (SURVEY §2.9(8))
    import pathlib
    p = pathlib.Path("/tmp/blankrows.csv")
    p.write_text("a,b\nx,1\n,\ny,2\n")
    df = read_sheet_csv(spark, str(p))
    assert cleanup_sheet(df).count() == 2
    kept = cleanup_sheet(df, fix_reference_bugs=False)
    assert kept.count() == 3   # the ',,' line survives, as in the reference
