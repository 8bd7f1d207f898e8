"""End-to-end golden test: a full multi-sheet CSV submission on disk →
SubmissionValidator → expected findings (the golden-output layer the
reference never had, SURVEY.md §5.2)."""

import datetime
import os

from nci_seronet_proc_data_validator_spark.errors import findings_summary
from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
from nci_seronet_proc_data_validator_spark.sources.catalog import (
    static_expected_columns,
)
from nci_seronet_proc_data_validator_spark.sources.icd10 import load_icd10_codes
from nci_seronet_proc_data_validator_spark.submission import SubmissionValidator

SHEETS = {
    "prior_clinical_test.csv": (
        "Research_Participant_ID,SARS_CoV_2_PCR_Test_Result,"
        "SARS_CoV_2_PCR_Test_Result_Provenance,"
        "Date_of_SARS_CoV_2_PCR_sample_collection\n"
        "14_000001,Positive,From Medical Record,2020-05-01\n"
        "14_000002,Negative,Self-Reported,2020-06-01\n"
        "14_000003,Maybe,Hearsay,2020-07-01\n"),        # bad vocab ×2
    "demographic.csv": (
        "Research_Participant_ID,Age,Race,Other_Comorbidity\n"
        "14_000001,30,White,E11.9\n"
        "14_000002,17.5,Asian,N/A\n"                     # decimal age
        "14_000003,40,Martian,NOTACODE\n"),              # vocab + ICD-10
    "biospecimen.csv": (
        "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
        "14_000001,14_000001_001,PBMC\n"
        "14_000002,14_000002_001,Serum\n"
        "14_000009,14_000009_001,PBMC\n"),               # cross-sheet orphan
}


def test_full_submission_golden(spark, tmp_path):
    for name, content in SHEETS.items():
        (tmp_path / name).write_text(content)
    sheets = {name: read_sheet_csv(spark, str(tmp_path / name))
              for name in SHEETS}
    res = SubmissionValidator(
        spark, sheets, cbc_id="14",
        declared_participants=2,
        icd10_codes=load_icd10_codes(spark),
        expected_columns=static_expected_columns(),
        today=datetime.date(2026, 1, 1)).validate()

    got = {(r["CSV_Sheet_Name"], r["Row_Index"], r["Column_Name"]):
           (r["Message_Type"], r["Error_Message"])
           for r in res.findings.collect()}

    # planted scalar violations
    assert got[("prior_clinical_test.csv", 4, "SARS_CoV_2_PCR_Test_Result")][1] \
        == "Unexpected Value.  Value must be one of the following: ['Positive', 'Negative']"
    assert got[("prior_clinical_test.csv", 4,
                "SARS_CoV_2_PCR_Test_Result_Provenance")][1] \
        == "Unexpected Value.  Value must be one of the following: ['From Medical Record', 'Self-Reported']"
    assert "interger between 1 and 200" in got[("demographic.csv", 3, "Age")][1]
    assert got[("demographic.csv", 4, "Other_Comorbidity")][1] \
        == "Invalid or unknown ICD10 code, Value must be Valid ICD10 code or N/A"
    # valid ICD-10 code and N/A are clean
    assert ("demographic.csv", 2, "Other_Comorbidity") not in got
    assert ("demographic.csv", 3, "Other_Comorbidity") not in got

    # cross-sheet: 14_000009 exists only in biospecimen
    assert got[("Cross_Participant_ID.csv", -10, "Research_Participant_ID")][1] \
        == "ID is found in Biospecimen, but is missing from Prior_Clinical_Test and Demographic"

    # count reconciliation: declared 2 but 3 distinct passing participants
    recon = [v for k, v in got.items() if k[1] == -5]
    assert len(recon) == 1 and "IDS are valid" in recon[0][1]

    # header catalog: demographic is missing many expected columns
    col_errs = {(sheet, col): msg
                for _mt, sheet, col, msg in res.column_finding_rows}
    assert ("demographic.csv", "Gender") in col_errs
    assert col_errs[("demographic.csv", "Gender")] \
        == "This Column is Expected and is missing from CSV File"

    # summary pivot is consistent with the findings table
    summary = {r["CSV_Sheet_Name"]: (r["Errors"], r["Warnings"])
               for r in findings_summary(res.findings).collect()}
    n_demo = sum(1 for k in got if k[0] == "demographic.csv")
    assert summary["demographic.csv"][0] == n_demo
