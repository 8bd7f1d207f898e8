"""Synthetic SeroNet submission derived from the driver's testdata tables.

The full-rulebook driver query (``rulebook_full``) needs a submission whose
sheets exercise every dispatch branch of ``plans/rulebook.py`` AND whose
construction is reproducible in DuckDB for the oracle. Each sheet is a
``SheetFixture``: a base testdata table plus per-column value expressions
written in the SQL subset Spark SQL and DuckDB share (CASE/%/``||``/lpad/
CAST AS STRING). The Spark side materializes it with ``selectExpr``; the
oracle embeds the same strings in a CTE — the two engines read the same
bytes, so the fixture cannot drift.

Value-domain contract (parity with ``functions/checks.py``'s SQL mirrors):
- date-like values are zero-padded ISO (``yyyy-MM-dd``) or bare
  ``HH:MM:SS`` times — the domain where Spark's ``_TS_FORMATS`` and
  DuckDB's TIMESTAMP/TIME casts agree;
- no ``NaN``/``Infinity``/scientific-notation numerics;
- time strings never appear in Date-checked columns (Spark would parse
  ``HH:mm:ss`` to 1970-01-01 and range-flag it; DuckDB would not).

Violations are planted with modular arithmetic on the sheet's key so every
check class fires deterministically at any scale factor. CBC code: ``14``;
``today`` is pinned (``FIXED_TODAY``) so findings don't depend on run date.

Reference shapes: sheet roster ``nci-seronet-data-validator.py:25-31``;
column sets per ``Validation_Rules.py`` (see FIXTURES.md §A).
"""

from __future__ import annotations

import datetime

from pyspark.sql import DataFrame, SparkSession
from dataclasses import dataclass, field

from nci_seronet_proc_data_validator_spark.operators.typing import (
    with_typed_shadows,
)
from nci_seronet_proc_data_validator_spark.sources.readers import read_table

FIXED_TODAY = datetime.date(2026, 1, 1)
CBC_ID = "14"

# Valid ICD-10-ish dictionary: 100 dot-free codes A000..A099, derivable
# from `part` at every SF (p_partkey covers 1..200 even at sf0.001).
ICD10_CODE_EXPR = "'A' || lpad(CAST(p_partkey % 100 AS STRING), 3, '0')"
ICD10_DICT_SQL = f"SELECT DISTINCT {ICD10_CODE_EXPR} AS code FROM part"


def icd10_dict_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same dictionary as a DataFrame (same expression bytes)."""
    return (read_table(spark, sf_dir, "part")
            .selectExpr(f"{ICD10_CODE_EXPR} AS code"))


@dataclass(frozen=True)
class SheetFixture:
    sheet: str                      # CSV_Sheet_Name
    base: str                       # testdata table
    key: str                        # integer key expr (shared dialect)
    columns: dict[str, str] = field(default_factory=dict)  # col -> expr
    drop_list: tuple[str, ...] = ()  # enrichment columns, exempt from rules
    # extra DuckDB-only select items for the oracle CTE ("expr AS name") —
    # columns the Spark side derives with a join (e.g. the ICD-10 flag)
    oracle_extras: tuple[str, ...] = ()
    # True iff ``key`` is unique per base row IN THIS TESTDATA (base-table
    # PKs are; lineitem's (l_orderkey, l_linenumber) is NOT — the synthetic
    # generator emits duplicate pairs). Consumers that skip the global
    # findings dedup for provably collision-free sheets key off this.
    key_unique: bool = True


def _cyc(k: str, vals: list[str]) -> str:
    """Cycle deterministically through ``vals`` by key modulo."""
    branches = " ".join(f"WHEN {i} THEN '{v}'" for i, v in enumerate(vals))
    return f"CASE ({k}) % {len(vals)} {branches} END"


def _plant(k: str, base: str, *plants: tuple[int, str]) -> str:
    """Override ``base`` where k %% m == 0, first match wins."""
    whens = " ".join(f"WHEN ({k}) % {m} = 0 THEN {lit}" for m, lit in plants)
    return f"CASE {whens} ELSE {base} END"


def _num(k: str, mod: int, offset: int = 0) -> str:
    return f"CAST(({k}) % {mod} + {offset} AS STRING)"


def _date(k: str) -> str:
    """A valid zero-padded ISO date in 2020."""
    return (f"'2020-' || lpad(CAST(({k}) % 12 + 1 AS STRING), 2, '0')"
            f" || '-' || lpad(CAST(({k}) % 28 + 1 AS STRING), 2, '0')")


def _time(k: str) -> str:
    return (f"lpad(CAST(({k}) % 24 AS STRING), 2, '0') || ':'"
            f" || lpad(CAST(({k}) % 60 AS STRING), 2, '0') || ':00'")


def _rpid(k: str) -> str:
    return f"'14_' || lpad(CAST(({k}) % 1000000 AS STRING), 6, '0')"


_SARS = "SARS_CoV_2_PCR_Test_Result"


def _sars(k: str) -> str:
    return _plant(k, _cyc(k, ["Positive", "Negative"]),
                  (41, "'Maybe'"), (59, "''"))


def _yn_trio(k: str) -> str:
    """Current_*_infection / On_HAART_Therapy style values."""
    return _plant(k, _cyc(k, ["Yes", "No", "Unknown", "N/A"]),
                  (29, "'Perhaps'"), (61, "''"))


def _duration(k: str) -> str:
    """Paired with a _yn_trio current column cycling on k % 4 (0 = Yes)."""
    yes_case = _plant(k, _num(k, 300), (11, "'3.5'"), (13, "'400'"),
                      (17, "'N/A'"))
    other = _plant(k, "'N/A'", (19, "'7'"))
    return (f"CASE WHEN ({k}) % 23 = 0 THEN '' WHEN ({k}) % 4 = 0"
            f" THEN {yes_case} ELSE {other} END")


def _unit(k: str) -> str:
    return _plant(k, _cyc(k, ["Day", "Month", "Year", "N/A"]),
                  (31, "'Fortnight'"), (67, "''"))


def _string_col(k: str) -> str:
    """Mostly clean strings; plant a number, a date, and a blank."""
    return _plant(k, f"'site ' || CAST(({k}) % 50 AS STRING)",
                  (37, "'123'"), (43, "'2020-01-01'"), (53, "''"))


def _float_col(k: str, mod: int = 500) -> str:
    return _plant(k, _num(k, mod),
                  (27, "'-4'"), (39, "'oops'"), (49, "'N/A'"), (57, "''"))


PRIOR = SheetFixture(
    sheet="prior_clinical_test.csv", base="customer", key="c_custkey",
    columns={
        "Research_Participant_ID": _plant(
            "c_custkey", _rpid("c_custkey"),
            (53, "''"), (97, "'BAD_ID!'"),
            (89, "'99_' || lpad(CAST(c_custkey % 1000000 AS STRING), 6, '0')"),
            (101, "'14_000001'")),
        _SARS: _sars("c_custkey"),
        "SARS_CoV_2_PCR_Test_Result_Provenance": _plant(
            "c_custkey", _cyc("c_custkey",
                              ["From Medical Record", "Self-Reported"]),
            (43, "'Hearsay'"), (61, "''")),
        "Date_of_SARS_CoV_2_PCR_sample_collection": _plant(
            "c_custkey", _date("c_custkey"),
            (37, "'1890-01-01'"), (47, "'2030-01-01'"),
            (67, "'not a date'"), (71, "''")),
        "CMV_Test_Result": _plant(
            "c_custkey", _cyc("c_custkey", ["Positive", "Negative",
                                            "Equivocal", "Not Performed"]),
            (31, "'N/A'"), (83, "'Wrong'"), (73, "''")),
        "CMV_Test_Result_Provenance": _plant(
            "c_custkey", _cyc("c_custkey", ["Self-Reported",
                                            "From Medical Record", "N/A"]),
            (79, "'Gossip'"), (103, "''")),
        "Date_of_CMV_Test": _plant(
            "c_custkey", _date("c_custkey"),
            (21, "'N/A'"), (55, "'1890-02-02'"), (107, "'garbage'"),
            (109, "''")),
        "Seasonal_Coronavirus_Serology_Result": _plant(
            "c_custkey", _cyc("c_custkey", ["Positive", "Negative",
                                            "Equivocal", "Not Performed"]),
            (33, "'N/A'"), (87, "'Huh'"), (113, "''")),
        "Current_HIV_infection": _yn_trio("c_custkey"),
        "Duration_of_HIV_infection": _duration("c_custkey"),
        "Duration_of_HIV_infection_unit": _unit("c_custkey"),
        "On_HAART_Therapy": _yn_trio("c_custkey + 1"),
        "Duration_of_HAART_Therapy": _duration("c_custkey + 1"),
        "Duration_of_HAART_Therapy_unit": _unit("c_custkey + 1"),
    })

_COMORBID = _plant("c_custkey", _cyc("c_custkey", ["Yes", "No"]),
                   (35, "'Unknown'"), (77, "''"))

DEMOGRAPHIC = SheetFixture(
    sheet="demographic.csv", base="customer", key="c_custkey",
    drop_list=(_SARS,),
    # Spark derives this flag with the broadcast icd10_flag_join (dot-
    # normalized membership); the oracle computes the same flag inline.
    oracle_extras=(
        "(replace(Other_Comorbidity, '.', '') IN "
        "(SELECT replace(code, '.', '') FROM icd10_dict)) "
        "AS Other_Comorbidity__icd10_valid",),
    columns={
        "Research_Participant_ID": _plant(
            "c_custkey", _rpid("c_custkey"),
            (53, "''"), (97, "'BAD_ID!'"), (101, "'14_000002'")),
        _SARS: _sars("c_custkey"),
        "Age": _plant("c_custkey", _num("c_custkey", 90, 18),
                      (23, "'250'"), (29, "'17.5'"), (31, "'abc'"),
                      (59, "''")),
        "Race": _plant("c_custkey",
                       _cyc("c_custkey", ["White", "Asian", "Other",
                                          "Multirace", "Unknown"]),
                       (37, "'Martian'"), (61, "''")),
        "Ethnicity": _plant(
            "c_custkey", _cyc("c_custkey", ["Hispanic or Latino",
                                            "Not Hispanic or Latino"]),
            (43, "'Unsure'"), (67, "''")),
        "Gender": _plant("c_custkey",
                         _cyc("c_custkey", ["Male", "Female", "Other"]),
                         (47, "'Robot'"), (71, "''")),
        "Is_Symptomatic": _plant(
            "c_custkey", _cyc("c_custkey", ["Yes", "No"]),
            (39, "'N/A'"), (73, "''")),
        "Date_of_Symptom_Onset": _plant(
            "c_custkey", "CASE WHEN c_custkey % 2 = 0 THEN "
            + _date("c_custkey") + " ELSE 'N/A' END",
            (49, "'bad date'"), (79, "''")),
        "Symptoms_Resolved": _plant(
            "c_custkey", "CASE WHEN c_custkey % 2 = 0 THEN 'Yes'"
            " ELSE 'N/A' END",
            (51, "'Maybe'"), (83, "''")),
        "Date_of_Symptom_Resolution": _plant(
            "c_custkey", "CASE WHEN c_custkey % 2 = 0 THEN "
            + _date("c_custkey + 3") + " ELSE 'N/A' END",
            (63, "'2031-01-01'"), (87, "''")),
        "Covid_Disease_Severity": (
            "CASE WHEN c_custkey % 2 = 0 THEN "
            + _plant("c_custkey", _num("c_custkey", 8, 1),
                     (21, "'9'"), (33, "'2.5'"), (69, "''"))
            + " ELSE " + _plant("c_custkey", "'0'", (25, "'3'"), (91, "''"))
            + " END"),
        "Diabetes_Mellitus": _COMORBID,
        "Hypertension": _plant("c_custkey + 1",
                               _cyc("c_custkey + 1", ["Yes", "No"]),
                               (35, "'Often'"), (77, "''")),
        "Autoimmune_condition": _plant("c_custkey + 2",
                                       _cyc("c_custkey + 2", ["Yes", "No"]),
                                       (35, "'N/A'"), (77, "''")),
        "Other_Comorbidity": _plant(
            "c_custkey",
            "'A' || lpad(CAST(c_custkey % 100 AS STRING), 3, '0')",
            (19, "'N/A'"), (45, "'ZZZ9'"), (85, "'42'"), (93, "''")),
    })

_BIO_K = "o_orderkey"
_PHYS_LIVE = _plant(_BIO_K, f"CAST(({_BIO_K}) % 20 AS STRING)",
                    (27, "'25'"), (63, "'N/A'"), (81, "''"))
_PHYS_VIAB = (f"CASE WHEN ({_BIO_K}) % 81 = 0 THEN '' ELSE "
              f"CAST((({_BIO_K}) % 20) * 5 AS STRING) ||"
              f" CASE WHEN ({_BIO_K}) % 7 = 1 THEN '.5' ELSE '' END END")

BIOSPECIMEN = SheetFixture(
    sheet="biospecimen.csv", base="orders", key=_BIO_K,
    drop_list=(_SARS,),
    columns={
        "Research_Participant_ID": _rpid("o_custkey"),
        "Biospecimen_ID": _plant(
            _BIO_K,
            _rpid("o_custkey")
            + f" || '_' || lpad(CAST(({_BIO_K}) % 1000 AS STRING), 3, '0')",
            (53, "''"), (97, "'BAD_BIO'"),
            (73, _rpid("o_custkey + 1")
             + f" || '_' || lpad(CAST(({_BIO_K}) % 1000 AS STRING), 3, '0')"),
            (103, "'14_000001_001'")),
        _SARS: _sars(_BIO_K),
        "Biospecimen_Group": _plant(
            _BIO_K, f"CASE WHEN ({_BIO_K}) % 2 = 0 THEN 'Positive Sample'"
            " ELSE 'Negative Sample' END",
            (35, "'Mystery Sample'"), (69, "''")),
        "Biospecimen_Type": _plant(
            _BIO_K, _cyc(_BIO_K, ["Serum", "EDTA Plasma", "PBMC", "Saliva",
                                  "Nasal swab"]),
            (37, "'Hair'"), (71, "''")),
        "Initial_Volume_of_Biospecimen": _float_col(_BIO_K),
        "Biospecimen_Collection_Company_Clinic": _string_col(_BIO_K),
        "Biospecimen_Processing_Initials": _plant(
            _BIO_K, "'AB'", (41, "'77'"), (67, "''")),
        "Collection_Tube_Type": _string_col(f"{_BIO_K} + 1"),
        "Collection_Tube_Type_Lot_Number": _plant(
            _BIO_K, f"'LOT-' || CAST(({_BIO_K}) % 40 AS STRING)",
            (43, "'2021-05-05'"), (61, "''")),
        "Collection_Tube_Type_Expiration_Date": _plant(
            _BIO_K, "'2027-03-04'",
            (23, "'2024-01-01'"), (47, "'junk'"), (83, "''")),
        "Date_of_Sample_Collection": _plant(
            _BIO_K, _date(_BIO_K),
            (29, "'1890-01-01'"), (49, "'2030-12-31'"), (77, "'nope'"),
            (87, "''")),
        "Time_of_Sample_Collection": _plant(
            _BIO_K, _time(_BIO_K), (31, "'99:99:99'"), (79, "'noonish'"),
            (89, "''")),
        "Storage_Time_at_2_8": _plant(
            _BIO_K, f"CAST(({_BIO_K}) % 4 * 250 AS STRING)",
            (33, "'1500'"), (51, "'N/A'"), (91, "''")),
        "Storage_Start_Time_at_2_8": _plant(
            _BIO_K, _date(f"{_BIO_K} + 5"), (39, "'N/A'"), (93, "''")),
        "Storage_End_Time_at_2_8": _plant(
            _BIO_K, _date(f"{_BIO_K} + 6"), (39, "'N/A'"), (101, "''")),
        "Storage_Start_Time_at_2_8_Initials": _plant(
            _BIO_K, "'CD'", (57, "'N/A'"), (107, "''")),
        "Storage_End_Time_at_2_8_Initials": _plant(
            _BIO_K, "'EF'", (57, "'8'"), (109, "''")),
        "Final_Concentration_of_Biospecimen": _float_col(f"{_BIO_K} + 2"),
        "Live_Cells_Hemocytometer_Count": _PHYS_LIVE,
        "Total_Cells_Hemocytometer_Count": _plant(
            _BIO_K, "'20'", (65, "'N/A'"), (111, "''")),
        "Viability_Hemocytometer_Count": _PHYS_VIAB,
        "Live_Cells_Automated_Count": _PHYS_LIVE,
        "Total_Cells_Automated_Count": _plant(
            _BIO_K, "'20'", (65, "'N/A'"), (113, "''")),
        "Viability_Automated_Count": _PHYS_VIAB,
        "Centrifugation_Time": _float_col(f"{_BIO_K} + 3", mod=90),
        "RT_Serum_Clotting_Time": _float_col(f"{_BIO_K} + 4", mod=60),
        "Storage_Start_Time_80_LN2_storage": _plant(
            _BIO_K, _time(f"{_BIO_K} + 7"), (45, "'sometime'"), (95, "''")),
    })

_ALI_K = "l_orderkey * 8 + l_linenumber"
_ALI_BIO = (_rpid("l_suppkey")
            + " || '_' || lpad(CAST(l_partkey % 1000 AS STRING), 3, '0')")

ALIQUOT = SheetFixture(
    sheet="aliquot.csv", base="lineitem", key=_ALI_K,
    columns={
        "Biospecimen_ID": _plant(_ALI_K, _ALI_BIO, (53, "''"),
                                 (97, "'NOT_AN_ID'")),
        "Aliquot_ID": _plant(
            _ALI_K,
            _ALI_BIO + f" || '_' || lpad(CAST(({_ALI_K}) % 100 AS STRING)"
                       ", 2, '0')",
            (59, "''"), (89, "'BAD_ALIQUOT'"),
            (73, _rpid("l_suppkey + 1")
             + " || '_' || lpad(CAST(l_partkey % 1000 AS STRING), 3, '0')"
               " || '_01'"),
            (1009, "'14_000001_001_01'")),
        "Aliquot_Volume": _float_col(_ALI_K),
        "Aliquot_Concentration": _string_col(f"{_ALI_K} + 1"),
    },
    # l_linenumber ∈ 1..7 would make l_orderkey*8+l_linenumber a PK on
    # real TPC-H, but this synthetic lineitem contains duplicate
    # (l_orderkey, l_linenumber) pairs — aliquot row_index collides.
    key_unique=False)

EQUIPMENT = SheetFixture(
    sheet="equipment.csv", base="supplier", key="s_suppkey",
    drop_list=("Biospecimen_Type",),
    columns={
        "Biospecimen_ID": _plant(
            "s_suppkey",
            _rpid("s_suppkey")
            + " || '_' || lpad(CAST(s_suppkey % 1000 AS STRING), 3, '0')",
            (19, "''"), (23, "'XYZ'")),
        "Biospecimen_Type": _cyc("s_suppkey", ["PBMC", "Serum", "Saliva"]),
        "Equipment_ID": _plant("s_suppkey",
                               "'EQ-' || CAST(s_suppkey % 30 AS STRING)",
                               (11, "'42'"), (29, "''")),
        "Equipment_Type": _plant(
            "s_suppkey", _cyc("s_suppkey", ["Refrigerator", "Pipettor",
                                            "-80 Refrigerator"]),
            (7, "'Toaster'"), (31, "''")),
        "Equipment_Calibration_Due_Date": _plant(
            "s_suppkey", "'2027-06-07'",
            (5, "'2023-02-03'"), (13, "'whenever'"), (37, "''")),
        "Equipment_Lot_Number": _plant(
            "s_suppkey", "'LN-' || CAST(s_suppkey % 9 AS STRING)",
            (17, "'2020-03-03'"), (41, "''")),
    })

REAGENT = SheetFixture(
    sheet="reagent.csv", base="part", key="p_partkey",
    drop_list=("Biospecimen_Type",),
    columns={
        "Biospecimen_ID": _plant(
            "p_partkey",
            _rpid("p_partkey")
            + " || '_' || lpad(CAST(p_partkey % 1000 AS STRING), 3, '0')",
            (53, "''"), (97, "'R?'")),
        "Biospecimen_Type": _cyc("p_partkey", ["PBMC", "EDTA Plasma"]),
        "Reagent_Name": _plant(
            "p_partkey", _cyc("p_partkey", ["DPBS", "RPMI-1640", "DMSO",
                                            "Fetal Bovine Serum"]),
            (37, "'Mystery Juice'"), (59, "''")),
        "Reagent_Lot_Number": _plant(
            "p_partkey", "'RL-' || CAST(p_partkey % 11 AS STRING)",
            (43, "'17'"), (61, "''")),
        "Reagent_Expiration_Date": _plant(
            "p_partkey", "'2028-01-02'",
            (23, "'2025-12-31'"), (47, "'stale'"), (67, "''")),
    })

CONSUMABLE = SheetFixture(
    sheet="consumable.csv", base="supplier", key="s_suppkey + 3",
    drop_list=("Biospecimen_Type",),
    columns={
        "Biospecimen_ID": _plant(
            "s_suppkey",
            _rpid("s_suppkey + 2")
            + " || '_' || lpad(CAST(s_suppkey % 1000 AS STRING), 3, '0')",
            (43, "''"), (47, "'C!'")),
        "Biospecimen_Type": _cyc("s_suppkey + 1", ["PBMC", "Nasal swab"]),
        "Consumable_Name": _plant(
            "s_suppkey", _cyc("s_suppkey", ["50 mL Polypropylene Tube",
                                            "15 mL Conical Tube",
                                            "Cryovial Label"]),
            (7, "'Paper Towel'"), (31, "''")),
        "Consumable_Catalog_Number": _plant(
            "s_suppkey", "'CAT-' || CAST(s_suppkey % 13 AS STRING)",
            (11, "'1999-09-09'"), (29, "''")),
        "Consumable_Expiration_Date": _plant(
            "s_suppkey", "'2029-04-05'",
            (5, "'2022-11-12'"), (13, "'n/a soonish'"), (37, "''")),
    })

_CONF_K = "o_orderkey"

CONFIRMATORY = SheetFixture(
    sheet="confirmatory_clinical_test.csv", base="orders", key=_CONF_K,
    drop_list=("Assay_Name", "Assay_Antigen_Source"),
    columns={
        "Research_Participant_ID": _plant(
            _CONF_K, _rpid("o_custkey"), (53, "''"), (97, "'P-BAD'")),
        "Assay_ID": _plant(
            _CONF_K,
            "'14_' || lpad(CAST(o_custkey % 1000 AS STRING), 3, '0')",
            (59, "''"), (89, "'A-BAD'"),
            (101, "'77_' || lpad(CAST(o_custkey % 1000 AS STRING), 3, '0')")),
        "Assay_Name": (f"CASE WHEN ({_CONF_K}) % 31 = 0 THEN NULL"
                       " ELSE 'Anti-SARS IgG ELISA' END"),
        "Assay_Target": _plant(_CONF_K, "'Spike'", (61, "''")),
        "Assay_Antigen_Source": (f"CASE WHEN ({_CONF_K}) % 37 = 0 THEN NULL"
                                 " ELSE 'Manufacturer' END"),
        "Instrument_ID": _plant(_CONF_K,
                                f"'INST-' || CAST(({_CONF_K}) % 8 AS STRING)",
                                (41, "'8'"), (67, "''")),
        "Test_Operator_Initials": _plant(_CONF_K, "'GH'", (43, "'1955-04-04'"),
                                         (71, "''")),
        "Assay_Kit_Lot_Number": _plant(
            _CONF_K, f"'KIT-' || CAST(({_CONF_K}) % 14 AS STRING)",
            (47, "'66'"), (73, "''")),
        "Date_of_Test": _plant(
            _CONF_K, _date(_CONF_K),
            (29, "'1889-12-31'"), (49, "'2030-06-06'"), (77, "'never'"),
            (79, "''")),
        "Time_of_Test": _plant(_CONF_K, _time(f"{_CONF_K} + 2"),
                               (33, "'25:61:00'"), (81, "''")),
        "Measurand_Antibody": _plant(_CONF_K, "'IgG'", (51, "'3'"),
                                     (83, "''")),
        "Interpretation": _plant(_CONF_K, "'Reactive'", (57, "'2020-10-10'"),
                                 (87, "''")),
        "Assay_Target_Sub_Region": _plant(_CONF_K, "'RBD'", (63, "'9'"),
                                          (91, "''")),
        "Assay_Replicate": _plant(_CONF_K, _num(_CONF_K, 3, 1),
                                  (21, "'300'"), (35, "'1.5'"), (69, "''")),
        "Sample_Dilution": _plant(_CONF_K, _num(f"{_CONF_K} + 1", 100),
                                  (25, "'250'"), (39, "'x'"), (93, "''")),
        "Derived_Result": _float_col(f"{_CONF_K} + 1"),
        "Raw_Result": _float_col(f"{_CONF_K} + 2"),
        "Positive_Control_Reading": _float_col(f"{_CONF_K} + 3"),
        "Negative_Control_Reading": _float_col(f"{_CONF_K} + 4"),
        "Derived_Result_Units": _plant(
            _CONF_K, _cyc(_CONF_K, ["AU/mL", "N/A"]), (45, "'5'"),
            (95, "''")),
        "Raw_Result_Units": _plant(
            _CONF_K, _cyc(f"{_CONF_K} + 1", ["OD", "N/A"]), (45, "'6'"),
            (99, "''")),
        "Sample_Type": _plant(
            _CONF_K, _cyc(_CONF_K, ["Serum", "Plasma", "Nasal Swab",
                                    "Sputum"]),
            (55, "'Tears'"), (103, "''")),
    })

_ASSAY_STR = ("CASE WHEN s_suppkey % 9 = 0 THEN '44'"
              " WHEN s_suppkey % 21 = 0 THEN ''"
              " ELSE 'text ' || CAST(s_suppkey % 5 AS STRING) END")

ASSAY = SheetFixture(
    sheet="assay.csv", base="supplier", key="s_suppkey",
    columns={
        # Small moduli: supplier is only 10 rows at sf0.001 and every
        # violation class (incl. the duplicate) must fire there too.
        "Assay_ID": _plant(
            "s_suppkey",
            "'14_' || lpad(CAST(s_suppkey % 1000 AS STRING), 3, '0')",
            (9, "''"), (7, "'NOPE'"),
            (5, "'88_' || lpad(CAST(s_suppkey % 1000 AS STRING), 3, '0')"),
            (3, "'14_001'")),
        "Assay_Name": _plant("s_suppkey", "'ELISA v' ||"
                             " CAST(s_suppkey % 4 AS STRING)",
                             (11, "'7'"), (41, "''")),
        "Technology_Type": _ASSAY_STR,
        "Assay_Manufacturer": _ASSAY_STR,
        "Target_Organism": _ASSAY_STR,
        "EUA_Status": _plant(
            "s_suppkey", _cyc("s_suppkey", ["Approved", "Submitted",
                                            "Not Submitted", "N/A"]),
            (7, "'Pending'"), (13, "''")),
        "Assay_Multiplicity": _plant(
            "s_suppkey", _cyc("s_suppkey", ["Multiplex", "Singleplex"]),
            (17, "'Duplex'"), (37, "''")),
        "Assay_Control_Type": _plant(
            "s_suppkey", _cyc("s_suppkey", ["Internal", "External",
                                            "Internal and External", "N/A"]),
            (43, "'Cosmic'"), (47, "''")),
        "Measurand_Antibody_Type": _plant(
            "s_suppkey", _cyc("s_suppkey", ["IgG", "IgM", "IgA", "Total"]),
            (53, "'IgZ'"), (59, "''")),
        "Assay_Result_Type": _plant(
            "s_suppkey", _cyc("s_suppkey", ["Qualitative", "Quantitative",
                                            "Semi-Quantitative"]),
            (61, "'Vibes'"), (67, "''")),
        "Peformance_Statistics_Source": _plant(
            "s_suppkey", _cyc("s_suppkey", ["Manufacturer", "In-house"]),
            (71, "'Rumor'"), (73, "''")),
        "Assay_Antigen_Source": _plant(
            "s_suppkey", _cyc("s_suppkey", ["Manufacturer", "In-house",
                                            "N/A"]),
            (79, "'Nature'"), (83, "''")),
        "Target_biospecimen_is_Serum": _plant(
            "s_suppkey", _cyc("s_suppkey", ["T", "F"]), (89, "'Y'"),
            (97, "''")),
        "Target_biospecimen_is_Plasma": _plant(
            "s_suppkey + 1", _cyc("s_suppkey + 1", ["T", "F"]), (89, "'0'"),
            (97, "''")),
        "Postive_Control": _ASSAY_STR,
        "Negative_Control": _ASSAY_STR,
        "Calibration_Type": _ASSAY_STR,
        "Calibrator_High_or_Positive": _ASSAY_STR,
        "Calibrator_Low_or_Negative": _ASSAY_STR,
        "Assay_Result_Unit": _ASSAY_STR,
        "Cut_Off_Unit": _ASSAY_STR,
        "Assay_Target": _ASSAY_STR,
        "Positive_Cut_Off_Threshold": _ASSAY_STR,
        "Negative_Cut_Off_Ceiling": _ASSAY_STR,
        "Assay_Target_Sub_Region": _ASSAY_STR,
        "N_true_positive": _plant("s_suppkey", _num("s_suppkey", 900),
                                  (3, "'-5'"), (11, "'2.5'"), (27, "'x'"),
                                  (33, "''")),
        "N_true_negative": _plant("s_suppkey + 1", _num("s_suppkey + 1", 900),
                                  (3, "'-1'"), (11, "'0.5'"), (27, "'y'"),
                                  (33, "''")),
        "N_false_positive": _num("s_suppkey", 50),
        "N_false_negative": _num("s_suppkey + 1", 50),
    })

ASSAY_TARGET = SheetFixture(
    sheet="assay_target.csv", base="part", key="p_partkey",
    drop_list=("Assay_Name",),
    columns={
        "Assay_Name": ("CASE WHEN p_partkey % 41 = 0 THEN NULL"
                       " ELSE 'Anti-SARS IgG ELISA' END"),
        "Assay_ID": _plant(
            "p_partkey",
            "'14_' || lpad(CAST(p_partkey % 1000 AS STRING), 3, '0')",
            (53, "''"), (97, "'T-BAD'"),
            (101, "'55_' || lpad(CAST(p_partkey % 1000 AS STRING), 3, '0')")),
        "Assay_Target": _plant("p_partkey", "'Nucleocapsid'", (37, "'101'"),
                               (59, "''")),
        "Assay_Antigen_Source": _plant(
            "p_partkey", _cyc("p_partkey", ["Manufacturer", "In-house",
                                            "N/A"]),
            (43, "'Forest'"), (61, "''")),
        "Assay_Target_Sub_Region": _plant("p_partkey", "'NTD'", (47, "'12'"),
                                          (67, "''")),
    })

FIXTURE_SHEETS: list[SheetFixture] = [
    PRIOR, DEMOGRAPHIC, BIOSPECIMEN, ALIQUOT, EQUIPMENT, REAGENT,
    CONSUMABLE, CONFIRMATORY, ASSAY, ASSAY_TARGET,
]


def _table_data_size(sf_dir: str, base: str) -> int | None:
    """Bytes of data behind ``<sf_dir>/<base>.parquet`` — the input to
    the size-derived fixture spread (r13, guide §2.5).

    Spark-written tables are DIRECTORIES of part files; ``getsize`` on a
    directory returns the inode size (~4 KB), which silently collapsed
    the spread to 1 partition for every sheet on directory-layout data
    (caught by an sf1 A/B: rulebook_full 42.6 -> 49.0 s best). Sum the
    data files instead; None = unknown (caller keeps its full spread).
    """
    import os as _os
    try:
        p = _os.path.join(sf_dir, f"{base}.parquet")
        if _os.path.isdir(p):
            return sum(e.stat().st_size for e in _os.scandir(p)
                       if e.is_file()
                       and not e.name.startswith(("_", ".")))
        return _os.path.getsize(p)
    except OSError:
        return None


def fixture_sheet_df(spark: SparkSession, sf_dir: str, spec: SheetFixture,
                     spread_partitions: int | None = None,
                     persist: bool = False) -> DataFrame:
    """Materialize one fixture sheet in Spark (with typed shadows).

    ``spread_partitions``: local testdata is ONE parquet file with ~3 row
    groups, so the downstream findings projection (the expensive part —
    hundreds of compiled checks) would run on ≤3 tasks. A narrow
    round-robin repartition of the RAW base columns spreads it across
    cores. On a real cluster the input is already split into many files
    and this should be left ``None`` — the scan parallelism is the file
    split count and the findings pass stays map-only.

    ``persist``: cache the casted base (BEFORE the shadow projection).
    The rulebook consumes each sheet several times — the findings pass,
    one pass per duplicate-ID column, and the cross-sheet ID spines — and
    without a cache every pass re-runs the scan + repartition + casts.
    Caching pre-shadow keeps the cached footprint narrow; each consumer
    computes only the shadows Catalyst doesn't prune for it. Callers own
    the unpersist (or rely on LRU eviction — the cast base is a slim
    string projection of the source).
    """
    base = read_table(spark, sf_dir, spec.base)
    if spread_partitions:
        # Size-derived spread (r13, guide §2.5): a blanket
        # repartition(cpus) pays an exchange + a 32-way cache for every
        # sheet, but half the fixture bases are tiny (supplier 22 KB,
        # part 180 KB at sf0.1) and their whole rule pass is cheaper
        # than the shuffle it buys. Scale the target to the input size
        # (~1 partition per 64 KB of parquet — raw expansion plus the
        # per-row rule work make that a conservatively small chunk),
        # capped at the caller's cpus; 1 partition → no repartition at
        # all. On a real cluster the caller passes None and scan
        # parallelism is the file split count.
        sz = _table_data_size(sf_dir, spec.base)
        n = (spread_partitions if sz is None
             else min(spread_partitions, max(1, sz // 65536)))
        if n > 1:
            base = base.repartition(n)
    exprs = [f"CAST({spec.key} AS LONG) AS row_index"]
    exprs += [f"CAST({e} AS STRING) AS {c}" for c, e in spec.columns.items()]
    df = base.selectExpr(*exprs)
    if persist:
        df = df.persist()
    return with_typed_shadows(
        df, [c for c in spec.columns if c not in spec.drop_list])


def fixture_sheet_cte(spec: SheetFixture) -> str:
    """The same sheet as a DuckDB CTE body (identical value expressions),
    plus the typed shadows (``operators/typing.duckdb_shadow_exprs``) the
    check templates reference, plus any oracle-only extras (join-derived
    flags the Spark side computes with icd10_flag_join)."""
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        duckdb_shadow_exprs,
    )
    exprs = [f"CAST({spec.key} AS BIGINT) AS row_index"]
    exprs += [f"CAST({e} AS STRING) AS {c}" for c, e in spec.columns.items()]
    inner = f"SELECT {', '.join(exprs)} FROM {spec.base}"
    shadows = duckdb_shadow_exprs(
        [c for c in spec.columns if c not in spec.drop_list])
    outer = ["*", *shadows, *spec.oracle_extras]
    return f"SELECT {', '.join(outer)} FROM ({inner})"


def cte_name(spec: SheetFixture) -> str:
    return spec.sheet.replace(".csv", "") + "_fx"
