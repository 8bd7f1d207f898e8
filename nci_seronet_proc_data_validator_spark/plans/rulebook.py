"""The SeroNet rulebook — declarative port of ``Validation_Rules.py``.

Dispatch model (reference ``Validation_Rules.py:1-36``): for each column of
a sheet, run the ID rules (``check_ID_validation``, :46-74), then the
per-sheet rule function, then the cross-column physics checks (:23-26), then
the missing-value pass (:30) gated on any rule having matched. Column-name
matching mixes exact lists and substring patterns (``'Date_of' in
header_name``), which this port preserves.

Each binder returns the checks as ``CheckExpr`` lists (compiled Column
algebra, ``functions/checks.py``) so the whole sheet evaluates in one scan
(``plans/rules.py``). Aggregation- and join-shaped checks (duplicate IDs,
assay resolution, ICD-10) are surfaced as metadata on the binding result
for the orchestrator to wire (they need a shuffle or a broadcast join).

Reference bugs NOT reproduced (SURVEY.md §2.9): the dead
``check_if_substr`` dispatch (Validation_Rules.py:55-56, 62-63 — condition
provably False) is implemented the way it was evidently intended: on
``Biospecimen_ID`` columns when ``Research_Participant_ID`` is also present
(and ``Aliquot_ID``/``Biospecimen_ID`` respectively). Set
``fix_reference_bugs=False`` to reproduce the reference exactly.

Additional dead branch implemented as intended: the reference's
``Storage_Start/End_Time_at_2_8_Initials`` rules (Validation_Rules.py:183-185)
are unreachable — those names match the earlier ``'Initials'`` substring
branch (:172) first. With ``fix_reference_bugs=True`` (default) we dispatch
them to the dependency-scoped rules the rulebook clearly intended
(excluding ``Storage*`` from the substring branch); with ``False`` they hit
the substring branch's unconditional ``check_if_string``, reproducing the
reference exactly.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field

from nci_seronet_proc_data_validator_spark.functions.checks import (
    CheckExpr,
    Dependency,
    assay_special,
    check_date,
    check_icd10,
    check_id_field,
    check_if_number,
    check_if_string,
    check_if_substr,
    check_in_list,
    get_missing_values,
    compare_total_to_live,
    compare_viability,
)
from nci_seronet_proc_data_validator_spark.plans.rules import ColumnRules

SHEET_NAMES = [
    "submission.csv", "shipping_manifest.csv", "prior_clinical_test.csv",
    "demographic.csv", "biospecimen.csv", "aliquot.csv", "equipment.csv",
    "reagent.csv", "consumable.csv", "confirmatory_clinical_test.csv",
    "assay.csv", "assay_target.csv",
]

# Vocabularies (Validation_Rules.py, cited per list).
RACE = ['White', 'American Indian or Alaska Native',
        'Black or African American', 'Asian',
        'Native Hawaiian or Other Pacific Islander', 'Other', 'Multirace',
        'Not Reported', 'Unknown']                      # :123-124
ETHNICITY = ['Hispanic or Latino', 'Not Hispanic or Latino']    # :126
GENDER = ['Male', 'Female', 'Other', 'Not Reported', 'Unknown']  # :128
COMORBIDITIES = ["Diabetes_Mellitus", "Hypertension", "Severe_Obesity",
                 "Cardiovascular_Disease", "Chronic_Renal_Disease",
                 "Chronic_Liver_Disease", "Chronic_Lung_Disease",
                 "Immunosuppressive_conditions", "Autoimmune_condition",
                 "Inflammatory_Disease"]                # :150-151
BIOSPECIMEN_TYPES = ["Serum", "EDTA Plasma", "PBMC", "Saliva", "Nasal swab"]  # :166
EQUIPMENT_TYPES = ['Refrigerator', '-80 Refrigerator', 'LN Refrigerator',
                   'Microsope', 'Pipettor', 'Controlled-Rate Freezer',
                   'Automated-Cell Counter']            # :209
REAGENT_NAMES = ['DPBS', 'Ficoll-Hypaque', 'RPMI-1640', 'no L-Glutamine',
                 'Fetal Bovine Serum', '200 mM L-Glutamine', '1M Hepes',
                 'Penicillin/Streptomycin', 'DMSO', 'Cell Culture Grade',
                 'Vital Stain Dye']                     # :211-212
CONSUMABLE_NAMES = ["50 mL Polypropylene Tube", "15 mL Conical Tube",
                    "Cryovial Label"]                   # :214
SAMPLE_TYPES = ['Serum', 'Plasma', 'Venous Whole Blood', 'Dried Blood Spot',
                'Nasal Swab', 'Broncheolar Lavage', 'Sputum']  # :236
ASSAY_VOCABS = {                                        # :251-267
    "EUA_Status": ['Approved', 'Submitted', 'Not Submitted', 'N/A'],
    "Assay_Multiplicity": ['Multiplex', 'Singleplex'],
    "Assay_Control_Type": ['Internal', 'External', 'Internal and External', 'N/A'],
    "Measurand_Antibody_Type": ['IgG', 'IgM', 'IgA', 'IgG + IgM', 'Total', 'N/A'],
    "Assay_Result_Type": ['Qualitative', 'Quantitative', 'Semi-Quantitative'],
    "Peformance_Statistics_Source": ['Manufacturer', 'In-house'],
    "Assay_Antigen_Source": ['Manufacturer', 'In-house', 'N/A'],
}

SARS = "SARS_CoV_2_PCR_Test_Result"


@dataclass
class BoundSheet:
    """Result of binding the rulebook to one sheet's columns."""
    sheet: str
    column_rules: list[ColumnRules] = field(default_factory=list)
    # Columns needing the groupBy-count duplicate check (A1/C6).
    dup_id_columns: list[str] = field(default_factory=list)
    # Columns needing the ICD-10 broadcast-join flag (J8/C8).
    icd10_columns: list[str] = field(default_factory=list)
    # Columns with no rule — reference prints a console notice (:27-28).
    unmatched_columns: list[str] = field(default_factory=list)
    # Whether this sheet registers into Part_List / Bio_List (:32-35).
    registers_participants: bool = False
    registers_biospecimens: bool = False


def _icd10_flag(column: str) -> str:
    return column + "__icd10_valid"


def with_icd10_flags(df, bound: "BoundSheet", icd10_codes):
    """Attach the ``__icd10_valid`` flag columns the C8 checks read: the
    J8 broadcast join when a dictionary is given, FALSE otherwise (every
    non-N/A value then reports as unknown)."""
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.operators.joins import (
        icd10_flag_join)
    for c in bound.icd10_columns:
        df = (icd10_flag_join(df, c, icd10_codes, _icd10_flag(c))
              if icd10_codes is not None
              else df.withColumn(_icd10_flag(c), F.lit(False)))
    return df


#: (sheet, columns, cbc_id, drop_list, today, fix_bugs) → BoundSheet.
#: Bounded by the rulebook's own shape: ~10 sheet names × the distinct
#: (schema, cbc, date) combinations a session actually sees — entries
#: are a few KB of pure-Python rule objects, never DataFrames.
_BIND_CACHE: dict[tuple, "BoundSheet"] = {}


def bind_sheet_rules_cached(sheet: str, columns: list[str],
                            cbc_id: "str | PerRowCbc",
                            drop_list: list[str] | None = None,
                            today: "datetime.date | None" = None,
                            fix_reference_bugs: bool = True) -> "BoundSheet":
    """Memoized :func:`bind_sheet_rules` for hot per-submission paths.

    Binding + the downstream 459-check SQL render are pure CPU repeated
    verbatim for every submission that shares a sheet schema — the
    serial driver-build fraction that Amdahl-bounds concurrent
    multi-submission orchestration (BENCH_NOTES r10). The key includes
    everything the binding reads; ``today=None`` is resolved BEFORE
    keying so a long-lived session can't serve yesterday's expiration
    cutoffs after midnight.

    The returned ``BoundSheet`` is SHARED — callers must treat it as
    immutable (all in-repo callers only read it; the SQL render cache
    ``sheet_findings_sql_cached`` attaches lives on the instance and is
    itself keyed).
    """
    today = today or datetime.date.today()
    key = (sheet, tuple(columns), cbc_id, tuple(drop_list or []),
           today, fix_reference_bugs)
    got = _BIND_CACHE.get(key)
    if got is None:
        got = _BIND_CACHE[key] = bind_sheet_rules(
            sheet, columns, cbc_id, drop_list=drop_list, today=today,
            fix_reference_bugs=fix_reference_bugs)
    return got


def bind_sheet_rules(sheet: str, columns: list[str],
                     cbc_id: "str | PerRowCbc",
                     drop_list: list[str] | None = None,
                     today: datetime.date | None = None,
                     fix_reference_bugs: bool = True) -> BoundSheet:
    """Bind every rulebook rule matching (sheet, column) in dispatch order.

    ``drop_list`` — columns added by the enrichment joins (J1/J2), exempt
    from rules (Validation_Rules.py:5-6). ``cbc_id`` — the submission's
    2-digit lab code ('0' when unknown), or a
    :class:`~nci_seronet_proc_data_validator_spark.functions.checks.PerRowCbc`
    in batched multi-CBC mode (the C5 prefix check then renders as a CASE
    over the per-row CBC column; PerRowCbc is frozen/hashable so the bind
    cache keys one entry per (schema, distinct-CBC-set), not per
    submission).
    """
    drop_list = drop_list or []
    min_date = datetime.date(1900, 1, 1)
    max_date = today or datetime.date.today()
    far_future = datetime.date(3000, 1, 1)
    out = BoundSheet(sheet=sheet)

    for col in columns:
        if col in drop_list or col == "row_index":
            continue
        checks: list[CheckExpr] = []
        required = "Yes"
        found_id, found_sheet = True, True

        # ---- ID dispatch (check_ID_validation, Validation_Rules.py:46-74)
        if col == "Research_Participant_ID":
            checks += check_id_field(col, '[_]{1}[0-9]{6}$', cbc_id, "XX_XXXXXX")
            if sheet != "biospecimen.csv":
                out.dup_id_columns.append(col)
        elif col == "Biospecimen_ID":
            checks += check_id_field(col, '[_]{1}[0-9]{6}[_]{1}[0-9]{3}$',
                                     cbc_id, "XX_XXXXXX_XXX")
            if fix_reference_bugs and "Research_Participant_ID" in columns:
                # Dead branch in reference (:55-56); intended semantics.
                checks += check_if_substr(col, "Research_Participant_ID",
                                          "Biospecimen_ID")
            if sheet == "biospecimen.csv":
                out.dup_id_columns.append(col)
        elif col == "Aliquot_ID":
            checks += check_id_field(
                col, '[_]{1}[0-9]{6}[_]{1}[0-9]{3}[_]{1}[0-9]{2}$',
                cbc_id, "XX_XXXXXX_XXX_XX")
            if fix_reference_bugs and "Biospecimen_ID" in columns:
                # Dead branch in reference (:62-63); intended semantics.
                checks += check_if_substr(col, "Biospecimen_ID", "Aliquot_ID")
            out.dup_id_columns.append(col)
        elif col == "Assay_ID":
            checks += check_id_field(col, '[_]{1}[0-9]{3}$', cbc_id, "XX_XXX")
            checks += assay_special(col, "Assay_Name", col)
            if sheet == "assay.csv":
                out.dup_id_columns.append(col)
        else:
            found_id = False

        # ---- per-sheet dispatch
        sheet_checks, sheet_required, matched = _sheet_rules(
            sheet, col, min_date, max_date, far_future, out,
            fix_reference_bugs)
        checks += sheet_checks
        if matched:
            required = sheet_required
        found_sheet = matched

        # ---- cross-column physics (Validation_Rules.py:23-26)
        if col in ('Total_Cells_Hemocytometer_Count', 'Total_Cells_Automated_Count'):
            checks += compare_total_to_live(col)
        if col in ('Viability_Hemocytometer_Count', 'Viability_Automated_Count'):
            checks += compare_viability(col)

        if not (found_id or found_sheet):
            out.unmatched_columns.append(col)
        else:
            # Missing-value pass (:30), severity per requiredness.
            checks += get_missing_values(col, required)
        if checks:
            out.column_rules.append(ColumnRules(column=col, checks=checks))

    if ("Research_Participant_ID" in columns
            and "Research_Participant_ID" not in drop_list):
        out.registers_participants = True
    if "Biospecimen_ID" in columns and "Biospecimen_ID" not in drop_list:
        out.registers_biospecimens = True
    return out


def _sheet_rules(sheet: str, col: str, min_date, max_date, far_future,
                 out: BoundSheet, fix_reference_bugs: bool = True):
    """Returns (checks, required_column, matched) for the sheet dispatch."""
    if sheet == "prior_clinical_test.csv":
        return _prior_clinical(col, min_date, max_date)
    if sheet == "demographic.csv":
        return _demographic(col, min_date, max_date, out)
    if sheet == "biospecimen.csv":
        return _biospecimen(col, min_date, max_date, far_future,
                            fix_reference_bugs)
    if sheet in ("aliquot.csv", "equipment.csv", "reagent.csv",
                 "consumable.csv"):
        return _processing(col, max_date, far_future)
    if sheet == "confirmatory_clinical_test.csv":
        return _confirmatory(col, min_date, max_date)
    if sheet in ("assay.csv", "assay_target.csv"):
        return _assay(col)
    return [], "Yes", False


def _prior_clinical(col, min_date, max_date):
    """Validation_Rules.py:75-117."""
    req = "Yes"
    if col == 'SARS_CoV_2_PCR_Test_Result_Provenance':
        return check_in_list(col, ['From Medical Record', 'Self-Reported']), req, True
    if col == 'SARS_CoV_2_PCR_Test_Result':
        return check_in_list(col, ['Positive', 'Negative']), req, True
    if col == 'Date_of_SARS_CoV_2_PCR_sample_collection':
        return check_date(col, min_date, max_date, False, "Date"), req, True
    if 'Test_Result_Provenance' in col:
        return (check_in_list(col, ['Self-Reported', 'From Medical Record', 'N/A']),
                "Yes: SARS-Negative", True)
    if ('Date_of' in col) and ('Test' in col):
        return check_date(col, min_date, max_date, True, "Date"), "No", True
    if ('Test_Result' in col) or col in ("Seasonal_Coronavirus_Serology_Result",
                                         "Seasonal_Coronavirus_Molecular_Result"):
        pos = ['Positive', 'Negative', 'Equivocal', 'Not Performed', 'N/A']
        neg = ['Positive', 'Negative', 'Equivocal', 'Not Performed']
        return (check_in_list(col, pos, Dependency(SARS, ["Positive"]))
                + check_in_list(col, neg, Dependency(SARS, ["Negative"])),
                "Yes: SARS-Negative", True)
    if ('infection_unit' in col) or ('HAART_Therapy_unit' in col):
        duration = col.replace('_unit', '')
        return (check_in_list(col, ["Day", "Month", "Year"],
                              Dependency(duration, "Is A Number"))
                + check_in_list(col, ["N/A"], Dependency(duration, ["N/A"])),
                "No", True)
    if ('Duration_of' in col) and (('infection' in col) or ('HAART_Therapy' in col)):
        current = ('On_HAART_Therapy' if 'HAART_Therapy' in col
                   else col.replace('Duration_of', 'Current'))
        return (check_in_list(col, ["N/A"],
                              Dependency(current, ['No', 'Unknown', 'N/A']))
                + check_if_number(col, 0, 365, False, "int",
                                  Dependency(current, ['Yes'])),
                "No", True)
    if (('Current' in col) and ('infection' in col)) or col == "On_HAART_Therapy":
        return (check_in_list(col, ['Yes', 'No', 'Unknown', 'N/A'],
                              Dependency(SARS, ["Positive"]))
                + check_in_list(col, ['Yes', 'No', 'Unknown'],
                                Dependency(SARS, ["Negative"])),
                "Yes: SARS-Negative", True)
    return [], req, False


def _demographic(col, min_date, max_date, out: BoundSheet):
    """Validation_Rules.py:118-160."""
    req = "Yes"
    if col == 'Age':
        return check_if_number(col, 1, 200, False, "int"), req, True
    if col == 'Race':
        return check_in_list(col, RACE), req, True
    if col == 'Ethnicity':
        return check_in_list(col, ETHNICITY), req, True
    if col == 'Gender':
        return check_in_list(col, GENDER), req, True
    if col == 'Is_Symptomatic':
        return (check_in_list(col, ['Yes', 'No'], Dependency(SARS, ["Positive"]))
                + check_in_list(col, ['No', 'N/A'], Dependency(SARS, ["Negative"])),
                "Yes: SARS-Positive", True)
    if col == 'Date_of_Symptom_Onset':
        return (check_date(col, min_date, max_date, False, "Date",
                           Dependency("Is_Symptomatic", ["Yes"]))
                + check_in_list(col, ["N/A"],
                                Dependency("Is_Symptomatic", ["No", "N/A"])),
                "Yes: SARS-Positive", True)
    if col == 'Symptoms_Resolved':
        return (check_in_list(col, ["Yes", "No"],
                              Dependency("Is_Symptomatic", ["Yes"]))
                + check_in_list(col, ["N/A"],
                                Dependency("Is_Symptomatic", ["No", "N/A"])),
                "Yes: SARS-Positive", True)
    if col == 'Date_of_Symptom_Resolution':
        return (check_date(col, min_date, max_date, False, "Date",
                           Dependency("Symptoms_Resolved", ["Yes"]))
                + check_in_list(col, ["N/A"],
                                Dependency("Symptoms_Resolved", ["No", "N/A"])),
                "Yes: SARS-Positive", True)
    if col == 'Covid_Disease_Severity':
        return (check_if_number(col, 1, 8, False, "int",
                                Dependency(SARS, ["Positive"]))
                + check_in_list(col, [0], Dependency(SARS, ["Negative"])),
                "Yes: SARS-Positive", True)
    if col in COMORBIDITIES:
        return (check_in_list(col, ['Yes', 'No'], Dependency(SARS, ["Positive"]))
                + check_in_list(col, ["Yes", "No", "Unknown", "N/A"],
                                Dependency(SARS, ["Negative"])),
                "Yes: SARS-Positive", True)
    if col == "Other_Comorbidity":
        out.icd10_columns.append(col)
        return check_icd10(col, _icd10_flag(col)), "No", True
    return [], req, False


def _biospecimen(col, min_date, max_date, far_future,
                 fix_reference_bugs: bool = True):
    """Validation_Rules.py:161-197."""
    req = "Yes"
    if col == "Biospecimen_Group":
        return (check_in_list(col, ['Positive Sample'], Dependency(SARS, ["Positive"]))
                + check_in_list(col, ['Negative Sample'], Dependency(SARS, ["Negative"])),
                req, True)
    if col == "Biospecimen_Type":
        return check_in_list(col, BIOSPECIMEN_TYPES), req, True
    if col == "Initial_Volume_of_Biospecimen":
        return check_if_number(col, 0, 1e9, True, "float"), req, True
    if col == 'Collection_Tube_Type_Expiration_Date':
        return (check_date(col, max_date, far_future, False, "Date"), "No", True)
    # With the bug-fix flag off, Storage_*_Initials match this substring
    # branch first (reference Validation_Rules.py:172 shadows :183-185);
    # with it on, they fall through to the dependency-scoped rules below.
    if ('Company_Clinic' in col) \
            or ('Initials' in col
                and (not fix_reference_bugs or 'Storage' not in col)) \
            or ('Collection_Tube_Type' in col):
        req = "No" if col == 'Collection_Tube_Type_Lot_Number' else "Yes"
        return check_if_string(col, False), req, True
    if 'Date_of' in col:
        return check_date(col, min_date, max_date, False, "Date"), req, True
    if 'Time_of' in col:
        return check_date(col, None, None, False, "Time"), req, True
    if col == "Storage_Time_at_2_8":
        return check_if_number(col, 0, 1000, True, "float"), req, True
    if col in ("Storage_Start_Time_at_2_8_Initials", "Storage_End_Time_at_2_8_Initials"):
        dep = Dependency("Storage_Time_at_2_8", "Is A Number")
        return (check_if_string(col, False, dep)
                + check_in_list(col, ['N/A'],
                                Dependency("Storage_Time_at_2_8", ["N/A"])),
                req, True)
    if col in ("Storage_Start_Time_at_2_8", "Storage_End_Time_at_2_8"):
        dep = Dependency("Storage_Time_at_2_8", "Is A Number")
        return (check_date(col, min_date, max_date, False, "Date", dep)
                + check_in_list(col, ['N/A'],
                                Dependency("Storage_Time_at_2_8", ["N/A"])),
                req, True)
    if (col == "Final_Concentration_of_Biospecimen"
            or 'Hemocytometer_Count' in col or 'Automated_Count' in col):
        return (check_if_number(col, 0, 1e9, True, "float",
                                Dependency("Biospecimen_Type", ["PBMC"])),
                req, True)
    if col in ("Centrifugation_Time", "RT_Serum_Clotting_Time"):
        return (check_if_number(col, 0, 1e9, True, "float",
                                Dependency("Biospecimen_Type", ["Serum"])),
                req, True)
    if col == "Storage_Start_Time_80_LN2_storage":
        return (check_date(col, None, None, False, "Time",
                           Dependency("Biospecimen_Type", ["Serum"])),
                req, True)
    return [], req, False


def _processing(col, max_date, far_future):
    """Validation_Rules.py:198-220 (aliquot/equipment/reagent/consumable)."""
    req = "Yes"
    if col == "Aliquot_Volume":
        return check_if_number(col, 0, 1e9, True, "float"), req, True
    if ('Expiration_Date' in col) or ('Calibration_Due_Date' in col):
        return (check_date(col, max_date, far_future, False, "Date"), "No", True)
    if ('Lot_Number' in col) or ('Catalog_Number' in col):
        return check_if_string(col, False), "No", True
    if col == "Equipment_Type":
        return (check_in_list(col, EQUIPMENT_TYPES,
                              Dependency("Biospecimen_Type", ["PBMC"])), req, True)
    if col == "Reagent_Name":
        return (check_in_list(col, REAGENT_NAMES,
                              Dependency("Biospecimen_Type", ["PBMC"])), req, True)
    if col == "Consumable_Name":
        return (check_in_list(col, CONSUMABLE_NAMES,
                              Dependency("Biospecimen_Type", ["PBMC"])), req, True)
    if ("Aliquot" in col) or ("Equipment_ID" in col):
        return check_if_string(col, False), req, True
    return [], req, False


def _confirmatory(col, min_date, max_date):
    """Validation_Rules.py:221-247."""
    req = "Yes"
    if col == "Assay_Target":
        return assay_special(col, "Assay_Antigen_Source", col), req, True
    if col in ("Instrument_ID", "Test_Operator_Initials", "Assay_Kit_Lot_Number"):
        return check_if_string(col, False), req, True
    if 'Date_of' in col:
        return check_date(col, min_date, max_date, False, "Date"), req, True
    if 'Time_of' in col:
        return check_date(col, None, None, False, "Time"), req, True
    if col in ("Assay_Target_Sub_Region", "Measurand_Antibody", "Interpretation"):
        return check_if_string(col, False), req, True
    if col in ("Assay_Replicate", "Sample_Dilution"):
        return check_if_number(col, 0, 200, False, "int"), req, True
    if col in ("Derived_Result", "Raw_Result", "Positive_Control_Reading",
               "Negative_Control_Reading"):
        return check_if_number(col, 0, 1e9, True, "float"), req, True
    if col == "Sample_Type":
        return check_in_list(col, SAMPLE_TYPES), req, True
    if col == "Derived_Result_Units":
        return (check_if_string(col, False, Dependency("Derived_Result", "Is A Number"))
                + check_in_list(col, ["N/A"], Dependency("Derived_Result", ["N/A"])),
                req, True)
    if col == "Raw_Result_Units":
        return (check_if_string(col, False, Dependency("Raw_Result", "Is A Number"))
                + check_in_list(col, ["N/A"], Dependency("Raw_Result", ["N/A"])),
                req, True)
    return [], req, False


def _assay(col):
    """Validation_Rules.py:248-280 (assay.csv + assay_target.csv)."""
    req = "Yes"
    if col in ("Technology_Type", "Assay_Name", "Assay_Manufacturer",
               "Target_Organism"):
        return check_if_string(col, False), req, True
    if col in ASSAY_VOCABS:
        return check_in_list(col, ASSAY_VOCABS[col]), req, True
    if "Target_biospecimen_is_" in col:
        return check_in_list(col, ["T", "F"]), req, True
    if col in ("Postive_Control", "Negative_Control", "Calibration_Type",
               "Calibrator_High_or_Positive", "Calibrator_Low_or_Negative"):
        return check_if_string(col, True), req, True
    if col in ("Assay_Result_Unit", "Cut_Off_Unit", "Assay_Target"):
        return check_if_string(col, False), req, True
    if col in ("Positive_Cut_Off_Threshold", "Negative_Cut_Off_Ceiling",
               "Assay_Target_Sub_Region"):
        return check_if_string(col, True), req, True
    if col in ("N_true_positive", "N_true_negative", "N_false_positive",
               "N_false_negative"):
        return check_if_number(col, 0, 1e9, False, "int"), req, True
    return [], req, False
