from nci_seronet_proc_data_validator_spark.plans.rules import (
    ColumnRules,
    compile_sheet_findings,
    dup_id_findings_sql,
    sheet_findings_sql,
)
from nci_seronet_proc_data_validator_spark.plans.rulebook import (
    bind_sheet_rules,
    SHEET_NAMES,
)
from nci_seronet_proc_data_validator_spark.plans.advisor import (
    ScaleHazardWarning,
    advise_plan,
    warn_fixed_k,
)

__all__ = ["ColumnRules", "compile_sheet_findings", "dup_id_findings_sql",
           "sheet_findings_sql",
           "bind_sheet_rules", "SHEET_NAMES",
           "ScaleHazardWarning", "advise_plan", "warn_fixed_k"]
