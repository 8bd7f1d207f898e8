from nci_seronet_proc_data_validator_spark.sources.readers import (
    read_sheet_csv,
    read_table,
)

__all__ = ["read_sheet_csv", "read_table"]
