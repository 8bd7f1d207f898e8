"""Full-rulebook DuckDB oracle, assembled from the SAME rule binding the
Spark engine compiles.

``bind_sheet_rules`` produces, per column, an ordered list of ``CheckExpr``
— each holding ONE shared-dialect SQL template that renders to Spark
(``render_spark_sql``) and to DuckDB (``sql``) — see
``functions/checks.py``. Binding builds no Column objects, so this
assembly runs without a SparkContext (the driver calls ``oracle_sql()``
sessionless). This module turns that binding into one SQL statement:

- per sheet, a CTE with the fixture's shared-dialect value expressions
  (``plans/fixture.py``);
- per bound column, one SELECT whose severity/message are first-match CASE
  chains over the checks **in dispatch order** — the SQL equivalent of the
  engine's keep-first ``coalesce`` (``plans/rules.py:_findings_array_sql``);
- per duplicate-ID column, a GROUP BY/HAVING SELECT with sentinel
  Row_Index −3 (mirroring ``plans/rules.py:dup_id_findings_sql``).

Post-compile finding keys (CSV_Sheet_Name, Row_Index, Column_Name,
Column_Value) are unique by construction (one candidate survives per
row x column; dup rows are keyed by value), so the engine's
``dedup_findings`` is a no-op and the oracle needs no DISTINCT.
"""

from __future__ import annotations

from nci_seronet_proc_data_validator_spark.functions.checks import (
    _sql_quote,
    render_duckdb_sql,
)
from nci_seronet_proc_data_validator_spark.plans.fixture import (
    CBC_ID,
    FIXED_TODAY,
    FIXTURE_SHEETS,
    ICD10_DICT_SQL,
    SheetFixture,
    cte_name,
    fixture_sheet_cte,
)
from nci_seronet_proc_data_validator_spark.plans.rulebook import (
    BoundSheet,
    bind_sheet_rules,
)


def rulebook_bound_sheets() -> list[tuple[SheetFixture, BoundSheet]]:
    """One shared binding per fixture sheet (used by BOTH the Spark query
    and this oracle — same args, same dispatch, no drift)."""
    return [
        (spec, bind_sheet_rules(spec.sheet, list(spec.columns), CBC_ID,
                                drop_list=list(spec.drop_list),
                                today=FIXED_TODAY))
        for spec in FIXTURE_SHEETS
    ]


def _column_select(cte: str, sheet: str, column: str, checks) -> str:
    sev = []
    msg = []
    conds = []
    for ce in checks:
        conds.append(ce.sql)
        sev.append(f"WHEN {ce.sql} THEN '{ce.severity}'")
        # message_sql (per-row message template, batched multi-CBC C5)
        # renders in DuckDB dialect; plain messages stay quoted literals.
        m = (render_duckdb_sql(ce.message_sql)
             if ce.message_sql is not None else _sql_quote(ce.message))
        msg.append(f"WHEN {ce.sql} THEN {m}")
    # DISTINCT mirrors the engine's dedup_findings: the fixture's base keys
    # may collide (testdata lineitem repeats (l_orderkey, l_linenumber)),
    # and every fixture column is a function of components embedded in the
    # checked value, so a collided key implies a byte-identical finding.
    return (
        f"SELECT DISTINCT CASE {' '.join(sev)} END AS Message_Type,\n"
        f"  {_sql_quote(sheet)} AS CSV_Sheet_Name,\n"
        f"  row_index AS Row_Index,\n"
        f"  {_sql_quote(column)} AS Column_Name,\n"
        f"  {column} AS Column_Value,\n"
        f"  CASE {' '.join(msg)} END AS Error_Message\n"
        f"FROM {cte}\nWHERE {' OR '.join(conds)}"
    )


def _dup_select(cte: str, sheet: str, column: str) -> str:
    return (
        f"SELECT 'Error' AS Message_Type,\n"
        f"  {_sql_quote(sheet)} AS CSV_Sheet_Name,\n"
        f"  CAST(-3 AS BIGINT) AS Row_Index,\n"
        f"  {_sql_quote(column)} AS Column_Name,\n"
        f"  {column} AS Column_Value,\n"
        f"  'Id is repeated ' || CAST(cnt AS STRING)"
        f" || ' times, Multiple repeats are not allowed' AS Error_Message\n"
        f"FROM (SELECT {column}, COUNT(*) AS cnt FROM {cte}"
        f" GROUP BY {column}) AS d\nWHERE cnt > 1"
    )


def rulebook_oracle_sql() -> str:
    """The whole rulebook's findings as ONE DuckDB statement: per-column
    rule findings + duplicate-ID sentinels + the two cross-sheet presence
    families (J3–J5, sentinel −10)."""
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        biospecimen_cross_oracle_sql,
        participant_cross_oracle_sql,
    )
    ctes = [f"icd10_dict AS ({ICD10_DICT_SQL})"]
    selects = []
    names = {}
    for spec, bound in rulebook_bound_sheets():
        name = cte_name(spec)
        names[spec.sheet] = name
        ctes.append(f"{name} AS ({fixture_sheet_cte(spec)})")
        for cr in bound.column_rules:
            selects.append(
                _column_select(name, spec.sheet, cr.column, cr.checks))
        for col in bound.dup_id_columns:
            selects.append(_dup_select(name, spec.sheet, col))
    selects.append(participant_cross_oracle_sql(
        names["prior_clinical_test.csv"], names["demographic.csv"],
        names["biospecimen.csv"], names["confirmatory_clinical_test.csv"],
        CBC_ID))
    selects.append(biospecimen_cross_oracle_sql(
        names["biospecimen.csv"], names["aliquot.csv"],
        names["equipment.csv"], names["reagent.csv"],
        names["consumable.csv"], CBC_ID))
    return ("WITH " + ",\n".join(ctes) + "\n"
            + "\nUNION ALL\n".join(selects))
