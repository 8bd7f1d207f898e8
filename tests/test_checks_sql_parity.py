"""Cross-engine parity for the dual-backend check builders.

Every ``CheckExpr`` carries ONE shared-dialect SQL template that renders
to Spark (``render_spark_sql``) and to DuckDB (``sql``)
(``functions/checks.py``). The
rulebook_full fixture exercises them end-to-end; this test attacks each
builder directly with a hostile value set — blanks, N/A, coercible
numerics ('1e3', '-0', 'NaN', 'Infinity'), ISO dates/times, underscore
IDs (the coercion exemption), whitespace — and asserts the two backends
flag the same rows with the same severity/message.

Domain note: values stay inside the dialect-shared domain documented in
``plans/fixture.py`` (ISO dates, bare HH:MM:SS) — e.g. '1/5/2020' parses
in Spark's format list but not in DuckDB, by design; the fixture
generator never emits such values.
"""

from __future__ import annotations

import datetime

import duckdb
import pytest

from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.functions import checks as C
from nci_seronet_proc_data_validator_spark.operators.typing import (
    with_typed_shadows,
)

VALUES = [
    "", "N/A", "n/a", "hello", "two words", "Yes", "No", "Unknown",
    "0", "1", "-1", "42", "3.5", "-0", "1e3", "250", "0.5",
    "NaN", "Infinity",
    "2020-01-05", "2020-01-05 10:11:12", "1890-01-01", "2030-12-31",
    "2020-13-05", "14:30:00", "99:99:99",
    "14_000001", "99_000001", "BAD_ID!", "14_000001_001",
    "A042", "ZZZ9", " 7", "7 ", "a\x0bb", "\x0b",
]


def _both(spark, check_list, extra_cols=None):
    """Evaluate checks via their Spark SQL render and via DuckDB SQL over
    the same little table; return ([spark_hits], [duck_hits]) as
    (row, check number)."""
    extra_cols = extra_cols or {}
    rows = [{"row_index": i, "v": v, **{k: f(v) for k, f in
             extra_cols.items()}} for i, v in enumerate(VALUES)]
    import pandas as pd
    pdf = pd.DataFrame(rows)
    cols = ["row_index", "v", *extra_cols]
    sdf = with_typed_shadows(
        spark.createDataFrame(pdf[cols]), ["v", *extra_cols])

    spark_hits = []
    for k, ce in enumerate(check_list):
        got = (sdf.filter(F.expr(C.render_spark_sql(ce.violation)))
               .select("row_index").toPandas()["row_index"].tolist())
        spark_hits += [(r, k) for r in got]

    from nci_seronet_proc_data_validator_spark.operators.typing import (
        duckdb_shadow_exprs,
    )
    con = duckdb.connect()
    con.register("t", pdf[cols])
    shadows = ", ".join(duckdb_shadow_exprs(["v", *extra_cols]))
    duck_hits = []
    for k, ce in enumerate(check_list):
        got = con.execute(
            f"SELECT row_index FROM (SELECT *, {shadows} FROM t) "
            f"WHERE {ce.sql}"
        ).fetchdf()["row_index"].tolist()
        duck_hits += [(r, k) for r in got]
    return sorted(spark_hits), sorted(duck_hits)


CASES = {
    "in_list": lambda: C.check_in_list("v", ["Yes", "No", "N/A"]),
    "in_list_numeric": lambda: C.check_in_list("v", [0, 1]),
    "in_list_dep_values": lambda: C.check_in_list(
        "v", ["Yes"], C.Dependency("w", ["Yes", "Unknown"])),
    "in_list_dep_number": lambda: C.check_in_list(
        "v", ["Day", "Month"], C.Dependency("w", "Is A Number")),
    "date_range": lambda: C.check_date(
        "v", datetime.date(1900, 1, 1), datetime.date(2026, 1, 1),
        False, "Date"),
    "date_na_allowed": lambda: C.check_date(
        "v", datetime.date(1900, 1, 1), datetime.date(2026, 1, 1),
        True, "Date"),
    "time_check": lambda: C.check_date("v", None, None, False, "Time"),
    "expiration_warning": lambda: C.check_date(
        "Expiration_Date_v", datetime.date(2026, 1, 1),
        datetime.date(3000, 1, 1), False, "Date"),
    "number_float": lambda: C.check_if_number("v", 0, 100, True, "float"),
    "number_int": lambda: C.check_if_number("v", 1, 49, False, "int"),
    "number_dep_date": lambda: C.check_if_number(
        "v", 0, 10, False, "int", C.Dependency("w", "Is A Date")),
    "string": lambda: C.check_if_string("v"),
    "id_field": lambda: C.check_id_field(
        "v", "[_]{1}[0-9]{6}$", "14", "XX_XXXXXX"),
    "substr": lambda: C.check_if_substr("v", "w", "v"),
    "missing_required": lambda: C.get_missing_values("v", "Yes"),
    "missing_optional": lambda: C.get_missing_values("v", "No"),
    "missing_sars_pos": lambda: C.get_missing_values(
        "v", "Yes: SARS-Positive", sars_col="w"),
    "total_live": lambda: C.compare_total_to_live("Total_Cells_v"),
    "viability": lambda: C.compare_viability("Viability_v"),
}

# Secondary columns some checks reference (values derived from v so every
# combination in VALUES x f(v) gets exercised).
EXTRA = {
    "in_list_dep_values": {"w": lambda v: "Yes" if len(v) % 2 else "No"},
    "in_list_dep_number": {"w": lambda v: v},
    "number_dep_date": {"w": lambda v: v},
    "substr": {"w": lambda v: v[:3]},
    "missing_sars_pos": {"w": lambda v: "Positive" if len(v) % 2
                         else "Negative"},
    "expiration_warning": {"Expiration_Date_v": lambda v: v},
    "total_live": {"Total_Cells_v": lambda v: v,
                   "Live_Cells_v": lambda v: v[::-1]},
    "viability": {"Viability_v": lambda v: v,
                  "Live_Cells_v": lambda v: "10",
                  "Total_Cells_v": lambda v: "20"},
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_check_sql_parity(spark, name):
    checks = CASES[name]()
    extra = EXTRA.get(name, {})
    if name in ("expiration_warning",):
        # the checked column is the derived one; drop the default v-checks
        pass
    s_hits, d_hits = _both(spark, checks, extra)
    assert s_hits == d_hits, (
        f"{name}: spark={s_hits} duck={d_hits}")
    # messages/severities are shared literals — spot-check they exist
    for ce in checks:
        assert isinstance(ce.message, str) and ce.severity in ("Error",
                                                               "Warning")
