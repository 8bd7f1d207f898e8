"""Submission orchestrator — Entry point 1 of the reference re-expressed.

Mirrors ``lambda_handler``'s per-submission flow
(nci-seronet-data-validator.py:69-108): load sheets → cleanup → header
check → Merged_Tables → per-sheet enrichment + rules → cross-sheet
integrity → count reconciliation → summary. The reference mutates a
``Submission_Object`` sheet-by-sheet, cell-by-cell; here the whole
rulebook compiles into ONE findings plan, assembled in exactly one place
(``orchestrate.validate_batched``, a context manager that releases the
plan's cached sheets on exit) — a single submission is the N=1 batch of
``orchestrate.validate_batched_results``, which returns the results and
the batch frame. This module holds the per-submission driver logic
around that plan: metadata parsing, the quality gate, the P10 header
comparison and the A4 count-mismatch rows.
"""

from __future__ import annotations

import datetime
from dataclasses import dataclass, field, fields
from functools import cached_property

from pyspark.sql import DataFrame, SparkSession

from nci_seronet_proc_data_validator_spark.errors import ROW_COUNT_MISMATCH

SKIP_VALIDATION = ("submission.csv", "shipping_manifest.csv")


def parse_submission_metadata(submission_df: DataFrame,
                              cbc_name_to_id: dict[str, str] | None = None
                              ) -> dict:
    """O4 ``get_submission_metadata`` (File_Submission_Object.py:80-89):
    submission.csv is a 2-column key/value sheet — the CBC (lab) name is
    the HEADER of column 2, participant count at data row 2, biospecimen
    count at row 3. The CBC name resolves to a 2-digit id via the CBC
    table (MySQL in the reference; a dict here). Unknown name → cbc_id
    '0', which makes every ID check report "submission file is missing".

    The sheet is tiny by construction — the two ``first()``-style lookups
    collect ≤3 rows, never data-scale.
    """
    cols = [c for c in submission_df.columns if c != "row_index"]
    cbc_name = cols[1] if len(cols) > 1 else ""
    rows = (submission_df.orderBy("row_index").limit(3).collect()
            if "row_index" in submission_df.columns
            else submission_df.limit(3).collect())

    def _cell(r, default="0"):
        v = r[cbc_name] if cbc_name in r.__fields__ else default
        return v if v not in (None, "") else default

    participants = _cell(rows[1]) if len(rows) > 1 else "0"
    biospecimens = _cell(rows[2]) if len(rows) > 2 else "0"
    cbc_id = (cbc_name_to_id or {}).get(cbc_name, "0")
    return {"cbc_name": cbc_name, "cbc_id": str(cbc_id),
            "declared_participants": participants,
            "declared_biospecimens": biospecimens}


def parse_submission_metadata_local(path: str,
                                    cbc_name_to_id: dict | None = None
                                    ) -> dict | None:
    """Driver-side twin of :func:`parse_submission_metadata` reading the
    tiny O4 key/value sheet with Python's csv module — ZERO Spark jobs.

    A completion burst pays one metadata parse per submission; through
    the DataFrame path that is one small Spark job each (the
    ``limit(3).collect``), which at 96 tiny submissions was a
    measurable slice of the drain (the watcher already opens the same
    file driver-side for the header probe). Same fallback discipline as
    ``csv_header``: returns ``None`` whenever the cheap parse cannot
    reproduce the Spark read bit-for-bit — probe-refused header
    (quotes/duplicates/gzip), a quote or backslash in the first two
    data rows (RFC-4180 doubled-quote vs Spark ``escape='\\'``
    divergence, both ways) — and the caller falls back to the DataFrame
    parse.
    """
    import csv as _csv

    from nci_seronet_proc_data_validator_spark.sources.readers import (
        csv_header,
    )

    import io

    cols = csv_header(path)
    if cols is None:
        return None
    try:
        with open(path, newline="", encoding="utf-8-sig") as f:
            raw = f.read(1 << 20)
    except (OSError, UnicodeDecodeError):
        return None
    # dialect guard on the RAW text (a parsed cell has its quotes
    # consumed already): any quote/backslash in the sheet may parse
    # differently under Spark's escape='\\' than Python's RFC-4180
    # doubled-quote dialect — refuse and let the caller use the
    # DataFrame parse. Oversized means it isn't the tiny O4 sheet.
    if '"' in raw or "\\" in raw or len(raw) == (1 << 20):
        return None
    reader = _csv.reader(io.StringIO(raw, newline=""))
    next(reader)                               # header
    rows = []
    for row in reader:
        if not row:                            # Spark CSV skips blank lines
            continue
        rows.append(row)
        if len(rows) == 3:                     # limit(3) twin
            break
    cbc_name = cols[1] if len(cols) > 1 else ""

    def _cell(i: int) -> str:
        # the DataFrame twin reads rows[1]/rows[2] of limit(3) —
        # the reference's iloc[1][1] / iloc[2][1]
        if cbc_name == "" or len(rows) <= i:
            return "0"
        row = rows[i]
        v = row[1] if len(row) > 1 else ""     # short row -> null -> '0'
        return v if v != "" else "0"

    cbc_id = (cbc_name_to_id or {}).get(cbc_name, "0")
    return {"cbc_name": cbc_name, "cbc_id": str(cbc_id),
            "declared_participants": _cell(1),
            "declared_biospecimens": _cell(2)}


def check_submission_quality(sheets: dict[str, DataFrame],
                             column_findings_count: int,
                             cbc_id: str) -> tuple[bool, str]:
    """Quality gate (nci-seronet-data-validator.py:179-194): a submission
    is processable iff submission.csv exists, the CBC resolved, and no
    header errors were found. Failure short-circuits all per-sheet work
    (control flow stays in the driver, like the reference)."""
    if "submission.csv" not in sheets:
        return False, "submission.csv is missing from the submission"
    if str(cbc_id) in ("0", "00", ""):
        return False, "CBC name does not exist in the database"
    if column_findings_count > 0:
        return False, ("column errors were found, files do not match "
                       "database tables")
    return True, "passed"


def column_compare_rows(name: str, have: list[str],
                        expected: list[str]) -> list[tuple]:
    """P10 ``check_col_names`` set algebra (File_Submission_Object.py:
    55-72): actual header vs expected catalog, both directions. Shared by
    :func:`column_finding_rows` and the parity arm so one code path is
    tested."""
    rows = []
    for c in [c for c in have if c not in expected]:
        rows.append(("Error", name, c,
                     "Column Found in CSV is not Expected"))
    for c in [c for c in expected if c not in have]:
        rows.append(("Error", name, c,
                     "This Column is Expected and is missing "
                     "from CSV File"))
    return rows


def column_finding_rows(sheets: dict, expected_columns: dict | None
                        ) -> list[tuple]:
    """P10 for one submission: every validated sheet's header vs the
    expected catalog. ``sheets`` values are DataFrames or plain
    column-name lists (probed headers) — only the NAMES are read, after
    the same unnamed-column cleanup the compile applies."""
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        ROW_INDEX_COL,
        cleanup_columns,
    )
    if not expected_columns:
        return []
    rows = []
    for name, df in sheets.items():
        expected = expected_columns.get(name)
        if name in SKIP_VALIDATION or expected is None:
            continue
        cols = df if isinstance(df, list) else df.columns
        rows.extend(column_compare_rows(
            name, cleanup_columns(cols, drop=(ROW_INDEX_COL,)), expected))
    return rows


# A4 ID families: (id column, reference's label typo included, the
# Column_Name the mismatch finding carries) — File_Submission_Object.py:
# 397-415.
A4_FAMILIES = (
    ("Research_Participant_ID", "Participat", "submit_Participant_IDs"),
    ("Biospecimen_ID", "Biospecimen", "submit_Biospecimen_IDs"),
)


A4_ROW_SCHEMA = ("Message_Type string, CSV_Sheet_Name string, "
                 "Row_Index long, Column_Name string, "
                 "Column_Value string, Error_Message string")


def a4_mismatch_tuple(declared, n: int, label: str,
                      fname: str) -> tuple | None:
    """The A4 count-mismatch finding as a driver tuple in
    ``A4_ROW_SCHEMA`` order (None when counts agree)."""
    if int(declared) == n:
        return None
    msg = f"After validation only {n} {label} IDS are valid"
    return ("Error", "submission.csv", ROW_COUNT_MISMATCH,
            fname, str(declared), msg)


class ValidationResult:
    """One submission's validation outputs.

    - ``findings``: canonical 6-column findings table;
    - ``column_finding_rows``: the header/column findings as plain driver
      tuples ``(Message_Type, CSV_Sheet_Name, Column_Name,
      Error_Message)`` (P10 is pure driver-side set algebra on column
      names, it never touches data) — what the watcher's completion
      printout and the CLI quality gate read.

    ``findings`` is built on first access and memoized: plan
    construction is tens of py4j round-trips, and a burst consumer (the
    watcher or the batch CLI, which sink the batch frame and read only
    ``column_finding_rows``) never touches it.
    """

    def __init__(self, *, findings_thunk, column_finding_rows: list):
        self._findings_thunk = findings_thunk
        self.column_finding_rows = column_finding_rows

    @cached_property
    def findings(self) -> DataFrame:
        return self._findings_thunk()

    def release(self) -> None:
        """No-op: findings live in the batch compile's local
        checkpoint, shared by every submission of the batch, which the
        ContextCleaner frees once the results are garbage. Unpersisting
        it here would break the batch's other results."""


@dataclass
class SubmissionValidator:
    """Validates one submission (a dict of sheet-name → raw string
    DataFrame with ``row_index``, as produced by ``read_sheet_csv``)."""

    spark: SparkSession
    sheets: dict[str, DataFrame]
    cbc_id: str = "0"
    declared_participants: int | None = None   # submission.csv iloc[1][1]
    declared_biospecimens: int | None = None   # submission.csv iloc[2][1]
    # DB fallback Merged_Tables for sheets not submitted (S5 JDBC reads in
    # the reference, File_Submission_Object.py:501-527).
    db_merged_tables: dict[str, DataFrame] = field(default_factory=dict)
    icd10_codes: DataFrame | None = None
    expected_columns: dict[str, list[str]] | None = None
    today: datetime.date | None = None
    fix_reference_bugs: bool = True

    def validate(self) -> ValidationResult:
        """The N=1 case of the batched compile
        (``orchestrate.validate_batched_results``): one submission, one
        compiled plan — the same code path as every batched, concurrent
        and watcher run, so their findings cannot drift apart."""
        from nci_seronet_proc_data_validator_spark import orchestrate

        kwargs = {f.name: getattr(self, f.name) for f in fields(self)
                  if f.name != "spark"}
        results, _batch = orchestrate.validate_batched_results(
            self.spark, {"submission": kwargs})
        return results["submission"]
