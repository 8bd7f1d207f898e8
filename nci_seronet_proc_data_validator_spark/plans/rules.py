"""Rule compiler: bound column rules → ONE findings scan per sheet.

The reference evaluates ~30 rules per sheet sequentially, each rule
re-filtering the pandas table and appending rows
(``Validation_Rules.py:1-36`` driving ``File_Submission_Object.py`` checks).
Here all rules of a sheet render into a single projection, as SQL text
(every check is a shared-dialect template, ``functions/checks.py``):

    per check:        CASE WHEN violation THEN named_struct(finding) END
    per rule column:  coalesce(candidate_1, candidate_2, …)
    sheet findings:   explode(array(col_1, …, col_n)) + null filter

- one whole-stage-codegen'd pass over the sheet, zero shuffles;
- ``coalesce`` in rule order reproduces pandas ``drop_duplicates(...,
  keep='first')`` per (row, column) (File_Submission_Object.py:153);
- at 100 TB this is a map-only stage — it scales linearly with input
  splits, no coordination;
- a full-rulebook sheet (30 columns, hundreds of checks) costs 2 py4j
  calls instead of ~2,000 Column round-trips (~1s driver time per
  sheet, ×10 sheets, measured r3).

The renders share one findings array (``_findings_array_sql``):
``sheet_findings_sql`` (statements over a temp view — what the rulebook
query and the batched compile issue) and ``compile_sheet_findings`` (one
``selectExpr`` over a DataFrame — the single-column driver queries and
``bench.py``).

Aggregation-shaped checks (duplicate IDs) shuffle once on the checked key
and emit sentinel-row findings, mirroring ``check_for_dup_ids``
(File_Submission_Object.py:181-188): ``dup_id_findings_sql``.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from nci_seronet_proc_data_validator_spark.errors import (
    FINDING_COLUMNS,
    ROW_DUPLICATE_ID,
    empty_findings,
)
from nci_seronet_proc_data_validator_spark.functions.checks import (
    CheckExpr,
    _sql_quote as _q,
    render_spark_sql,
)


@dataclass
class ColumnRules:
    """All checks bound to one column of one sheet, in dispatch order."""
    column: str
    checks: list[CheckExpr] = field(default_factory=list)
    rule_found: bool = True


def _findings_array_sql(sheet_name: str,
                        column_rules: list[ColumnRules]) -> str | None:
    """The explode payload as text: per check a CASE→named_struct
    candidate, per column a keep-first coalesce, one array(...)."""
    col_exprs = []
    for cr in column_rules:
        cands = []
        for ce in cr.checks:
            viol = render_spark_sql(ce.violation)
            # message_sql: a per-row message expression (batched
            # multi-CBC C5) — rendered as SQL, not quoted as a literal.
            msg = (render_spark_sql(ce.message_sql)
                   if ce.message_sql is not None else _q(ce.message))
            cands.append(
                f"CASE WHEN {viol} THEN named_struct("
                f"'Message_Type', {_q(ce.severity)}, "
                f"'CSV_Sheet_Name', {_q(sheet_name)}, "
                f"'Row_Index', CAST(row_index AS BIGINT), "
                f"'Column_Name', {_q(cr.column)}, "
                f"'Column_Value', CAST({cr.column} AS STRING), "
                f"'Error_Message', {msg}) END")
        if not cands:
            continue
        col_exprs.append(cands[0] if len(cands) == 1
                         else f"coalesce({', '.join(cands)})")
    if not col_exprs:
        return None
    return f"array({', '.join(col_exprs)})"


def compile_sheet_findings(df: DataFrame, sheet_name: str,
                           column_rules: list[ColumnRules]) -> DataFrame:
    """Evaluate every bound rule of a sheet in one ``selectExpr``
    projection over ``df`` (which carries ``row_index``)."""
    arr = _findings_array_sql(sheet_name, column_rules)
    if arr is None:
        return empty_findings(df.sparkSession)
    # explode the RAW array and drop null elements AFTER, instead of
    # array_compact: array_compact desugars to filter(..., lambda) — a
    # higher-order function that is CodegenFallback, which demotes the
    # ENTIRE findings expression tree (every CASE WHEN / RLIKE / struct)
    # to interpreted evaluation. explode + IS NOT NULL keeps the whole
    # stage in generated code (plan guard:
    # tests/test_plan_shape.py::test_rulebook_findings_codegen).
    return (df.selectExpr(f"explode({arr}) AS _f")
            .where("_f IS NOT NULL")
            .selectExpr(*[f"_f.{c} AS {c}" for c in FINDING_COLUMNS]))


def sheet_findings_sql(view: str, sheet_name: str,
                       column_rules: list[ColumnRules],
                       codegen_chunk: int | None = None,
                       carry_cols: tuple[str, ...] = ()) -> list[str]:
    """The findings of a sheet as SELECT statements (one per codegen
    chunk) over a registered temp view.

    Callers assembling a MULTI-sheet plan join the statements with
    ``UNION ALL`` into one ``spark.sql(...)`` call: the per-leg
    ``selectExpr``/``unionByName`` round-trips of the DataFrame path each
    trigger a JVM-side analysis of their whole subtree — measured ~3.5 s
    of the rulebook's driver build at 30 legs — while one statement is
    parsed and analyzed once. Same physical plan, pinned by
    ``tests/test_rulebook_split.py``.

    ``codegen_chunk``: render at most this many rule GROUPS per
    statement. A full-rulebook sheet fused into one whole-stage-codegen
    method exceeds HotSpot's JIT size ceiling and runs interpreted: at
    sf0.1 the 27-group biospecimen findings scan took 2.7 s fused vs
    1.2 s in chunks of 3 (chunks of 5: 1.6 s; plain WSCG-off: 1.7 s).
    Chunks never split a column's keep-first coalesce, so findings are
    identical. Worth it when the view's input is cached (each chunk
    rescans it).
    """
    if codegen_chunk and len(column_rules) > codegen_chunk:
        out = []
        for i in range(0, len(column_rules), codegen_chunk):
            out.extend(sheet_findings_sql(
                view, sheet_name, column_rules[i:i + codegen_chunk],
                carry_cols=carry_cols))
        return out
    arr = _findings_array_sql(sheet_name, column_rules)
    if arr is None:
        return []
    # carry_cols: extra per-row columns (e.g. a batched-mode submission
    # tag) projected through the explode alongside the finding struct.
    carry_in = "".join(f"{c}, " for c in carry_cols)
    cols = (carry_in
            + ", ".join(f"_f.{c} AS {c}" for c in FINDING_COLUMNS))
    return [f"SELECT {cols} FROM (SELECT {carry_in}explode({arr}) AS _f"
            f" FROM {view}) WHERE _f IS NOT NULL"]


#: Placeholder substituted with the real temp-view name on cache hits.
#: No NUL can appear in a rendered statement: its text is rulebook
#: literals, rule-bound column names (a column with no rule binds no
#: check), the sheet's file name (file names cannot hold a NUL), dates
#: and the CBC codes of the caller's CBC map — never a submitted cell
#: value — so plain str.replace is collision-free. (_sql_quote only
#: doubles quotes; it escapes nothing else.)
_VIEW_SLOT = "\x00VIEW\x00"


def sheet_findings_sql_cached(view: str, sheet_name: str, bound,
                              codegen_chunk: int | None = None,
                              carry_cols: tuple[str, ...] = ()
                              ) -> list[str]:
    """Memoized :func:`sheet_findings_sql` over a ``BoundSheet``.

    The ~459-check text render is pure CPU, identical for every
    submission sharing a sheet schema, and sits on the serial
    driver-build path that Amdahl-bounds concurrent orchestration
    (BENCH_NOTES r10). The rendered statements (with a NUL view slot)
    are cached ON the ``BoundSheet`` instance — which
    ``bind_sheet_rules_cached`` shares across submissions — so
    submission 2..N pay one ``str.replace`` per statement instead of
    the full render. Only the view name varies per submission; sheet
    name, rules, chunking and carried columns are part of the instance
    + key.
    """
    cache = getattr(bound, "_sql_cache", None)
    if cache is None:
        cache = bound._sql_cache = {}
    key = (sheet_name, codegen_chunk, tuple(carry_cols))
    tpl = cache.get(key)
    if tpl is None:
        tpl = cache[key] = sheet_findings_sql(
            _VIEW_SLOT, sheet_name, bound.column_rules, codegen_chunk,
            carry_cols)
    return [t.replace(_VIEW_SLOT, view) for t in tpl]


def dup_id_findings_sql(view: str, sheet_name: str, column: str,
                        group_cols: tuple[str, ...] = ()) -> str:
    """A1/C6 ``check_for_dup_ids`` over a temp view: one finding per
    duplicated ID with its repeat count, sentinel Row_Index −3.

    GroupBy on the ID key — the only shuffle in per-sheet validation;
    with AQE it coalesces to the real key cardinality.

    ``group_cols``: extra grouping columns prepended to the dup key and
    projected through — batched multi-submission mode groups by the
    submission tag so an ID repeated across submissions is NOT a dup."""
    msg = ("concat('Id is repeated ', CAST(cnt AS STRING),"
           " ' times, Multiple repeats are not allowed')")
    g_in = "".join(f"{c}, " for c in group_cols)
    return (f"SELECT {g_in}'Error' AS Message_Type, {_q(sheet_name)} AS"
            f" CSV_Sheet_Name, CAST({ROW_DUPLICATE_ID} AS BIGINT) AS"
            f" Row_Index, {_q(column)} AS Column_Name,"
            f" CAST({column} AS STRING) AS Column_Value, {msg} AS"
            f" Error_Message FROM (SELECT {g_in}{column}, count(*) AS cnt"
            f" FROM {view} GROUP BY {g_in}{column}) WHERE cnt > 1")

