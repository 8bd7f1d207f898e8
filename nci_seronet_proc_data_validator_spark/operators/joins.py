"""Join layer: enrichment joins (J1/J2), cross-sheet spines (J3–J5),
submitted-id restriction (J6), reference-dict lookup (J8).

The reference decodes presence/absence after full-outer joins through NaN
arithmetic (``query("X != X")`` = "X is NaN" — ``File_Submission_Object.py:
335-396``). Spark-first design: the cross-sheet spine is ONE ``GROUP BY``
over the ``UNION ALL`` of tagged ID projections, each source contributing
an explicit boolean presence flag ``max(__src = '<sheet>')``, and the 6
participant + 4 biospecimen presence patterns decode as one CASE chain —
rendered as SQL text, so a whole findings statement parses and analyzes
once.

Scale notes:
- Enrichment joins (J1/J2) broadcast the parent Merged_Table — it is a
  key-column projection, small by construction (the reference pre-projects
  for the same reason, ``File_Submission_Object.py:102``).
- Each spine shuffles on the ID key once, map-side combined; every pattern
  decodes from that single aggregated dataset; no full-outer join is left.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.errors import ROW_CROSS_SHEET
from nci_seronet_proc_data_validator_spark.functions.checks import (
    PerRowCbc,
    _sql_quote,
)

# Merge_Cols per sheet (col_valid_dict, nci-seronet-data-validator.py:21-31).
MERGE_COLS = {
    "prior_clinical_test.csv": ["Research_Participant_ID",
                                "SARS_CoV_2_PCR_Test_Result"],
    "demographic.csv": ["Research_Participant_ID", "Age"],
    "biospecimen.csv": ["Research_Participant_ID", "Biospecimen_ID",
                        "Biospecimen_Type"],
    "aliquot.csv": ["Aliquot_ID", "Biospecimen_ID"],
    "equipment.csv": ["Equipment_ID", "Biospecimen_ID"],
    "reagent.csv": ["Reagent_Name", "Biospecimen_ID"],
    "consumable.csv": ["Consumable_Name", "Biospecimen_ID"],
    "assay.csv": ["Assay_ID", "Assay_Name"],
    "assay_target.csv": ["Assay_ID", "Assay_Target", "Assay_Antigen_Source"],
    "confirmatory_clinical_test.csv": ["Research_Participant_ID", "Assay_ID"],
    "submission.csv": [],
}

# Which parents each sheet is enriched from before rule evaluation
# (merge_tables, File_Submission_Object.py:128-147). The duplicate dead
# elif for processing sheets (:137-140, reference bug §2.9.3) collapses to
# one entry.
ENRICH_PARENTS = {
    "prior_clinical_test.csv": [("demographic.csv", ["Research_Participant_ID"])],
    "demographic.csv": [("prior_clinical_test.csv", ["Research_Participant_ID"])],
    "biospecimen.csv": [("prior_clinical_test.csv", ["Research_Participant_ID"]),
                        ("demographic.csv", ["Research_Participant_ID"])],
    "aliquot.csv": [("biospecimen.csv", ["Biospecimen_ID"])],
    "equipment.csv": [("biospecimen.csv", ["Biospecimen_ID"])],
    "reagent.csv": [("biospecimen.csv", ["Biospecimen_ID"])],
    "consumable.csv": [("biospecimen.csv", ["Biospecimen_ID"])],
    "assay_target.csv": [("assay.csv", ["Assay_ID"])],
    "confirmatory_clinical_test.csv": [
        ("assay.csv", ["Assay_ID"]),
        ("assay_target.csv", ["Assay_ID", "Assay_Target"])],
}


def merged_table(sheet_df: DataFrame, sheet_name: str) -> DataFrame | None:
    """P1: the key-column projection used as a join side
    (File_Submission_Object.py:102)."""
    cols = MERGE_COLS.get(sheet_name, [])
    if not cols:
        return None
    have = [c for c in cols if c in sheet_df.columns]
    return sheet_df.select(have)


def merge_tables(sheet_name: str, df: DataFrame,
                 merged: dict[str, DataFrame],
                 extra_keys: tuple[str, ...] = ()) -> tuple[DataFrame, list[str]]:
    """J1/J2 enrichment: left-join parent Merged_Tables (broadcast — they
    are small key projections). Returns (enriched df, drop_list of columns
    the joins added — exempt from rules, Validation_Rules.py:5-6).

    ``extra_keys``: columns prepended to every join key (batched
    multi-submission mode joins on the submission tag too, so a
    participant in one submission never enriches from another's
    parent sheet)."""
    before = set(df.columns)
    for parent, keys in ENRICH_PARENTS.get(sheet_name, []):
        pt = merged.get(parent)
        if pt is None:
            continue
        keys = [*extra_keys, *keys]
        have_keys = [k for k in keys if k in df.columns and k in pt.columns]
        if len(have_keys) != len(keys):
            continue
        # Only join columns the sheet does not already carry: a submitted
        # sheet that includes a dependency column (e.g. demographic.csv
        # shipping its own SARS_CoV_2_PCR_Test_Result) keeps ITS values
        # and the column stays subject to rules (it is not in drop_list).
        # Joining the parent copy anyway would produce two same-named
        # columns and AMBIGUOUS_REFERENCE on the first downstream
        # selectExpr. (The reference's pandas merge would suffix the
        # duplicate to _x/_y and silently break rule lookup —
        # File_Submission_Object.py:96-105; taking the submitted values
        # is the defined behavior here.)
        add = [c for c in pt.columns
               if c not in have_keys and c not in df.columns]
        if not add:
            continue
        df = df.join(F.broadcast(pt.select(*have_keys, *add)),
                     on=have_keys, how="left")
    drop_list = [c for c in df.columns if c not in before]
    return df, drop_list


def _indicator(name: str) -> str:
    # '.' would parse as struct access in column references.
    return "__in_" + name.replace(".", "_")


def presence_spine_sql(views: dict[str, str], keys: list[str],
                       carry: dict[str, list[str]] | None = None) -> str:
    """J3/J4 spine as SQL text over the source views, ONE shuffle: the
    tagged key projections are combined with ``UNION ALL`` and then one
    ``GROUP BY keys`` gives each source a presence flag
    ``__in_<source> = max(__src = '<source>')``.

    Mirrors the reference's cross-sheet ID reconciliation
    (``File_Submission_Object.py:335-396``) without its outer-join shape:
    a chain of k−1 full-outer joins is k−1 serialized exchanges of a
    growing spine, where this is one map-side-combinable aggregation.

    - Sources need not be distinct: duplicate keys collapse into one
      spine row (presence stays true).
    - NULL keys form one group across all sources; the cross-sheet
      decoders drop them with their well-formed-ID filter.
    - ``carry``: {source: [column, ...]} — non-key columns carried as
      their ``min`` over the rows of the sources that hold them (the
      other legs project NULL), so a key listed twice with different
      values settles on one value whatever the partitioning; NULL for
      keys absent from those sources.
    """
    carry = carry or {}
    carried = list(dict.fromkeys(c for cols in carry.values() for c in cols))
    legs = " UNION ALL ".join(
        "SELECT " + ", ".join(
            [*keys, f"{_sql_quote(name)} AS __src",
             *(c if c in carry.get(name, ()) else f"NULL AS {c}"
               for c in carried)])
        + f" FROM {view}"
        for name, view in views.items())
    aggs = [f"max(__src = {_sql_quote(name)}) AS {_indicator(name)}"
            for name in views]
    aggs += [f"min({c}) AS {c}" for c in carried]
    by = ", ".join(keys)
    return f"SELECT {by}, {', '.join(aggs)} FROM ({legs}) GROUP BY {by}"


# --- participant presence patterns (File_Submission_Object.py:379-396) ----
_PART_PATTERNS = [
    # (in_prior, in_demo, in_bio) → message
    ((True, False, False),
     "ID is found in Prior_Clinical_Test, but is missing from Demographic and Biospecimen"),
    ((False, True, False),
     "ID is found in Demographic, but is missing from Prior_Clinical_Test and Biospecimen"),
    ((False, False, True),
     "ID is found in Biospecimen, but is missing from Prior_Clinical_Test and Demographic"),
    ((True, True, False),
     "ID is found in Prior_Clinical_Test and Demographic but is missing from Biospecimen"),
    ((True, False, True),
     "ID is found in Prior_Clinical_Test and Biospecimen but is missing from Demographic"),
    ((False, True, True),
     "ID is found in Demographic and Biospecimen but is missing from Prior_Clinical_Test"),
]


# --- biospecimen presence patterns (File_Submission_Object.py:341-355) ----
_BIO_TABLES = [
    # (spine source sheet, display sheet name in messages)
    ("aliquot.csv", "Aliquot.csv"),
    ("equipment.csv", "Equipment.csv"),
    ("reagent.csv", "Reagent.csv"),
    ("consumable.csv", "Consumable.csv"),
]

# Message templates shared by the SQL decoder AND the DuckDB oracle
# builder below — single-sourced so a wording edit cannot break parity.
_BIO_MSG_IN_T_NOT_BIO = ("ID is found in {display}, however ID is missing "
                         "from Biospecimen.csv")
_BIO_MSG_BIO_NOT_T = ("ID is found in Biospecimen.csv, however is missing "
                      "from {display}")
_BIO_MSG_NOT_PBMC = ("ID is found in {display}, and ID is found in "
                     "Biospecimen.csv however has Biospecimen_Type NOT PBMC")
_BIO_MSG_PBMC_MISSING = ("ID is found in Biospecimen.csv and has "
                         "Biospecimen_Type of PBMC, however ID is missing "
                         "from {display}")


def _ind_sql(name: str, have: dict[str, str]) -> str:
    """Presence flag of a submitted source; FALSE for a missing one."""
    return _indicator(name) if name in have else "FALSE"


def _cbc_scope_sql(key: str, cbc_id, suffix_re: str) -> str:
    """The well-formed-ID scope filter of the cross-sheet decoders:
    ``key RLIKE '^CBC<suffix>'``.

    ``cbc_id`` may be a ``PerRowCbc`` (batched multi-CBC mode): the scope
    then renders as a CASE over the per-row CBC column with one
    LITERAL-regex branch per distinct CBC — foldable patterns keep
    Spark's compiled-regex cache hot, and a row is scoped by ITS
    submission's lab code exactly as the serial path scopes by the
    literal."""
    if isinstance(cbc_id, PerRowCbc):
        branches = " ".join(
            f"WHEN {_sql_quote(v)} THEN {key} RLIKE"
            f" {_sql_quote('^' + v + suffix_re)}"
            for v in cbc_id.values)
        return f"(CASE {cbc_id.column} {branches} ELSE FALSE END)"
    return f"{key} RLIKE {_sql_quote('^' + cbc_id + suffix_re)}"


def _cross_findings_sql(sheet: str, key: str, have: dict[str, str],
                        all_present: str, msg: str, cbc_id, suffix_re: str,
                        submitted_view: str | None, group_col: str | None,
                        extra_keys: tuple[str, ...],
                        carry: dict[str, list[str]] | None = None) -> str:
    """The shared frame of both decoders: the presence spine of the
    submitted sources ``have`` grouped on ``[group_col, *extra_keys,
    key]``, scoped to well-formed IDs missing from at least one source
    (``NOT all_present``), optionally semi-joined to the submitted IDs,
    decoded by ``msg`` into findings on ``sheet`` at sentinel row −10.
    The spine holds one row per key, so the findings are distinct."""
    keys = ([group_col, *extra_keys, key] if group_col
            else [*extra_keys, key])
    g_out = f"{group_col}, " if group_col else ""
    using = ", ".join(keys)
    semi = (f" LEFT SEMI JOIN (SELECT DISTINCT {using} FROM"
            f" {submitted_view}) sub USING ({using})"
            if submitted_view is not None else "")
    hint = " /*+ BROADCAST(sub) */" if semi else ""
    return (
        f"SELECT {g_out}'Error' AS Message_Type,"
        f" {_sql_quote(sheet)} AS CSV_Sheet_Name,"
        f" CAST({ROW_CROSS_SHEET} AS BIGINT) AS Row_Index,"
        f" {_sql_quote(key)} AS Column_Name,"
        f" CAST({key} AS STRING) AS Column_Value,"
        f" _msg AS Error_Message"
        f" FROM (SELECT{hint} {g_out}{key}, {msg} AS _msg"
        f" FROM (SELECT * FROM ({presence_spine_sql(have, keys, carry)})"
        f" WHERE {_cbc_scope_sql(key, cbc_id, suffix_re)}"
        f" AND NOT ({all_present})){semi}) WHERE _msg IS NOT NULL")


def participant_cross_sql(views: dict[str, str | None], cbc_id,
                          submitted_view: str | None,
                          group_col: str | None = None,
                          extra_keys: tuple[str, ...] = ()) -> str:
    """J5: the 6 participant presence patterns as findings on sheet
    ``Cross_Participant_ID.csv`` (sentinel row −10), over temp views of
    the participant Merged_Tables (None = sheet not submitted, flag
    pinned FALSE).

    ``submitted_view`` — IDs actually present in submitted sheets; when
    given, restricts findings to them (the evident intent of the
    reference's discarded ``get_submitted_ids`` merge, bug §2.9.2).
    ``group_col``: batched multi-submission tag — added to the spine's
    GROUP BY and projected first in the output. ``extra_keys``: further
    GROUP BY columns NOT projected (batched multi-CBC mode rides
    ``__cbc_id`` through the spine this way — it is functionally
    dependent on the submission tag, so it never splits a group).
    ``cbc_id`` may be a ``PerRowCbc`` (see :func:`_cbc_scope_sql`)."""
    order = ["prior_clinical_test.csv", "demographic.csv",
             "biospecimen.csv", "confirmatory_clinical_test.csv"]
    have = {n: views[n] for n in order if views.get(n) is not None}
    ind = {n: _ind_sql(n, have) for n in order}
    whens = "".join(
        f" WHEN {ind['prior_clinical_test.csv']} = {str(p).upper()}"
        f" AND {ind['demographic.csv']} = {str(d).upper()}"
        f" AND {ind['biospecimen.csv']} = {str(b).upper()}"
        f" THEN {_sql_quote(text)}"
        for (p, d, b), text in _PART_PATTERNS)
    # Reference prefilter: missing from at least one source (:380); only
    # well-formed IDs of this CBC (:382).
    return _cross_findings_sql(
        "Cross_Participant_ID.csv", "Research_Participant_ID", have,
        " AND ".join(ind[n] for n in order), f"CASE{whens} END", cbc_id,
        "[_]{1}[0-9]{6}$", submitted_view, group_col, extra_keys)


def biospecimen_cross_sql(views: dict[str, str | None], cbc_id,
                          submitted_view: str | None,
                          type_sources: set[str] = frozenset(),
                          group_col: str | None = None,
                          extra_keys: tuple[str, ...] = ()) -> str:
    """J5: the 4 biospecimen patterns per processing table
    (``write_cross_bio_errors``), all on sheet ``Cross_Biospecimen_ID.csv``,
    column ``Biospecimen_ID``. ``type_sources`` — which submitted sources
    carry ``Biospecimen_Type``; an ID's type is its min over their rows
    (a duplicate ID with mixed types decodes as the DuckDB oracle does),
    ``''`` when none carries it. ``submitted_view`` / ``group_col`` /
    ``extra_keys`` / PerRowCbc ``cbc_id``: as in
    :func:`participant_cross_sql`.

    Deviation (documented): the reference stamps these findings with the
    joined frame's positional index + 2 — a meaningless artifact of the
    pandas join; we use the cross-sheet sentinel −10 consistently.
    """
    order = ["biospecimen.csv"] + [s for s, _ in _BIO_TABLES]
    have = {n: views[n] for n in order if views.get(n) is not None}
    carry = {n: ["Biospecimen_Type"] for n in type_sources if n in have}
    ind = {n: _ind_sql(n, have) for n in order}
    bio = ind["biospecimen.csv"]
    btype = "Biospecimen_Type" if carry else "''"
    is_pbmc = f"({btype} = 'PBMC')"
    whens = ""
    for source, display in _BIO_TABLES:
        t = ind[source]
        pairs = [(f"{t} AND NOT {bio}", _BIO_MSG_IN_T_NOT_BIO)]
        pairs += ([(f"{bio} AND NOT {t}", _BIO_MSG_BIO_NOT_T)]
                  if source == "aliquot.csv" else
                  [(f"{t} AND {bio} AND NOT {is_pbmc}", _BIO_MSG_NOT_PBMC),
                   (f"NOT {t} AND {bio} AND {is_pbmc}", _BIO_MSG_PBMC_MISSING)])
        whens += "".join(
            f" WHEN {cond} THEN {_sql_quote(msg.format(display=display))}"
            for cond, msg in pairs)
    # Keep-first across tables: the reference's dedup key is (Row_Index,
    # Column_Name, Column_Value), so one ID keeps only its FIRST matching
    # table's message (aliquot → equipment → reagent → consumable).
    return _cross_findings_sql(
        "Cross_Biospecimen_ID.csv", "Biospecimen_ID", have,
        " AND ".join(ind[n] for n in order), f"CASE{whens} END", cbc_id,
        "[_]{1}[0-9]{6}[_]{1}[0-9]{3}$", submitted_view, group_col,
        extra_keys, carry)


def icd10_flag_join(df: DataFrame, column: str, icd10_codes: DataFrame,
                    flag_col: str) -> DataFrame:
    """J8: broadcast left join against the ICD-10 code table; ``flag_col``
    is true iff the value is a known code. Replaces the reference's per-cell
    ``icd10.exists`` (File_Submission_Object.py:303-309, vendored package
    icd10/__init__.py:98-107) with a JVM-side hash join.

    Dot normalization: the reference strips dots before lookup
    (``codes.get(s.replace('.', ''))``), accepting both 'E11.9' and 'E119'
    — both sides of the join are normalized the same way here."""
    codes = icd10_codes.select(
        F.translate(F.col(icd10_codes.columns[0]), ".", "")
        .alias("__icd10_code"),
        F.lit(True).alias(flag_col)).distinct()
    out = df.join(F.broadcast(codes),
                  F.translate(df[column], ".", "") == F.col("__icd10_code"),
                  "left")
    return out.drop("__icd10_code")


# --- DuckDB oracle mirrors for the cross-sheet findings -------------------
# Generated from the SAME _PART_PATTERNS/_BIO_TABLES the SQL decoders
# use, so messages and keep-first priority cannot drift. Presence flags
# are membership tests per distinct key — equivalent to the spine's
# max(__src = ...) flags (they are per-key constants).

def participant_cross_oracle_sql(prior: str, demo: str, bio: str,
                                 conf: str, cbc_id: str) -> str:
    key = "Research_Participant_ID"
    branches = " ".join(
        f"WHEN {'' if p else 'NOT '}in_p AND {'' if d else 'NOT '}in_d"
        f" AND {'' if b else 'NOT '}in_b THEN "
        + "'" + text.replace("'", "''") + "'"
        for (p, d, b), text in _PART_PATTERNS)
    return f"""
SELECT DISTINCT 'Error' AS Message_Type,
  'Cross_Participant_ID.csv' AS CSV_Sheet_Name,
  CAST({ROW_CROSS_SHEET} AS BIGINT) AS Row_Index,
  '{key}' AS Column_Name, k AS Column_Value,
  CASE {branches} END AS Error_Message
FROM (
  SELECT k,
    k IN (SELECT {key} FROM {prior}) AS in_p,
    k IN (SELECT {key} FROM {demo}) AS in_d,
    k IN (SELECT {key} FROM {bio}) AS in_b,
    k IN (SELECT {key} FROM {conf}) AS in_c
  FROM (SELECT DISTINCT {key} AS k FROM {prior}
        UNION SELECT {key} FROM {demo}
        UNION SELECT {key} FROM {bio}
        UNION SELECT {key} FROM {conf}))
WHERE regexp_matches(k, '^{cbc_id}[_]{{1}}[0-9]{{6}}$')
  AND NOT (in_p AND in_d AND in_b AND in_c)
  AND (CASE {branches} END) IS NOT NULL
"""


def biospecimen_cross_oracle_sql(bio: str, ali: str, eq: str, re_: str,
                                 co: str, cbc_id: str) -> str:
    """Contract: the oracle resolves a duplicate ID's type with
    min(Biospecimen_Type), and so does every Spark path: the one
    :func:`presence_spine_sql` carries the type as its per-ID min, so a
    multi-typed ID decodes to one finding whatever the partitioning."""
    key = "Biospecimen_ID"
    ctes = {"aliquot.csv": ali, "equipment.csv": eq,
            "reagent.csv": re_, "consumable.csv": co}
    flags = {"aliquot.csv": "in_al", "equipment.csv": "in_eq",
             "reagent.csv": "in_re", "consumable.csv": "in_co"}
    def _lit(template: str, display: str) -> str:
        return "'" + template.format(display=display).replace("'", "''") + "'"

    branches = []
    for source, display in _BIO_TABLES:
        t = flags[source]
        branches.append(f"WHEN {t} AND NOT in_bio THEN "
                        + _lit(_BIO_MSG_IN_T_NOT_BIO, display))
        if source == "aliquot.csv":
            branches.append(f"WHEN in_bio AND NOT {t} THEN "
                            + _lit(_BIO_MSG_BIO_NOT_T, display))
        else:
            branches.append(f"WHEN {t} AND in_bio AND NOT is_pbmc THEN "
                            + _lit(_BIO_MSG_NOT_PBMC, display))
            branches.append(f"WHEN NOT {t} AND in_bio AND is_pbmc THEN "
                            + _lit(_BIO_MSG_PBMC_MISSING, display))
    chain = " ".join(branches)
    member = " ".join(
        f"k IN (SELECT {key} FROM {cte}) AS {flags[s]},"
        for s, cte in ctes.items())
    return f"""
SELECT DISTINCT 'Error' AS Message_Type,
  'Cross_Biospecimen_ID.csv' AS CSV_Sheet_Name,
  CAST({ROW_CROSS_SHEET} AS BIGINT) AS Row_Index,
  '{key}' AS Column_Name, k AS Column_Value,
  CASE {chain} END AS Error_Message
FROM (
  SELECT k,
    k IN (SELECT {key} FROM {bio}) AS in_bio,
    {member}
    coalesce((SELECT min(Biospecimen_Type) FROM {bio} b
              WHERE b.{key} = ids.k), '') = 'PBMC' AS is_pbmc
  FROM (SELECT DISTINCT {key} AS k FROM {bio}
        UNION SELECT {key} FROM {ali}
        UNION SELECT {key} FROM {eq}
        UNION SELECT {key} FROM {re_}
        UNION SELECT {key} FROM {co}) ids)
WHERE regexp_matches(k, '^{cbc_id}[_]{{1}}[0-9]{{6}}[_]{{1}}[0-9]{{3}}$')
  AND NOT (in_bio AND in_al AND in_eq AND in_re AND in_co)
  AND (CASE {chain} END) IS NOT NULL
"""
