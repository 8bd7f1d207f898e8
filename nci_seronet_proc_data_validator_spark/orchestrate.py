"""Concurrent multi-submission orchestration.

The reference processes submissions ONE AT A TIME in the Lambda body
(``for zip_file in file_list`` — nci-seronet-data-validator.py:69): each
submission's sheets load, validate, and sink before the next starts. At
100 TB the inter-submission axis is the cheap parallelism: submissions
are independent (separate sheets, separate findings, separate status
rows), so their jobs can share the cluster instead of head-of-line
blocking behind the largest one.

Spark-first shape:

- **One session, many scheduler pools.** Each submission (or
  same-schema group of submissions, :func:`validate_groups`) validates
  on its own thread inside the SAME SparkSession, with
  ``spark.scheduler.pool`` set to a per-group FAIR pool (the
  session factory enables FAIR mode). FAIR pools share executor slots
  round-robin, so a 10-sheet submission cannot starve a 1-sheet one;
  under a FIFO scheduler the same code still overlaps jobs, just
  without the fairness guarantee.
- **Thread-per-submission is driver-side only.** The threads never touch
  each other's state: the compile (:func:`validate_batched`) registers
  its temp views under a per-invocation uuid, and all data movement happens
  in executor tasks. PySpark's pinned-thread mode maps each Python
  thread to its own JVM thread, so the pool-local property cannot leak
  across submissions.
- **Bounded width.** ``max_parallel`` caps in-flight submissions the way
  ``maxFilesPerTrigger`` caps the streaming backlog
  (``streaming/watcher.py``): memory and retry cost stay sized by the
  bound, not the queue length.
"""

from __future__ import annotations

import logging
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Any, Callable

from pyspark.sql import SparkSession

from nci_seronet_proc_data_validator_spark.submission import (
    ValidationResult,
)

__all__ = ["CBC_COL", "ConcurrentOutcome", "SUB_COL", "validate_batched",
           "validate_batched_results", "validate_concurrent",
           "validate_groups"]


@dataclass
class ConcurrentOutcome:
    """Per-submission outcome of :func:`validate_groups` (and so of
    :func:`validate_concurrent`)."""
    result: ValidationResult | None     # None when the submission errored
    materialized: Any                   # return of the materialize hook
    seconds: float                      # wall time inside the worker
    error: Exception | None = None


def _default_materialize(res: ValidationResult) -> dict[str, int]:
    """Force execution inside the worker (so jobs overlap across pools)
    and return the error/warning counts — the same numbers the
    reference's job-status row carries (File_Submission_Object.py:458)."""
    counts = {r["Message_Type"]: r["n"] for r in
              (res.findings.groupBy("Message_Type").count()
               .withColumnRenamed("count", "n").collect())}
    return {"errors": counts.get("Error", 0),
            "warnings": counts.get("Warning", 0)}


def validate_concurrent(
        spark: SparkSession,
        submissions: dict[str, dict],
        max_parallel: int = 4,
        materialize: Callable[[ValidationResult], Any] | None = None,
) -> dict[str, ConcurrentOutcome]:
    """Validate many submissions concurrently in one SparkSession.

    ``submissions`` maps a submission id to the ``SubmissionValidator``
    keyword arguments (everything but ``spark``): ``sheets`` plus any of
    ``cbc_id``, ``declared_participants``, ``icd10_codes``,
    ``expected_columns``, ``today``, ... Results are keyed back by the
    same ids.

    Each submission is its own group of :func:`validate_groups` — its
    own compile, on its own worker thread and FAIR pool. ``materialize``
    runs INSIDE the worker thread after the compile and must touch the
    findings (default: severity counts) — Spark plans are lazy, so
    without an action per thread nothing would actually overlap. A
    submission that raises is captured in its outcome (``error`` set,
    ``result`` None) without failing the others — the reference's
    per-submission retry model, where one bad zip marks its own status
    row and the batch continues.
    """
    return validate_groups(
        spark, submissions, [[sid] for sid in submissions],
        materialize=materialize or _default_materialize,
        max_parallel=max_parallel)


# --------------------------------------------------------------- batched
SUB_COL = "__submission_id"
CBC_COL = "__cbc_id"

log = logging.getLogger(__name__)


def validate_batched(spark: SparkSession,
                     subs: "dict[str, dict]",
                     pretagged: "dict[str, DataFrame] | None" = None,
                     pinned_out: "list | None" = None,
                     clean_out: "dict | None" = None
                     ) -> "DataFrame":
    """THE rulebook compile: N same-shape submissions (N >= 1) through
    ONE compiled plan — findings for every submission, tagged
    ``__submission_id``, from a single spark.sql statement.

    Every entry mode runs through here: ``SubmissionValidator.validate``
    is the N=1 batch, the batch CLI and the completion watcher compile
    one batch per schema group (:func:`validate_groups`). Each sheet's
    rows are tagged with their submission id, same-named sheets unioned,
    and the rulebook compiled ONCE — driver build is O(distinct sheet
    schemas) (measured 2.6 s for 8 submissions vs 9.8 s of serialized
    per-submission builds), executor work scales with rows, and the
    submission count rides along as an ordinary grouping column. The
    spine joins, dup-ID groupings, enrichment joins, and the dedup key
    all include the tag, so submissions can never observe each other
    (pinned by tests/test_orchestrate.py::test_batched_matches_serial).

    Constraints (ValueError otherwise):
    - every submission shares ``today`` and ``fix_reference_bugs`` (the
      rulebook binding is per those values); ``cbc_id`` MAY differ per
      submission (the reference resolves the CBC per submission,
      File_Submission_Object.py:82-87): every row is tagged ``__cbc_id``
      and the C5 prefix checks + cross-sheet well-formed-ID scopes
      render as CASEs over that column, one branch per distinct CBC;
    - every submission has an IDENTICAL sheet-name set and an identical
      ``db_merged_tables`` name set: the >=2 cross-sheet family gates
      and the enrichment-parent availability are computed over the
      batch union, so a submission missing a family sheet the others
      have would silently receive spine findings / NULL-joined
      dependency columns it would never get on its own;
    - same-named sheets (and same-named fallback tables) share an
      identical column set (one schema → one compiled rule set);
    - every bound check must render as SQL text (always true for the
      built-in rulebook; a Column-valued custom rule has no text form);
    - ``icd10_codes`` may be passed in any submission's kwargs; the
      first non-None wins (it is a shared dictionary by nature).

    ``db_merged_tables`` (the S5 JDBC fallback parents for sheets not
    submitted, File_Submission_Object.py:501-527) are per-submission
    side inputs: each submission's frame is tagged like its sheets and
    the tagged frames are unioned per sheet name (one frame object
    shared by every submission is tagged once, by a cross join with the
    batch's submission ids); a submitted sheet always overrides its
    fallback. A fallback may live on another
    session than ``spark`` (foreachBatch compiles on the streaming
    clone session); its views then register as global temp views.

    Count reconciliation (A4), the P10 header findings and the summary
    are per-submission driver logic on top — see
    :func:`validate_batched_results`.

    ``pretagged``: optional {sheet_name: DataFrame} where each frame is
    ONE multi-file scan already carrying ``__submission_id`` and a
    per-file ``row_index`` (``sources.readers.read_sheet_csv_tagged``) —
    the 100 TB scan shape: N submissions are just N files of one
    datasource, not N unioned single-file scan nodes. When provided, the
    per-submission tag+union step is skipped and ``subs[sid]["sheets"]``
    is read only for its KEYS (its values may be probed column-name
    lists); callers build both structures from the same listing.

    ``clean_out``: optional dict the function fills with its per-sheet
    CLEANED tagged union frames — the exact frames the findings compiled
    from (:func:`validate_batched_results`' one-job A4).

    ``pinned_out``: optional list the function APPENDS its per-sheet
    persisted union frames to. Those persists are data-scale and
    multi-consumer within the one compiled statement; once a caller has
    materialized the findings, ``unpersist()`` each for deterministic
    release (a resident watcher must).

    Returns a DataFrame with ``__submission_id`` + the six finding
    columns, deduplicated per submission with the standard key.
    """
    import uuid as _uuid

    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.errors import (
        FINDING_COLUMNS,
        empty_findings,
        local_rows_df,
        sql_string_map,
    )
    from nci_seronet_proc_data_validator_spark.functions.checks import (
        PerRowCbc,
    )
    from nci_seronet_proc_data_validator_spark.operators.joins import (
        MERGE_COLS,
        biospecimen_cross_sql,
        icd10_flag_join,
        merge_tables,
        participant_cross_sql,
    )
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        with_typed_shadows,
    )
    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        _icd10_flag,
        bind_sheet_rules_cached,
    )
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        dup_id_findings_sql,
        sheet_findings_sql_cached,
    )
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        cleanup_sheet,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        SKIP_VALIDATION,
    )

    if not subs:
        raise ValueError("no submissions")
    shared = {(kw.get("today"), kw.get("fix_reference_bugs", True))
              for kw in subs.values()}
    if len(shared) > 1:
        raise ValueError(
            f"batched mode needs shared (today, fix_reference_bugs); "
            f"got {sorted(map(str, shared))} — group submissions by "
            f"those values, one batch each")
    today, fix_bugs = next(iter(shared))
    sheet_sets = {frozenset(n for n in kw["sheets"]
                            if n not in SKIP_VALIDATION)
                  for kw in subs.values()}
    if len(sheet_sets) > 1:
        raise ValueError(
            "batched mode needs an identical sheet-name set per "
            "submission (the cross-sheet family gates and enrichment "
            "parents are computed over the batch union); got "
            f"{sorted(tuple(sorted(s)) for s in sheet_sets)}"
            " — group submissions by sheet set, one batch each")
    db_sets = {frozenset(kw.get("db_merged_tables") or ())
               for kw in subs.values()}
    if len(db_sets) > 1:
        raise ValueError(
            "batched mode needs an identical db_merged_tables sheet-name "
            f"set per submission; got "
            f"{sorted(tuple(sorted(s)) for s in db_sets)}")
    cbc_by_sub = {sid: str(kw.get("cbc_id", "0"))
                  for sid, kw in subs.items()}
    cbc = PerRowCbc(column=CBC_COL,
                    values=tuple(sorted(set(cbc_by_sub.values()))))
    icd10 = next((kw["icd10_codes"] for kw in subs.values()
                  if kw.get("icd10_codes") is not None), None)

    def tag(df, sid: str):
        return df.withColumns({SUB_COL: F.lit(sid),
                               CBC_COL: F.lit(cbc_by_sub[sid])})

    def union_one_schema(name: str, legs: list):
        if len({tuple(sorted(leg.columns)) for leg in legs}) > 1:
            raise ValueError(
                f"batched mode needs one schema per sheet name; {name} "
                f"has distinct column sets across submissions")
        u = legs[0]
        for leg in legs[1:]:
            u = u.unionByName(leg)
        return u

    clean: dict[str, "DataFrame"] = {}
    if pretagged is not None:
        wanted = next(iter(sheet_sets))
        missing_pre = wanted - set(pretagged)
        if missing_pre:
            raise ValueError(f"pretagged is missing sheets "
                             f"{sorted(missing_pre)}")
        # cbc per row from the submission tag; unknown tags fail loud
        # (a pretagged frame with a sid outside `subs` would otherwise
        # silently validate under no CBC)
        cbc_expr = F.coalesce(
            F.expr(sql_string_map(spark, sorted(cbc_by_sub.items())))[
                F.col(SUB_COL)],
            F.raise_error(F.concat(
                F.lit("validate_batched: pretagged row with unknown "
                      "submission id "), F.col(SUB_COL))))
        tagged_sheets = {}
        for name in sorted(wanted):
            if SUB_COL not in pretagged[name].columns:
                raise ValueError(f"pretagged[{name}] lacks {SUB_COL}")
            tagged_sheets[name] = pretagged[name].withColumn(CBC_COL,
                                                             cbc_expr)
    else:
        by_sheet: dict[str, list] = {}
        for sid, kw in subs.items():
            for name, df in kw["sheets"].items():
                if name not in SKIP_VALIDATION:
                    by_sheet.setdefault(name, []).append(tag(df, sid))
        tagged_sheets = {name: union_one_schema(name, legs)
                         for name, legs in by_sheet.items()}
    for name, u in tagged_sheets.items():
        # Persist: the union is a MULTI-consumer base (findings chunks,
        # dup-ID leg, Merged_Table projections, submitted-id views) —
        # unpersisted, every consumer re-parses N submissions' multiLine
        # CSVs from text. One parse fills the cache; consumers scan
        # columnar blocks.
        clean[name] = cleanup_sheet(
            u, fix_bugs, carry_cols=(SUB_COL, CBC_COL)).persist()
        if pinned_out is not None:
            pinned_out.append(clean[name])
    if clean_out is not None:
        clean_out.update(clean)

    # -- per-submission-keyed Merged_Tables (tags carried: the submission
    # id keys every join; the CBC tag rides along for the cross-sheet
    # scope CASEs — functionally dependent on the id, so joining on both
    # never changes multiplicity). DB fallbacks first, submitted sheets
    # override them.
    def fallback(name: str):
        frames = [kw["db_merged_tables"][name] for kw in subs.values()]
        if len(frames) > 1 and all(f is frames[0] for f in frames):
            # ONE fallback shared by the batch (the watcher's
            # bind_kwargs): tag it once against a local (sid, cbc)
            # relation — a constant-size plan, not an N-leg union of
            # the same scan
            ids = local_rows_df(frames[0].sparkSession,
                                sorted(cbc_by_sub.items()),
                                f"{SUB_COL} string, {CBC_COL} string")
            return frames[0].crossJoin(F.broadcast(ids))
        return union_one_schema(name, [
            tag(kw["db_merged_tables"][name], sid)
            for sid, kw in subs.items()])

    merged: dict[str, "DataFrame"] = {
        name: fallback(name)
        for name in sorted(next(iter(db_sets)) - set(clean))}
    for name, df in clean.items():
        mc = [c for c in MERGE_COLS.get(name, []) if c in df.columns]
        if mc:
            merged[name] = df.select(SUB_COL, CBC_COL, *mc)

    run_id = _uuid.uuid4().hex[:8]
    sql_legs: list[str] = []
    views: list[tuple[bool, str]] = []

    def reg(df, tag_: str) -> str:
        v = f"__batched_{run_id}_{tag_}"
        # A temp view registers in the DATAFRAME's session, but the SQL
        # below runs on `spark` — fine until a caller-provided side
        # input (a db_merged_tables fallback) was created on a DIFFERENT
        # session: foreachBatch hands the compile the streaming CLONE
        # session while the fallback frame lives on the original, and
        # the view would land in a catalog spark.sql never consults.
        # Global temp views are the public cross-session mechanism; use
        # one exactly when the sessions differ.
        sess = df.sparkSession
        if sess is spark or sess._jsparkSession.equals(
                spark._jsparkSession):
            df.createOrReplaceTempView(v)
            views.append((False, v))
            return v
        df.createOrReplaceGlobalTempView(v)
        views.append((True, v))
        return f"global_temp.{v}"

    # Dependency columns referenced by rules arrive via the enrichment
    # joins and are absent when the parent sheet was not submitted and
    # no DB fallback exists (e.g. the SARS column without
    # prior_clinical_test; the reference always has the MySQL
    # fallback). Sentinels: '' disables dependency-scoped rules; NULL
    # makes assay resolution (C9) flag everything as unresolved — "not
    # found in database or submitted file" is then literally true.
    defaults = {
        "SARS_CoV_2_PCR_Test_Result": F.lit(""),
        "Biospecimen_Type": F.lit(""),
        "Assay_Name": F.lit(None).cast("string"),
        "Assay_Antigen_Source": F.lit(None).cast("string"),
    }
    for i, (name, df) in enumerate(clean.items()):
        original_cols = [c for c in df.columns
                         if c not in ("row_index", SUB_COL, CBC_COL)]
        enriched, drop_list = merge_tables(name, df, merged,
                                           extra_keys=(SUB_COL,))
        enriched = with_typed_shadows(
            enriched, skip=("row_index", SUB_COL, CBC_COL))
        # Memoized: every batch sharing this sheet schema skips both the
        # rule binding and the 459-check SQL render below.
        bound = bind_sheet_rules_cached(
            name, original_cols, cbc, drop_list=drop_list,
            today=today, fix_reference_bugs=fix_bugs)
        if not all(isinstance(ce.violation, str)
                   and isinstance(ce.message, str)
                   for cr in bound.column_rules for ce in cr.checks):
            raise ValueError(
                f"batched mode compiles findings as SQL text; sheet "
                f"{name} bound a Column-valued check (custom caller "
                f"rule) that has no text form")
        missing = {c: v for c, v in defaults.items()
                   if c not in enriched.columns}
        if missing:
            enriched = enriched.withColumns(missing)
        for c in bound.icd10_columns:
            if icd10 is not None:
                enriched = icd10_flag_join(enriched, c, icd10,
                                           _icd10_flag(c))
            else:
                enriched = enriched.withColumn(_icd10_flag(c), F.lit(False))
        view = reg(enriched, f"s{i}")
        # codegen_chunk=9: the fused full-width findings projection
        # exceeds HotSpot's JIT size ceiling and runs interpreted (the
        # rulebook's measured lesson, plans/rules.py) — at batched
        # volume that is the dominant cost, not a nicety.
        sql_legs.extend(sheet_findings_sql_cached(
            view, name, bound, codegen_chunk=9, carry_cols=(SUB_COL,)))
        if bound.dup_id_columns:
            # over the CLEAN sheet, not the enriched one: enrichment
            # joins must not influence dup multiplicity
            dview = reg(df, f"d{i}")
            sql_legs.extend(
                dup_id_findings_sql(dview, name, c, group_cols=(SUB_COL,))
                for c in bound.dup_id_columns)

    # -- cross-sheet, spine keys include the tag
    def submitted_view(family: tuple, key: str, tag_: str) -> str | None:
        """Union of IDs present in SUBMITTED sheets (get_submitted_ids
        intent, File_Submission_Object.py:356-367 — reference bug
        §2.9.2: its merge result was discarded; we apply the
        restriction)."""
        if not fix_bugs:
            return None
        parts = [df.select(SUB_COL, CBC_COL, key)
                 for name, df in clean.items()
                 if name in family and key in df.columns]
        if not parts:
            return None
        u = parts[0]
        for p_ in parts[1:]:
            u = u.unionByName(p_)
        return reg(u.distinct(), tag_)

    part_family = ("prior_clinical_test.csv", "demographic.csv",
                   "biospecimen.csv", "confirmatory_clinical_test.csv")
    part_srcs = {n: merged.get(n) for n in part_family}
    if sum(v is not None for v in part_srcs.values()) >= 2:
        pviews = {n: (reg(src, f"p{j}") if src is not None else None)
                  for j, (n, src) in enumerate(part_srcs.items())}
        sv = submitted_view(part_family, "Research_Participant_ID", "psub")
        sql_legs.append(participant_cross_sql(
            pviews, cbc, sv, group_col=SUB_COL, extra_keys=(CBC_COL,)))
    bio_family = ("biospecimen.csv", "aliquot.csv", "equipment.csv",
                  "reagent.csv", "consumable.csv")
    bio_srcs = {n: merged.get(n) for n in bio_family}
    if sum(v is not None for v in bio_srcs.values()) >= 2:
        bviews = {n: (reg(src, f"b{j}") if src is not None else None)
                  for j, (n, src) in enumerate(bio_srcs.items())}
        type_sources = {n for n, src in bio_srcs.items()
                        if src is not None
                        and "Biospecimen_Type" in src.columns}
        sv = submitted_view(bio_family, "Biospecimen_ID", "bsub")
        sql_legs.append(biospecimen_cross_sql(
            bviews, cbc, sv, type_sources=type_sources,
            group_col=SUB_COL, extra_keys=(CBC_COL,)))

    findings = spark.sql(" UNION ALL ".join(sql_legs)) if sql_legs else None
    for is_global, v in views:     # resolved eagerly by spark.sql above
        if is_global:
            spark.catalog.dropGlobalTempView(v)
        else:
            spark.catalog.dropTempView(v)
    if findings is None:
        out = empty_findings(spark).withColumn(SUB_COL, F.lit(""))
        return out.select(SUB_COL, *FINDING_COLUMNS)
    # per-submission dedup: the standard key, tag prepended
    return findings.dropDuplicates(
        [SUB_COL, "CSV_Sheet_Name", "Row_Index", "Column_Name",
         "Column_Value"])


def validate_batched_results(
        spark: SparkSession,
        subs: "dict[str, dict]",
        pretagged: "dict[str, DataFrame] | None" = None,
        combined_out: "list | None" = None
        ) -> "dict[str, ValidationResult]":
    """Full validation of a batch: ONE compiled plan for the findings
    (:func:`validate_batched`), then the per-submission driver tail —
    count reconciliation (A4), header/column findings (P10), and the
    sheet × severity summary — returning :class:`ValidationResult`
    objects keyed like ``subs``. ``SubmissionValidator.validate`` is
    this call with one submission.

    The tail COMPARISONS are per-submission by contract (the declared
    counts come from each submission's own ``submission.csv``, and the
    reconciling comparison is driver logic in the reference too,
    File_Submission_Object.py:397-415) — but the COUNTS they compare
    against are computed batch-wide: one grouped anti-join job per ID
    family over the tagged clean frames, keyed by the submission tag.
    Per-submission work is thereafter pure driver logic: dict lookups,
    P10 header set algebra, and lazy plan construction — no actions.

    A sheet registers into the participant/biospecimen reconciliation
    when the family's ID column is among its own (pre-enrichment)
    columns — enrichment-added columns are disjoint from the sheet's own
    by construction (``merge_tables`` only adds absent columns), and
    sheet schemas are batch-uniform, so the batch-wide family equals
    every submission's own family.

    ``subs[sid]["sheets"]`` values are read for their column NAMES (P10);
    with ``pretagged`` they may be plain column-name lists (e.g. probed
    headers) — the cheap shape for bursts, where per-submission
    DataFrame construction is pure py4j overhead; without ``pretagged``
    they must be real DataFrames (the tag+union compile reads their
    rows).

    ``combined_out``: optional list that receives ONE DataFrame holding
    the whole batch's row findings (the six columns + the
    ``__submission_id`` tag): the checkpointed batch frame unioned with
    a single local relation of every A4 row. A consumer that sinks the
    batch as a whole (the completion watcher) must use THIS frame, not
    a re-union of the per-submission ``findings`` slices — N slices of
    the same checkpoint execute as N× its partitions in one job
    (measured: 96 tiny submissions → ~3000 tasks, 57 s, for 576 rows),
    while the combined frame is one scan + one local leg.
    """
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.errors import local_rows_df
    from nci_seronet_proc_data_validator_spark.submission import (
        A4_FAMILIES,
        A4_ROW_SCHEMA,
        a4_mismatch_tuple,
        column_finding_rows,
    )

    # localCheckpoint, not persist: every per-submission tail/summary
    # action derives a NEW DataFrame from the batched findings, and a
    # persisted df still carries the FULL logical plan (N-leg sheet
    # unions x all rendered SQL legs) — Catalyst re-ANALYZES that tree
    # for each derived action even when execution hits the cache.
    # Measured at 24 tiny submissions: ~3 s of driver analysis per
    # summary, 78 s total. The eager checkpoint truncates lineage to a
    # leaf scan (executor-resident blocks freed by the ContextCleaner) —
    # findings are error-bounded, not data-scale. The per-sheet union
    # persists (data-scale) have exactly one consumer tree, the
    # checkpoint materialization and the A4 job below — free them
    # deterministically right after.
    pinned: list = []
    clean_tagged: dict = {}
    tagged = validate_batched(
        spark, subs, pretagged=pretagged, pinned_out=pinned,
        clean_out=clean_tagged).localCheckpoint(eager=True)

    # -- batched A4: ONE grouped anti-join job per ID family for the
    # WHOLE batch: anti-join ids against same-sheet ID findings on
    # (sub, sheet, value), then count DISTINCT (sub, id) per sub.
    a4_counts: "dict[str, dict[str, int]]" = {}
    declared_of = {
        "Research_Participant_ID": "declared_participants",
        "Biospecimen_ID": "declared_biospecimens"}
    for col_name, _label, _fname in A4_FAMILIES:
        family = [(n, df) for n, df in sorted(clean_tagged.items())
                  if col_name in df.columns]
        if not family or not any(
                kw.get(declared_of[col_name]) is not None
                for kw in subs.values()):
            continue
        errs = (tagged.filter((F.col("Column_Name") == col_name)
                              & (F.col("Row_Index") >= 0))
                .select(SUB_COL,
                        F.col("CSV_Sheet_Name").alias("__sheet"),
                        F.col("Column_Value").alias(col_name)))
        ids = None
        for name, df in family:
            leg = df.select(SUB_COL, F.lit(name).alias("__sheet"),
                            col_name)
            ids = leg if ids is None else ids.unionByName(leg)
        passing = ids.join(errs, [SUB_COL, "__sheet", col_name],
                           "left_anti")
        a4_counts[col_name] = {
            r[SUB_COL]: r["n"]
            for r in (passing.select(SUB_COL, col_name).distinct()
                      .groupBy(SUB_COL).agg(F.count("*").alias("n"))
                      .collect())}
    for df in pinned:
        df.unpersist()

    # A4 comparisons (reference bug §2.9.6: the emitted Column_Value
    # reads an attribute that was never set; we emit the declared count,
    # the evident intent) as driver tuples, then ONE local relation for
    # every A4 row in the batch: the per-submission frames are filters
    # of it and the combined batch frame unions it whole.
    a4_rows: "dict[str, list[tuple]]" = {}
    for sid, kw in subs.items():
        rows = []
        for (col_name, label, fname), declared in (
                (A4_FAMILIES[0], kw.get("declared_participants")),
                (A4_FAMILIES[1], kw.get("declared_biospecimens"))):
            if declared is None or col_name not in a4_counts:
                continue
            tup = a4_mismatch_tuple(declared,
                                    a4_counts[col_name].get(sid, 0),
                                    label, fname)
            if tup is not None:
                rows.append(tup)
        if rows:
            a4_rows[sid] = rows
    a4_all = None
    if a4_rows:
        a4_all = local_rows_df(
            spark,
            [(sid, *row) for sid, rows in sorted(a4_rows.items())
             for row in rows],
            f"{SUB_COL} string, {A4_ROW_SCHEMA}")

    if combined_out is not None:
        combined_out.append(tagged if a4_all is None
                            else tagged.unionByName(a4_all))

    def findings_of(sid: str):
        f = tagged.filter(F.col(SUB_COL) == sid).drop(SUB_COL)
        if sid in a4_rows:
            f = f.unionByName(
                a4_all.filter(F.col(SUB_COL) == sid).drop(SUB_COL))
        return f

    return {sid: ValidationResult(
                spark, findings_thunk=lambda sid=sid: findings_of(sid),
                column_finding_rows=column_finding_rows(
                    kw["sheets"], kw.get("expected_columns")))
            for sid, kw in subs.items()}


def validate_groups(spark: SparkSession,
                    subs: "dict[str, dict]",
                    groups: "list[list[str]]",
                    pretag: "Callable[[list[str]], dict] | None" = None,
                    combined_out: "list | None" = None,
                    materialize: "Callable[[ValidationResult], Any] | None"
                    = None,
                    max_parallel: int = 4
                    ) -> "dict[str, ConcurrentOutcome]":
    """Validate ``subs`` one schema group at a time, each group through
    ONE :func:`validate_batched_results` compile, with per-submission
    failure isolation — the one multi-submission driver: the batch CLI,
    the completion watcher and :func:`validate_concurrent` (singleton
    groups) all run through it.

    ``groups`` partitions the submission ids by the caller's schema
    signature (a group of one is an ordinary N=1 batch). ``pretag``
    optionally builds a group's ``pretagged`` multi-file scans from its
    member ids; ``combined_out`` collects each successful group's
    combined batch frame; ``materialize`` runs per member inside the
    group's worker (see :func:`validate_concurrent`).

    Each group runs on its own worker thread (the calling thread when
    there is only one group), at most ``max_parallel`` at once: the
    per-group work is driver-build-heavy and the GIL serializes builds
    past ~4 threads (BENCH_NOTES r11). Its jobs carry a per-group FAIR
    pool (``submission-<first member>``) and job description, THREAD-
    LOCAL properties (pinned thread mode) restored when the worker ends,
    so nothing later on the same thread inherits them.

    Isolation (the reference's "Moving onto Next Submitted File" loop,
    nci-seronet-data-validator.py:70,109-111): when a group's compile
    fails, each member is retried as its own group, so only the
    genuinely poisoned member fails — without it one malformed
    submission would fail every submission sharing its schema. A
    member whose ``materialize`` raises fails alone too.

    Returns a :class:`ConcurrentOutcome` per id: ``result`` set, or
    ``error`` set and ``result`` None; ``seconds`` is the wall time of
    the member's group worker.
    """
    sc = spark.sparkContext

    def settle(members: list, res: dict, t0: float) -> dict:
        def one(sid: str) -> tuple[str, ConcurrentOutcome]:
            try:
                mat = materialize(res[sid]) if materialize else None
                return sid, ConcurrentOutcome(
                    result=res[sid], materialized=mat,
                    seconds=time.time() - t0)
            except Exception as exc:  # noqa: BLE001 — isolate per submission
                return sid, ConcurrentOutcome(
                    result=None, materialized=None,
                    seconds=time.time() - t0, error=exc)
        if materialize is None or len(members) == 1:
            return dict(map(one, members))
        # independent per-member actions over the shared checkpoint
        with ThreadPoolExecutor(max_workers=min(8, len(members)),
                                thread_name_prefix="materialize") as tp:
            return dict(tp.map(one, members))

    def isolated(members: list) -> dict:
        t0 = time.time()
        prev = [(k, sc.getLocalProperty(k))
                for k in ("spark.scheduler.pool", "spark.job.description")]
        sc.setLocalProperty("spark.scheduler.pool",
                            f"submission-{members[0]}")
        sc.setJobDescription(
            f"validate submission {members[0]}" if len(members) == 1
            else f"validate {len(members)} submissions ({members[0]}, ...)")
        try:
            try:
                frames: list = []
                res = validate_batched_results(
                    spark, {s: subs[s] for s in members},
                    pretagged=pretag(members) if pretag else None,
                    combined_out=frames)
            except Exception as exc:  # noqa: BLE001 — isolate per submission
                if len(members) == 1:
                    return {members[0]: ConcurrentOutcome(
                        result=None, materialized=None,
                        seconds=time.time() - t0, error=exc)}
                log.warning("batched group compile failed (%s); retrying "
                            "each of %s as its own group", exc, members)
                out: dict = {}
                for sid in members:
                    out.update(isolated([sid]))
                return out
            if combined_out is not None:
                combined_out.extend(frames)
            return settle(members, res, t0)
        finally:
            for k, v in prev:
                sc.setLocalProperty(k, v)

    if len(groups) == 1:
        return isolated(groups[0])
    out: dict = {}
    with ThreadPoolExecutor(max_workers=max(1, min(max_parallel,
                                                   len(groups))),
                            thread_name_prefix="submission") as pool:
        for o in pool.map(isolated, groups):
            out.update(o)
    return out
