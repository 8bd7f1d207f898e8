"""Multi-submission orchestration: every entry mode's path from
submissions to findings.

The reference processes submissions ONE AT A TIME in the Lambda body
(``for zip_file in file_list`` — nci-seronet-data-validator.py:69): each
submission's sheets load, validate, and sink before the next starts. At
100 TB the inter-submission axis is the cheap parallelism: submissions
are independent (separate sheets, separate findings, separate status
rows), so their jobs can share the cluster instead of head-of-line
blocking behind the largest one.

Three layers, each the only one of its kind:

- :func:`validate_dirs` — submission DIRECTORIES to schema groups:
  driver-side header probe, ``submission.csv`` metadata, the
  order-sensitive :func:`group_by_schema` signature and one pretagged
  multi-file scan per sheet. The batch CLI and the completion watcher
  both call it.
- :func:`validate_groups` — one compile per schema group, each group on
  its own worker thread inside the SAME SparkSession with a per-group
  FAIR pool (``spark.scheduler.pool``; the session factory enables FAIR
  mode, so a 10-sheet submission cannot starve a 1-sheet one). At most
  ``MAX_PARALLEL`` groups run at once, the way ``maxFilesPerTrigger``
  caps the streaming backlog: memory and retry cost stay sized by the
  bound, not the queue length. A failing group is retried member by
  member.
- :func:`validate_batched_results` / :func:`validate_batched` — THE
  rulebook compile, N >= 1 submissions through one plan
  (``SubmissionValidator.validate`` is the N=1 call). Its temp views
  are registered under a per-invocation uuid, so concurrent groups
  never touch each other's state; PySpark's pinned-thread mode maps each
  Python thread to its own JVM thread, so the pool-local property
  cannot leak across groups.
"""

from __future__ import annotations

import logging
import threading
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import SparkSession

from nci_seronet_proc_data_validator_spark.submission import (
    SKIP_VALIDATION,
    ValidationResult,
)

__all__ = ["CBC_COL", "ConcurrentOutcome", "SUB_COL", "group_by_schema",
           "validate_batched", "validate_batched_results", "validate_dirs",
           "validate_groups"]


@dataclass
class ConcurrentOutcome:
    """Per-submission outcome of :func:`validate_groups` (and so of
    :func:`validate_dirs`)."""
    result: ValidationResult | None     # None when the submission errored
    seconds: float                      # wall time inside the worker
    error: Exception | None = None


# Schema groups validated at once: the per-group work is
# driver-build-heavy and the GIL serializes builds past ~4 threads
# (BENCH_NOTES r11).
MAX_PARALLEL = 4


# --------------------------------------------------------------- batched
SUB_COL = "__submission_id"
CBC_COL = "__cbc_id"

log = logging.getLogger(__name__)

# Dependency columns that rules read through the enrichment joins, and
# the value a sheet gets when they are absent: the parent sheet was not
# submitted and no DB fallback exists (e.g. the SARS column without
# prior_clinical_test; the reference always has the MySQL fallback), or
# the caller joins no parents at all (the per-sheet watcher). '' disables
# dependency-scoped rules; NULL makes assay resolution (C9) flag every
# value as unresolved — "not found in database or submitted file" is then
# literally true. SQL text: one selectExpr, not a py4j round-trip per
# Column.
_DEPENDENCY_DEFAULTS = {
    "SARS_CoV_2_PCR_Test_Result": "''",
    "Biospecimen_Type": "''",
    "Assay_Name": "CAST(NULL AS STRING)",
    "Assay_Antigen_Source": "CAST(NULL AS STRING)",
}


def view_registry(spark: SparkSession):
    """``(reg, drop)`` for one statement's temp views. ``reg(df)``
    registers ``df`` under a per-invocation uuid name (concurrent
    compiles never collide) and returns the name ``spark.sql`` queries it
    by; ``drop()`` drops every registered view.

    ``spark.sql`` resolves views eagerly, so the statement no longer
    needs them once built — but ``dropTempView`` also UNCACHES every
    cached plan equal to the view's plan. A persisted frame registered
    as is (or a view whose plan reproduces it) loses its cache on
    ``drop()``, and every later action re-derives it from source. Call
    ``drop()`` after the last action that should read such a cache."""
    import uuid

    run_id = uuid.uuid4().hex[:8]
    views: list[tuple[bool, str]] = []

    def reg(df) -> str:
        v = f"__batched_{run_id}_{len(views)}"
        # A temp view registers in the DATAFRAME's session, but the SQL
        # runs on `spark` — fine until a caller-provided side input (a
        # db_merged_tables fallback) was created on a DIFFERENT session:
        # foreachBatch hands the compile the streaming CLONE session
        # while the fallback frame lives on the original, and the view
        # would land in a catalog spark.sql never consults. Global temp
        # views are the public cross-session mechanism; use one exactly
        # when the sessions differ.
        sess = df.sparkSession
        if sess is spark or sess._jsparkSession.equals(
                spark._jsparkSession):
            df.createOrReplaceTempView(v)
            views.append((False, v))
            return v
        df.createOrReplaceGlobalTempView(v)
        views.append((True, v))
        return f"global_temp.{v}"

    def drop() -> None:
        for is_global, v in views:
            if is_global:
                spark.catalog.dropGlobalTempView(v)
            else:
                spark.catalog.dropTempView(v)

    return reg, drop


def sheet_findings_legs(df: "DataFrame", name: str, columns: "list[str]",
                        cbc, reg, icd10_codes=None, *,
                        drop_list: "list[str] | None" = None,
                        today=None, fix_reference_bugs: bool = True):
    """ONE sheet's per-column findings as SQL legs: the per-sheet body of
    :func:`validate_batched` and of the per-sheet watcher
    (``streaming.watcher.validate_stream_multi``), so both shadow, bind,
    default and render a sheet the same way.

    ``df`` is the CLEAN sheet (``sources.readers.cleanup_sheet``) with
    ``row_index`` and the ``__submission_id`` / ``__cbc_id`` tags, plus
    any parent columns the caller's enrichment joins added (named by
    ``drop_list``: exempt from rules). ``columns`` are the sheet's own
    data columns, ``cbc`` the ``PerRowCbc`` over ``__cbc_id``, and
    ``reg`` the registrar of :func:`view_registry`. Returns the bound
    rules (the caller's dup-ID leg reads ``dup_id_columns``) and the
    rendered legs, each a SELECT of ``__submission_id`` + the six finding
    columns over the registered view.
    """
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        with_typed_shadows,
    )
    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules_cached,
        with_icd10_flags,
    )
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        sheet_findings_sql_cached,
    )

    df = with_typed_shadows(df, skip=("row_index", SUB_COL, CBC_COL))
    # Memoized: every batch (and micro-batch) sharing this sheet schema
    # skips both the rule binding and the 459-check SQL render below;
    # the key includes the date, so a midnight rollover still refreshes
    # expiration cutoffs.
    bound = bind_sheet_rules_cached(
        name, list(columns), cbc, drop_list=drop_list, today=today,
        fix_reference_bugs=fix_reference_bugs)
    have = set(df.columns)
    missing = [f"{v} AS {c}" for c, v in _DEPENDENCY_DEFAULTS.items()
               if c not in have]
    if missing:
        df = df.selectExpr("*", *missing)
    view = reg(with_icd10_flags(df, bound, icd10_codes))
    # codegen_chunk=9: the fused full-width findings projection exceeds
    # HotSpot's JIT size ceiling and runs interpreted (the rulebook's
    # measured lesson, plans/rules.py) — at batched volume that is the
    # dominant cost, not a nicety.
    return bound, sheet_findings_sql_cached(
        view, name, bound, codegen_chunk=9, carry_cols=(SUB_COL,))


def validate_batched(spark: SparkSession,
                     subs: "dict[str, dict]",
                     pretagged: "dict[str, DataFrame] | None" = None,
                     release_out: "list | None" = None,
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
    spine groupings, dup-ID groupings, enrichment joins, and the dedup
    key all include the tag, so submissions can never observe each other
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
    from (:func:`validate_batched_results`' one-action A4).

    The cleaned unions are persisted for the statement's many
    consumers. They stay cached only while its temp views live, since
    dropping a view uncaches equal plans (:func:`view_registry`).
    ``release_out``: optional list the function APPENDS its one release
    callable to, before anything is persisted; the callable drops the
    views and unpersists the unions. A caller that passes it runs every
    action that should read the caches first, then calls the release in
    a ``finally`` — also when this function raises. Without it the
    release runs before the function returns, and the returned plan
    re-reads its sources on every action.

    Returns a DataFrame with ``__submission_id`` + the six finding
    columns, deduplicated per submission with the standard key.
    """
    releases = [] if release_out is None else release_out
    try:
        return _compile_batch(spark, subs, pretagged, releases, clean_out)
    finally:
        if release_out is None:
            for release in releases:
                release()


def _compile_batch(spark: SparkSession, subs: "dict[str, dict]",
                   pretagged: "dict[str, DataFrame] | None",
                   release_out: list, clean_out: "dict | None"
                   ) -> "DataFrame":
    """The body of :func:`validate_batched`; appends its release to
    ``release_out`` before the first persist."""
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
        merge_tables,
        participant_cross_sql,
    )
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        dup_id_findings_sql,
    )
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        cleanup_sheet,
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
    reg, drop_views = view_registry(spark)

    def release() -> None:
        drop_views()
        for df in clean.values():
            df.unpersist()

    release_out.append(release)
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
        # dup-ID leg, Merged_Table projections, submitted-id views,
        # the caller's A4) — unpersisted, every consumer re-parses N
        # submissions' multiLine CSVs from text and recomputes the
        # per-file row index (2 shuffles + a broadcast each). One parse
        # fills the cache and consumers scan columnar blocks, as long
        # as the views live: `release` drops them only after the
        # caller's last action.
        clean[name] = cleanup_sheet(
            u, fix_bugs, carry_cols=(SUB_COL, CBC_COL)).persist()
    if clean_out is not None:
        clean_out.update(clean)

    # -- per-submission-keyed Merged_Tables (tags carried: the submission
    # id keys every join and spine group; the CBC tag rides along for the
    # cross-sheet scope CASEs — functionally dependent on the id, so
    # keying on both never changes multiplicity). DB fallbacks first,
    # submitted sheets override them.
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

    sql_legs: list[str] = []
    for name, df in clean.items():
        original_cols = [c for c in df.columns
                         if c not in ("row_index", SUB_COL, CBC_COL)]
        enriched, drop_list = merge_tables(name, df, merged,
                                           extra_keys=(SUB_COL,))
        bound, legs = sheet_findings_legs(
            enriched, name, original_cols, cbc, reg, icd10,
            drop_list=drop_list, today=today, fix_reference_bugs=fix_bugs)
        sql_legs.extend(legs)
        if bound.dup_id_columns:
            # over the CLEAN sheet, not the enriched one: enrichment
            # joins must not influence dup multiplicity
            dview = reg(df)
            sql_legs.extend(
                dup_id_findings_sql(dview, name, c, group_cols=(SUB_COL,))
                for c in bound.dup_id_columns)

    # -- cross-sheet, the spine GROUP BY includes the tag
    def submitted_view(family: tuple, key: str) -> str | None:
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
        return reg(u.distinct())

    part_family = ("prior_clinical_test.csv", "demographic.csv",
                   "biospecimen.csv", "confirmatory_clinical_test.csv")
    part_srcs = {n: merged.get(n) for n in part_family}
    if sum(v is not None for v in part_srcs.values()) >= 2:
        pviews = {n: (reg(src) if src is not None else None)
                  for n, src in part_srcs.items()}
        sv = submitted_view(part_family, "Research_Participant_ID")
        sql_legs.append(participant_cross_sql(
            pviews, cbc, sv, group_col=SUB_COL, extra_keys=(CBC_COL,)))
    bio_family = ("biospecimen.csv", "aliquot.csv", "equipment.csv",
                  "reagent.csv", "consumable.csv")
    bio_srcs = {n: merged.get(n) for n in bio_family}
    if sum(v is not None for v in bio_srcs.values()) >= 2:
        bviews = {n: (reg(src) if src is not None else None)
                  for n, src in bio_srcs.items()}
        type_sources = {n for n, src in bio_srcs.items()
                        if src is not None
                        and "Biospecimen_Type" in src.columns}
        sv = submitted_view(bio_family, "Biospecimen_ID")
        sql_legs.append(biospecimen_cross_sql(
            bviews, cbc, sv, type_sources=type_sources,
            group_col=SUB_COL, extra_keys=(CBC_COL,)))

    findings = spark.sql(" UNION ALL ".join(sql_legs)) if sql_legs else None
    if findings is None:
        out = empty_findings(spark).withColumn(SUB_COL, F.lit(""))
        return out.select(SUB_COL, *FINDING_COLUMNS)
    # per-submission dedup: the standard key, tag prepended
    return findings.dropDuplicates(
        [SUB_COL, "CSV_Sheet_Name", "Row_Index", "Column_Name",
         "Column_Value"])


def _a4_counts(tagged: "DataFrame", clean: "dict[str, DataFrame]",
               subs: "dict[str, dict]") -> "dict[str, dict[str, int]]":
    """A4's passing-ID counts for the WHOLE batch in ONE action: every
    (sub, family, sheet, id) of the clean sheets, anti-joined against
    the same-sheet ID findings of the checkpointed batch on those four
    keys, then DISTINCT (sub, family, id) counted per (sub, family).

    Returns {family ID column: {submission id: count}}. A family is
    present when a sheet carries its column and some submission declares
    its count — also when no ID passes (the caller reads a missing
    submission as 0)."""
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.submission import (
        A4_FAMILIES,
    )

    declared_of = {
        "Research_Participant_ID": "declared_participants",
        "Biospecimen_ID": "declared_biospecimens"}
    families = [c for c, _label, _fname in A4_FAMILIES
                if any(c in df.columns for df in clean.values())
                and any(kw.get(declared_of[c]) is not None
                        for kw in subs.values())]
    if not families:
        return {}
    ids = None
    for c in families:
        for name, df in sorted(clean.items()):
            if c in df.columns:
                leg = df.select(SUB_COL, F.lit(c).alias("__family"),
                                F.lit(name).alias("__sheet"),
                                F.col(c).alias("__id"))
                ids = leg if ids is None else ids.unionByName(leg)
    errs = (tagged.filter(F.col("Column_Name").isin(families)
                          & (F.col("Row_Index") >= 0))
            .select(SUB_COL, F.col("Column_Name").alias("__family"),
                    F.col("CSV_Sheet_Name").alias("__sheet"),
                    F.col("Column_Value").alias("__id")))
    counts: "dict[str, dict[str, int]]" = {c: {} for c in families}
    for r in (ids.join(errs, [SUB_COL, "__family", "__sheet", "__id"],
                       "left_anti")
              .select(SUB_COL, "__family", "__id").distinct()
              .groupBy(SUB_COL, "__family").count().collect()):
        counts[r["__family"]][r[SUB_COL]] = r["count"]
    return counts


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
    against are computed batch-wide: one grouped anti-join action over
    both ID families and the tagged clean frames, keyed by the
    submission tag (:func:`_a4_counts`).
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
    # persists (data-scale) have exactly two consumers, the checkpoint
    # and the A4 action; the one release (views, then caches) runs right
    # after them, and on every exit path.
    releases: list = []
    clean_tagged: dict = {}
    try:
        tagged = validate_batched(
            spark, subs, pretagged=pretagged, release_out=releases,
            clean_out=clean_tagged).localCheckpoint(eager=True)
        a4_counts = _a4_counts(tagged, clean_tagged, subs)
    finally:
        for release in releases:
            release()

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
                    combined_out: "list | None" = None
                    ) -> "dict[str, ConcurrentOutcome]":
    """Validate ``subs`` one schema group at a time, each group through
    ONE :func:`validate_batched_results` compile, with per-submission
    failure isolation — the one multi-submission driver, under
    :func:`validate_dirs` (the batch CLI and the completion watcher).

    ``groups`` partitions the submission ids by the caller's schema
    signature (a group of one is an ordinary N=1 batch). ``pretag``
    optionally builds a group's ``pretagged`` multi-file scans from its
    member ids; ``combined_out`` collects each successful group's
    combined batch frame. The compile executes inside the group's
    worker (the findings checkpoint and the A4 action), so concurrent
    groups' jobs overlap; each member's findings are then filters of
    that checkpoint plus driver-built A4 rows.

    Each group runs on its own worker thread (the calling thread when
    there is only one group), at most ``MAX_PARALLEL`` at once. Its jobs
    carry a job description and a FAIR pool named after the worker
    thread, so concurrent groups land in distinct pools while the pool
    tree stays bounded at ``MAX_PARALLEL`` + 1 (Spark creates an
    undeclared pool on first use and never removes it; a pool per
    submission would grow a resident watcher's tree forever). Both are
    THREAD-LOCAL properties (pinned thread mode) restored when the
    worker ends, so nothing later on the same thread inherits them.

    Isolation (the reference's "Moving onto Next Submitted File" loop,
    nci-seronet-data-validator.py:70,109-111): when a group's compile
    fails, each member is retried as its own group, so only the
    genuinely poisoned member fails — without it one malformed
    submission would fail every submission sharing its schema.

    Returns a :class:`ConcurrentOutcome` per id: ``result`` set, or
    ``error`` set and ``result`` None; ``seconds`` is the wall time of
    the member's group worker.
    """
    sc = spark.sparkContext

    def isolated(members: list) -> dict:
        t0 = time.time()
        prev = [(k, sc.getLocalProperty(k))
                for k in ("spark.scheduler.pool", "spark.job.description")]
        sc.setLocalProperty("spark.scheduler.pool",
                            threading.current_thread().name)
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
                        result=None, seconds=time.time() - t0, error=exc)}
                log.warning("batched group compile failed (%s); retrying "
                            "each of %s as its own group", exc, members)
                out: dict = {}
                for sid in members:
                    out.update(isolated([sid]))
                return out
            if combined_out is not None:
                combined_out.extend(frames)
            seconds = time.time() - t0
            return {sid: ConcurrentOutcome(result=res[sid], seconds=seconds)
                    for sid in members}
        finally:
            for k, v in prev:
                sc.setLocalProperty(k, v)

    if len(groups) == 1:
        return isolated(groups[0])
    out: dict = {}
    with ThreadPoolExecutor(max_workers=min(MAX_PARALLEL, len(groups)),
                            thread_name_prefix="submission") as pool:
        for o in pool.map(isolated, groups):
            out.update(o)
    return out


def group_by_schema(dirs: "dict[str, dict[str, str]]",
                    headers: "dict[str, list[str] | None]"
                    ) -> "list[list[str]]":
    """Partition submission ids into schema groups by an ORDER-SENSITIVE
    signature: the sorted (sheet name, probed header) pairs of the
    validated sheets. Order matters because a group's multi-file scan
    takes names from one file and reads the rest POSITIONALLY; a
    probe-refused header (``headers[path]`` None) keys on its path, so
    it never merges distinct schemas. ``dirs`` maps id → {sheet: path},
    ``headers`` path → ``csv_header(path)``.
    """
    groups: dict[tuple, list] = {}
    for sid, sheets in dirs.items():
        key = tuple(
            (name, tuple(cols) if (cols := headers[pth]) is not None
             else ("?", pth))
            for name, pth in sorted(sheets.items())
            if name not in SKIP_VALIDATION)
        groups.setdefault(key, []).append(sid)
    return list(groups.values())


def validate_dirs(spark: SparkSession,
                  dirs: "dict[str, dict[str, str]]",
                  *,
                  cbc_map: dict,
                  icd10_codes: "DataFrame | None" = None,
                  expected_columns: "dict | None" = None,
                  bind_kwargs: "dict | None" = None,
                  combined_out: "list | None" = None,
                  meta_out: "dict | None" = None,
                  groups_out: "list | None" = None
                  ) -> "dict[str, ConcurrentOutcome]":
    """Validate submission DIRECTORIES — the one driver from sheet files
    to findings, shared by the batch CLI and the completion watcher.
    ``dirs`` maps a submission id to ``{sheet file name: path}``:

    1. each file's header is probed once, driver-side (``csv_header``);
    2. ``submission.csv`` is parsed driver-side
       (``parse_submission_metadata_local``), with the Spark parse as
       fallback; ``cbc_map`` resolves its lab name (unknown → '0');
    3. ``sheets`` kwargs are the probed column LISTS (the compile reads
       rows from the group scans, the tail reads only names), a
       DataFrame (``read_sheet_csv``) only for a probe-refused header;
    4. :func:`group_by_schema` groups the submissions, and each group
       reads every sheet as ONE tagged multi-file scan
       (``read_sheet_csv_tagged`` with the probed header as ``columns=``,
       so no header-inference job reads every member file);
    5. :func:`validate_groups` compiles each group once, passing
       ``combined_out`` through.

    ``icd10_codes``, ``expected_columns`` and ``bind_kwargs`` (``today``,
    ``fix_reference_bugs``, ``db_merged_tables``) are shared by all.
    ``meta_out`` receives each submission's parsed metadata,
    ``groups_out`` the schema groups. A submission whose kwargs cannot
    be built (unreadable sheet, malformed metadata) gets its own
    ``ConcurrentOutcome(error=...)``; the rest still validate. Readers
    are looked up on their module at call time, so wrappers around them
    (benchmark spans, test spies) see every read.
    """
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        csv_header,
        read_sheet_csv,
        read_sheet_csv_tagged,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        parse_submission_metadata,
        parse_submission_metadata_local,
    )
    cbc = {str(k): str(v) for k, v in (cbc_map or {}).items()}
    headers = {pth: csv_header(pth)
               for sheets in dirs.values() for pth in sheets.values()}

    def kwargs_for(sheets: dict) -> tuple[dict, dict]:
        frames = {name: (list(cols) if (cols := headers[pth]) is not None
                         else read_sheet_csv(spark, pth))
                  for name, pth in sorted(sheets.items())}
        meta = {"cbc_id": "0", "declared_participants": None,
                "declared_biospecimens": None}
        if "submission.csv" in sheets:
            pth = sheets["submission.csv"]
            meta = (parse_submission_metadata_local(pth, cbc)
                    or parse_submission_metadata(read_sheet_csv(
                        spark, pth, columns=headers[pth]), cbc))
        return dict(
            sheets=frames, cbc_id=str(meta["cbc_id"]),
            declared_participants=meta.get("declared_participants"),
            declared_biospecimens=meta.get("declared_biospecimens"),
            icd10_codes=icd10_codes, expected_columns=expected_columns,
            **(bind_kwargs or {})), meta

    subs: dict[str, dict] = {}
    out: dict[str, ConcurrentOutcome] = {}
    for sid, sheets in dirs.items():
        t0 = time.time()
        try:
            subs[sid], meta = kwargs_for(sheets)
        except Exception as exc:  # noqa: BLE001 — isolate per submission
            out[sid] = ConcurrentOutcome(result=None,
                                         seconds=time.time() - t0,
                                         error=exc)
            continue
        if meta_out is not None:
            meta_out[sid] = meta
    groups = group_by_schema({s: dirs[s] for s in subs}, headers)
    if groups_out is not None:
        groups_out.extend(groups)

    def pretag(members: list) -> dict:
        first = dirs[members[0]]
        return {n: read_sheet_csv_tagged(
                    spark, {s: dirs[s][n] for s in members}, SUB_COL,
                    columns=headers[first[n]])
                for n in sorted(first) if n not in SKIP_VALIDATION}

    if groups:
        out.update(validate_groups(spark, subs, groups, pretag=pretag,
                                   combined_out=combined_out))
    return out
