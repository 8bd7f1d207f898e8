"""Structured Streaming surface.

The reference's "streaming" is an externally-triggered micro-batch: each
Lambda invocation discovers newly-landed submissions, validates them, marks
them done (nci-seronet-data-validator.py:62-117). The Spark-native
equivalent is a file-source stream with ``Trigger.AvailableNow`` — each run
drains everything that arrived since the last checkpoint, then stops: the
same at-least-once batch semantics, with offsets/checkpointing handled by
the engine instead of a jobs table.

Also provided: a watermarked event-time rollup (the streaming twin of the
batch ``events_hourly`` query) — this is where late data / watermark
semantics live, which the reference never had.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

log = logging.getLogger(__name__)


def _resolve(value_or_fn):
    """Per-micro-batch resolution of a watcher side input: a callable is
    re-evaluated at every batch (the stream-static pattern — a CBC
    registered or a dictionary updated BETWEEN batches is honored by the
    next batch without restarting the query, mirroring the reference's
    per-submission MySQL resolution, File_Submission_Object.py:82-87); a
    plain value is used as-is."""
    return value_or_fn() if callable(value_or_fn) else value_or_fn


def _epoch_sink(findings: DataFrame, epoch_id: int, output_dir: str,
                status_cb=None) -> None:
    """The watchers' restart-recovery contract, in one place.

    foreachBatch is at-least-once: if the process dies between the
    findings write and the checkpoint commit, the restarted query
    REPLAYS that batch with the SAME ``epoch_id``. A plain
    ``mode("append")`` sink would then hold the batch's findings twice.
    Findings are therefore written ``partitionBy("epoch")`` with dynamic
    partition overwrite, so a replayed batch overwrites exactly its own
    ``epoch=<id>`` directory and nothing else — committed epochs are
    untouched, the half-written epoch is replaced, and the drained
    output equals the batch compile with no duplicates or gaps. This
    mirrors the reference's Lambda retry model, where a re-invoked
    submission overwrites its own status row / error report rather than
    appending (nci-seronet-data-validator.py:152-159,
    File_Submission_Object.py:439-499). Any replacement sink wired in
    via ``status_cb`` must honor the same contract: dedupe or upsert on
    ``epoch_id`` (the S11 job-status upsert already does — it keys on
    the sheet and overwrites the status row).
    """
    (findings.withColumn("epoch", F.lit(epoch_id))
     .write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("epoch")
     .parquet(output_dir))
    if status_cb is not None:
        status_cb(findings, epoch_id)


def validate_stream(spark: SparkSession, input_dir: str, checkpoint: str,
                    sheet_name: str, columns: list[str], cbc_id: str,
                    output_dir: str,
                    status_cb=None,
                    bind_kwargs: dict | None = None,
                    max_files_per_trigger: int | None = None,
                    icd10_codes: DataFrame | None = None
                    ) -> "StreamingQuery":
    """Continuously validate CSV sheets of ONE lab landing in
    ``input_dir``: :func:`validate_stream_multi` with a one-entry CBC map
    that every file resolves to (``sub_pattern`` extracts '' from every
    path), so no directory naming can demote a row to the unknown-lab
    CBC '0'. Findings cite each file's own CSV line and carry an empty
    ``__submission_id``.

    ``max_files_per_trigger`` bounds the files per micro-batch, so a
    cold start facing a whole backlog drains it in bounded, separately
    committed batches (memory and retry cost sized by the bound, not the
    outage) with identical findings. ``status_cb(findings_df,
    epoch_id)`` runs after each findings write (the S11 job-status
    upsert hook); ``bind_kwargs`` go to ``bind_sheet_rules``;
    ``icd10_codes`` may be a zero-arg callable (:func:`_resolve`). The
    sink's restart-recovery contract is :func:`_epoch_sink`'s.
    """
    return validate_stream_multi(
        spark, input_dir, checkpoint, sheet_name, columns,
        {"": str(cbc_id)}, output_dir, status_cb=status_cb,
        bind_kwargs=bind_kwargs,
        max_files_per_trigger=max_files_per_trigger, sub_pattern=r"()",
        icd10_codes=icd10_codes)


def validate_stream_multi(spark: SparkSession, input_glob: str,
                          checkpoint: str, sheet_name: str,
                          columns: list[str],
                          cbc_by_sub,
                          output_dir: str,
                          status_cb=None,
                          bind_kwargs: dict | None = None,
                          max_files_per_trigger: int | None = None,
                          sub_pattern: str = r".*/([^/]+)/[^/]+$",
                          icd10_codes: DataFrame | None = None
                          ) -> "StreamingQuery":
    """Multi-SUBMISSION watcher: one streaming query validating sheets
    landing under per-submission directories, mixed labs included.

    The production continuous shape: submissions from different CBCs
    land as ``<root>/<submission>/<sheet>`` and ONE resident query
    validates them all — the streaming twin of batched mode
    (``orchestrate.validate_batched``), sharing its machinery:

    - ``input_glob`` (e.g. ``<root>/*/demographic.csv``) makes every
      submission's file part of the SAME file source — N submissions
      are N files of one stream, never N queries;
    - each row is tagged ``__submission_id`` (extracted from its file
      path via ``sub_pattern``) and ``__cbc_id`` (``cbc_by_sub``
      lookup; unknown submissions get '0', the reference's unknown-lab
      code, so their ID checks report "submission file is missing"
      instead of silently passing). ``cbc_by_sub`` may be a dict or a
      ZERO-ARG CALLABLE returning one — a callable is re-evaluated at
      every micro-batch (:func:`_resolve`), so a resident watcher picks
      up labs registered AFTER the query started without restart (the
      stream-static pattern; the reference resolves the CBC per
      submission from MySQL at load time,
      File_Submission_Object.py:82-87 — pair with
      ``sources.jdbc.read_cbc_map`` for the JDBC-backed form);
    - each micro-batch is cleaned (``cleanup_sheet``: all-blank rows
      dropped unless ``bind_kwargs`` sets ``fix_reference_bugs=False``)
      and rendered by ``orchestrate.sheet_findings_legs`` — the same
      per-sheet body as the batch compile: typed shadows, the memoized
      bind with ``PerRowCbc`` (the C5 prefix checks render as CASEs
      over ``__cbc_id``; micro-batch N is a cache hit), the dependency
      defaults, the ICD-10 flags and the findings SQL;
    - the findings are PER-COLUMN only: no dup-ID legs, no cross-sheet
      legs, no enrichment joins and no findings dedup — a micro-batch
      holds an arbitrary slice of one sheet, so those checks belong to
      the completeness-gated :func:`validate_stream_submissions`;
    - ``row_index`` is counted PER FILE
      (``sources.readers.with_per_file_row_index``): findings cite the
      actual CSV line of the submission's own file, and the index is
      stable under micro-batch packing (``maxFilesPerTrigger``);
    - the sink is the epoch-keyed idempotent parquet of
      :func:`_epoch_sink` (dynamic partition overwrite per epoch), with
      ``__submission_id`` as an ordinary output column.
    """
    from nci_seronet_proc_data_validator_spark.errors import sql_string_map
    from nci_seronet_proc_data_validator_spark.functions.checks import (
        PerRowCbc)
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        CBC_COL, SUB_COL, sheet_findings_legs, view_registry)
    from nci_seronet_proc_data_validator_spark.plans.advisor import (
        warn_nonsplittable_csv)
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        FILE_COL, cleanup_columns, cleanup_sheet, sheet_csv_options,
        with_per_file_row_index)

    # multiLine (the shared sheet options) makes each landed file
    # single-task; flag any oversized file already in the watched path
    warn_nonsplittable_csv(input_glob)
    bind = bind_kwargs or {}
    data_cols = cleanup_columns(columns)

    reader = sheet_csv_options(spark.readStream, list(columns))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    raw = reader.csv(input_glob)

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        # CBC map resolved PER BATCH (dynamic when cbc_by_sub is a
        # callable): a lab registered between micro-batches is honored
        # by this batch; still-unknown submissions stay '0'.
        cbc_map = {str(s): str(c)
                   for s, c in _resolve(cbc_by_sub).items()}
        cbc_values = tuple(sorted(set(cbc_map.values()) | {"0"}))
        # Everything below runs on the MICRO-BATCH session: foreachBatch
        # hands a df bound to a batch-cloned session, where the views
        # must live and be queried.
        sess = batch_df.sparkSession
        df = with_per_file_row_index(batch_df.na.fill(""))
        sub = F.regexp_extract(F.col(FILE_COL), sub_pattern, 1)
        cbc = (F.coalesce(
            F.expr(sql_string_map(sess, sorted(cbc_map.items())))[sub],
            F.lit("0")) if cbc_map else F.lit("0"))
        df = cleanup_sheet(
            df.withColumns({SUB_COL: sub, CBC_COL: cbc}).drop(FILE_COL),
            bind.get("fix_reference_bugs", True),
            carry_cols=(SUB_COL, CBC_COL))
        reg, drop_views = view_registry(sess)
        _, legs = sheet_findings_legs(
            df, sheet_name, data_cols,
            PerRowCbc(column=CBC_COL, values=cbc_values), reg,
            _resolve(icd10_codes), **bind)
        findings = sess.sql(" UNION ALL ".join(legs))
        drop_views()
        _epoch_sink(findings, epoch_id, output_dir, status_cb)

    return (raw.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def validate_stream_submissions(spark: SparkSession, root_dir: str,
                                checkpoint: str,
                                declared_sheets,
                                output_dir: str,
                                cbc_map=None,
                                icd10_codes=None,
                                expected_columns: dict | None = None,
                                bind_kwargs: dict | None = None,
                                max_files_per_trigger: int | None = None,
                                status_cb=None,
                                complete_cb=None,
                                failed_cb=None
                                ) -> "StreamingQuery":
    """Submission-COMPLETENESS-gated watcher: continuous operation with
    the reference's FULL per-submission semantics — per-sheet rules,
    dup-ID checks, enrichment-dependent rules, the J3-J6 cross-sheet
    spines + presence decoding, the A4 count reconciliation, and the
    global findings dedup.

    The reference's production flow validates a submission only once it
    is COMPLETE (the jobs table marks arrival; the Lambda picks up whole
    submissions, nci-seronet-data-validator.py:152-159) — cross-sheet
    checks are meaningless against a partial submission. This watcher is
    the streaming form of that gate:

    - ONE file-source stream watches ``<root>/<submission>/<sheet>`` for
      every declared sheet name at once (a ``binaryFile`` source with
      only ``path`` projected — the scan never reads file CONTENT; the
      stream is a checkpointed arrival queue, the jobs-table twin);
    - each micro-batch appends the newly-landed (submission, sheet,
      path) rows to an epoch-keyed ARRIVALS ledger
      (``<output>/arrivals``, same dynamic-partition-overwrite
      idempotence as the findings sink);
    - a submission whose cumulative arrivals first cover
      ``declared_sheets`` IN THIS BATCH is validated through
      ``orchestrate.validate_dirs`` — the same driver as the batch CLI
      and the same compile as ``SubmissionValidator.validate``, so
      findings are byte-identical to both — and its full findings land
      in the epoch-keyed findings sink (``<output>/findings``) tagged
      ``__submission_id``.

    Why findings emit at COMPLETION rather than per sheet at arrival:
    the batch compile's per-sheet findings depend on cross-sheet
    enrichment (merge_tables dependency columns — e.g. demographic rules
    scoped by the prior sheet's SARS result, C9 assay resolution), so
    findings computed against a partial submission can both MISS
    findings and RAISE spurious ones relative to the complete compile,
    and an append-only sink cannot retract. Emitting once, at the gate,
    makes the drained output hash-match the batch compile exactly —
    the property the per-sheet watchers (:func:`validate_stream`,
    :func:`validate_stream_multi`) trade away for earlier feedback.
    Run one of those beside this watcher (separate checkpoint/output)
    when provisional per-sheet findings are wanted too.

    **Restart / replay correctness.** Completion is a deterministic
    function of the arrivals ledger: at epoch E the newly-complete set
    is ``complete(prior ∪ batch) − complete(prior)`` where ``prior`` is
    the ledger below epoch E — committed epochs never change, and a
    REPLAYED epoch overwrites exactly its own ledger and findings
    partitions with identical content, so a crash anywhere between the
    two writes and the checkpoint commit neither loses nor duplicates a
    submission's validation. A submission interrupted mid-arrival keeps
    its committed arrivals and completes in a later epoch (or a later
    ``availableNow`` drain — the ledger and checkpoint carry across
    runs).

    Parameters beyond the shared watcher surface:

    - ``declared_sheets``: the sheet FILE names whose arrival completes
      a submission (include ``submission.csv`` to have the CBC and the
      declared A4 counts parsed from it). Files with other names are
      ignored (consumed but neither ledgered nor validated).
    - ``cbc_map``: lab NAME → 2-digit id for submission.csv parsing
      (``parse_submission_metadata``); a dict or a zero-arg callable
      re-resolved per micro-batch (:func:`_resolve` — labs registered
      while the watcher runs are honored without restart; pair with
      ``sources.jdbc.read_cbc_map``). ``icd10_codes`` may likewise be a
      DataFrame or a callable.
    - ``status_cb(findings_df_or_None, epoch_id)``: fires every batch;
      ``None`` when no submission completed (arrival-only batch).
    - ``complete_cb({submission_id: ValidationResult}, epoch_id)``:
      fires only on batches where submissions completed successfully,
      BEFORE their findings caches are released — the hook for the
      quality gate / notification / jobs-table bookkeeping, with the
      full result (``column_findings`` included — the P10 header
      findings are NOT part of the findings sink, same as the batch
      CLI where they feed the quality gate, so ``expected_columns`` is
      observable only here). Completion reporting must come from this
      callback, not from counting findings rows: a fully CLEAN
      submission completes with an empty findings frame.
    - ``failed_cb({submission_id: "ExcType: message"}, epoch_id)``:
      fires when a completing submission's VALIDATION ITSELF failed.

    **Per-submission error isolation** (the reference's "Moving onto
    Next Submitted File" loop, nci-seronet-data-validator.py:70,
    109-111): a poisoned submission — unreadable sheet, a column name
    the rulebook cannot render, malformed metadata — must not fail the
    micro-batch, because a failed batch replays the same input and
    fails identically forever, wedging every LATER submission behind
    it. Each per-submission compile is isolated; a failure is recorded
    DURABLY as one findings row (``CSV_Sheet_Name='__submission__'``,
    ``Row_Index=ROW_VALIDATION_FAILURE``,
    ``Column_Name='__validation_failure__'``, the exception in
    ``Error_Message``) in the same epoch-keyed sink, and reported via
    ``failed_cb``. A schema group that fails is retried member by
    member (``orchestrate.validate_groups``), so only the genuinely
    poisoned member is recorded as failed. Replay semantics: if the epoch
    crashes before its checkpoint commit, the replay RETRIES the
    compile (a transient failure heals; a deterministic one re-records
    the identical row); after the commit the submission counts as
    handled — re-land it under a new submission directory to
    revalidate, exactly like re-submitting to the reference pipeline.

    100 TB posture: per-batch driver work is O(files in batch) ledger
    rows plus compiles for the NEWLY COMPLETE submissions, grouped by
    schema (``orchestrate.group_by_schema``, probed driver-side): each
    group goes through ONE compiled plan with ONE multi-file scan per
    sheet, so a burst of thousands of same-shape submissions completing
    in one epoch costs O(distinct schemas) driver builds, not O(N). A
    submission whose headers the probe refuses forms its own group.
    Arrival state is driver-resident and incremental: the full ledger
    (one metadata row per file ever arrived) is read ONCE per query run,
    then each batch adds only its own rows — a resident watcher's
    per-batch cost never grows with its history.
    """
    import os
    import re

    from nci_seronet_proc_data_validator_spark.errors import union_findings
    from nci_seronet_proc_data_validator_spark.plans.advisor import (
        warn_nonsplittable_csv)

    declared = frozenset(declared_sheets)
    if not declared:
        raise ValueError("declared_sheets must name at least one sheet")
    arrivals_dir = os.path.join(output_dir, "arrivals")
    findings_dir = os.path.join(output_dir, "findings")
    warn_nonsplittable_csv(root_dir)

    # binaryFile's schema is fixed by the source, but streaming sources
    # demand it explicitly (no schema inference on streams)
    src_schema = T.StructType([
        T.StructField("path", T.StringType(), False),
        T.StructField("modificationTime", T.TimestampType(), False),
        T.StructField("length", T.LongType(), False),
        T.StructField("content", T.BinaryType(), True)])
    reader = (spark.readStream.format("binaryFile")
              .schema(src_schema)
              .option("pathGlobFilter", "*.csv"))
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger",
                               int(max_files_per_trigger))
    raw = reader.load(os.path.join(root_dir, "*"))

    ledger_schema = "submission_id string, sheet string, path string"
    # Driver-resident arrival state, initialized ONCE per query run from
    # the committed ledger and updated incrementally per batch: without
    # it every batch re-reads the whole ledger — O(total files ever) per
    # batch, quadratic over a resident watcher's lifetime. The init
    # filters to epochs BELOW the first observed epoch id, so a crashed
    # epoch's own (overwritten-on-replay) ledger partition can never
    # leak into `complete_before` and suppress its re-validation.
    state: dict = {"have": None}

    def process(batch_df: DataFrame, epoch_id: int) -> None:
        sess = batch_df.sparkSession
        # One row per FILE — metadata-scale by construction (the source
        # emits file-level rows; content is never projected).
        paths = [re.sub(r"^file:/+", "/", r["path"])
                 for r in batch_df.select("path").collect()]
        rows = []
        for pth in paths:
            sheet = os.path.basename(pth)
            if sheet in declared:
                rows.append(
                    (os.path.basename(os.path.dirname(pth)), sheet, pth))
        from nci_seronet_proc_data_validator_spark.errors import (
            local_rows_df)
        adf = local_rows_df(sess, rows, ledger_schema)
        (adf.withColumn("epoch", F.lit(epoch_id))
         .write.mode("overwrite")
         .option("partitionOverwriteMode", "dynamic")
         .partitionBy("epoch").parquet(arrivals_dir))

        if state["have"] is None:
            from pyspark.errors import AnalysisException
            have: dict[str, dict[str, str]] = {}
            try:
                prior = (sess.read.parquet(arrivals_dir)
                         .filter(F.col("epoch") < epoch_id).collect())
            except AnalysisException:   # first epoch ever: no ledger yet
                # narrowed on purpose: a transient IO failure reading a
                # ledger that EXISTS must fail the batch (Spark retries)
                # rather than silently treat history as empty — that
                # would strand partially-arrived submissions forever
                # (the file source never re-emits their sheets)
                prior = []
            for r in prior:
                have.setdefault(r["submission_id"],
                                {})[r["sheet"]] = r["path"]
            state["have"] = have
        have = state["have"]
        complete_before = {s for s, m in have.items()
                           if declared <= set(m)}
        for sub, sheet, pth in rows:
            have.setdefault(sub, {})[sheet] = pth
        complete_now = sorted(
            s for s, m in have.items()
            if declared <= set(m) and s not in complete_before)

        findings = None
        if complete_now:
            from nci_seronet_proc_data_validator_spark.errors import (
                FINDING_COLUMNS, FINDING_SCHEMA, ROW_VALIDATION_FAILURE)
            from nci_seronet_proc_data_validator_spark.orchestrate import (
                SUB_COL, validate_dirs)

            # sink each group's WHOLE batch frame, not N re-union slices
            # of the same checkpoint (N slices execute as N x its
            # partitions in one job — the dominant burst cost)
            parts: list = []
            outcomes = validate_dirs(
                sess, {sub: have[sub] for sub in complete_now},
                cbc_map=_resolve(cbc_map) or {},
                icd10_codes=_resolve(icd10_codes),
                expected_columns=expected_columns,
                bind_kwargs=bind_kwargs, combined_out=parts)
            results = {}
            failures: dict[str, str] = {}
            for sub, oc in sorted(outcomes.items()):
                if oc.error is None:
                    results[sub] = oc.result
                    continue
                # Per-submission error isolation — the reference's
                # "Moving onto Next Submitted File" loop
                # (nci-seronet-data-validator.py:70,109-111). Without it
                # one poisoned submission (unreadable sheet, column name
                # the rulebook cannot render, ...) fails the micro-batch,
                # which replays and fails identically forever — a
                # permanent wedge blocking every LATER submission.
                # Record the failure (durably, as one finding row below)
                # and move on.
                failures[sub] = (f"{type(oc.error).__name__}: "
                                 f"{str(oc.error)[:300]}")
                log.warning("validation FAILED for submission %s: %s; "
                            "moving on", sub, failures[sub])
            if failures:
                # durable failure record: one row per failed submission
                # in the SAME findings sink (the reference's jobs-table
                # "File_Error" twin) — replay-idempotent like every
                # other row of the epoch partition
                fail_schema = T.StructType(
                    list(FINDING_SCHEMA.fields)
                    + [T.StructField(SUB_COL, T.StringType(), False)])
                parts.append(local_rows_df(
                    sess,
                    [("Error", "__submission__",
                      ROW_VALIDATION_FAILURE, "__validation_failure__",
                      None, msg, sub)
                     for sub, msg in sorted(failures.items())],
                    fail_schema))
            findings = union_findings(parts).select(*FINDING_COLUMNS,
                                                    SUB_COL)
            _epoch_sink(findings, epoch_id, findings_dir)
            if complete_cb is not None and results:
                complete_cb(results, epoch_id)
            if failures and failed_cb is not None:
                failed_cb(dict(failures), epoch_id)
        if status_cb is not None:
            status_cb(findings, epoch_id)

    return (raw.writeStream
            .foreachBatch(process)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
            .start())


def hourly_rollup_stream(events: DataFrame,
                         watermark: str = "2 hours") -> DataFrame:
    """Watermarked event-time windowed aggregation over the events stream.

    Late rows beyond the watermark are dropped and finalized windows emit
    exactly once (append mode) — state is bounded by watermark horizon ×
    event_type cardinality, the property that keeps this runnable forever
    at scale.
    """
    return (events
            .withWatermark("ts", watermark)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum(F.col("value").cast("decimal(18,4)"))
                 .cast("double").alias("total_value"))
            .select(F.col("w.start").alias("hour"), "event_type", "n",
                    "total_value"))


def enrich_stream(events: DataFrame, dim: DataFrame,
                  key: str = "user_id") -> DataFrame:
    """Stream-static enrichment: left-join the (unbounded) event stream
    against a bounded dimension table, broadcast side pinned.

    No watermark and no state store involved — the static side is
    re-broadcast per micro-batch (picking up dim-table updates between
    batches), and the stream side never shuffles. This is the streaming
    twin of the batch enrichment joins in ``operators/joins``.
    """
    return events.join(F.broadcast(dim), key, "left")


def interval_join_stream(anchors: DataFrame, points: DataFrame,
                         window_minutes: int = 15,
                         watermark: str = "1 hour") -> DataFrame:
    """Stream-stream interval join: match each anchor event with every
    same-user event inside ±``window_minutes`` of it — the streaming twin
    of ``operators/interval.interval_join``.

    Both sides carry watermarks and the join condition bounds event time
    relative to anchor time, so Spark can size the join state to
    (watermark horizon + window) and evict finalized rows — the invariant
    that lets this run forever. Without the time-range condition the state
    store would grow without bound.
    """
    a = anchors.select(F.col("event_id").alias("anchor_id"),
                       F.col("user_id").alias("a_user"),
                       F.col("ts").alias("a_ts")
                       ).withWatermark("a_ts", watermark)
    p = points.withWatermark("ts", watermark)
    cond = (
        (F.col("a_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("a_ts")
           - F.expr(f"INTERVAL {window_minutes} MINUTES"))
        & (F.col("ts") <= F.col("a_ts")
           + F.expr(f"INTERVAL {window_minutes} MINUTES")))
    return a.join(p, cond)


def dedup_stream(docs: DataFrame, ts_col: str = "ts",
                 text_col: str = "text",
                 watermark: str = "30 minutes") -> DataFrame:
    """Streaming exact dedup: drop re-arrivals of the same content hash
    within the watermark horizon.

    ``dropDuplicatesWithinWatermark`` keys state on the content hash and
    evicts entries once the watermark passes — bounded state (horizon x
    distinct-hash arrival rate), the property a 100 TB ingest stream needs;
    an unbounded ``dropDuplicates`` would grow state forever. The batch
    twin is a ``groupBy`` on the same content hash.
    """
    return (docs
            .withWatermark(ts_col, watermark)
            .withColumn("content_hash", F.md5(F.col(text_col)))
            .dropDuplicatesWithinWatermark(["content_hash"]))
