"""Run the streaming watchers — the CLI face of
``streaming.validate_stream_multi`` (per-sheet mode) and
``streaming.validate_stream_submissions`` (complete-submission mode, the
continuous twin of ``tools/run_submission.py``: both validate through
``orchestrate.validate_dirs``).

Per-sheet mode (early feedback; per-sheet rulebook only):

    python tools/run_watcher.py ROOT_DIR --sheet SHEET.csv
        --out OUT_DIR --checkpoint CP_DIR
        [--cbc SUBDIR=ID ...] [--max-files N] [--timeout SECONDS]

Complete-submission mode (the reference's full semantics — per-sheet +
dup-ID + cross-sheet J3-J6 + A4 + global dedup, gated on each
submission's declared sheet set completing):

    python tools/run_watcher.py ROOT_DIR --complete
        --sheets submission.csv,demographic.csv,biospecimen.csv
        --out OUT_DIR --checkpoint CP_DIR
        [--cbc LABNAME=ID ...] [--max-files N] [--timeout SECONDS]

Submissions land as ``ROOT_DIR/<submission>/<sheet>.csv``. One
availableNow query drains the backlog and stops; re-run to drain what
landed since (the checkpoint carries the offset — the reference's
Lambda-trigger pattern, nci-seronet-data-validator.py:62-117, with the
jobs-table bookkeeping replaced by engine checkpoints). In per-sheet
mode findings parquet lands under OUT_DIR partitioned by epoch; in
complete mode under OUT_DIR/findings, with the arrivals ledger under
OUT_DIR/arrivals (both idempotent under batch replay — see the watcher
docstrings). NOTE the ``--cbc`` key differs by mode: per-sheet maps the
submission SUBDIR name to a lab code (there is no submission.csv to
parse mid-stream); complete mode maps the LAB NAME that submission.csv
carries, exactly like ``run_submission.py`` (unknown either way -> '0',
the reference's unknown-lab behavior).

Sheet columns in per-sheet mode come from the expected-columns catalog
(``sources.catalog.static_expected_columns``), the same catalog the
batch header check validates against.

Exit codes: 0 drained clean; 1 timeout (backlog remains); 2 usage;
3 (complete mode) at least one submission FAILED validation — its
durable record is in the findings sink under
``CSV_Sheet_Name='__submission__'`` (per-submission isolation: a
poisoned submission never blocks the ones behind it, the reference's
"Moving onto Next Submitted File" semantics); 4 the stream itself
failed (a micro-batch raised) — one line names the failure, and the
checkpoint still holds the last committed offset, so a re-run retries
the failed batch.
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _await_drain(q, timeout: int) -> int | None:
    """Wait for the availableNow drain: None once it finished, else the
    exit code — 1 on timeout (the query is stopped), 4 when the stream
    failed."""
    from pyspark.errors import StreamingQueryException
    try:
        q.awaitTermination(timeout)
    except StreamingQueryException as e:
        # name the Python error a micro-batch raised; otherwise the
        # engine's own first line
        msg = str(e)
        cause = re.search(r"^\w+(?:Error|Exception): .*$", msg, re.M)
        print("STREAM FAILED: "
              + (cause.group(0) if cause else msg.splitlines()[0]))
        return 4
    if q.isActive:
        q.stop()
        print(f"TIMEOUT after {timeout}s — backlog not fully "
              f"drained; re-run to continue from the checkpoint")
        return 1
    return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("root_dir")
    ap.add_argument("--sheet", default=None,
                    help="per-sheet mode: sheet file name to watch "
                         "(e.g. demographic.csv)")
    ap.add_argument("--complete", action="store_true",
                    help="complete-submission mode: gate on --sheets, run "
                         "the FULL batch compile per completed submission")
    ap.add_argument("--sheets", default=None,
                    help="complete mode: comma-separated sheet file names "
                         "whose arrival completes a submission")
    ap.add_argument("--out", required=True)
    ap.add_argument("--checkpoint", required=True)
    ap.add_argument("--cbc", action="append", default=[],
                    metavar="KEY=ID",
                    help="2-digit lab code mapping; the KEY is the "
                         "submission dir name in per-sheet mode, the "
                         "LAB NAME from submission.csv in --complete "
                         "mode (unknown keys validate under '0')")
    ap.add_argument("--max-files", type=int, default=None,
                    help="maxFilesPerTrigger bound (backlog sizing)")
    ap.add_argument("--timeout", type=int, default=600,
                    help="seconds to wait for the drain to finish")
    args = ap.parse_args()

    from nci_seronet_proc_data_validator_spark.session import get_spark
    from nci_seronet_proc_data_validator_spark.sources.catalog import (
        static_expected_columns,
    )
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream_multi,
    )

    if args.complete:
        if not args.sheets:
            print("--complete requires --sheets (the declared sheet set)")
            return 2
        return _run_complete(args)
    if not args.sheet:
        print("per-sheet mode requires --sheet (or pass --complete)")
        return 2
    catalog = static_expected_columns()
    columns = catalog.get(args.sheet)
    if not columns:
        print(f"unknown sheet {args.sheet}; catalog has: "
              f"{', '.join(sorted(catalog))}")
        return 2
    cbc_by_sub = dict(kv.split("=", 1) for kv in args.cbc)

    spark = get_spark("run_watcher")
    from nci_seronet_proc_data_validator_spark.sources.icd10 import (
        load_icd10_codes,
    )
    glob = os.path.join(args.root_dir, "*", args.sheet)
    # OUT_DIR is epoch-partitioned and accumulates across drains; the
    # summary below must cover THIS run only, so record the epochs this
    # drain writes (status_cb fires once per committed micro-batch).
    run_epochs: list[int] = []
    q = validate_stream_multi(
        spark, glob, args.checkpoint, args.sheet, list(columns),
        cbc_by_sub, args.out, max_files_per_trigger=args.max_files,
        status_cb=lambda _f, epoch_id: run_epochs.append(int(epoch_id)),
        icd10_codes=load_icd10_codes(spark))
    rc = _await_drain(q, args.timeout)
    if rc is not None:
        return rc
    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F
    try:
        got = spark.read.parquet(args.out)
    except AnalysisException:
        # narrowed on purpose: the empty-sink case (no part files to
        # infer a schema from) is an AnalysisException; a real IO
        # failure must NOT print "all clean" and exit 0
        print("drained: no findings written (no files, or all rows clean)")
        return 0
    if not run_epochs:
        print(f"drained: no new files this run; cumulative findings "
              f"remain under {args.out} ({got.count()} rows)")
        return 0
    # epoch is the partition column — this filter prunes to exactly the
    # directories this drain wrote, so re-drains don't overstate counts.
    got = got.filter(F.col("epoch").isin(run_epochs))
    (got.groupBy("__submission_id", "Message_Type")
     .count().orderBy("__submission_id", "Message_Type")
     .show(100, truncate=False))
    n_err = got.filter(F.col("Message_Type") == "Error").count()
    print(f"drained epoch(s) {sorted(run_epochs)}; findings under "
          f"{args.out} ({got.count()} rows this run, {n_err} errors)")
    return 0


def _run_complete(args) -> int:
    """Complete-submission mode body (validate_stream_submissions)."""
    import os

    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.session import get_spark
    from nci_seronet_proc_data_validator_spark.sources.catalog import (
        static_expected_columns,
    )
    from nci_seronet_proc_data_validator_spark.sources.icd10 import (
        load_icd10_codes,
    )
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream_submissions,
    )

    declared = frozenset(s.strip() for s in args.sheets.split(",")
                         if s.strip())
    # a typo'd declared sheet name is an operational trap: no arrival
    # can ever match it, so every submission waits forever — flag names
    # outside the expected-columns catalog loudly (warn, not error:
    # deployments may watch genuinely custom sheets). SKIP_VALIDATION
    # names (submission.csv, shipping_manifest.csv) are standard files
    # with no catalog entry BY DESIGN — exempt them or the warning
    # cries wolf on a legitimate manifest-gated declaration.
    from nci_seronet_proc_data_validator_spark.submission import (
        SKIP_VALIDATION,
    )
    catalog = static_expected_columns()
    unknown = sorted(declared - set(catalog) - set(SKIP_VALIDATION))
    if unknown:
        print(f"WARNING: declared sheet(s) {unknown} are not in the "
              f"expected-columns catalog — a misspelled name here means "
              f"submissions NEVER complete (known sheets: "
              f"{', '.join(sorted(catalog))})")
    cbc_map = dict(kv.split("=", 1) for kv in args.cbc)
    spark = get_spark("run_watcher")
    completed: list[str] = []
    failed: dict[str, str] = {}

    def on_complete(results, epoch_id):
        # completion comes from the gate, NOT from counting findings
        # rows — a fully clean submission completes with zero findings.
        # column_findings (P10 header-vs-catalog) feed the printout the
        # way the batch CLI's quality gate consumes them; they are not
        # part of the findings sink there either. The rows are pure
        # driver-side set algebra, carried on the result as plain
        # 4-tuples (ValidationResult.column_finding_rows) — no Spark.
        for sub in sorted(results):
            completed.append(sub)
            rows = results[sub].column_finding_rows
            if rows:
                print(f"{sub}: {len(rows)} header/column finding(s):")
            for mt, sheet, col, msg in rows[:50]:
                print(f"  {mt} {sheet} {col}: {msg}")

    def on_failed(failures, epoch_id):
        # per-submission isolation (reference: "Moving onto Next
        # Submitted File") — a poisoned submission is reported, not a
        # stream-wedging batch failure; its durable record is in the
        # findings sink under CSV_Sheet_Name='__submission__'
        for sub, msg in sorted(failures.items()):
            failed[sub] = msg
            print(f"FAILED {sub}: {msg}")

    q = validate_stream_submissions(
        spark, args.root_dir, args.checkpoint, declared, args.out,
        cbc_map=cbc_map, icd10_codes=load_icd10_codes(spark),
        expected_columns=catalog,
        max_files_per_trigger=args.max_files, complete_cb=on_complete,
        failed_cb=on_failed)
    rc = _await_drain(q, args.timeout)
    if rc is not None:
        return rc
    if not completed and not failed:
        print("drained: no submission completed this run (arrivals "
              "recorded; re-run once the remaining sheets land)")
        return 0
    from pyspark.errors import AnalysisException
    try:
        got = spark.read.parquet(os.path.join(args.out, "findings"))
    except AnalysisException:
        # every completed submission was CLEAN: the epoch-keyed sink
        # wrote an empty frame (no part files to infer a schema from).
        # Narrowed on purpose: a real IO failure must NOT print "all
        # rows clean" and exit 0.
        print(f"completed {sorted(set(completed))}; no findings "
              f"(all rows clean)")
        return 0
    got = got.filter(F.col("__submission_id").isin(
        sorted(set(completed) | set(failed))))
    (got.groupBy("__submission_id", "Message_Type")
     .count().orderBy("__submission_id", "Message_Type")
     .show(100, truncate=False))
    n_err = got.filter(F.col("Message_Type") == "Error").count()
    print(f"completed {sorted(set(completed))}; findings under "
          f"{os.path.join(args.out, 'findings')} "
          f"({got.count()} rows this run, {n_err} errors)")
    if failed:
        print(f"{len(failed)} submission(s) FAILED validation: "
              f"{sorted(failed)} — see the '__submission__' rows above "
              f"and re-land each under a new submission directory")
        return 3
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
