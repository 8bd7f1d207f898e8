"""Validate submission directories end-to-end — the engine's CLI face for
the reference's Lambda flow (nci-seronet-data-validator.py:33-117).

    python tools/run_submission.py SUBMISSION_DIR [SUBMISSION_DIR ...]
        [--out OUT_DIR] [--cbc NAME=ID ...] [--keep-reference-bugs]

Each SUBMISSION_DIR holds that submission's sheet CSVs (submission.csv,
demographic.csv, …); its id is the dir's basename, as the completion
watcher derives it (suffixed ``_1``, ``_2``, … when already taken). The
run is ``orchestrate.validate_dirs``, the completion watcher's driver:
headers probed driver-side, submissions grouped by schema signature
(per-sheet column lists in header order — CBC ids MAY differ), each
group compiled through ONE plan, up to 4 groups at once on FAIR pools,
all in this one process, the way the reference validates submissions one
after another in one Lambda (nci-seronet-data-validator.py:69). A
submission that fails (unreadable sheet, malformed metadata) fails alone
and becomes one ``__submission__`` findings row.

The CLI sinks the one findings frame ``validate_dirs`` builds, as the
watcher does: one summary ``collect`` prints every submission's
notification text, and OUT_DIR gets, for one dir or many,
``findings.parquet`` (the six finding columns + ``__submission_id``)
and ``Data_Validation_Results/__submission_id=<id>/CSV_Sheet_Name=<sheet>/``.
Reports are written for every validated submission; the quality gate
only sets the exit code: 0 all validated and passed the gate, 1 a dir
held no CSV or a submission failed validation or the gate, 2 usage or
no CSV at all.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def cbc_pair(text: str) -> tuple[str, str]:
    """argparse ``type=`` of ``--cbc NAME=ID``: a malformed pair is a
    usage error (exit 2), not a traceback."""
    name, sep, cbc_id = text.partition("=")
    if not (sep and name and cbc_id):
        raise argparse.ArgumentTypeError(f"expected NAME=ID, got {text!r}")
    return name, cbc_id


def _submission_ids(dirs: list[str]) -> dict[str, str]:
    """Unique submission id per dir: the basename, suffixed ``_<n>``
    with the first n whose name no earlier dir took (two dirs named
    .../sub1 must not share one id and overwrite each other's reports)."""
    ids: dict[str, str] = {}
    taken: set[str] = set()
    for d in dirs:
        base = name = os.path.basename(d.rstrip("/")) or "submission"
        n = 0
        while name in taken:
            n += 1
            name = f"{base}_{n}"
        taken.add(name)
        ids[d] = name
    return ids


def _sheet_paths(d: str) -> dict[str, str]:
    return {os.path.basename(p): p
            for p in sorted(glob.glob(os.path.join(d, "*.csv")))}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("submission_dirs", nargs="+")
    ap.add_argument("--out", default=None)
    ap.add_argument("--cbc", action="append", default=[], type=cbc_pair,
                    metavar="NAME=ID", help="CBC name → 2-digit id mapping")
    ap.add_argument("--keep-reference-bugs", action="store_true",
                    help="reproduce the reference's buggy behaviors instead "
                         "of the documented fixes")
    args = ap.parse_args()

    ids = _submission_ids(args.submission_dirs)
    dirs: dict[str, dict[str, str]] = {}      # submission id → sheets
    path_of: dict[str, str] = {}
    rc = 0
    for d in args.submission_dirs:
        sheets = _sheet_paths(d)
        if not sheets:
            # per-submission isolation: an empty dir records its own
            # failure and the rest still validate
            print(f"no CSV sheets found in {d}")
            rc = 1
            continue
        print(f"{d}: loaded {len(sheets)} sheets: {', '.join(sheets)}")
        dirs[ids[d]], path_of[ids[d]] = sheets, d
    if not dirs:
        return 2

    from nci_seronet_proc_data_validator_spark.errors import (
        SHEET_NAME,
        SUB_COL,
        findings_summary,
    )
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_dirs,
    )
    from nci_seronet_proc_data_validator_spark.session import get_spark
    from nci_seronet_proc_data_validator_spark.sinks import (
        build_notification_payload,
        write_error_reports,
        write_findings_parquet,
    )
    from nci_seronet_proc_data_validator_spark.sources.catalog import (
        static_expected_columns,
    )
    from nci_seronet_proc_data_validator_spark.sources.icd10 import (
        load_icd10_codes,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        check_submission_quality,
    )

    spark = get_spark("run_submission")
    out, findings, meta, groups = validate_dirs(
        spark, dirs, cbc_map=dict(args.cbc),
        icd10_codes=load_icd10_codes(spark),
        expected_columns=static_expected_columns(),
        bind_kwargs={"fix_reference_bugs": not args.keep_reference_bugs})
    sizes = sorted((len(m) for m in groups), reverse=True)
    print(f"{len(groups)} schema group(s), sizes {sizes}")

    # one summary action over the run's one findings frame for every
    # submission's notification text
    summary: dict[str, list] = {}
    for r in sorted(findings_summary(findings).collect(),
                    key=lambda r: (r[SUB_COL], r[SHEET_NAME])):
        summary.setdefault(r[SUB_COL], []).append(r)

    for sid, sheets in dirs.items():
        d, oc = path_of[sid], out[sid]
        print(f"\n=== {d} ({oc.seconds:.1f}s) ===")
        if oc.error is not None:
            print(f"FAILED: {oc.failure}")
            rc = 1
            continue
        if meta[sid].get("cbc_id") not in (None, "0"):
            print(f"{d}: submission metadata: {meta[sid]}")
        header_rows = oc.result.column_finding_rows
        ok, why = check_submission_quality(sheets, len(header_rows),
                                           str(meta[sid]["cbc_id"]))
        if not ok:
            # the reference still notifies on gate failure (nci:76-80);
            # here the gate sets the exit code and the reports below
            # are written all the same
            print(f"QUALITY GATE FAILED: {why}")
            for mt, sheet, col, msg in header_rows[:50]:
                print(f"  {mt} {sheet} {col}: {msg}")
            rc = 1
        payload = build_notification_payload(summary.get(sid, []), sid)
        print(payload["blocks"][0]["text"]["text"])

    if args.out:
        write_findings_parquet(findings,
                               os.path.join(args.out, "findings.parquet"))
        write_error_reports(findings,
                            os.path.join(args.out, "Data_Validation_Results"))
        print(f"reports written under {args.out}")
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
