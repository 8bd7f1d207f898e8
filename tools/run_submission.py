"""Validate submission directories end-to-end — the engine's CLI face for
the reference's Lambda flow (nci-seronet-data-validator.py:33-117).

    python tools/run_submission.py SUBMISSION_DIR [SUBMISSION_DIR ...]
        [--out OUT_DIR] [--cbc NAME=ID ...] [--keep-reference-bugs]

Each SUBMISSION_DIR holds that submission's sheet CSVs (submission.csv,
demographic.csv, …). Every invocation runs ``orchestrate.validate_dirs``,
the driver the completion watcher uses too: headers probed driver-side,
submissions grouped by schema signature (per-sheet column lists in
header order — CBC ids MAY differ), each group compiled through ONE plan
over one multi-file scan per sheet, up to 4 groups at once on FAIR
scheduler pools. A single submission is a batch of one, so findings per
submission are identical whichever directories share the run; a
submission that fails (unreadable sheet, malformed metadata) fails
alone. Everything runs in this one process and SparkSession, the way the
reference validates submissions one after another in one Lambda
(nci-seronet-data-validator.py:69). Per-sheet error reports + findings
parquet land under OUT_DIR — directly for one dir (the reference's
per-submission layout), per-submission subdirs for several.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _out_names(dirs: list[str]) -> dict[str, str]:
    """Unique per-submission output subdir names: the basename, suffixed
    with an index on collision (two dirs named .../sub1 must not clobber
    each other's reports)."""
    names: dict[str, str] = {}
    seen: dict[str, int] = {}
    for d in dirs:
        base = os.path.basename(d.rstrip("/")) or "submission"
        n = seen.get(base, 0)
        seen[base] = n + 1
        names[d] = base if n == 0 else f"{base}_{n}"
    return names


def _sheet_paths(d: str) -> dict[str, str]:
    return {os.path.basename(p): p
            for p in sorted(glob.glob(os.path.join(d, "*.csv")))}


def _report(result, sheets, meta, sub_dir: str, out: str | None) -> bool:
    """Quality gate + summary + notification + sinks for one result.
    Returns the quality-gate verdict."""
    from nci_seronet_proc_data_validator_spark.sinks import (
        build_notification_payload,
        write_error_reports,
        write_findings_parquet,
    )
    from nci_seronet_proc_data_validator_spark.submission import (
        check_submission_quality,
    )
    header_rows = result.column_finding_rows
    ok, why = check_submission_quality(sheets, len(header_rows),
                                       str(meta["cbc_id"]))
    if not ok:
        print(f"QUALITY GATE FAILED: {why}")
        for mt, sheet, col, msg in header_rows[:50]:
            print(f"  {mt} {sheet} {col}: {msg}")
        # the reference still notifies and records job status on gate
        # failure (nci:76-80) — we print and stop before per-sheet reports

    # one summary action; the notification text prints it per sheet
    summary_rows = [r.asDict() for r in result.summary.collect()]
    payload = build_notification_payload(
        summary_rows, os.path.basename(sub_dir.rstrip("/")))
    print(payload["blocks"][0]["text"]["text"])

    if out:
        write_error_reports(result.findings,
                            os.path.join(out, "Data_Validation_Results"))
        write_findings_parquet(result.findings,
                               os.path.join(out, "findings.parquet"))
        print(f"reports written under {out}")
    return ok


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("submission_dirs", nargs="+")
    ap.add_argument("--out", default=None)
    ap.add_argument("--cbc", action="append", default=[],
                    metavar="NAME=ID", help="CBC name → 2-digit id mapping")
    ap.add_argument("--keep-reference-bugs", action="store_true",
                    help="reproduce the reference's buggy behaviors instead "
                         "of the documented fixes")
    args = ap.parse_args()

    single = len(args.submission_dirs) == 1
    dirs: dict[str, dict[str, str]] = {}
    load_failed = False
    for d in args.submission_dirs:
        sheets = _sheet_paths(d)
        if not sheets:
            print(f"no CSV sheets found in {d}")
            if single:
                return 2
            # per-submission isolation: an empty dir records its own
            # failure and the rest still validate
            load_failed = True
            continue
        print(f"{d}: loaded {len(sheets)} sheets: {', '.join(sheets)}")
        dirs[d] = sheets
    if not dirs:
        return 2

    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_dirs,
    )
    from nci_seronet_proc_data_validator_spark.session import get_spark
    from nci_seronet_proc_data_validator_spark.sources.catalog import (
        static_expected_columns,
    )
    from nci_seronet_proc_data_validator_spark.sources.icd10 import (
        load_icd10_codes,
    )

    spark = get_spark("run_submission")
    meta: dict = {}
    groups: list = []
    out = validate_dirs(
        spark, dirs, cbc_map=dict(kv.split("=", 1) for kv in args.cbc),
        icd10_codes=load_icd10_codes(spark),
        expected_columns=static_expected_columns(),
        bind_kwargs={"fix_reference_bugs": not args.keep_reference_bugs},
        meta_out=meta, groups_out=groups)
    sizes = sorted((len(m) for m in groups), reverse=True)
    print(f"{len(groups)} schema group(s), sizes {sizes}")

    # Report serially, in input order (driver-side prints; the findings
    # checkpoints already ran inside the groups' workers). One dir keeps
    # the reference's flat layout under --out.
    rc = 1 if load_failed else 0
    out_names = _out_names(list(dirs))
    for d, sheets in dirs.items():
        oc = out[d]
        print(f"\n=== {d} ({oc.seconds:.1f}s) ===")
        if oc.error is not None:
            print(f"FAILED: {type(oc.error).__name__}: {oc.error}")
            rc = 1
            continue
        if meta[d].get("cbc_id") not in (None, "0"):
            print(f"{d}: submission metadata: {meta[d]}")
        sub_out = None
        if args.out:
            sub_out = (args.out if single
                       else os.path.join(args.out, out_names[d]))
        if not _report(oc.result, sheets, meta[d], d, sub_out):
            rc = 1
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
