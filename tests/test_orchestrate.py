"""Concurrent multi-submission orchestration (orchestrate.py): >=3
submissions validated concurrently in ONE session produce findings
identical to the serial loop (the reference's processing model,
nci-seronet-data-validator.py:69), with per-submission error isolation."""

import datetime
import threading

import pytest

from nci_seronet_proc_data_validator_spark.orchestrate import (
    validate_groups)
from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
from nci_seronet_proc_data_validator_spark.submission import (
    SubmissionValidator)

TODAY = datetime.date(2026, 1, 1)


def _submission_csvs(i: int) -> dict[str, str]:
    """Three sheets per submission, with submission-specific planted
    errors so cross-contamination between concurrent runs would show."""
    return {
        "demographic.csv": (
            "Research_Participant_ID,Age,Race\n"
            f"14_00000{i},30,White\n"
            f"14_10000{i},9{i}9,Race_{i}\n"),      # range + vocab, unique per i
        "biospecimen.csv": (
            "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
            f"14_00000{i},14_00000{i}_001,PBMC\n"
            f"14_90000{i},14_90000{i}_001,Serum\n"),  # cross-sheet orphan
    }


def _load(spark, tmp_path, i: int) -> dict:
    d = tmp_path / f"sub{i}"
    d.mkdir()
    sheets = {}
    for name, content in _submission_csvs(i).items():
        (d / name).write_text(content)
        sheets[name] = read_sheet_csv(spark, str(d / name))
    return {"sheets": sheets, "cbc_id": "14", "today": TODAY}


def _finding_set(findings):
    return sorted(
        (r["Message_Type"], r["CSV_Sheet_Name"], r["Row_Index"],
         r["Column_Name"], r["Column_Value"], r["Error_Message"])
        for r in findings.collect())


def _run_cli(monkeypatch, argv: list[str]) -> int:
    import sys

    sys.path.insert(0, "tools")
    try:
        import run_submission as rs
    finally:
        sys.path.pop(0)
    monkeypatch.setattr(sys, "argv", ["run_submission.py", *argv])
    return rs.main()


def _cli_serial(spark, d: str, cbc_map: dict):
    """In-process serial validate() of one submission dir, with the
    reference data the CLI loads."""
    import glob
    import os

    from nci_seronet_proc_data_validator_spark.sources.catalog import (
        static_expected_columns)
    from nci_seronet_proc_data_validator_spark.sources.icd10 import (
        load_icd10_codes)
    from nci_seronet_proc_data_validator_spark.submission import (
        parse_submission_metadata)
    sheets = {os.path.basename(p): read_sheet_csv(spark, p)
              for p in sorted(glob.glob(os.path.join(d, "*.csv")))}
    meta = parse_submission_metadata(sheets["submission.csv"], cbc_map)
    return SubmissionValidator(
        spark, sheets=sheets, cbc_id=meta["cbc_id"],
        declared_participants=meta["declared_participants"],
        declared_biospecimens=meta["declared_biospecimens"],
        icd10_codes=load_icd10_codes(spark),
        expected_columns=static_expected_columns()).validate()


def _cli_twin(spark, d: str, cbc_map: dict) -> list:
    """The findings one submission dir's CLI parquet must hold."""
    return _finding_set(_cli_serial(spark, d, cbc_map).findings)


def _n_errors(findings) -> int:
    return findings.filter("Message_Type = 'Error'").count()


def _cli_findings(spark, out_dir) -> list:
    return _finding_set(spark.read.parquet(
        str(out_dir / "findings.parquet")))


def test_concurrent_matches_serial(spark, tmp_path):
    subs = {f"sub{i}": _load(spark, tmp_path, i) for i in range(3)}

    serial = {sid: _finding_set(
        SubmissionValidator(spark, **kw).validate().findings)
        for sid, kw in subs.items()}
    # every submission has its own planted findings, and they differ
    assert all(len(v) > 0 for v in serial.values())
    assert len({tuple(v) for v in serial.values()}) == 3

    out = validate_groups(spark, subs, [[sid] for sid in subs])
    assert set(out) == set(subs)
    for sid, oc in out.items():
        assert oc.error is None, (sid, oc.error)
        assert _finding_set(oc.result.findings) == serial[sid], sid
        assert _n_errors(oc.result.findings) > 0
        assert oc.seconds > 0


def test_concurrent_isolates_failures(spark, tmp_path):
    good = _load(spark, tmp_path, 7)
    bad = {"sheets": {"demographic.csv": None}, "cbc_id": "14",
           "today": TODAY}    # None sheet -> raises inside the worker
    out = validate_groups(spark, {"ok": good, "broken": bad},
                          [["ok"], ["broken"]])
    assert out["broken"].error is not None
    assert out["broken"].result is None
    assert out["ok"].error is None
    assert _n_errors(out["ok"].result.findings) > 0


def test_scheduler_pool_set_during_and_cleared_after(spark, tmp_path,
                                                     monkeypatch):
    """The worker's finally clears the pool tag — later jobs on the SAME
    thread must not inherit a submission's FAIR pool. Local properties
    are per-thread (pinned mode), so the clear is only observable on the
    thread that set it: a single group's worker runs on the calling
    thread — drive it on THIS thread, assert the pool is tagged while
    the group compile runs its jobs and cleared afterwards."""
    from nci_seronet_proc_data_validator_spark import orchestrate

    sc = spark.sparkContext
    seen = []
    compile_group = orchestrate.validate_batched_results

    def recording(spark, subs, **kwargs):
        seen.append(sc.getLocalProperty("spark.scheduler.pool"))
        return compile_group(spark, subs, **kwargs)

    monkeypatch.setattr(orchestrate, "validate_batched_results", recording)
    oc = validate_groups(spark, {"s0": _load(spark, tmp_path, 0)},
                         [["s0"]])["s0"]
    assert oc.error is None
    assert _n_errors(oc.result.findings) > 0
    assert seen == [threading.current_thread().name]
    assert sc.getLocalProperty("spark.scheduler.pool") in (None, "")
    # the clear also runs on the error path
    oc2 = validate_groups(
        spark, {"bad": {"sheets": {"demographic.csv": None},
                        "cbc_id": "14"}},
        [["bad"]])["bad"]
    assert oc2.error is not None
    assert seen[1] == threading.current_thread().name
    assert sc.getLocalProperty("spark.scheduler.pool") in (None, "")


def test_scheduler_pools_bounded_by_worker_slots(spark, monkeypatch):
    """Spark creates an undeclared FAIR pool on first use and never
    removes it, so the pool must be named after the worker slot, not
    the submission: 10 groups on 4 workers plus one group on the calling
    thread use at most 5 pools. No Spark job runs — the group compile
    is stubbed to record the pool its thread carries."""
    from nci_seronet_proc_data_validator_spark import orchestrate

    sc = spark.sparkContext
    pools = []

    def stub(spark, subs, **kwargs):
        pools.append(sc.getLocalProperty("spark.scheduler.pool"))
        return {s: None for s in subs}

    monkeypatch.setattr(orchestrate, "validate_batched_results", stub)
    subs = {f"s{i}": {} for i in range(10)}
    out = validate_groups(spark, subs, [[s] for s in subs])
    assert sorted(out) == sorted(subs)
    assert all(oc.error is None for oc in out.values())
    sc.setLocalProperty("spark.scheduler.pool", "outer")
    try:
        validate_groups(spark, {"one": {}}, [["one"]])
        assert sc.getLocalProperty("spark.scheduler.pool") == "outer"
    finally:
        sc.setLocalProperty("spark.scheduler.pool", None)
    assert len(pools) == 11
    assert len(set(pools)) <= 5, sorted(set(pools))


def test_concurrent_job_status_upserts_one_db(spark, tmp_path):
    """Orchestration + S11: concurrent submissions upserting their job
    rows into ONE jobs table (per-thread connections, the reference's
    shared MySQL model). Requires the COMPOSITE key
    (orig_file_id, file_name) — the default per-submission file_name key
    would let same-named sheets from different submissions clobber each
    other (that is what this test caught when first written)."""
    import sqlite3
    from nci_seronet_proc_data_validator_spark.sinks.reports import (
        job_status_rows, upsert_job_status)

    db = str(tmp_path / "jobs.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE table_data_validator ("
        "orig_file_id TEXT, file_name TEXT, data_validation_status TEXT, "
        "batch_validation_status TEXT, n_errors INTEGER, n_warnings INTEGER, "
        "data_validation_date TEXT)")
    conn.commit()
    conn.close()

    def factory():
        return sqlite3.connect(db, timeout=30)

    def validate_and_upsert(sid, kw):
        oc = validate_groups(spark, {sid: kw}, [[sid]])[sid]
        if oc.error is None:
            upsert_job_status(
                job_status_rows(oc.result.findings, sid, f"day-{sid}"),
                factory, key=["orig_file_id", "file_name"])
        return oc

    subs = {f"sub{i}": _load(spark, tmp_path, i) for i in range(3)}
    from concurrent.futures import ThreadPoolExecutor
    with ThreadPoolExecutor(max_workers=3) as pool:
        futs = {sid: pool.submit(validate_and_upsert, sid, kw)
                for sid, kw in subs.items()}
        outs = {sid: f.result() for sid, f in futs.items()}
    assert all(oc.error is None for oc in outs.values())

    conn = sqlite3.connect(db)
    rows = conn.execute(
        "SELECT orig_file_id, file_name, count(*) FROM table_data_validator "
        "GROUP BY 1, 2").fetchall()
    conn.close()
    # each submission contributed its two sheets, exactly once each
    assert sorted({r[0] for r in rows}) == ["sub0", "sub1", "sub2"]
    assert all(r[2] == 1 for r in rows)
    assert len(rows) == 6


def test_two_watchers_drain_concurrently(spark, tmp_path):
    """Streaming + concurrency: two validate_stream watchers (different
    sheets, checkpoints, outputs) started in one session drain their
    backlogs concurrently — Structured Streaming queries are already
    session-concurrent; this pins that the watcher's epoch-keyed sink
    and per-query checkpoints do not interfere."""
    import os

    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream)

    cols = ["Research_Participant_ID", "Age", "Race"]
    qs = []
    outs = []
    for w in range(2):
        in_dir, cp, out = (str(tmp_path / f"{d}{w}")
                           for d in ("in", "cp", "out"))
        os.makedirs(in_dir)
        with open(os.path.join(in_dir, "demographic.csv"), "w") as f:
            f.write("Research_Participant_ID,Age,Race\n"
                    f"14_00000{w},999,Martian_{w}\n")
        qs.append(validate_stream(spark, in_dir, cp, "demographic.csv",
                                  cols, "14", out))
        outs.append(out)
    for q in qs:
        q.awaitTermination(120)
        assert not q.isActive
    for w, out in enumerate(outs):
        vals = {r["Column_Value"]
                for r in spark.read.parquet(out).collect()}
        assert f"Martian_{w}" in vals and f"Martian_{1-w}" not in vals


def test_cli_empty_dir_isolated_in_multi_mode(spark, tmp_path, monkeypatch,
                                              capsys):
    """r11 (ADVICE): one submission dir with no CSVs must not abort the
    whole multi-submission run — it records its own failure (rc=1) and
    the remaining submissions still validate (per-submission isolation,
    same model as validate_dirs' error capture)."""
    import sys

    sys.path.insert(0, "tools")
    try:
        import run_submission as rs
    finally:
        sys.path.pop(0)
    good = tmp_path / "good"
    good.mkdir()
    for name, content in _submission_csvs(1).items():
        (good / name).write_text(content)
    empty = tmp_path / "empty"
    empty.mkdir()
    monkeypatch.setattr(sys, "argv",
                        ["run_submission.py", str(good), str(empty)])
    rc = rs.main()
    out = capsys.readouterr().out
    assert rc == 1                       # empty dir recorded as failure
    assert f"no CSV sheets found in {empty}" in out
    assert "loaded 2 sheets" in out      # the good one still validated
    # single-dir mode keeps the hard exit-2 contract
    monkeypatch.setattr(sys, "argv", ["run_submission.py", str(empty)])
    assert rs.main() == 2


def test_batched_matches_serial(spark, tmp_path):
    """r11: validate_batched compiles N same-shape submissions into ONE
    plan; each submission's tagged slice must equal the serial
    per-submission validate() findings exactly (IDs repeated across
    submissions are NOT duplicates; cross-sheet spines never match
    across submissions)."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        SUB_COL, validate_batched)

    subs = {f"sub{i}": _load(spark, tmp_path, i) for i in range(3)}
    serial = {sid: _finding_set(
        SubmissionValidator(spark, **kw).validate().findings)
        for sid, kw in subs.items()}
    assert len({tuple(v) for v in serial.values()}) == 3

    batched = validate_batched(spark, subs).cache()
    got = {sid: _finding_set(batched.filter(
        batched[SUB_COL] == sid).drop(SUB_COL)) for sid in subs}
    assert got == serial

    # one more input: an all-blank ',,' demographic row kept by
    # fix_reference_bugs=False. Serial validate() once cleaned sheets
    # WITHOUT the flag and silently dropped the row (1 finding vs 4).
    d = tmp_path / "blank"
    d.mkdir()
    (d / "demographic.csv").write_text(
        "Research_Participant_ID,Age,Race\n14_000001,30,White\n,,\n")
    (d / "biospecimen.csv").write_text(
        "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
        "14_000001,14_000001_001,PBMC\n")
    blank = {"sheets": {n: read_sheet_csv(spark, str(d / n))
                        for n in ("demographic.csv", "biospecimen.csv")},
             "cbc_id": "14", "today": TODAY, "fix_reference_bugs": False}
    want = _finding_set(SubmissionValidator(spark, **blank).validate()
                        .findings)
    assert _finding_set(validate_batched(spark, {"blank": blank})
                        .drop(SUB_COL)) == want
    assert sorted(r[3] for r in want
                  if r[2] == 3 and r[5].startswith("Missing Values")) == [
        "Age", "Race", "Research_Participant_ID"]

    # shared-parameter constraint is enforced (cbc_id may differ — v2 —
    # but today/fix_reference_bugs must not)
    bad = dict(subs)
    bad["sub9"] = {**subs["sub0"], "today": TODAY.replace(year=2027)}
    with pytest.raises(ValueError, match="shared"):
        validate_batched(spark, bad)
    # identical sheet-name sets are enforced (r12, ADVICE: the family
    # gates and enrichment parents are computed over the batch union)
    lopsided = dict(subs)
    lopsided["sub9"] = {**subs["sub0"],
                        "sheets": {"demographic.csv":
                                   subs["sub0"]["sheets"]["demographic.csv"]}}
    with pytest.raises(ValueError, match="sheet-name set"):
        validate_batched(spark, lopsided)


def test_batched_mixed_cbc_and_shared_ids(spark, tmp_path):
    """r12: batched v2 — per-submission cbc_id (the production shape:
    the reference resolves the CBC per submission,
    File_Submission_Object.py:82-87) and REAL cross-submission isolation:
    the SAME Research_Participant_ID/Biospecimen_ID planted in two
    submissions is NOT a duplicate, and an orphan in one submission is
    NOT healed by another submission's parent sheet. Each tagged slice
    must equal serial validate() byte-for-byte."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        SUB_COL, validate_batched)

    def _mk(i, cbc, csvs):
        d = tmp_path / f"mix{i}"
        d.mkdir()
        sheets = {}
        for name, content in csvs.items():
            (d / name).write_text(content)
            sheets[name] = read_sheet_csv(spark, str(d / name))
        return {"sheets": sheets, "cbc_id": cbc, "today": TODAY}

    # SHARED ids across submissions: 14_000001 appears in both demos
    # and both biospecimen sheets; 14_000001_001 in both biospecimens.
    # subA's biospecimen has an orphan participant 14_777777 whose
    # demographic row exists ONLY in subB — serial flags it in A,
    # healing across the batch union would hide it.
    a = _mk("a", "14", {
        "demographic.csv": (
            "Research_Participant_ID,Age,Race\n"
            "14_000001,30,White\n"),
        "biospecimen.csv": (
            "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
            "14_000001,14_000001_001,PBMC\n"
            "14_777777,14_777777_001,Serum\n"),
    })
    b = _mk("b", "41", {
        "demographic.csv": (
            "Research_Participant_ID,Age,Race\n"
            "14_000001,31,Asian\n"          # same ID, different lab (41)
            "14_777777,44,White\n"),        # the would-be healer
        "biospecimen.csv": (
            "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
            "14_000001,14_000001_001,PBMC\n"),
    })
    subs = {"A": a, "B": b}
    serial = {sid: _finding_set(
        SubmissionValidator(spark, **kw).validate().findings)
        for sid, kw in subs.items()}

    # the fixtures exercise what they claim:
    # 1) serial produces NO dup-ID finding anywhere (each sheet's ids
    #    are unique within its submission)
    assert not any(r[2] == -3 for s in serial.values() for r in s)
    # 2) B's rows carry lab 41, so its C5 prefix findings expect 41
    assert any("Expecting CBC Code (41)" in r[5] for r in serial["B"])
    assert all("Expecting CBC Code (41)" not in r[5] for r in serial["A"])
    # 3) A's orphan is flagged by serial (present in bio, no demo row)
    assert any(r[3] == "Research_Participant_ID" and r[4] == "14_777777"
               for r in serial["A"])

    batched = validate_batched(spark, subs).cache()
    got = {sid: _finding_set(batched.filter(
        batched[SUB_COL] == sid).drop(SUB_COL)) for sid in subs}
    assert got == serial


def test_cli_batched_matches_serial(spark, tmp_path, monkeypatch, capsys):
    """The multi-dir CLI: 8 submissions in two schema groups (5 + 3),
    mixed CBC ids inside the big group, routed through one compiled plan
    per group; each submission's findings parquet must equal its own
    serial validate(), and its printed per-sheet Errors/Warnings must
    equal its serial findings summary."""
    import re

    from pyspark.sql import functions as F

    def _mkdir(name: str, csvs: dict[str, str]) -> str:
        d = tmp_path / name
        d.mkdir()
        for fname, content in csvs.items():
            (d / fname).write_text(content)
        return str(d)

    dirs = []
    for i in range(5):                      # group A: demo + biospecimen
        lab = "LabX" if i % 2 == 0 else "LabY"   # mixed CBCs in ONE group
        csvs = dict(_submission_csvs(i))
        csvs["submission.csv"] = f"key,{lab}\np,2\nb,2\n"
        dirs.append(_mkdir(f"ga{i}", csvs))
    for i in range(3):                      # group B: demographic only,
        dirs.append(_mkdir(f"gb{i}", {      # narrower column set
            "demographic.csv": ("Research_Participant_ID,Age\n"
                                f"14_20000{i},1{i}9\n"),
            "submission.csv": "key,LabX\np,1\nb,0\n"}))

    cbc = {"LabX": "14", "LabY": "41"}
    rc = _run_cli(monkeypatch, [*dirs, "--out", str(tmp_path / "out"),
                                "--cbc", "LabX=14", "--cbc", "LabY=41"])
    # the fixture sheets don't carry the full expected-column catalog,
    # so the quality gate fails
    assert rc == 1
    text = capsys.readouterr().out
    assert "2 schema group(s), sizes [5, 3]" in text
    # the notification lines of ga1 (a LabY submission of group A)
    report = text.split(f"=== {dirs[1]} (")[1].split("\n=== ")[0]
    printed = {sheet: (int(e), int(w)) for sheet, e, w in re.findall(
        r"• `(\S+)` — (\d+) Errors / (\d+) Warnings", report)}
    assert printed == {
        r["CSV_Sheet_Name"]: (r["Errors"], r["Warnings"])
        for r in _cli_serial(spark, dirs[1], cbc).summary.collect()}
    assert printed, report

    for d in dirs:
        base = d.rstrip("/").split("/")[-1]
        got = _cli_findings(spark, tmp_path / "out" / base)
        assert got == _cli_twin(spark, d, cbc), base
        assert got, base                    # every submission has findings
    # the mixed-CBC group really validated against per-submission labs
    ga1 = spark.read.parquet(
        str(tmp_path / "out" / "ga1" / "findings.parquet"))
    assert ga1.filter(F.col("Error_Message").contains(
        "Expecting CBC Code (41)")).count() > 0


def test_cli_isolates_unreadable_submission(spark, tmp_path, monkeypatch,
                                            capsys):
    """A submission whose submission.csv is a DIRECTORY cannot be read
    (Spark finds no schema to infer): it must fail alone — rc 1 and a
    FAILED line — while the good submission in the same run still
    validates to its own serial findings."""
    good = tmp_path / "good"
    good.mkdir()
    for name, content in _submission_csvs(1).items():
        (good / name).write_text(content)
    (good / "submission.csv").write_text("key,LabX\np,2\nb,2\n")
    bad = tmp_path / "bad"
    bad.mkdir()
    for name, content in _submission_csvs(2).items():
        (bad / name).write_text(content)
    (bad / "submission.csv").mkdir()

    rc = _run_cli(monkeypatch, [str(good), str(bad), "--out",
                                str(tmp_path / "out"), "--cbc", "LabX=14"])
    text = capsys.readouterr().out
    assert rc == 1
    bad_report = text.split(f"=== {bad} ")[1]
    assert bad_report.lstrip().split("\n")[1].startswith("FAILED"), text
    assert (_cli_findings(spark, tmp_path / "out" / "good")
            == _cli_twin(spark, str(good), {"LabX": "14"}))


def test_batched_db_merged_tables_matches_serial(spark, tmp_path):
    """Per-submission DB fallback parents (db_merged_tables, the S5 JDBC
    reads) ride the batched compile: each submission's fallback is
    tagged like its sheets, so a fallback row enriches and spines only
    its own submission. Each batched slice equals that submission's own
    validate(); mismatched fallback name sets are refused."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        SUB_COL, validate_batched)

    subs = {}
    for i in range(2):
        kw = _load(spark, tmp_path, i)
        # sub0's participant 14_000000 has a prior-test row; sub1's
        # fallback names a participant no sheet of sub1 carries
        kw["db_merged_tables"] = {"prior_clinical_test.csv":
                                  spark.createDataFrame(
            [(f"14_00000{0 if i == 0 else 9}", "Negative")],
            "Research_Participant_ID string, "
            "SARS_CoV_2_PCR_Test_Result string")}
        subs[f"sub{i}"] = kw
    serial = {sid: _finding_set(
        SubmissionValidator(spark, **kw).validate().findings)
        for sid, kw in subs.items()}
    # the fallback really feeds the participant spine: without it the
    # 2-sheet submission gets "missing from Prior_Clinical_Test" for all
    no_db = _finding_set(SubmissionValidator(
        spark, **{**subs["sub0"], "db_merged_tables": {}}).validate()
        .findings)
    assert serial["sub0"] != no_db

    batched = validate_batched(spark, subs).cache()
    got = {sid: _finding_set(batched.filter(
        batched[SUB_COL] == sid).drop(SUB_COL)) for sid in subs}
    assert got == serial

    lopsided = {"a": subs["sub0"],
                "b": {**subs["sub1"], "db_merged_tables": {}}}
    with pytest.raises(ValueError, match="db_merged_tables"):
        validate_batched(spark, lopsided)


def test_batched_pretagged_matches_serial(spark, tmp_path):
    """r12: the pretagged fast path — ONE multi-file scan per sheet name
    (read_sheet_csv_tagged) instead of N per-submission scans unioned —
    must produce findings byte-identical to serial validate() and to the
    per-submission batched path, mixed CBCs included."""
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.orchestrate import (
        SUB_COL, validate_batched)
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_sheet_csv_tagged)

    subs = {}
    for i in range(3):
        kw = _load(spark, tmp_path, i)
        kw["cbc_id"] = "14" if i % 2 == 0 else "41"   # mixed CBCs
        subs[f"sub{i}"] = kw
    serial = {sid: _finding_set(
        SubmissionValidator(spark, **kw).validate().findings)
        for sid, kw in subs.items()}

    names = list(subs["sub0"]["sheets"])
    pretagged = {
        n: read_sheet_csv_tagged(
            spark, {sid: str(tmp_path / sid / n) for sid in subs},
            SUB_COL)
        for n in names}
    out = validate_batched(spark, subs, pretagged=pretagged).cache()
    got = {sid: _finding_set(out.filter(
        out[SUB_COL] == sid).drop(SUB_COL)) for sid in subs}
    assert got == serial
    # the scan shape is ONE datasource per sheet name (plus its tiny
    # bases self-join side) — not one scan node per submission
    for n, df in pretagged.items():
        p = df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001
        assert p.count("FileScan csv") <= 2, (n, p[:500])


def test_sql_string_map_round_trips_and_refuses_legacy_literals(spark):
    """The one SQL map-literal renderer (pretagged tag and CBC lookups):
    a quote and a backslash round-trip exactly, and the render refuses
    under spark.sql.parser.escapedStringLiterals=true, where its
    backslash escapes would be read literally."""
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.errors import sql_string_map

    pairs = [("/data/o'brien\\sub 1.csv", "it's\\n"), ("plain", "x")]
    m = sql_string_map(spark, pairs)
    got = spark.range(1).select(F.expr(m).alias("m")).first()["m"]
    assert got == dict(pairs)
    spark.conf.set("spark.sql.parser.escapedStringLiterals", "true")
    try:
        with pytest.raises(ValueError, match="escapedStringLiterals"):
            sql_string_map(spark, pairs)
    finally:
        spark.conf.unset("spark.sql.parser.escapedStringLiterals")


def test_batched_results_free_data_scale_caches(spark, tmp_path,
                                                monkeypatch):
    """r13 review: validate_batched's per-sheet union persists are
    data-scale (N submissions' parsed CSVs); once validate_batched_results
    has materialized its eager checkpoint they have no consumer, and a
    resident watcher compiling bursts for the query's lifetime must not
    pin them until GC. The call must leave the cache manager EMPTY —
    the checkpointed findings live as RDD blocks outside it — and no
    statement view behind, also when the compile raises after its
    persists (here: the checkpoint)."""
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_batched_results)

    def batched_views() -> list:
        return [t.name for db in (None, "global_temp")
                for t in spark.catalog.listTables(db)
                if t.name.startswith("__batched_")]

    spark.catalog.clearCache()
    subs = {f"sub{i}": _load(spark, tmp_path, i) for i in range(3)}
    results = validate_batched_results(spark, subs)
    for sid, r in results.items():
        assert r.findings.count() > 0, sid
        r.release()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()  # noqa: SLF001
    assert batched_views() == []

    def failing_checkpoint(self, *a, **k):
        raise RuntimeError("checkpoint failed")

    monkeypatch.setattr(type(spark.range(1)), "localCheckpoint",
                        failing_checkpoint)
    with pytest.raises(RuntimeError, match="checkpoint failed"):
        validate_batched_results(spark, subs)
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()  # noqa: SLF001
    assert batched_views() == []


def test_validate_stream_multi_mixed_cbc(spark, tmp_path):
    """r12: the multi-submission watcher — ONE streaming query draining
    files from per-submission directories with MIXED labs (subA cbc 14,
    subB cbc 41, subC unknown -> '0'), findings per submission equal to
    the batch compile with that submission's literal CBC, row_index
    citing each file's own CSV lines."""
    import os

    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules)
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        compile_sheet_findings)
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        with_typed_shadows)
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream_multi)

    cols = ["Research_Participant_ID", "Age", "Race"]
    root = tmp_path / "landing"
    csv = ("Research_Participant_ID,Age,Race\n"
           "14_000001,30,White\n"          # wrong CBC under 41/0
           "14_000002,999,Martian\n")      # range + vocab errors
    for sub in ("subA", "subB", "subC"):
        d = root / sub
        d.mkdir(parents=True)
        (d / "demographic.csv").write_text(csv)

    cbc_by_sub = {"subA": "14", "subB": "41"}   # subC unknown -> '0'
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = validate_stream_multi(
        spark, str(root / "*" / "demographic.csv"), cp,
        "demographic.csv", cols, cbc_by_sub, out)
    q.awaitTermination(180)
    assert not q.isActive

    got = spark.read.parquet(out)
    by_sub = {
        sub: sorted((r["Row_Index"], r["Column_Name"], r["Column_Value"],
                     r["Error_Message"])
                    for r in got.filter(
                        F.col("__submission_id") == sub).collect())
        for sub in ("subA", "subB", "subC")}
    # expected: the batch compile per submission with its literal CBC
    for sub, cbc in (("subA", "14"), ("subB", "41"), ("subC", "0")):
        from nci_seronet_proc_data_validator_spark.sources import (
            read_sheet_csv)
        df = read_sheet_csv(spark, str(root / sub / "demographic.csv"))
        df = with_typed_shadows(df, cols)
        df = df.withColumn("SARS_CoV_2_PCR_Test_Result", F.lit(""))
        bound = bind_sheet_rules("demographic.csv", cols, cbc)
        want = sorted(
            (r["Row_Index"], r["Column_Name"], r["Column_Value"],
             r["Error_Message"])
            for r in compile_sheet_findings(
                df, "demographic.csv", bound.column_rules).collect())
        assert by_sub[sub] == want, sub
    # the per-CBC messages really differ across the one stream
    msgs = {sub: {m for _, _, _, m in rows} for sub, rows in by_sub.items()}
    assert any("Expecting CBC Code (41)" in m for m in msgs["subB"])
    assert any("submission file is missing" in m for m in msgs["subC"])
    assert all("Expecting CBC Code" not in m for m in msgs["subA"])


def test_cli_run_watcher_stream_failure_exits_4(spark, tmp_path,
                                                monkeypatch, capsys):
    """A micro-batch that raises fails the stream: the per-sheet CLI
    prints one line naming the failure and exits 4 (not a traceback
    under the timeout code 1)."""
    import sys

    from nci_seronet_proc_data_validator_spark.streaming import watcher

    sys.path.insert(0, "tools")
    try:
        import run_watcher as rw
    finally:
        sys.path.pop(0)

    def broken_sink(*_a, **_k):
        raise RuntimeError("findings sink unavailable")

    monkeypatch.setattr(watcher, "_epoch_sink", broken_sink)
    d = tmp_path / "landing" / "labA"
    d.mkdir(parents=True)
    (d / "demographic.csv").write_text(
        "Research_Participant_ID,Age,Race\n14_000001,30,White\n")
    monkeypatch.setattr(sys, "argv", [
        "run_watcher.py", str(tmp_path / "landing"),
        "--sheet", "demographic.csv", "--out", str(tmp_path / "wout"),
        "--checkpoint", str(tmp_path / "wcp"), "--cbc", "labA=14"])
    assert rw.main() == 4
    lines = [ln for ln in capsys.readouterr().out.splitlines()
             if ln.startswith("STREAM FAILED")]
    assert len(lines) == 1, lines
    assert "RuntimeError: findings sink unavailable" in lines[0]


def test_cli_run_watcher(spark, tmp_path, monkeypatch, capsys):
    """r12: the watcher CLI end-to-end — two labs' sheets landing under
    per-submission dirs, one availableNow drain; rc=0, per-submission
    counts printed, findings parquet written; a second invocation
    drains nothing new (the checkpoint carries the offset) and the
    output is unchanged."""
    import sys

    from pyspark.sql import functions as F

    sys.path.insert(0, "tools")
    try:
        import run_watcher as rw
    finally:
        sys.path.pop(0)

    root = tmp_path / "landing"
    for sub, rows in (("labA", "14_000001,30,White\n14_000002,999,Zork\n"),
                      ("labB", "14_000003,31,Asian\n")):
        d = root / sub
        d.mkdir(parents=True)
        (d / "demographic.csv").write_text(
            "Research_Participant_ID,Age,Race\n" + rows)
    out, cp = str(tmp_path / "wout"), str(tmp_path / "wcp")
    argv = ["run_watcher.py", str(root), "--sheet", "demographic.csv",
            "--out", out, "--checkpoint", cp,
            "--cbc", "labA=14", "--cbc", "labB=41"]
    monkeypatch.setattr(sys, "argv", argv)
    assert rw.main() == 0
    text = capsys.readouterr().out
    assert "; findings under" in text

    got = spark.read.parquet(out)
    n1 = got.count()
    assert n1 > 0
    assert f"({n1} rows this run" in text      # summary covers THIS run
    # labB's rows (cbc 41) flag the 14_ prefix; labA's don't
    wrong = got.filter(F.col("Error_Message").contains(
        "Expecting CBC Code (41)"))
    assert wrong.count() > 0
    assert {r["__submission_id"] for r in wrong.collect()} == {"labB"}

    monkeypatch.setattr(sys, "argv", argv)     # second drain: no new files
    assert rw.main() == 0
    # r13 (ADVICE): the re-drain summary must NOT re-report the prior
    # drain's cumulative findings as this run's
    text2 = capsys.readouterr().out
    assert "no new files this run" in text2, text2
    assert spark.read.parquet(out).count() == n1

    # third drain: a NEW file lands; the summary counts only its epoch
    d = root / "labC"
    d.mkdir()
    (d / "demographic.csv").write_text(
        "Research_Participant_ID,Age,Race\n14_000009,932,White\n")
    monkeypatch.setattr(sys, "argv", argv)
    assert rw.main() == 0
    text3 = capsys.readouterr().out
    n3 = spark.read.parquet(out).count()
    assert n3 > n1
    assert f"({n3 - n1} rows this run" in text3, text3


def test_cli_batched_groups_by_column_order(spark, tmp_path, monkeypatch,
                                            capsys):
    """r13 (ADVICE high): two submissions with the SAME column set in a
    DIFFERENT header order must land in DIFFERENT schema groups — the
    pretagged group scan reads N files as ONE CSV source, which takes
    names from the first file and reads the rest positionally, so
    grouping them together would silently misalign values into the
    wrong columns. With the order-sensitive signature each becomes a
    singleton group and findings match serial exactly, in a multi-dir
    run and in a single-dir run."""
    specs = {
        "oa": ("Research_Participant_ID,Age,Race\n"
               "14_000001,930,White\n"),          # Age out of range
        "ob": ("Research_Participant_ID,Race,Age\n"
               "14_000002,White,931\n")}          # same set, swapped order
    dirs = []
    for name, demo in specs.items():
        d = tmp_path / name
        d.mkdir()
        (d / "demographic.csv").write_text(demo)
        (d / "submission.csv").write_text("key,LabX\np,1\nb,0\n")
        dirs.append(str(d))

    _run_cli(monkeypatch, [*dirs, "--out", str(tmp_path / "out"),
                           "--cbc", "LabX=14"])
    text = capsys.readouterr().out
    assert "2 schema group(s), sizes [1, 1]" in text, text

    for d in dirs:
        base = d.rstrip("/").split("/")[-1]
        got = _cli_findings(spark, tmp_path / "out" / base)
        assert got == _cli_twin(spark, d, {"LabX": "14"}), base
        # the out-of-range Age was found under the right column — a
        # positional misread would have put '931'/'White' elsewhere
        assert any(r[3] == "Age" and r[4] in ("930", "931")
                   for r in got), base

    # one dir: the same findings, reports flat under --out
    _run_cli(monkeypatch, [dirs[1], "--out", str(tmp_path / "single"),
                           "--cbc", "LabX=14"])
    assert "1 schema group(s), sizes [1]" in capsys.readouterr().out
    assert (_cli_findings(spark, tmp_path / "single")
            == _cli_twin(spark, dirs[1], {"LabX": "14"}))


def test_validate_stream_multi_dynamic_cbc(spark, tmp_path):
    """r13 (verdict item 2): cbc_by_sub as a CALLABLE re-resolved per
    micro-batch — a lab registered BETWEEN micro-batches (from epoch 0's
    status_cb, which runs strictly before epoch 1 starts) is honored by
    later batches of the SAME query, no restart; still-unknown
    submissions stay '0'."""
    import os

    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream_multi)

    cols = ["Research_Participant_ID", "Age", "Race"]
    root = tmp_path / "landing"
    csv = ("Research_Participant_ID,Age,Race\n"
           "14_000001,30,White\n")
    t0 = 1_700_000_000
    for k, sub in enumerate(("subA", "subB")):
        d = root / sub
        d.mkdir(parents=True)
        p = d / "demographic.csv"
        p.write_text(csv)
        # mtime order pins subA to epoch 0, subB to epoch 1
        os.utime(p, (t0 + 10 * k, t0 + 10 * k))

    registry: dict[str, str] = {}

    def register_after_first_batch(_findings, epoch_id):
        if epoch_id == 0:
            registry["subB"] = "41"     # lab registered mid-query

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = validate_stream_multi(
        spark, str(root / "*" / "demographic.csv"), cp,
        "demographic.csv", cols, lambda: dict(registry), out,
        max_files_per_trigger=1,
        status_cb=register_after_first_batch)
    q.awaitTermination(300)
    assert not q.isActive

    got = spark.read.parquet(out)
    msgs = {
        sub: {r["Error_Message"] for r in got.filter(
            F.col("__submission_id") == sub).collect()}
        for sub in ("subA", "subB")}
    # epoch 0 ran before registration: subA validated under '0'
    assert any("submission file is missing" in m for m in msgs["subA"])
    # epoch 1 picked the registration up WITHOUT restart
    assert any("Expecting CBC Code (41)" in m for m in msgs["subB"])
    assert all("submission file is missing" not in m
               for m in msgs["subB"])
