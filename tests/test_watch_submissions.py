"""Submission-completeness-gated streaming (r13): the continuous form of
the reference's whole-submission validation gate
(nci-seronet-data-validator.py:152-159) — sheets of several submissions
land interleaved across micro-batches; a submission validates through the
FULL batch compiler (per-sheet + dup-ID + cross-sheet J3-J6 + A4 + global
dedup) exactly once, at the epoch where its declared sheet set first
completes, and the drained findings hash-match the batch compile."""

import datetime
import os
from collections import Counter

import pytest
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
from nci_seronet_proc_data_validator_spark.streaming import (
    validate_stream_submissions)
from nci_seronet_proc_data_validator_spark.submission import (
    SubmissionValidator,
    parse_submission_metadata,
)

TODAY = datetime.date(2026, 1, 1)
CBC_MAP = {"LabX": "14", "LabY": "41"}
DECLARED = frozenset(
    {"submission.csv", "demographic.csv", "biospecimen.csv"})


def _write_submission(root, name: str, lab: str, i: int) -> dict:
    """Sheets with planted errors: range+vocab on demographic, a
    cross-sheet orphan participant in biospecimen (14_9000i appears in
    biospecimen only -> J3 presence finding), declared counts that
    mismatch (A4)."""
    d = root / name
    d.mkdir(parents=True)
    sheets = {
        "demographic.csv": (
            "Research_Participant_ID,Age,Race\n"
            f"14_00000{i},30,White\n"
            f"14_10000{i},9{i}9,Race_{i}\n"),
        "biospecimen.csv": (
            "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
            f"14_00000{i},14_00000{i}_001,PBMC\n"
            f"14_90000{i},14_90000{i}_001,Serum\n"),
        # declared 9/9 vs 2 passing each -> two A4 findings
        "submission.csv": f"key,{lab}\np,9\nb,9\n",
    }
    paths = {}
    for fname, content in sheets.items():
        (d / fname).write_text(content)
        paths[fname] = str(d / fname)
    return paths


def _batch_twin(spark, paths: dict):
    """The batch compile the watcher must reproduce byte-for-byte."""
    sheets = {n: read_sheet_csv(spark, p) for n, p in paths.items()}
    meta = parse_submission_metadata(sheets["submission.csv"], CBC_MAP)
    return SubmissionValidator(
        spark, sheets=sheets, cbc_id=str(meta["cbc_id"]),
        declared_participants=meta.get("declared_participants"),
        declared_biospecimens=meta.get("declared_biospecimens"),
        today=TODAY).validate()


def _finding_set(findings):
    return sorted(
        (r["Message_Type"], r["CSV_Sheet_Name"], r["Row_Index"],
         r["Column_Name"], r["Column_Value"], r["Error_Message"])
        for r in findings.collect())


def test_interleaved_arrival_matches_batch_compile(spark, tmp_path):
    """Two submissions' sheets arriving ONE FILE PER MICRO-BATCH (fully
    interleaved): each submission validates exactly once — at the epoch
    its declared set completes — and per-submission drained findings
    (all epochs) equal its batch compile, cross-sheet and A4 included."""
    root = tmp_path / "landing"
    pa = _write_submission(root, "subA", "LabX", 0)
    pb = _write_submission(root, "subB", "LabY", 1)
    # deterministic interleaving: the file source orders new files by
    # modification time — A.demo, B.demo, A.bio, B.bio, A.sub, B.sub
    order = [pa["demographic.csv"], pb["demographic.csv"],
             pa["biospecimen.csv"], pb["biospecimen.csv"],
             pa["submission.csv"], pb["submission.csv"]]
    t0 = 1_700_000_000
    for k, p in enumerate(order):
        os.utime(p, (t0 + 10 * k, t0 + 10 * k))

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    completed: list[tuple[int, list[str]]] = []

    def cb(f, epoch):
        if f is not None:
            completed.append(
                (epoch, sorted({r["__submission_id"]
                                for r in f.select("__submission_id")
                                .distinct().collect()})))

    q = validate_stream_submissions(
        spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
        bind_kwargs={"today": TODAY}, max_files_per_trigger=1,
        status_cb=cb)
    q.awaitTermination(600)

    # each submission completed exactly once, in arrival (mtime) order
    assert [subs for _e, subs in completed] == [["subA"], ["subB"]]
    got = spark.read.parquet(os.path.join(out, "findings"))
    for name, paths in (("subA", pa), ("subB", pb)):
        mine = got.filter(F.col("__submission_id") == name).drop(
            "__submission_id", "epoch")
        want = _batch_twin(spark, paths).findings
        assert _finding_set(mine) == _finding_set(want), name
    # the planted classes actually streamed through: cross-sheet (J3)
    # and count reconciliation (A4)
    msgs = [r["CSV_Sheet_Name"] for r in got.collect()]
    assert "Cross_Participant_ID.csv" in msgs
    assert any(r["Column_Name"] == "submit_Participant_IDs"
               for r in got.collect())
    # the arrivals ledger holds one row per declared file
    ledger = spark.read.parquet(os.path.join(out, "arrivals"))
    assert ledger.count() == 6


def test_restart_mid_submission_no_loss_no_dup(spark, tmp_path):
    """Drain 1 sees a PARTIAL submission (no findings); the remaining
    sheet lands and drain 2 (same checkpoint — the restart) completes it
    exactly once; drain 3 is a no-op. The gate must neither lose the
    committed arrivals nor re-validate on later drains."""
    root = tmp_path / "landing"
    pa = _write_submission(root, "subA", "LabX", 0)
    held_back = pa["biospecimen.csv"]
    staged = held_back + ".hold"
    os.rename(held_back, staged)

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    events: list[tuple[int, bool]] = []

    def run_drain():
        q = validate_stream_submissions(
            spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
            bind_kwargs={"today": TODAY},
            status_cb=lambda f, e: events.append((e, f is not None)))
        q.awaitTermination(600)

    run_drain()                              # partial: arrivals only
    assert not os.path.isdir(os.path.join(out, "findings"))
    assert all(not done for _e, done in events)

    os.rename(staged, held_back)             # last sheet lands
    run_drain()                              # restart completes it
    got = spark.read.parquet(os.path.join(out, "findings"))
    want = _batch_twin(spark, pa).findings
    assert _finding_set(got.drop("__submission_id", "epoch")) == \
        _finding_set(want)

    n_events = len(events)
    run_drain()                              # nothing new
    assert all(not done for _e, done in events[n_events:])
    again = spark.read.parquet(os.path.join(out, "findings"))
    assert again.count() == got.count()      # validated exactly once


def test_dynamic_cbc_between_drains(spark, tmp_path):
    """cbc_map as a CALLABLE: a lab registered after the first drain is
    honored by the next one without rebuilding the watcher args — subA
    (drained before registration) validates under '0' (the reference's
    unknown-lab code), subB (after) under its real code."""
    root = tmp_path / "landing"
    pa = _write_submission(root, "subA", "LabZ", 0)
    pb_dir = tmp_path / "stage_b"
    pb = _write_submission(pb_dir, "subB", "LabZ", 1)

    registry: dict[str, str] = {}
    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def run_drain():
        q = validate_stream_submissions(
            spark, str(root), cp, DECLARED, out,
            cbc_map=lambda: dict(registry),
            bind_kwargs={"today": TODAY})
        q.awaitTermination(600)

    run_drain()                              # subA: LabZ unknown -> '0'
    registry["LabZ"] = "41"                  # lab registered
    os.rename(str(pb_dir / "subB"), str(root / "subB"))
    run_drain()                              # subB: LabZ -> 41
    del pb

    got = spark.read.parquet(os.path.join(out, "findings"))
    a = got.filter(F.col("__submission_id") == "subA")
    b = got.filter(F.col("__submission_id") == "subB")
    assert a.filter(F.col("Error_Message").contains(
        "submission file is missing")).count() > 0
    assert b.filter(F.col("Error_Message").contains(
        "Expecting CBC Code (41)")).count() > 0
    assert b.filter(F.col("Error_Message").contains(
        "submission file is missing")).count() == 0


def test_rejects_empty_declared_set(spark, tmp_path):
    with pytest.raises(ValueError, match="declared_sheets"):
        validate_stream_submissions(
            spark, str(tmp_path), str(tmp_path / "cp"), frozenset(),
            str(tmp_path / "out"))


def test_cli_complete_mode(spark, tmp_path, monkeypatch, capsys):
    """The watcher CLI's --complete mode end-to-end: a partial drain
    reports arrivals-only, the completing drain validates and prints
    per-submission counts for THIS run, and the findings match the
    batch compile. The batch CLI over the same dir writes the watcher's
    findings sink shape (no epoch), row for row."""
    import sys

    sys.path.insert(0, "tools")
    try:
        import run_submission as rs
        import run_watcher as rw
    finally:
        sys.path.pop(0)

    root = tmp_path / "landing"
    pa = _write_submission(root, "subA", "LabX", 0)
    held = pa["submission.csv"]
    os.rename(held, held + ".hold")

    out, cp = str(tmp_path / "wout"), str(tmp_path / "wcp")
    argv = ["run_watcher.py", str(root), "--complete",
            "--sheets", "submission.csv,demographic.csv,biospecimen.csv",
            "--out", out, "--checkpoint", cp, "--cbc", "LabX=14"]
    monkeypatch.setattr(sys, "argv", argv)
    assert rw.main() == 0
    assert "no submission completed" in capsys.readouterr().out

    os.rename(held + ".hold", held)
    monkeypatch.setattr(sys, "argv", argv)
    assert rw.main() == 0
    text = capsys.readouterr().out
    assert "completed ['subA']" in text, text

    got = spark.read.parquet(os.path.join(out, "findings"))
    # CLI passes the real ICD-10 dictionary; the batch twin must too
    from nci_seronet_proc_data_validator_spark.sources.icd10 import (
        load_icd10_codes)
    sheets = {n: read_sheet_csv(spark, p) for n, p in pa.items()}
    meta = parse_submission_metadata(sheets["submission.csv"], CBC_MAP)
    want = SubmissionValidator(
        spark, sheets=sheets, cbc_id=str(meta["cbc_id"]),
        declared_participants=meta.get("declared_participants"),
        declared_biospecimens=meta.get("declared_biospecimens"),
        icd10_codes=load_icd10_codes(spark)).validate().findings
    assert _finding_set(got.drop("__submission_id", "epoch")) == \
        _finding_set(want)

    cli_out = str(tmp_path / "cli")
    monkeypatch.setattr(sys, "argv", [
        "run_submission.py", os.path.dirname(held), "--out", cli_out,
        "--cbc", "LabX=14"])
    rs.main()
    cli = spark.read.parquet(os.path.join(cli_out, "findings.parquet"))
    assert cli.columns == got.drop("epoch").columns
    assert (Counter(map(tuple, cli.collect()))
            == Counter(map(tuple, got.drop("epoch").collect()))), cli_out


def test_two_submissions_complete_in_one_epoch(spark, tmp_path):
    """Both submissions fully staged before the drain and no
    maxFilesPerTrigger: one micro-batch completes BOTH — the overlapped
    (thread-pool) compile path — and each submission's findings still
    equal its batch compile."""
    root = tmp_path / "landing"
    pa = _write_submission(root, "subA", "LabX", 0)
    pb = _write_submission(root, "subB", "LabY", 1)

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    epochs_with_findings: list[int] = []
    q = validate_stream_submissions(
        spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
        bind_kwargs={"today": TODAY},
        status_cb=lambda f, e: (f is not None
                                and epochs_with_findings.append(e)))
    q.awaitTermination(600)

    assert epochs_with_findings == [0]       # ONE completing epoch
    got = spark.read.parquet(os.path.join(out, "findings"))
    for name, paths in (("subA", pa), ("subB", pb)):
        mine = got.filter(F.col("__submission_id") == name).drop(
            "__submission_id", "epoch")
        want = _batch_twin(spark, paths).findings
        assert _finding_set(mine) == _finding_set(want), name


def test_url_unsafe_submission_dirs_match_batch_compile(spark, tmp_path):
    """Submission directories whose names the file source reports
    percent-encoded (space, '%', '#') or keeps literal ('+') still map
    their rows back to the right submission: the same-schema group
    validates, nothing fails, and each submission's findings equal its
    own validate()."""
    root = tmp_path / "landing"
    names = ("sub A", "sub%20B#1", "sub+C")
    paths = {n: _write_submission(root, n, "LabX", i)
             for i, n in enumerate(names)}

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    failures: list = []
    q = validate_stream_submissions(
        spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
        bind_kwargs={"today": TODAY},
        failed_cb=lambda f, e: failures.append(f))
    q.awaitTermination(600)

    assert failures == []
    got = spark.read.parquet(os.path.join(out, "findings"))
    assert {r["__submission_id"] for r in
            got.select("__submission_id").distinct().collect()} \
        == set(names)
    for name, p in paths.items():
        mine = got.filter(F.col("__submission_id") == name).drop(
            "__submission_id", "epoch")
        want = _batch_twin(spark, p).findings
        assert _finding_set(mine) == _finding_set(want), name


def test_complete_watcher_drives_job_status_upserts(spark, tmp_path):
    """The full production loop in continuous mode: arrivals ->
    completeness gate -> batch compile -> S11 jobs-table upsert via
    status_cb (the reference's Lambda bookkeeping,
    nci-seronet-data-validator.py:152-159 / File_Submission_Object.py:458).
    Two submissions completing across two drains each upsert their own
    per-sheet status rows exactly once; a replayed upsert (same rows)
    stays idempotent by key."""
    import sqlite3

    from nci_seronet_proc_data_validator_spark.sinks.reports import (
        job_status_rows,
        upsert_job_status,
    )

    db = str(tmp_path / "jobs.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE table_data_validator ("
        "orig_file_id TEXT, file_name TEXT, data_validation_status TEXT, "
        "batch_validation_status TEXT, n_errors INTEGER, "
        "n_warnings INTEGER, data_validation_date TEXT)")
    conn.commit()
    conn.close()

    root = tmp_path / "landing"
    _write_submission(root, "subA", "LabX", 0)
    stage = tmp_path / "stage"
    _write_submission(stage, "subB", "LabY", 1)

    def cb(findings, epoch_id):
        if findings is None:
            return
        for r in (findings.select("__submission_id").distinct().collect()):
            sub = r["__submission_id"]
            rows = job_status_rows(
                findings.filter(F.col("__submission_id") == sub)
                .drop("__submission_id", "epoch"),
                sub, f"epoch-{epoch_id}", sheet_names=sorted(DECLARED))
            upsert_job_status(rows,
                              lambda: sqlite3.connect(db, timeout=30),
                              key=["orig_file_id", "file_name"])

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def run_drain():
        q = validate_stream_submissions(
            spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
            bind_kwargs={"today": TODAY}, status_cb=cb)
        q.awaitTermination(600)

    run_drain()                                  # subA completes
    os.rename(str(stage / "subB"), str(root / "subB"))
    run_drain()                                  # subB completes

    conn = sqlite3.connect(db)
    rows = conn.execute(
        "SELECT orig_file_id, file_name, data_validation_status, count(*) "
        "FROM table_data_validator GROUP BY 1, 2, 3 ORDER BY 1, 2").fetchall()
    conn.close()
    subs = sorted({r[0] for r in rows})
    assert subs == ["subA", "subB"]
    assert all(r[3] == 1 for r in rows)          # exactly one row per key
    # every declared sheet of each submission got a status row, and the
    # planted errors mark the error vocabulary
    by_sub = {s: {r[1]: r[2] for r in rows if r[0] == s} for s in subs}
    for s in subs:
        assert set(by_sub[s]) == set(DECLARED), by_sub[s]
        assert by_sub[s]["demographic.csv"] == "FILE_PROCESSED_ERRORS_FOUND"


def test_clean_submission_reports_completed(spark, tmp_path, monkeypatch,
                                            capsys):
    """r13 (review): a fully CLEAN submission (zero findings) must still
    be reported as completed — completion comes from the gate via
    complete_cb, never from counting findings rows. Also pins that
    complete_cb hands the FULL ValidationResult (column_finding_rows
    observable) and that results are released after the sink."""
    import sys

    sys.path.insert(0, "tools")
    try:
        import run_watcher as rw
    finally:
        sys.path.pop(0)

    root = tmp_path / "landing"
    d = root / "cleanA"
    d.mkdir(parents=True)
    # every value passes its rules; declared count matches (no A4);
    # single data sheet, so no cross-sheet family can fire (a 2-sheet
    # demo+bio submission ALWAYS flags the missing-prior J3 pattern)
    (d / "demographic.csv").write_text(
        "Research_Participant_ID,Age,Race\n14_000001,30,White\n")
    (d / "submission.csv").write_text("key,LabX\nname,cleanA\np,1\nb,0\n")
    declared = frozenset({"submission.csv", "demographic.csv"})

    # library-level: complete_cb fires with the result, findings empty
    results_seen: dict = {}
    q = validate_stream_submissions(
        spark, str(root), str(tmp_path / "cp0"), declared,
        str(tmp_path / "out0"), cbc_map=CBC_MAP,
        bind_kwargs={"today": TODAY},
        complete_cb=lambda res, e: results_seen.update(res))
    q.awaitTermination(600)
    assert set(results_seen) == {"cleanA"}
    want = _batch_twin(spark, {
        n: str(d / n) for n in
        ("demographic.csv", "submission.csv")}).findings
    assert want.count() == 0

    # CLI-level: the summary says completed, not "no submission"
    argv = ["run_watcher.py", str(root), "--complete",
            "--sheets", "submission.csv,demographic.csv",
            "--out", str(tmp_path / "out1"),
            "--checkpoint", str(tmp_path / "cp1"), "--cbc", "LabX=14"]
    monkeypatch.setattr(sys, "argv", argv)
    assert rw.main() == 0
    text = capsys.readouterr().out
    assert "completed ['cleanA']" in text, text
    assert "no submission completed" not in text


def test_same_schema_completions_batch_through_one_plan(spark, tmp_path,
                                                        monkeypatch):
    """r13: three same-schema submissions + one different-schema one all
    completing in ONE epoch — each schema group routes through ONE
    validate_batched_results compile with pretagged multi-file scans
    (the odd one as a group of one), with every submission's findings
    still equal to its own batch compile."""
    import nci_seronet_proc_data_validator_spark.orchestrate as orch

    calls = []
    real = orch.validate_batched_results

    def spy(spark_, subs, pretagged=None, **kw):
        calls.append((sorted(subs), pretagged is not None))
        return real(spark_, subs, pretagged=pretagged, **kw)

    monkeypatch.setattr(orch, "validate_batched_results", spy)

    root = tmp_path / "landing"
    paths = {}
    for i in range(3):                       # same schema, mixed labs
        paths[f"s{i}"] = _write_submission(
            root, f"s{i}", "LabX" if i % 2 == 0 else "LabY", i)
    odd = root / "odd"                       # different demographic cols
    odd.mkdir()
    (odd / "demographic.csv").write_text(
        "Research_Participant_ID,Age\n14_000009,939\n")
    (odd / "biospecimen.csv").write_text(
        "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
        "14_000009,14_000009_001,PBMC\n")
    (odd / "submission.csv").write_text("key,LabX\nname,odd\np,9\nb,9\n")
    paths["odd"] = {n: str(odd / n) for n in
                    ("demographic.csv", "biospecimen.csv",
                     "submission.csv")}

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = validate_stream_submissions(
        spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
        bind_kwargs={"today": TODAY})
    q.awaitTermination(600)

    # one compile per schema group (groups may run concurrently)
    assert sorted(calls) == [(["odd"], True), (["s0", "s1", "s2"], True)]
    got = spark.read.parquet(os.path.join(out, "findings"))
    for name, p in paths.items():
        mine = got.filter(F.col("__submission_id") == name).drop(
            "__submission_id", "epoch")
        want = _batch_twin(spark, p).findings
        assert _finding_set(mine) == _finding_set(want), name


def test_batched_group_rejection_falls_back_not_wedges(spark, tmp_path):
    """r13 review: a failing group compile must NOT fail the micro-batch
    — a failed batch replays the same grouping on restart and fails
    identically forever, wedging the stream. Here one member of a
    same-header group is poisoned (its submission.csv declares a
    non-numeric participant count, which the A4 comparison's int()
    rejects): the group is retried member by member, the healthy member
    validates exactly as its own validate(), and only the poisoned one
    records a failure."""
    from nci_seronet_proc_data_validator_spark.errors import (
        ROW_VALIDATION_FAILURE)

    root = tmp_path / "landing"
    good = _write_submission(root, "good", "LabX", 0)
    bad = _write_submission(root, "bad", "LabX", 1)
    with open(bad["submission.csv"], "w") as f:
        # same header; the declared participant count (data row 2,
        # the reference's iloc[1][1]) is not a number
        f.write("key,LabX\nname,bad\np,many\nb,9\n")

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    failures: list[tuple[int, dict]] = []
    q = validate_stream_submissions(
        spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
        bind_kwargs={"today": TODAY},
        failed_cb=lambda f, e: failures.append((e, f)))
    q.awaitTermination(600)

    got = spark.read.parquet(os.path.join(out, "findings"))
    mine = got.filter(F.col("__submission_id") == "good").drop(
        "__submission_id", "epoch")
    assert _finding_set(mine) == _finding_set(_batch_twin(spark, good)
                                              .findings)
    fail_rows = got.filter(F.col("__submission_id") == "bad").collect()
    assert len(fail_rows) == 1
    assert fail_rows[0]["CSV_Sheet_Name"] == "__submission__"
    assert fail_rows[0]["Row_Index"] == ROW_VALIDATION_FAILURE
    assert "ValueError" in fail_rows[0]["Error_Message"]
    assert len(failures) == 1 and set(failures[0][1]) == {"bad"}


def test_db_merged_tables_drain_matches_serial(spark, tmp_path):
    """r13 review: bind_kwargs with db_merged_tables (the S5 JDBC
    fallback, created on the outer session while foreachBatch compiles
    on the streaming clone) drains to findings equal to each
    submission's own validate() with the same fallback."""
    root = tmp_path / "landing"
    paths = {f"s{i}": _write_submission(root, f"s{i}", "LabX", i)
             for i in range(2)}               # same schema -> one group
    fallback = spark.createDataFrame(
        [("14_999999", "Negative")],
        "Research_Participant_ID string, "
        "SARS_CoV_2_PCR_Test_Result string")

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    q = validate_stream_submissions(
        spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
        bind_kwargs={"today": TODAY, "db_merged_tables": {
            "prior_clinical_test.csv": fallback}})
    q.awaitTermination(600)

    got = spark.read.parquet(os.path.join(out, "findings"))
    for name, p in paths.items():
        mine = got.filter(F.col("__submission_id") == name).drop(
            "__submission_id", "epoch")
        sheets = {n: read_sheet_csv(spark, pth) for n, pth in p.items()}
        meta = parse_submission_metadata(sheets["submission.csv"], CBC_MAP)
        want = SubmissionValidator(
            spark, sheets=sheets, cbc_id=str(meta["cbc_id"]),
            declared_participants=meta.get("declared_participants"),
            declared_biospecimens=meta.get("declared_biospecimens"),
            db_merged_tables={"prior_clinical_test.csv": fallback},
            today=TODAY).validate()
        assert _finding_set(mine) == _finding_set(want.findings), name


def test_batched_groups_form_per_drain_across_restart(spark, tmp_path,
                                                      monkeypatch):
    """Completion groups are per-EPOCH: four same-schema submissions
    where two complete in drain 1 and two (held back) in drain 2 (same
    checkpoint — a restart between) must compile as TWO batched groups,
    one per completing epoch, each exactly once, with the carried
    arrivals ledger gating drain 2's completions correctly."""
    import nci_seronet_proc_data_validator_spark.orchestrate as orch

    calls = []
    real = orch.validate_batched_results

    def spy(spark_, subs, pretagged=None, **kw):
        calls.append(sorted(subs))
        return real(spark_, subs, pretagged=pretagged, **kw)

    monkeypatch.setattr(orch, "validate_batched_results", spy)

    root = tmp_path / "landing"
    paths = {f"s{i}": _write_submission(root, f"s{i}", "LabX", i)
             for i in range(4)}
    held = {}
    for name in ("s2", "s3"):                  # drain-2 completers
        p = paths[name]["biospecimen.csv"]
        held[name] = p
        os.rename(p, p + ".hold")

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")

    def run_drain():
        q = validate_stream_submissions(
            spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
            bind_kwargs={"today": TODAY})
        q.awaitTermination(600)

    run_drain()                                # s0+s1 complete, batched
    assert calls == [["s0", "s1"]]
    for p in held.values():
        os.rename(p + ".hold", p)
    run_drain()                                # restart: s2+s3 batched
    assert calls == [["s0", "s1"], ["s2", "s3"]]

    got = spark.read.parquet(os.path.join(out, "findings"))
    for name, p in paths.items():
        mine = got.filter(F.col("__submission_id") == name).drop(
            "__submission_id", "epoch")
        want = _batch_twin(spark, p).findings
        assert _finding_set(mine) == _finding_set(want), name


def test_poisoned_submission_is_isolated_not_wedging(spark, tmp_path):
    """r13: per-submission error isolation (the reference's "Moving
    onto Next Submitted File", nci-seronet-data-validator.py:109-111).
    A submission whose sheet the engine cannot even compile (binary
    junk with a backtick column name -> AnalysisException at plan
    build) must not fail the micro-batch: the healthy submission
    validates normally, the poisoned one records ONE durable failure
    row in the findings sink and fires failed_cb."""
    from nci_seronet_proc_data_validator_spark.errors import (
        ROW_VALIDATION_FAILURE)

    root = tmp_path / "landing"
    good = _write_submission(root, "good", "LabX", 0)
    bad = root / "bad"
    bad.mkdir()
    (bad / "demographic.csv").write_text(
        "Research_Participant_ID,Age,Race\n14_000005,30,White\n")
    # backtick in a column name -> INVALID_ATTRIBUTE_NAME_SYNTAX at
    # compile; the junk bytes make the header probe refuse it too
    (bad / "biospecimen.csv").write_bytes(
        b"\x00\xff`\x01,bad`col\njunk,1\n")
    (bad / "submission.csv").write_text("key,LabX\np,9\nb,9\n")

    out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
    failures: list[tuple[int, dict]] = []
    q = validate_stream_submissions(
        spark, str(root), cp, DECLARED, out, cbc_map=CBC_MAP,
        bind_kwargs={"today": TODAY},
        failed_cb=lambda f, e: failures.append((e, f)))
    q.awaitTermination(600)

    # the healthy submission validated exactly as its batch compile
    got = spark.read.parquet(os.path.join(out, "findings"))
    mine = got.filter(F.col("__submission_id") == "good").drop(
        "__submission_id", "epoch")
    want = _batch_twin(spark, good).findings
    assert _finding_set(mine) == _finding_set(want)

    # the poisoned one has exactly one durable failure row + a callback
    fail_rows = got.filter(F.col("__submission_id") == "bad").collect()
    assert len(fail_rows) == 1
    r = fail_rows[0]
    assert r["CSV_Sheet_Name"] == "__submission__"
    assert r["Row_Index"] == ROW_VALIDATION_FAILURE
    assert r["Column_Name"] == "__validation_failure__"
    assert "AnalysisException" in r["Error_Message"]
    assert len(failures) == 1 and set(failures[0][1]) == {"bad"}


def test_cli_complete_reports_poisoned_submission(spark, tmp_path,
                                                  monkeypatch, capsys):
    """CLI face of per-submission isolation: a poisoned submission
    prints FAILED and exits 3; the drain itself succeeds."""
    import sys

    sys.path.insert(0, "tools")
    try:
        import run_watcher as rw
    finally:
        sys.path.pop(0)

    root = tmp_path / "landing"
    bad = root / "bad"
    bad.mkdir(parents=True)
    (bad / "demographic.csv").write_text(
        "Research_Participant_ID,Age,Race\n14_000005,30,White\n")
    (bad / "biospecimen.csv").write_bytes(
        b"\x00\xff`\x01,bad`col\njunk,1\n")
    (bad / "submission.csv").write_text("key,LabX\np,9\nb,9\n")

    monkeypatch.setattr(sys, "argv", [
        "run_watcher.py", str(root), "--complete",
        "--sheets", "submission.csv,demographic.csv,biospecimen.csv",
        "--cbc", "LabX=14",
        "--out", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "cp"), "--timeout", "300"])
    assert rw.main() == 3
    text = capsys.readouterr().out
    assert "FAILED bad: AnalysisException" in text, text
    assert "1 submission(s) FAILED validation" in text, text


def test_cli_complete_warns_on_unknown_declared_sheet(spark, tmp_path,
                                                      monkeypatch, capsys):
    """A typo'd --sheets name means no submission can ever complete —
    the CLI must warn loudly up front (and still run: custom sheets are
    allowed)."""
    import sys

    sys.path.insert(0, "tools")
    try:
        import run_watcher as rw
    finally:
        sys.path.pop(0)

    root = tmp_path / "landing"
    root.mkdir()
    monkeypatch.setattr(sys, "argv", [
        "run_watcher.py", str(root), "--complete",
        "--sheets", "submission.csv,demografic.csv",      # typo
        "--out", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "cp"), "--timeout", "60"])
    assert rw.main() == 0
    text = capsys.readouterr().out
    assert "WARNING: declared sheet(s) ['demografic.csv']" in text, text
