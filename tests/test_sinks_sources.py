"""Sinks (S9–S12), multi-format reader (S2/S3), multimodal plumbing, and
the streaming surface."""

import glob
import os

import pytest

from pyspark.sql import Row
from pyspark.sql import functions as F


def _findings(spark):
    rows = [
        ("Error", "demographic.csv", 3, "Age", "300", "range"),
        ("Warning", "demographic.csv", 4, "Race", "", "missing"),
        ("Error", "biospecimen.csv", 2, "Biospecimen_ID", "xx", "format"),
    ]
    return spark.createDataFrame(
        rows, "Message_Type string, CSV_Sheet_Name string, Row_Index long, "
              "Column_Name string, Column_Value string, Error_Message string")


def test_error_report_sink(spark, tmp_path):
    from nci_seronet_proc_data_validator_spark.sinks import write_error_reports
    out = str(tmp_path / "reports")
    write_error_reports(_findings(spark), out)
    parts = glob.glob(os.path.join(out, "CSV_Sheet_Name=*"))
    assert {os.path.basename(p) for p in parts} == {
        "CSV_Sheet_Name=demographic.csv", "CSV_Sheet_Name=biospecimen.csv"}
    back = spark.read.option("header", "true").csv(out)
    assert back.count() == 3


def test_error_report_sink_xlsx_workbook(spark, tmp_path):
    """fmt='xlsx' writes the reference's workbook artifact: one worksheet
    per sheet, rows ordered by Row_Index, readable back without Spark."""
    from nci_seronet_proc_data_validator_spark.sinks import (
        write_error_reports)
    from nci_seronet_proc_data_validator_spark.sinks.xlsx_minimal import (
        read_xlsx_rows)
    p = str(tmp_path / "report.xlsx")
    write_error_reports(_findings(spark), p, fmt="xlsx")
    cols0, rows0 = read_xlsx_rows(p, sheet=0)   # biospecimen (name order)
    cols1, rows1 = read_xlsx_rows(p, sheet=1)   # demographic
    assert "Row_Index" in cols0 and cols0 == cols1
    assert len(rows0) + len(rows1) == 3
    ri = cols1.index("Row_Index")
    assert [r[ri] for r in rows1] == sorted(r[ri] for r in rows1)


def test_job_status_and_notification(spark):
    from nci_seronet_proc_data_validator_spark.sinks.reports import (
        build_notification_payload, job_status_rows, write_job_status_jdbc)
    status = job_status_rows(_findings(spark), "sub-1", "2026-08-13 00:00:00",
                             sheet_names=["demographic.csv",
                                          "biospecimen.csv", "aliquot.csv"])
    rows = {r["file_name"]: r for r in status.collect()}
    # reference vocabulary (File_Submission_Object.py:458-479)
    assert rows["demographic.csv"]["data_validation_status"] == \
        "FILE_PROCESSED_ERRORS_FOUND"
    assert rows["demographic.csv"]["n_errors"] == 1
    assert rows["demographic.csv"]["n_warnings"] == 1
    # clean sheet still gets a SUCCESS row (Data_Object_Table iteration)
    assert rows["aliquot.csv"]["data_validation_status"] == \
        "FILE_PROCESSED_SUCCESS"
    assert all(r["batch_validation_status"] == "FILE_VALIDATION_FAILURE"
               for r in rows.values())
    # warnings-only submission → WARNINGS_FOUND file + WARNINGS batch
    warn_only = _findings(spark).filter("Message_Type = 'Warning'")
    wrows = {r["file_name"]: r for r in
             job_status_rows(warn_only, "sub-1", "d").collect()}
    assert wrows["demographic.csv"]["data_validation_status"] == \
        "FILE_PROCESSED_WARNINGS_FOUND"
    assert wrows["demographic.csv"]["batch_validation_status"] == \
        "FILE_VALIDATION_SUCCESS_WARNINGS"
    # gated JDBC write is a no-op without a URL
    assert write_job_status_jdbc(status, None, "t") is False

    from nci_seronet_proc_data_validator_spark.errors import findings_summary
    payload = build_notification_payload(
        [r.asDict() for r in findings_summary(_findings(spark)).collect()],
        "sub-1.zip", "lab14")
    text = payload["blocks"][0]["text"]["text"]
    assert "FAILED" in text and "demographic.csv" in text


def _sqlite_factory(path):
    def _connect():
        import sqlite3
        return sqlite3.connect(path, timeout=30)
    return _connect


def test_job_status_upsert_idempotent(spark, tmp_path):
    """S11 upsert: revalidating the same submission updates the existing
    job row per file instead of appending a duplicate."""
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

    factory = _sqlite_factory(db)
    upsert_job_status(
        job_status_rows(_findings(spark), "sub-1", "day1"), factory)
    upsert_job_status(
        job_status_rows(_findings(spark), "sub-1", "day2"), factory)

    conn = sqlite3.connect(db)
    got = conn.execute(
        "SELECT file_name, data_validation_date, count(*) "
        "FROM table_data_validator GROUP BY file_name, data_validation_date"
    ).fetchall()
    conn.close()
    # one row per file, carrying the SECOND run's date (updated, not dup'd)
    assert sorted(got) == [("biospecimen.csv", "day2", 1),
                           ("demographic.csv", "day2", 1)]


def test_read_any_suffix_and_mixed(spark, tmp_path):
    from nci_seronet_proc_data_validator_spark.sources.readers import read_any
    csv = tmp_path / "a.csv"
    csv.write_text("x,y\n1,foo\n2,bar\n")
    df = spark.createDataFrame([(3, "baz")], "x long, y string")
    pq = str(tmp_path / "b.parquet")
    df.write.parquet(pq)
    out = read_any(spark, [str(csv), pq + "/part-00000*.parquet"
                           if False else pq], fmt="suffix")
    # csv x is string, parquet x is long → unionByName keeps both columns
    assert out is not None and out.count() == 3
    assert read_any(spark, [], fmt="suffix") is None
    mixed = read_any(spark, str(csv), fmt="mixed")
    assert mixed is not None and mixed.count() == 2


def test_multimodal_decode_plumbing(spark):
    from nci_seronet_proc_data_validator_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_image_features)
    rows = [
        (1, "image", "image/png", bytes([10, 20, 30, 40]), 64, 64, None),
        (2, "image", "image/png", None, None, None, None),
        (3, "video", "video/mp4", bytes(range(100)), 320, 240, 3500),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in decode_image_features(df).collect()}
    assert feats[1]["n_bytes"] == 4
    assert 0.0 < feats[1]["brightness"] < 1.0
    assert feats[2]["n_bytes"] == 0        # null payload handled


def _ppm_bytes(w, h, pixels):
    """Binary P6 PPM with a comment line (parser must skip it)."""
    assert len(pixels) == w * h * 3
    return (f"P6\n# fixture\n{w} {h}\n255\n").encode() + bytes(pixels)


def _bmp_bytes(w, h, rows_bgr, pad_byte=0xFF):
    """Uncompressed 24-bit BMP; rows padded to 4 bytes with ``pad_byte``
    (deliberately non-zero: a decoder that averages padding shows up)."""
    import struct
    stride = (w * 3 + 3) // 4 * 4
    pixel_data = b"".join(
        bytes(r) + bytes([pad_byte]) * (stride - w * 3) for r in rows_bgr)
    header = (b"BM"
              + struct.pack("<IHHI", 54 + len(pixel_data), 0, 0, 54)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                            len(pixel_data), 2835, 2835, 0, 0))
    return header + pixel_data


def test_multimodal_real_decode_ppm_bmp(spark):
    """The real (dependency-free) decode path: hand-computed pixel means.

    PPM 2x2: pixels 0..11 → mean 5.5 → brightness 5.5/255.
    BMP 3x2: all pixel bytes 10, row padding 0xFF → brightness 10/255
    (padding excluded). A 40x20 PPM checks the aspect-preserving thumb.
    """
    from nci_seronet_proc_data_validator_spark.operators.multimodal import (
        MEDIA_SCHEMA, _decode_real, decode_image_features)
    ppm = _ppm_bytes(2, 2, list(range(12)))
    bmp = _bmp_bytes(3, 2, [[10] * 9, [10] * 9])
    wide = _ppm_bytes(40, 20, [100] * (40 * 20 * 3))
    rows = [
        (1, "image", "image/x-portable-pixmap", ppm, 2, 2, None),
        (2, "image", "image/bmp", bmp, 3, 2, None),
        (3, "image", "image/x-portable-pixmap", wide, 40, 20, None),
        (4, "image", "image/png", bytes([1, 2, 3]), None, None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in decode_image_features(df).collect()}
    assert feats[1]["brightness"] == pytest.approx(5.5 / 255)
    assert (feats[1]["thumb_w"], feats[1]["thumb_h"]) == (2, 2)
    assert feats[2]["brightness"] == pytest.approx(10 / 255)
    assert (feats[2]["thumb_w"], feats[2]["thumb_h"]) == (3, 2)
    assert feats[3]["brightness"] == pytest.approx(100 / 255)
    assert (feats[3]["thumb_w"], feats[3]["thumb_h"]) == (16, 8)
    # unknown container falls back to the structural stub
    assert feats[4]["n_bytes"] == 3 and feats[4]["thumb_w"] == 16
    with pytest.raises(NotImplementedError):
        _decode_real(bytes([1, 2, 3, 4]))


def test_multimodal_corrupt_payloads_degrade_to_stub(spark):
    """Web-crawl bytes that merely LOOK like P6/BM must not kill the task:
    garbage headers, truncated pixels, unsupported variants all fall back
    to the structural stub."""
    from nci_seronet_proc_data_validator_spark.operators.multimodal import (
        MEDIA_SCHEMA, decode_image_features)
    rows = [
        (1, "image", "?", b"P6junk not a header", None, None, None),
        (2, "image", "?", b"P6\n2 2\n65535\n" + bytes(24), None, None, None),
        (3, "image", "?", _ppm_bytes(4, 4, [0] * 48)[:20], None, None, None),
        (4, "image", "?", b"BM" + bytes(10), None, None, None),
        (5, "image", "?", _bmp_bytes(3, 2, [[1] * 9, [1] * 9])[:40],
         None, None, None),
    ]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feats = {r["media_id"]: r for r in decode_image_features(df).collect()}
    assert len(feats) == 5
    for r in feats.values():          # stub features, not a crash
        assert r["thumb_w"] == 16 and r["n_bytes"] > 0


def test_streaming_validation(spark, tmp_path):
    from nci_seronet_proc_data_validator_spark.streaming import validate_stream
    in_dir, cp, out = (str(tmp_path / d) for d in ("in", "cp", "out"))
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "demographic.csv"), "w") as f:
        f.write("Research_Participant_ID,Age,Race\n"
                "14_000001,30,White\n"
                ",,\n"
                "14_000002,999,Martian\n")
    q = validate_stream(spark, in_dir, cp, "demographic.csv",
                        ["Research_Participant_ID", "Age", "Race"], "14", out)
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    msgs = {(r["Column_Name"], r["Column_Value"]) for r in got}
    assert ("Age", "999") in msgs and ("Race", "Martian") in msgs
    # the all-blank line 3 is dropped by sheet cleanup, as in validate()
    assert 3 not in {r["Row_Index"] for r in got}


def test_streaming_sheet_matches_validate_per_column(spark, tmp_path):
    """The per-sheet watcher renders a sheet through the batch compile's
    per-sheet body: equipment.csv with its catalog columns (rules that
    read the enrichment-only Biospecimen_Type column) drains, and its
    findings equal validate()'s on the same file — one sheet with unique
    IDs, so validate() has only per-column findings to give."""
    from nci_seronet_proc_data_validator_spark.errors import FINDING_COLUMNS
    from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
    from nci_seronet_proc_data_validator_spark.sources.catalog import (
        static_expected_columns)
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream)
    from nci_seronet_proc_data_validator_spark.submission import (
        SubmissionValidator)

    cols = static_expected_columns()["equipment.csv"]
    in_dir, cp, out = (str(tmp_path / d) for d in ("in", "cp", "out"))
    os.makedirs(in_dir)
    path = os.path.join(in_dir, "equipment.csv")
    with open(path, "w") as f:
        f.write(",".join(cols) + "\n"
                "EQ1,14_000001_001,Centrifuge,2030-01-01\n"
                "EQ2,99_000002_001,,not a date\n"
                ",,,\n"
                "EQ3,14_bad,Freezer,1850-06-01\n")
    q = validate_stream(spark, in_dir, cp, "equipment.csv", cols, "14", out)
    q.awaitTermination(120)
    assert q.exception() is None
    got = sorted(tuple(r) for r in
                 spark.read.parquet(out).select(*FINDING_COLUMNS).collect())
    want = sorted(tuple(r) for r in SubmissionValidator(
        spark, {"equipment.csv": read_sheet_csv(spark, path)},
        cbc_id="14").validate().findings.select(*FINDING_COLUMNS).collect())
    assert got == want and len(got) > 0


def test_streaming_hourly_rollup(spark, tmp_path):
    from nci_seronet_proc_data_validator_spark.streaming import (
        hourly_rollup_stream)
    src = str(tmp_path / "events_src")
    rows = [("2024-01-01 10:05:00", "click", 1.5),
            ("2024-01-01 10:45:00", "click", 2.5),
            ("2024-01-01 11:05:00", "view", 1.0)]
    (spark.createDataFrame(rows, "ts_s string, event_type string, value double")
     .select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type", "value")
     .write.parquet(src))
    stream = (spark.readStream.schema("ts timestamp, event_type string, "
                                      "value double").parquet(src))
    agg = hourly_rollup_stream(stream)
    q = (agg.writeStream.outputMode("append").format("memory")
         .queryName("rollup_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    # append mode only emits windows closed by the watermark; with a single
    # batch nothing finalizes — the contract here is that the query runs
    # and the schema is right.
    out = spark.sql("SELECT * FROM rollup_out")
    assert out.columns == ["hour", "event_type", "n", "total_value"]


def test_read_xlsx_roundtrip_and_corrupt(spark, tmp_path):
    """A real workbook (written by the dependency-free writer) loads with
    S4 semantics; corrupt bytes degrade to None and a mixed group still
    loads its readable members."""
    from nci_seronet_proc_data_validator_spark.sinks.xlsx_minimal import (
        write_xlsx_sheets,
    )
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_any,
        read_xlsx,
    )
    wb = tmp_path / "sheet.xlsx"
    write_xlsx_sheets(str(wb), {"Sheet1": (["x", "y"],
                                           [["1", "foo"], ["2", ""]])})
    out = read_xlsx(spark, [str(wb)])
    assert out is not None and out.columns == ["x", "y"]
    got = {tuple(r) for r in out.collect()}
    assert got == {("1", "foo"), ("2", "")}  # blank cell -> '' (S4)

    fake = tmp_path / "bad.xlsx"
    fake.write_bytes(b"not really an xlsx")
    assert read_xlsx(spark, [str(fake)]) is None
    assert read_any(spark, [str(fake)], fmt="suffix") is None
    csv = tmp_path / "a.csv"
    csv.write_text("x,y\n1,foo\n")
    mixed = read_any(spark, [str(csv), str(fake)], fmt="suffix")
    assert mixed is not None and mixed.count() == 1


def test_xlsx_minimal_multisheet_and_escaping(tmp_path):
    """Workbook-level round-trip without Spark: multiple sheets, XML
    metacharacters, whitespace preservation, ragged rows."""
    from nci_seronet_proc_data_validator_spark.sinks.xlsx_minimal import (
        read_xlsx_rows,
        write_xlsx_sheets,
    )
    p = str(tmp_path / "wb.xlsx")
    write_xlsx_sheets(p, {
        "errors": (["A", "B"], [["<tag> & \"quote\"", "  padded  "],
                                ["only-a"]]),
        "summary": (["n"], [["3"]]),
    })
    cols0, rows0 = read_xlsx_rows(p, sheet=0)
    assert cols0 == ["A", "B"]
    assert rows0 == [["<tag> & \"quote\"", "  padded  "], ["only-a", ""]]
    cols1, rows1 = read_xlsx_rows(p, sheet=1)
    assert cols1 == ["n"] and rows1 == [["3"]]


def test_xlsx_control_chars_quotes_and_escape_literals(tmp_path):
    """ADVICE round 3: sheet names containing double quotes must produce
    well-formed workbook.xml; XML-invalid control chars and literal
    _xHHHH_ look-alikes in cell text must survive the round-trip via
    Excel's escape scheme."""
    from nci_seronet_proc_data_validator_spark.sinks.xlsx_minimal import (
        read_xlsx_rows, write_xlsx_sheets)
    p = str(tmp_path / "wb.xlsx")
    tricky = ["bell\x07", "cr\rlf\n", "literal _x000D_ text", "_x005F_",
              "\x00\x1f"]
    write_xlsx_sheets(p, {'sheet "quoted" name': (["c"], [[v] for v in tricky])})
    cols, rows = read_xlsx_rows(p)
    assert cols == ["c"]
    assert [r[0] for r in rows] == tricky


def test_xlsx_read_positions_rows_by_r_attribute(tmp_path):
    """ADVICE round 3: Excel omits fully-empty rows from sheet XML; the
    reader must place rows by their r attribute, padding the gap, so
    Row_Index provenance stays aligned."""
    import zipfile
    from nci_seronet_proc_data_validator_spark.sinks.xlsx_minimal import (
        read_xlsx_rows, write_xlsx_sheets)
    p = str(tmp_path / "wb.xlsx")
    write_xlsx_sheets(p, {"Sheet1": (["a", "b"], [["r2a", "r2b"], ["", ""],
                                                  ["r4a", "r4b"]])})
    # simulate Excel: drop the empty row element (row r=3) entirely
    with zipfile.ZipFile(p) as z:
        parts = {n: z.read(n) for n in z.namelist()}
    ws = parts["xl/worksheets/sheet1.xml"].decode()
    assert '<row r="3"></row>' in ws
    parts["xl/worksheets/sheet1.xml"] = ws.replace(
        '<row r="3"></row>', "").encode()
    with zipfile.ZipFile(p, "w") as z:
        for n, data in parts.items():
            z.writestr(n, data)
    cols, rows = read_xlsx_rows(p)
    assert cols == ["a", "b"]
    assert rows == [["r2a", "r2b"], ["", ""], ["r4a", "r4b"]]


def test_streaming_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark keyed on content hash: re-arrivals of
    the same text within the horizon are dropped, distinct texts survive."""
    from nci_seronet_proc_data_validator_spark.streaming import dedup_stream
    src = str(tmp_path / "docs_src")
    rows = [("2024-01-01 10:00:00", 1, "alpha beta"),
            ("2024-01-01 10:01:00", 2, "alpha beta"),   # dup content
            ("2024-01-01 10:02:00", 3, "gamma delta"),
            ("2024-01-01 10:03:00", 4, "alpha beta")]   # dup content
    (spark.createDataFrame(rows, "ts_s string, doc_id long, text string")
     .selectExpr("cast(ts_s as timestamp) as ts", "doc_id", "text")
     .write.parquet(src))
    stream = (spark.readStream
              .schema("ts timestamp, doc_id long, text string").parquet(src))
    q = (dedup_stream(stream).writeStream.outputMode("append")
         .format("memory").queryName("dedup_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT text FROM dedup_out").collect()
    assert sorted(r["text"] for r in out) == ["alpha beta", "gamma delta"]


def test_streaming_interval_join(spark, tmp_path):
    """Stream-stream time-bounded join: anchors match same-user events
    within ±15 min; inner-join matches emit without waiting for the
    watermark to close."""
    from nci_seronet_proc_data_validator_spark.streaming import (
        interval_join_stream)
    src = str(tmp_path / "ev_src")
    rows = [("2024-01-01 10:00:00", 1, "u1", 500.0),   # anchor
            ("2024-01-01 10:10:00", 2, "u1", 10.0),    # in window
            ("2024-01-01 10:20:00", 3, "u1", 10.0),    # outside (+20m)
            ("2024-01-01 10:05:00", 4, "u2", 10.0)]    # other user
    (spark.createDataFrame(
        rows, "ts_s string, event_id long, user_id string, value double")
     .selectExpr("cast(ts_s as timestamp) as ts", "event_id", "user_id",
                 "value")
     .write.parquet(src))

    def mk():
        return (spark.readStream
                .schema("ts timestamp, event_id long, user_id string, "
                        "value double").parquet(src))

    anchors = mk().filter(F.col("value") > 300)
    q = (interval_join_stream(anchors, mk())
         .writeStream.outputMode("append").format("memory")
         .queryName("ij_out").trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = spark.sql("SELECT anchor_id, event_id FROM ij_out "
                    "WHERE anchor_id <> event_id").collect()
    assert {(r["anchor_id"], r["event_id"]) for r in out} == {(1, 2)}


def test_streaming_static_enrichment(spark, tmp_path):
    """Stream-static left join: stream rows enriched from the broadcast
    dim table; unmatched keys survive with nulls."""
    from nci_seronet_proc_data_validator_spark.streaming import enrich_stream
    src = str(tmp_path / "ev_src2")
    (spark.createDataFrame(
        [("u1", 1.0), ("u2", 2.0), ("u3", 3.0)], "user_id string, value double")
     .write.parquet(src))
    dim = spark.createDataFrame(
        [("u1", "gold"), ("u2", "silver")], "user_id string, tier string")
    stream = (spark.readStream
              .schema("user_id string, value double").parquet(src))
    q = (enrich_stream(stream, dim).writeStream.outputMode("append")
         .format("memory").queryName("enrich_out")
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    out = {r["user_id"]: r["tier"]
           for r in spark.sql("SELECT * FROM enrich_out").collect()}
    assert out == {"u1": "gold", "u2": "silver", "u3": None}


def test_notification_webhook_post(spark):
    """S12 end to end against a real local HTTP server: the payload
    arrives as JSON with the right Content-Type, and routing picks the
    failure webhook iff the submission has errors."""
    import http.server
    import json
    import threading

    received = []

    class Handler(http.server.BaseHTTPRequestHandler):
        def do_POST(self):
            body = self.rfile.read(int(self.headers["Content-Length"]))
            received.append((self.path, self.headers["Content-Type"],
                             json.loads(body)))
            self.send_response(200)
            self.end_headers()

        def log_message(self, *a):  # quiet
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), Handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        from nci_seronet_proc_data_validator_spark.sinks.reports import (
            notify)
        base = f"http://127.0.0.1:{srv.server_port}"
        rows = [{"CSV_Sheet_Name": "demographic.csv",
                 "Errors": 2, "Warnings": 1}]
        url, status = notify(rows, "sub-1", base + "/ok", base + "/fail")
        assert status == 200 and url.endswith("/fail")
        clean = [{"CSV_Sheet_Name": "demographic.csv",
                  "Errors": 0, "Warnings": 3}]
        url2, _ = notify(clean, "sub-2", base + "/ok", base + "/fail")
        assert url2.endswith("/ok")
        assert [p for p, _, _ in received] == ["/fail", "/ok"]
        for _, ctype, body in received:
            assert ctype == "application/json"
            assert "blocks" in body
        assert "FAILED" in received[0][2]["blocks"][0]["text"]["text"]
        assert "PASSED" in received[1][2]["blocks"][0]["text"]["text"]
    finally:
        srv.shutdown()


def _png_bytes(w, h, color, rows, filters=None):
    """Hand-built PNG: correct CRCs, one IDAT, chosen per-row filters."""
    import struct
    import zlib

    def chunk(ctype, body):
        c = struct.pack(">I", len(body)) + ctype + body
        return c + struct.pack(">I", zlib.crc32(ctype + body) & 0xFFFFFFFF)

    channels = {0: 1, 2: 3, 4: 2, 6: 4}[color]
    filters = filters or [0] * h
    raw = b"".join(bytes([f]) + bytes(r) for f, r in zip(filters, rows))
    assert all(len(r) == w * channels for r in rows)
    return (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0))
            + chunk(b"IDAT", zlib.compress(raw))
            + chunk(b"IEND", b""))


def test_png_decode_real(spark):
    """Real PNG decode: filter reconstruction (None/Sub/Up) and
    alpha-excluded brightness, end to end through mapInPandas."""
    from nci_seronet_proc_data_validator_spark.operators.multimodal import (
        MEDIA_SCHEMA, _decode_png, decode_image_features)
    # 2x2 RGB: filtered rows chosen so reconstruction is non-trivial.
    # Row 1 (Sub): raw (10,20,30, 10,10,10) -> px (10,20,30, 20,30,40)
    # Row 2 (Up):  raw (5,5,5, 5,5,5)       -> px (15,25,35, 25,35,45)
    png = _png_bytes(2, 2, 2, [[10, 20, 30, 10, 10, 10],
                               [5, 5, 5, 5, 5, 5]], filters=[1, 2])
    d = _decode_png(png)
    assert (d["width"], d["height"]) == (2, 2)
    assert d["mean_pixel"] == (10+20+30+20+30+40+15+25+35+25+35+45) / 12

    # RGBA: alpha bytes must NOT contribute to brightness
    rgba = _png_bytes(1, 1, 6, [[100, 100, 100, 255]])
    assert _decode_png(rgba)["mean_pixel"] == 100.0

    rows = [(1, "image", "image/png", bytes(png), 2, 2, None)]
    df = spark.createDataFrame(rows, MEDIA_SCHEMA)
    feat = decode_image_features(df).collect()[0]
    assert feat["thumb_w"] == 2 and feat["thumb_h"] == 2  # fit caps at 1x
    assert abs(feat["brightness"] - d["mean_pixel"] / 255.0) < 1e-12

    # corrupt PNG (bad zlib stream) degrades to the structural stub
    bad = png[:40] + b"\x00\x00" + png[42:]
    rows = [(2, "image", "image/png", bytes(bad), 2, 2, None)]
    out = decode_image_features(
        spark.createDataFrame(rows, MEDIA_SCHEMA)).collect()[0]
    assert out["n_bytes"] == len(bad)  # stub path, no crash


def test_streaming_status_upsert_integration(spark, tmp_path):
    """Streaming findings feed the S11 jobs-table upsert per micro-batch
    (status_cb): two drained batches leave ONE current row per file, not
    two — the resident-watcher bookkeeping loop end to end."""
    import sqlite3

    from nci_seronet_proc_data_validator_spark.sinks.reports import (
        job_status_rows, upsert_job_status)
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream)

    db = str(tmp_path / "jobs.db")
    conn = sqlite3.connect(db)
    conn.execute(
        "CREATE TABLE table_data_validator ("
        "orig_file_id TEXT, file_name TEXT, data_validation_status TEXT, "
        "batch_validation_status TEXT, n_errors INTEGER, n_warnings INTEGER, "
        "data_validation_date TEXT)")
    conn.commit()
    conn.close()
    factory = _sqlite_factory(db)
    epochs = []

    def status_cb(findings, epoch_id):
        epochs.append(epoch_id)
        upsert_job_status(
            job_status_rows(findings, "sub-s", f"epoch-{epoch_id}"),
            factory)

    in_dir, cp, out = (str(tmp_path / d) for d in ("in", "cp", "out"))
    os.makedirs(in_dir)
    cols = ["Research_Participant_ID", "Age", "Race"]
    with open(os.path.join(in_dir, "demographic.csv"), "w") as f:
        f.write("Research_Participant_ID,Age,Race\n14_000001,999,White\n")
    q = validate_stream(spark, in_dir, cp, "demographic.csv", cols, "14",
                        out, status_cb=status_cb)
    q.awaitTermination(120)
    # second delivery of the same sheet → new batch, same job key
    with open(os.path.join(in_dir, "demographic2.csv"), "w") as f:
        f.write("Research_Participant_ID,Age,Race\n14_000002,31,Martian\n")
    q = validate_stream(spark, in_dir, cp, "demographic.csv", cols, "14",
                        out, status_cb=status_cb)
    q.awaitTermination(120)

    assert len(epochs) == 2
    conn = sqlite3.connect(db)
    rows = conn.execute(
        "SELECT file_name, data_validation_date, count(*) "
        "FROM table_data_validator GROUP BY 1, 2").fetchall()
    conn.close()
    # one row for the sheet, carrying the LATEST batch's stamp
    assert rows == [("demographic.csv", f"epoch-{epochs[-1]}", 1)]


def test_xlsx_roundtrip_property():
    """Property: arbitrary cell strings (unicode, XML metachars, newlines,
    leading/trailing spaces) survive the write→read round-trip exactly."""
    from hypothesis import given, settings, strategies as st

    from nci_seronet_proc_data_validator_spark.sinks.xlsx_minimal import (
        read_xlsx_rows, write_xlsx_sheets)

    # control chars (incl. \r, XML-normalized in raw text) round-trip via
    # Excel's _xHHHH_ escapes; surrogates are not representable in UTF-8
    cell = st.text(
        alphabet=st.characters(min_codepoint=0x00, max_codepoint=0x2FA1,
                               blacklist_categories=("Cs",)),
        min_size=1, max_size=40)

    @settings(max_examples=25, deadline=None)
    @given(st.lists(st.lists(cell, min_size=2, max_size=4),
                    min_size=1, max_size=5).filter(
                        lambda rows: len({len(r) for r in rows}) == 1))
    def run(rows):
        import tempfile, os
        cols = [f"c{i}" for i in range(len(rows[0]))]
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "t.xlsx")
            write_xlsx_sheets(p, {"Sheet1": (cols, rows)})
            got_cols, got_rows = read_xlsx_rows(p)
        assert got_cols == cols
        assert got_rows == [[str(v) for v in r] for r in rows]

    run()


def test_streaming_backfill_bounded_microbatches(spark, tmp_path):
    """100 TB backlog posture: with ``max_files_per_trigger`` set,
    availableNow drains a multi-file backlog in MULTIPLE bounded
    micro-batches (each its own checkpointed commit, memory/retry sized
    by the bound, not the outage) and the union of their findings equals
    the batch compile over the same rows. ``row_index`` is each file's
    own CSV line, whatever batch the file landed in: every planted error
    sits on line 3 of its file."""
    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules)
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        compile_sheet_findings)
    from nci_seronet_proc_data_validator_spark.operators.typing import (
        with_typed_shadows)
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream)

    in_dir, cp, out = (str(tmp_path / d) for d in ("in", "cp", "out"))
    os.makedirs(in_dir)
    cols = ["Research_Participant_ID", "Age", "Race"]
    # 6 files x 2 rows; one planted error per file so every micro-batch
    # contributes findings
    for i in range(6):
        with open(os.path.join(in_dir, f"demo_{i}.csv"), "w") as f:
            f.write("Research_Participant_ID,Age,Race\n"
                    f"14_00000{i},30,White\n"
                    f"14_10000{i},99{i},Martian\n")
    epochs = []
    q = validate_stream(spark, in_dir, cp, "demographic.csv", cols, "14",
                        out, status_cb=lambda _f, e: epochs.append(e),
                        max_files_per_trigger=2)
    q.awaitTermination(120)
    assert not q.isActive
    # 6 files / 2 per trigger = 3 data micro-batches
    assert len(epochs) == 3, epochs
    got = spark.read.parquet(out)
    assert got.select("epoch").distinct().count() == 3

    planted = {"Martian", *(f"99{i}" for i in range(6))}
    hits = [r for r in got.collect() if r["Column_Value"] in planted]
    assert len(hits) >= 12 and {r["Row_Index"] for r in hits} == {3}

    # batch twin over the same rows (row identity checked above)
    batch = (spark.read.option("header", "true")
             .option("nullValue", "\u0000").option("emptyValue", "")
             .csv(in_dir).na.fill("")
             .withColumn("row_index", F.monotonically_increasing_id() + 2))
    bound = bind_sheet_rules("demographic.csv", cols, "14")
    want = compile_sheet_findings(
        with_typed_shadows(batch).withColumn(
            "SARS_CoV_2_PCR_Test_Result", F.lit("")),
        "demographic.csv", bound.column_rules)
    keep = ["Message_Type", "CSV_Sheet_Name", "Column_Name",
            "Column_Value", "Error_Message"]
    got_rows = sorted(map(tuple, got.select(*keep).collect()))
    want_rows = sorted(map(tuple, want.select(*keep).collect()))
    assert got_rows == want_rows and len(got_rows) > 0


def test_streaming_restart_recovery_from_checkpoint(spark, tmp_path):
    """Restart-recovery contract (reference Lambda retry model,
    nci-seronet-data-validator.py:152-159): kill the watcher mid-backlog —
    AFTER a batch's findings write but BEFORE its checkpoint commit (the
    at-least-once replay window) — restart from the same checkpoint, and
    assert the drained findings equal the batch compile with NO duplicates
    and NO gaps. This is precisely what the epoch-keyed dynamic-overwrite
    sink guarantees: the replayed epoch overwrites its own half-committed
    partition instead of appending a second copy."""
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from nci_seronet_proc_data_validator_spark.operators.typing import (
        with_typed_shadows)
    from nci_seronet_proc_data_validator_spark.plans.rulebook import (
        bind_sheet_rules)
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        compile_sheet_findings)
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream)

    in_dir, cp, out = (str(tmp_path / d) for d in ("in", "cp", "out"))
    os.makedirs(in_dir)
    cols = ["Research_Participant_ID", "Age", "Race"]
    # 6 files x 2 rows, 2 files per trigger -> 3 micro-batches; every file
    # plants a unique error so each batch contributes distinguishable rows
    for i in range(6):
        with open(os.path.join(in_dir, f"demo_{i}.csv"), "w") as f:
            f.write("Research_Participant_ID,Age,Race\n"
                    f"14_00000{i},30,White\n"
                    f"14_10000{i},99{i},Martian_{i}\n")

    seen = []

    def crash_on_second_batch(_findings, epoch_id):
        seen.append(epoch_id)
        if len(seen) == 2:
            # findings for this epoch are ALREADY on disk; the checkpoint
            # commit has not happened yet — the worst-case crash point
            raise RuntimeError("injected crash after write, before commit")

    q = validate_stream(spark, in_dir, cp, "demographic.csv", cols, "14",
                        out, status_cb=crash_on_second_batch,
                        max_files_per_trigger=2)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert not q.isActive
    crashed_epoch = seen[-1]
    # the crashed epoch's findings ARE on disk (this is the duplicate
    # hazard a plain append sink would hit on replay)
    pre = spark.read.parquet(out)
    assert pre.filter(F.col("epoch") == crashed_epoch).count() > 0

    # restart from the SAME checkpoint: the uncommitted batch replays
    # with the SAME epoch id, then the remaining backlog drains
    q2 = validate_stream(spark, in_dir, cp, "demographic.csv", cols, "14",
                         out, status_cb=lambda _f, e: seen.append(e),
                         max_files_per_trigger=2)
    q2.awaitTermination(120)
    assert not q2.isActive
    assert seen[2] == crashed_epoch          # replay, same epoch id
    assert sorted(set(seen)) == [0, 1, 2]    # no gaps

    got = spark.read.parquet(out)
    assert got.select("epoch").distinct().count() == 3

    # batch twin over the same rows — MULTISET equality (sorted tuples
    # with duplicates kept): a replayed-epoch double write would fail
    # this, not just a set compare
    batch = (spark.read.option("header", "true")
             .option("nullValue", "\u0000").option("emptyValue", "")
             .csv(in_dir).na.fill("")
             .withColumn("row_index", F.monotonically_increasing_id() + 2))
    bound = bind_sheet_rules("demographic.csv", cols, "14")
    want = compile_sheet_findings(
        with_typed_shadows(batch).withColumn(
            "SARS_CoV_2_PCR_Test_Result", F.lit("")),
        "demographic.csv", bound.column_rules)
    keep = ["Message_Type", "CSV_Sheet_Name", "Column_Name",
            "Column_Value", "Error_Message"]
    got_rows = sorted(map(tuple, got.select(*keep).collect()))
    want_rows = sorted(map(tuple, want.select(*keep).collect()))
    assert got_rows == want_rows and len(got_rows) > 0


def test_read_table_schema_memo_tracks_dir_content(spark, tmp_path):
    """Advisor-r8 fix: the schema memo must key on the parquet dir's DATA
    FILE mtimes (rewriting a part file in place does not bump the dir
    inode mtime) and hold one entry per (app, path) — a stale entry would
    serve the old schema and mask drift as NULL columns."""
    import time as _time

    from nci_seronet_proc_data_validator_spark.sources import readers
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_table)

    d = str(tmp_path / "memo_sf")
    os.makedirs(d)
    p = os.path.join(d, "events.parquet")
    spark.range(5).selectExpr("id AS a").write.mode("overwrite").parquet(p)
    assert read_table(spark, d, "events").columns == ["a"]
    n0 = sum(1 for k in readers._SCHEMA_MEMO if k[1] == os.path.abspath(p))
    assert n0 == 1
    # rewrite with a DIFFERENT schema; ensure mtimes differ even on
    # coarse filesystem clocks
    _time.sleep(1.1)
    spark.range(5).selectExpr("id AS a", "id * 2 AS b") \
        .write.mode("overwrite").parquet(p)
    assert sorted(read_table(spark, d, "events").columns) == ["a", "b"]
    # eviction: still exactly one memo entry for this path
    n1 = sum(1 for k in readers._SCHEMA_MEMO if k[1] == os.path.abspath(p))
    assert n1 == 1


def test_streaming_dedup_state_survives_restart(spark, tmp_path):
    """The stateful complement of the watcher recovery test: the
    dropDuplicatesWithinWatermark STATE STORE must recover from the
    checkpoint across a query restart — a content hash seen before the
    stop, re-arriving within the watermark after the restart, is still
    deduplicated (an engine that lost state would emit it twice)."""
    import os as _os

    from nci_seronet_proc_data_validator_spark.streaming import dedup_stream

    src, cp, out = (str(tmp_path / d) for d in ("src", "cp", "out"))
    _os.makedirs(src)

    def _write(name, rows):
        (spark.createDataFrame(rows, "ts_s string, doc_id long, text string")
         .selectExpr("cast(ts_s as timestamp) as ts", "doc_id", "text")
         .coalesce(1).write.mode("append").parquet(src))

    def _drain():
        stream = (spark.readStream
                  .schema("ts timestamp, doc_id long, text string")
                  .parquet(src))
        q = (dedup_stream(stream).writeStream.outputMode("append")
             .option("checkpointLocation", cp)
             .format("parquet").option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert not q.isActive

    _write("b1", [("2024-01-01 10:00:00", 1, "alpha beta"),
                  ("2024-01-01 10:01:00", 2, "gamma delta")])
    _drain()                                     # run 1: both texts emit
    # restart from the same checkpoint with a re-arrival INSIDE the
    # 30-minute watermark horizon plus one genuinely new text
    _write("b2", [("2024-01-01 10:05:00", 3, "alpha beta"),
                  ("2024-01-01 10:06:00", 4, "epsilon zeta")])
    _drain()                                     # run 2: dup suppressed
    texts = sorted(r["text"] for r in spark.read.parquet(out).collect())
    assert texts == ["alpha beta", "epsilon zeta", "gamma delta"]


def test_streaming_rollup_window_state_recovers(spark, tmp_path):
    """Watermarked windowed-aggregation state recovery: run 1 leaves an
    OPEN window in the state store (append mode emits only finalized
    windows); the restarted query folds a late-but-in-horizon event into
    that recovered window and finalizes it once the watermark passes —
    one output row with BOTH events counted. Lost state would emit the
    window with only the second event (or twice)."""
    import os as _os

    from nci_seronet_proc_data_validator_spark.streaming import (
        hourly_rollup_stream)

    src, cp, out = (str(tmp_path / d) for d in ("src", "cp", "out"))
    _os.makedirs(src)

    def land(rows):
        (spark.createDataFrame(rows, "ts_s string, event_type string, "
                                     "value double")
         .selectExpr("cast(ts_s as timestamp) as ts", "event_type", "value")
         .coalesce(1).write.mode("append").parquet(src))

    def drain():
        stream = (spark.readStream
                  .schema("ts timestamp, event_type string, value double")
                  .parquet(src))
        q = (hourly_rollup_stream(stream, watermark="2 hours")
             .writeStream.outputMode("append")
             .option("checkpointLocation", cp)
             .format("parquet").option("path", out)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        assert not q.isActive

    land([("2024-01-01 10:05:00", "click", 1.0)])
    drain()          # window [10:00,11:00) open in state, nothing emitted
    # restart: second event lands in the SAME window, then a far-future
    # event advances the watermark past 11:00 + 2h and finalizes it
    land([("2024-01-01 10:45:00", "click", 2.0),
          ("2024-01-01 14:00:00", "view", 9.0)])
    drain()
    rows = {(r["hour"].isoformat(), r["event_type"]): r
            for r in spark.read.parquet(out).collect()}
    k = ("2024-01-01T10:00:00", "click")
    assert k in rows, rows
    assert rows[k]["n"] == 2 and rows[k]["total_value"] == 3.0
    assert len([kk for kk in rows if kk[1] == "click"]) == 1   # exactly once


def test_read_sheet_csv_quoted_embedded_newline(spark, tmp_path):
    """Parity with pandas record semantics (Row_Index = index + 2,
    File_Submission_Object.py:159): a quoted field embedding a newline is
    ONE record. Without multiLine, Spark split it into a phantom row
    ('line two\"' as a participant id) and shifted every later row_index
    — silent corruption, found by probing the reference's na_filter
    behavior."""
    from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
    p = str(tmp_path / "ml.csv")
    with open(p, "w") as f:
        f.write('Research_Participant_ID,Age,Comments\n'
                '14_000001,30,"line one\nline two"\n'
                '14_000002,31,plain\n')
    rows = {r["row_index"]: r for r in read_sheet_csv(spark, p).collect()}
    assert set(rows) == {2, 3}
    assert rows[2]["Comments"] == "line one\nline two"
    assert rows[3]["Research_Participant_ID"] == "14_000002"


def test_read_sheet_csv_excel_artifacts(spark, tmp_path):
    """Real-world Excel-export artifacts must parse like the reference's
    pandas reader: a UTF-8 BOM is stripped from the first header (not
    folded into the column name, which would make every catalog compare
    flag it), CRLF line endings are records, duplicate headers are
    deduplicated (Spark's Age1/Age2 vs pandas' Age/Age.1 — either way
    the catalog compare flags the extras), and leading spaces in cells
    are preserved (na_filter=False raw-string semantics)."""
    from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
    bom = str(tmp_path / "bom.csv")
    with open(bom, "wb") as f:
        f.write(b'\xef\xbb\xbfResearch_Participant_ID,Age\r\n'
                b'14_000001,30\r\n'
                b'14_000002,  31\r\n')
    df = read_sheet_csv(spark, bom)
    assert df.columns[0] == "Research_Participant_ID"   # BOM stripped
    rows = {r["row_index"]: r for r in df.collect()}
    assert set(rows) == {2, 3}                          # CRLF records
    assert rows[3]["Age"] == "  31"                     # spaces kept

    dup = str(tmp_path / "dup.csv")
    with open(dup, "w") as f:
        f.write("Research_Participant_ID,Age,Age\n14_000001,30,40\n")
    ddf = read_sheet_csv(spark, dup)
    assert len(set(ddf.columns)) == len(ddf.columns)    # deduplicated
    assert [r["Research_Participant_ID"] for r in ddf.collect()] \
        == ["14_000001"]


def test_read_sheet_csv_gzip_with_multiline(spark, tmp_path):
    """S2 gzip sheets (reference s3.py handles .csv.gz): transparent
    decompression composes with multiLine record parsing and record-order
    row_index."""
    import gzip

    from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
    p = str(tmp_path / "sheet.csv.gz")
    with gzip.open(p, "wt") as f:
        f.write('Research_Participant_ID,Age\n'
                '14_000001,30\n'
                '14_000002,"3\n1"\n')
    got = sorted((r["row_index"], r["Age"])
                 for r in read_sheet_csv(spark, p).collect())
    assert got == [(2, "30"), (3, "3\n1")]


def test_upsert_fully_keyed_probe_hit_is_noop(spark, tmp_path):
    """r11 (ADVICE): key covering every status column — re-running the
    upsert must treat a probe hit as a no-op (the identical row already
    exists), not execute an invalid empty-SET UPDATE."""
    import sqlite3

    from nci_seronet_proc_data_validator_spark.sinks.reports import (
        upsert_job_status)
    db = str(tmp_path / "jobs_fk.db")
    conn = sqlite3.connect(db)
    conn.execute("CREATE TABLE seen_files (orig_file_id TEXT, "
                 "file_name TEXT)")
    conn.commit()
    conn.close()
    status = spark.createDataFrame(
        [("sub-1", "demographic.csv"), ("sub-1", "biospecimen.csv")],
        "orig_file_id string, file_name string")
    for _ in range(2):       # second run: every probe hits → no-op
        upsert_job_status(status, _sqlite_factory(db), table="seen_files",
                          key=["orig_file_id", "file_name"])
    conn = sqlite3.connect(db)
    got = conn.execute("SELECT orig_file_id, file_name, count(*) "
                       "FROM seen_files GROUP BY 1, 2").fetchall()
    conn.close()
    assert sorted(got) == [("sub-1", "biospecimen.csv", 1),
                           ("sub-1", "demographic.csv", 1)]


def test_streaming_multiline_record_parity(spark, tmp_path):
    """r11 (ADVICE): the streaming reader now carries the same multiLine
    record semantics as the batch reader — a quoted field embedding a
    newline in a landed sheet is ONE record, not phantom rows with
    shifted row_index/findings."""
    from nci_seronet_proc_data_validator_spark.streaming import (
        validate_stream)
    in_dir, cp, out = (str(tmp_path / d) for d in ("in", "cp", "out"))
    os.makedirs(in_dir)
    with open(os.path.join(in_dir, "demographic.csv"), "w") as f:
        f.write('Research_Participant_ID,Age,Race\n'
                '14_000001,999,"Wh\nite"\n'
                '14_000002,31,Asian\n')
    cols = ["Research_Participant_ID", "Age", "Race"]
    q = validate_stream(spark, in_dir, cp, "demographic.csv", cols, "14",
                        out)
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    vals = {(r["Column_Name"], r["Column_Value"]) for r in got}
    # the embedded-newline value survives as one record's cell...
    assert ("Race", "Wh\nite") in vals
    assert ("Age", "999") in vals
    # ...and no phantom row ('ite"' as a participant id) produced findings
    assert not any('ite"' in (r["Column_Value"] or "")
                   for r in got if r["Column_Name"]
                   == "Research_Participant_ID")


def test_read_sheet_csv_tagged_matches_per_file(spark, tmp_path):
    """r12: the batched scan shape — ONE multi-file CSV scan with rows
    tagged by owning submission and row_index counted PER FILE — must
    reproduce per-file read_sheet_csv exactly, including under file
    PACKING (tiny files share a FilePartition, so the per-partition
    ordinal runs across files; the (partition, file) min-ordinal join
    recovers the per-file index) and multiLine records (a quoted
    embedded newline is one record, not two)."""
    from pyspark.sql import functions as F

    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_sheet_csv,
        read_sheet_csv_tagged,
    )

    paths = {}
    for i in range(8):
        d = tmp_path / f"sub{i}"
        d.mkdir()
        p = d / "demographic.csv"
        rows = [f"14_{i}{r:04d},{20 + r},White" for r in range(3 + i)]
        if i == 3:   # quoted embedded newline: ONE record
            rows[1] = f'14_{i}9999,"31\nextra",Asian'
        p.write_text("Research_Participant_ID,Age,Race\n"
                     + "\n".join(rows) + "\n")
        paths[f"sub{i}"] = str(p)

    tagged = read_sheet_csv_tagged(spark, paths, "__submission_id")
    got = {
        sid: sorted(
            tuple(r) for r in tagged
            .filter(F.col("__submission_id") == sid)
            .drop("__submission_id").collect())
        for sid in paths}
    want = {
        sid: sorted(tuple(r) for r in
                    read_sheet_csv(spark, p).collect())
        for sid, p in paths.items()}
    assert got == want
    # both sides share the index code, so pin the literal CSV lines too
    for i, sid in enumerate(sorted(paths)):
        assert sorted(r[-1] for r in want[sid]) == list(range(2, 3 + i + 2))
    # the embedded newline parsed as one record on both paths
    assert any("\n" in str(v) for r in want["sub3"]
               for v in r if isinstance(v, str))

    # File-PACKING leg: with the default 4 MiB open cost every tiny file
    # gets its own partition; a zero open cost and one minimum partition
    # pack several files into one FilePartition, so the per-partition
    # ordinal runs across files — the case the (partition, file)
    # min-ordinal join exists for. Each file's index must still be its
    # own CSV lines 2..n+1.
    olds = {}
    for k, v in (("spark.sql.files.openCostInBytes", "0"),
                 ("spark.sql.files.minPartitionNum", "1")):
        try:
            olds[k] = spark.conf.get(k)
        except Exception:
            olds[k] = None
        spark.conf.set(k, v)
    try:
        packed = read_sheet_csv_tagged(spark, paths, "__submission_id")
        n_parts = (packed.select(F.spark_partition_id().alias("p"))
                   .distinct().count())
        assert n_parts < 8, n_parts      # packing actually happened
        got_packed = {
            sid: sorted(
                tuple(r) for r in packed
                .filter(F.col("__submission_id") == sid)
                .drop("__submission_id").collect())
            for sid in paths}
        assert got_packed == want
    finally:
        for k, v in olds.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_csv_header_probe_matches_spark(spark, tmp_path):
    """r13: csv_header (the zero-job load-phase probe) must reproduce
    Spark's header naming exactly on everything it accepts — quoted
    names, empty cells (_cN), BOM — and refuse (None) what it can't
    reproduce (duplicate names, gzip), so read_sheet_csv(columns=...)
    always equals the schema-inferred read."""
    import gzip

    from nci_seronet_proc_data_validator_spark.sources.readers import (
        csv_header,
        read_sheet_csv,
    )

    cases = {
        "plain.csv": "Research_Participant_ID,Age,Race\n14_000001,30,White\n",
        "quoted.csv": 'A,"B x",C\n1,2,3\n',
        "empty_cell.csv": "A,,B\n1,2,3\n",
        "bom.csv": "﻿A,B\n1,2\n",
        "embedded_newline_header.csv": 'A,"B\nx",C\n1,2,3\n',
    }
    for name, content in cases.items():
        p = tmp_path / name
        p.write_text(content)
        # multiLine, like read_sheet_csv: the header is the first CSV
        # RECORD, not the first physical line
        want = (spark.read.option("header", "true")
                .option("multiLine", "true").csv(str(p)).columns)
        got = csv_header(str(p))
        assert got == want, (name, got, want)
        # and the schema'd read round-trips identical rows + row_index
        a = sorted(map(tuple, read_sheet_csv(spark, str(p)).collect()))
        b = sorted(map(tuple, read_sheet_csv(spark, str(p),
                                             columns=got).collect()))
        assert a == b, name

    dup = tmp_path / "dup.csv"
    dup.write_text("A,A,B\n1,2,3\n")
    assert csv_header(str(dup)) is None     # Spark position-suffixes
    gz = tmp_path / "x.csv.gz"
    with gzip.open(gz, "wt") as f:
        f.write("A,B\n1,2\n")
    assert csv_header(str(gz)) is None
    assert csv_header(str(tmp_path / "missing.csv")) is None
    # quote/escape dialect divergence (measured both ways): Python csv
    # reads '""' as an escaped quote where Spark (escape='\\') keeps it
    # literal, and vice versa for '\\"' — the probe must refuse both
    dq = tmp_path / "dq.csv"
    dq.write_text('"Age ""years""",Race\n1,2\n')
    assert csv_header(str(dq)) is None
    bs = tmp_path / "bs.csv"
    bs.write_text('"Age \\"years\\"",Race\n1,2\n')
    assert csv_header(str(bs)) is None
