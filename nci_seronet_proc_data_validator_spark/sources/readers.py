"""Sources: file scans with sentinel-preserving semantics and row identity.

Reference behaviors re-expressed:

- S1 (``s3.py:10-42``) prefix/suffix-filtered key listing → Spark path
  globbing on any Hadoop-compatible filesystem (``s3a://bucket/prefix*``);
  listing, pagination and partition pruning are built into the file source.
- S2/S3 (``s3.py:116-179``) object→DataFrame and multi-file concat → one
  multi-path ``spark.read``; Spark unions file splits natively, keeping the
  read parallel instead of the reference's sequential loop+concat.
- S4 (``File_Submission_Object.py:35``) ``na_filter=False``: blank CSV cells
  are the empty string ``''``, NEVER null — the rulebook's sentinels (`''` =
  missing, `'N/A'` = not applicable) must survive ingestion.
- Row identity (``File_Submission_Object.py:159``): findings cite CSV line
  number = dataframe index + 2 (1-based + header). Spark has no index, so we
  materialize ``row_index`` at ingest.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

ROW_INDEX_COL = "row_index"


# ``monotonically_increasing_id`` = (partition_id << 33) + per-partition
# row counter (0-based, +1 per row in partition order) — a documented,
# stable bit layout we decode to rebuild zipWithIndex semantics JVM-side.
_MID_PARTITION_SHIFT = 33
_MID_ORDINAL_MASK = (1 << _MID_PARTITION_SHIFT) - 1


def with_row_index(df: DataFrame, offset: int = 2,
                   col_name: str = ROW_INDEX_COL) -> DataFrame:
    """Attach a stable 0-gap row index matching source order — JVM-only.

    The DataFrame twin of ``RDD.zipWithIndex`` without its Python
    round-trip (``df.rdd`` deserializes every row into Python objects and
    ``createDataFrame`` re-serializes them — a per-row cost on the ingest
    path of every sheet). Two passes, all in the JVM:

    1. count rows per partition (partition id decoded from
       ``monotonically_increasing_id``'s high bits) — a #partitions-row
       relation kept as a DataFrame (never collected, never rendered into
       SQL text: at 100 TB there are 10^5-10^6 input splits, and a
       VALUES literal of that size is a driver-build + Catalyst-parse
       bottleneck on every sheet's ingest path);
    2. running offset = window cumsum over that tiny relation (a
       single-partition sort of #partitions rows), broadcast-joined back;
       the low-bit per-partition ordinal completes the index.

    No wide shuffle anywhere: the stream side stays in place, only the
    tiny offsets relation is broadcast. Matches the reference's "CSV line
    = index + 2" convention (``File_Submission_Object.py:159``) for
    single-file sheets; across multiple input files the index follows
    Spark's partition order, exactly as ``zipWithIndex`` did.

    Determinism caveat: both passes re-evaluate the id over the same scan,
    which is stable for file sources and local relations (the only inputs
    used here); do not insert a nondeterministic transform upstream.

    Cost note: the counts subtree re-runs per ACTION on a non-persisted
    input (the collect()-based predecessor paid its scan once at build
    time instead). Multi-action consumers should persist the indexed
    frame — which the rulebook/submission paths already do per sheet;
    one-action pipelines see one extra narrow scan, the price of keeping
    the offsets distributed instead of an O(#splits) SQL literal.
    """
    mid_col, pid_col, base_col = "__sg_mid", "__sg_pid", "__sg_base"
    cnt_col = "__sg_cnt"
    tmp = df.withColumn(mid_col, F.monotonically_increasing_id())
    pid = F.shiftright(F.col(mid_col), _MID_PARTITION_SHIFT)
    counts = tmp.groupBy(pid.alias(pid_col)).agg(
        F.count(F.lit(1)).alias(cnt_col))
    # Running offset as a window cumsum over the counts relation: the
    # window is single-partition by construction, but over #partitions
    # rows — driver- and executor-trivial, and the whole offsets subtree
    # stays a DataFrame (no collect, no O(#splits) SQL text to parse).
    cum = Window.orderBy(pid_col).rowsBetween(Window.unboundedPreceding, -1)
    offsets_df = counts.select(
        F.col(pid_col),
        F.coalesce(F.sum(cnt_col).over(cum), F.lit(0))
        .cast("long").alias(base_col))
    ordinal = F.col(mid_col).bitwiseAND(F.lit(_MID_ORDINAL_MASK))
    return (tmp.withColumn(pid_col, pid)
            .join(F.broadcast(offsets_df), pid_col)
            .withColumn(col_name,
                        F.col(base_col) + ordinal + F.lit(int(offset)))
            .select(*df.columns, col_name))


def csv_header(path: str) -> "list[str] | None":
    """Driver-side header probe with Spark-compatible naming: the first
    CSV record parsed locally (csv module — same quote/embedded-newline
    record semantics), empty header cells renamed ``_cN`` and a BOM
    stripped, exactly as Spark's CSV source names them.

    Feeding the result to :func:`read_sheet_csv` ``columns=`` gives the
    reader an explicit schema, so building the DataFrame costs ZERO
    Spark jobs — without it, every ``spark.read...csv`` runs a small
    header job per file, which at N submissions × S sheets is the CLI
    load phase's dominant cost (measured 21 s serial at 24 submissions,
    BENCH_NOTES r12). Returns ``None`` whenever the cheap probe cannot
    reproduce Spark's naming exactly — duplicate header names (Spark
    position-suffixes them), names containing a quote or backslash
    (Python csv's RFC-4180 doubled-quote dialect vs Spark's
    ``escape='\\'``: ``""`` is an escaped quote to one and a literal to
    the other, both ways — measured divergent), gzip, non-local or
    unreadable files — and callers fall back to the Spark header read.
    """
    import csv as _csv
    if path.endswith(".gz") or not os.path.isfile(path):
        return None
    try:
        with open(path, newline="", encoding="utf-8-sig") as f:
            row = next(_csv.reader(f))
    except (OSError, UnicodeDecodeError, StopIteration):
        return None
    if any('"' in c or "\\" in c for c in row):
        return None          # quote/escape dialect divergence possible
    cols = [c if c != "" else f"_c{i}" for i, c in enumerate(row)]
    if len(set(cols)) != len(cols):
        return None
    return cols


def sheet_csv_options(reader, columns: "list[str] | None" = None,
                      multiline: bool = True):
    """The submission-sheet CSV options on ``spark.read`` or
    ``spark.readStream`` — one definition, so the batch and streaming
    readers parse records identically:

    - ``header`` true, ``inferSchema`` false: every column a string;
    - ``nullValue`` NUL and ``emptyValue`` '': nothing parses as null,
      a blank cell stays the empty string;
    - ``multiLine`` per :func:`read_sheet_csv`;
    - ``columns``, when given, as an explicit all-string schema (a
      stream source requires one).
    """
    from pyspark.sql import types as T
    reader = (reader
              .option("header", "true")
              .option("inferSchema", "false")
              .option("nullValue", "\u0000")
              .option("emptyValue", "")
              .option("multiLine", "true" if multiline else "false"))
    if columns is not None:
        reader = reader.schema(T.StructType(
            [T.StructField(c, T.StringType(), True) for c in columns]))
    return reader


def read_sheet_csv(spark: SparkSession, path: str | list[str],
                   offset: int = 2, multiline: bool = True,
                   columns: "list[str] | None" = None) -> DataFrame:
    """Read a submission sheet CSV the way the reference does.

    - all columns as strings (typing is a *validation concern*, §1.2);
    - blanks preserved as ``''`` (``na_filter=False`` semantics);
    - ``row_index`` = CSV RECORD number + 1 (header = 1, first data
      record = 2) — the reference's ``pandas index + 2``
      (File_Submission_Object.py:159). Record == physical line except
      when a quoted field embeds a newline, where pandas still counts
      records — hence ``multiLine`` below: without it Spark splits the
      quoted record into phantom rows (silent data corruption, not just
      an off-by-one). Cost: a multiLine file is not SPLITTABLE, so one
      sheet file parses on one task — the right trade for submission
      sheets, whose parallelism comes from many files, not from splits
      within one. ``multiline=False`` is the engine-level escape hatch
      for a single huge machine-generated CSV KNOWN free of embedded
      newlines: the file splits across tasks again and ``row_index``
      keeps its sentinel semantics, but a quoted embedded newline would
      once more parse as phantom rows — caller asserts that can't
      happen. :func:`..plans.advisor.warn_nonsplittable_csv` flags
      oversized multiLine inputs.

    ``columns``: when given (``csv_header``'s probe), used as an
    explicit all-string schema so NO Spark job runs at read time; the
    header line is still skipped (``header`` stays true) and rows bind
    to the schema positionally, exactly as the schema-inferred read
    does under ``enforceSchema``. Pass only names that match the file's
    actual header — :func:`csv_header` guarantees that, returning None
    for the cases it can't.
    """
    if multiline:
        from nci_seronet_proc_data_validator_spark.plans.advisor import (
            warn_nonsplittable_csv)
        warn_nonsplittable_csv(path)
    df = sheet_csv_options(spark.read, columns, multiline).csv(path)
    # Defensive: any residual nulls (e.g. short rows) become ''.
    df = df.na.fill("")
    return with_row_index(df, offset=offset)


def with_per_file_row_index(df: DataFrame, offset: int = 2,
                            file_col: str = "__sg_file") -> DataFrame:
    """Per-FILE ``row_index`` for a multi-file scan, plus the normalized
    source path as ``file_col``.

    Spark PACKS several non-splittable files into one FilePartition, so
    the monotonic id's per-partition ordinal runs ACROSS files; and a
    SPLITTABLE file (``multiline=False`` CSV) can conversely be split
    ACROSS partitions, one split per FilePartition. Both are handled by
    grouping on ``(partition, file, split)`` — the split identified by
    the hidden ``_metadata.file_block_start`` byte offset — so the
    per-file record number is ``ordinal - min(ordinal) per (partition,
    file, split)`` plus the total record count of the file's EARLIER
    splits (a cumulative sum over the tiny aggregate, one row per
    split, ordered by block offset; record order across splits follows
    byte-offset order by the CSV line-boundary contract). Recovered
    with the same tiny-aggregate + broadcast-join idiom as
    :func:`with_row_index` — the grouped relation has one row per
    split, never data-scale; no wide shuffle, no cross-partition term.
    For non-splittable scans every file has one split at offset 0 and
    the cumulative term vanishes. Plans without file metadata (e.g. a
    source wrapped past metadata propagation) fall back to a constant
    split id — correct whenever no file is actually split, i.e. the
    non-splittable case that lacking metadata implies here.

    ``input_file_name()`` is projected ONCE below the self-join —
    Spark's PreReadCheck rejects the expression over any plan with more
    than one file source — and normalized from URI form to the plain
    local path (``file:///abs/a%20b/s.csv`` → ``/abs/a b/s.csv``): the
    scheme is stripped and the percent-encoding decoded. The source
    leaves ``+`` literal in a URI path, so it is escaped before
    ``url_decode`` (which would read it as a space). Works on any
    file-source DataFrame, including the per-micro-batch frames
    ``foreachBatch`` hands a streaming watcher.
    """
    from pyspark.sql import Window

    data_cols = list(df.columns)
    file_norm = F.url_decode(F.regexp_replace(
        F.regexp_replace(F.input_file_name(), "^file:/+", "/"),
        r"\+", "%2B"))
    # Probe for file metadata. inputFiles() first: a plan with no file
    # leaves (e.g. the LogicalRDD frames foreachBatch hands a streaming
    # watcher) can never resolve _metadata, and probing it with select()
    # would log a spurious analyzer ERROR even though caught here.
    blk = F.lit(0).cast("long")
    try:
        if df.inputFiles():
            df.select("_metadata.file_block_start")   # eager analysis
            blk = F.col("_metadata.file_block_start")
    except Exception:
        pass
    mid_col, pid_col, base_col = "__sg_mid", "__sg_pid", "__sg_base"
    blk_col, cnt_col, prior_col = "__sg_blk", "__sg_cnt", "__sg_prior"
    tmp = (df.withColumn(mid_col, F.monotonically_increasing_id())
           .withColumn(file_col, file_norm)
           .withColumn(blk_col, blk))
    pid = F.shiftright(F.col(mid_col), _MID_PARTITION_SHIFT)
    ordinal = F.col(mid_col).bitwiseAND(F.lit(_MID_ORDINAL_MASK))
    bases = (tmp.groupBy(pid.alias(pid_col), F.col(file_col),
                         F.col(blk_col))
             .agg(F.min(ordinal).alias(base_col),
                  F.count(F.lit(1)).alias(cnt_col)))
    # records of the same file in earlier splits; window over the
    # split-count relation only (metadata-scale, one row per split)
    w = (Window.partitionBy(file_col).orderBy(blk_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    bases = bases.withColumn(
        prior_col, F.coalesce(F.sum(cnt_col).over(w), F.lit(0)))
    return (tmp.withColumn(pid_col, pid)
            .join(F.broadcast(bases), [pid_col, file_col, blk_col])
            .withColumn(ROW_INDEX_COL,
                        (ordinal - F.col(base_col) + F.col(prior_col)
                         + F.lit(int(offset))).cast("long"))
            .select(*data_cols, ROW_INDEX_COL, file_col))


def read_sheet_csv_tagged(spark: SparkSession,
                          paths_by_tag: "dict[str, str]",
                          tag_col: str,
                          offset: int = 2,
                          multiline: bool = True,
                          columns: "list[str] | None" = None) -> DataFrame:
    """One multi-file scan of the SAME sheet across N submissions.

    The batched-mode scan shape: N per-submission ``read_sheet_csv``
    calls union N single-file scan nodes (N analysis legs, N py4j
    tag+union round-trips, N scan setups); at 100 TB "many submissions"
    is just "many files", which a Spark file source natively reads as
    ONE scan with the files as splits. Rows come back tagged
    ``tag_col`` (the submission id owning the file) with ``row_index``
    counted PER FILE — identical to what per-file ``read_sheet_csv``
    would have produced for each submission.

    Per-file indexing under file packing: multiLine makes each file
    non-splittable, but Spark still PACKS several small files into one
    FilePartition, so the monotonic id's per-partition ordinal runs
    ACROSS files. A file is never split across partitions though, so
    ``ordinal - min(ordinal) per (partition, file)`` is exactly the
    per-file record number — recovered with the same tiny
    aggregate + broadcast-join idiom as :func:`with_row_index` (the
    grouped relation has one row per FILE, never data-scale; no wide
    shuffle).

    File→tag resolution compares ``os.path.abspath`` of each given
    path with the decoded local path :func:`with_per_file_row_index`
    derives from ``input_file_name()``, so directory names with spaces,
    ``%``, ``#`` or ``+`` resolve. DISTINCT schemas are the caller's
    responsibility: the CSV source takes the header from one file, so
    callers group same-schema submissions first, exactly like
    validate_batched requires.

    ``columns``: the probed header (``csv_header``) as an explicit
    all-string schema, same contract as :func:`read_sheet_csv` — skips
    the scan's header-inference job, which at burst scale reads EVERY
    member file on its own task (measured: one 96-task job per sheet of
    a 96-submission completion group, r14).
    """
    if not paths_by_tag:
        raise ValueError("no paths")
    norm = {os.path.abspath(p): t for t, p in paths_by_tag.items()}
    if len(norm) != len(paths_by_tag):
        raise ValueError("paths must be distinct per tag")
    if multiline:
        from nci_seronet_proc_data_validator_spark.plans.advisor import (
            warn_nonsplittable_csv)
        warn_nonsplittable_csv(list(norm))
    df = sheet_csv_options(spark.read, columns, multiline).csv(sorted(norm))
    df = df.na.fill("")
    data_cols = list(df.columns)
    file_col = "__sg_file"
    indexed = with_per_file_row_index(df, offset=offset,
                                      file_col=file_col)
    # The tag lookup is total by construction (the scan reads exactly
    # norm's keys); a NULL lookup would mean URI normalization broke —
    # fail loud (raise_error), never silently drop rows into no
    # submission. Rendered as ONE SQL map literal.
    from nci_seronet_proc_data_validator_spark.errors import sql_string_map
    tag = F.coalesce(
        F.expr(sql_string_map(spark, sorted(norm.items())))[F.col(file_col)],
        F.raise_error(F.concat(
            F.lit("read_sheet_csv_tagged: unmatched input file "),
            F.col(file_col))))
    return (indexed.withColumn(tag_col, tag)
            .select(*data_cols, ROW_INDEX_COL, tag_col))


def cleanup_columns(cols, drop: tuple = ()) -> list[str]:
    """The column-NAME half of :func:`cleanup_sheet` (P3: drop unnamed
    columns — pandas' ``Unnamed: N`` and Spark's ``_cN`` shapes), usable
    driver-side on a probed header without any DataFrame."""
    return [c for c in cols
            if c not in drop
            and not c.startswith("Unnamed")
            and not (c.startswith("_c") and c[2:].isdigit())]


def cleanup_sheet(df: DataFrame,
                  fix_reference_bugs: bool = True,
                  carry_cols: tuple[str, ...] = ()) -> DataFrame:
    """Reference ``cleanup_table`` (File_Submission_Object.py:43-45):
    drop rows where every (data) cell is blank, and drop unnamed columns.

    P2: the reference's ``dropna(how='all')`` is actually a NO-OP under
    ``na_filter=False`` (blank cells are ``''``, never NaN), so it keeps
    all-blank rows — e.g. Excel-exported trailing ``,,,`` lines — and then
    emits a missing-value finding for every column of them. We treat
    dropping them as the call's evident intent (reference bug, SURVEY.md
    §2.9(8)); pass ``fix_reference_bugs=False`` to keep the rows and
    reproduce the observed reference findings. P3: pandas auto-names
    headerless columns ``Unnamed: N``; Spark uses ``_cN`` — drop both
    shapes.
    """
    keep = cleanup_columns(df.columns, drop=(ROW_INDEX_COL, *carry_cols))
    # carry_cols (e.g. the batched-mode submission tag) pass through but
    # are neither data columns (excluded from the all-blank predicate —
    # a tag is never blank, so including it would keep every row) nor
    # droppable artifacts.
    out = df.select(*keep, ROW_INDEX_COL, *carry_cols)
    if not fix_reference_bugs:
        return out
    if keep:
        # One SQL-text predicate, not a per-column Column chain: each
        # F.col()/!=/| is a py4j round-trip, and this runs per sheet on
        # the serial driver-build path (cProfile r11: the Column chain
        # was ~0.5 s of a 1.6 s submission build at 3 sheets).
        bq = [("`" + c.replace("`", "``") + "`") for c in keep]
        out = out.filter(" OR ".join(f"{c} != ''" for c in bq))
    return out


def read_xlsx(spark: SparkSession, paths: list[str]) -> DataFrame | None:
    """S2 xlsx read. The reference asserts on ``.xlsx`` keys and then has
    no read path (``s3.py:130-137``) — i.e. it crashes; we implement the
    evident intent. Unreadable/corrupt workbooks degrade to ``None``
    (callers treat the group as unreadable, mixed groups still load).

    Driver-side pandas read by design: submission xlsx sheets are
    file-per-sheet and driver-scale (the reference loaded them into pandas
    wholesale); at data scale you'd convert to parquet upstream, not scan
    xlsx from executors. Cells ingest as strings with '' for blanks
    (``na_filter=False`` semantics, S4). Uses pandas/openpyxl when
    available; otherwise the dependency-free SpreadsheetML reader
    (``sinks/xlsx_minimal.py``) — either way the format is readable in
    this container.
    """
    import pandas as pd

    try:
        try:
            import openpyxl  # noqa: F401  (optional fast path)
            frames = [pd.read_excel(p, dtype=str) for p in paths]
        except ImportError:
            from nci_seronet_proc_data_validator_spark.sinks.xlsx_minimal \
                import read_xlsx_rows
            frames = []
            for p in paths:
                cols, rows = read_xlsx_rows(p)
                frames.append(pd.DataFrame(rows, columns=cols, dtype=str))
    except Exception:
        return None  # corrupt/non-xlsx bytes: group is unreadable
    pdf = pd.concat(frames, ignore_index=True) if len(frames) > 1 \
        else frames[0]
    # fillna AFTER concat: concat over mismatched columns reintroduces
    # NaN in missing cells, which astype(str) would render as 'nan'.
    return spark.createDataFrame(pdf.fillna("").astype(str))


def read_any(spark: SparkSession, paths: str | list[str],
             fmt: str = "suffix", **options) -> DataFrame | None:
    """S2/S3 ``get_df``/``get_df_from_keys`` (s3.py:116-179): read one or
    many objects into a single DataFrame.

    - ``fmt='csv'|'parquet'|'json'|'orc'`` — explicit format, multi-path
      read (Spark unions splits natively — parallel, unlike the
      reference's sequential read-and-concat loop);
    - ``fmt='suffix'`` — dispatch per extension, ``unionByName`` across
      format groups (allowMissingColumns); ``.xlsx``/``.xls`` route via
      the gated ``read_xlsx``;
    - ``fmt='mixed'`` — try csv, then parquet, then json, then xlsx in
      turn (reference tried csv/parquet/xlsx, s3.py:164-172);
    - returns ``None`` when nothing matched (reference behavior).
    """
    paths = [paths] if isinstance(paths, str) else list(paths)
    if not paths:
        return None

    def _read(f: str, ps: list[str]) -> DataFrame | None:
        if f == "xlsx":
            return read_xlsx(spark, ps)
        r = spark.read.options(**options)
        if f == "csv":
            r = r.option("header", "true")
        return r.format(f).load(ps)

    if fmt in ("csv", "parquet", "json", "orc"):
        return _read(fmt, paths)
    if fmt == "suffix":
        groups: dict[str, list[str]] = {}
        for p in paths:
            ext = p.rsplit(".", 1)[-1].lower()
            f = {"csv": "csv", "parquet": "parquet", "pq": "parquet",
                 "json": "json", "orc": "orc",
                 "xlsx": "xlsx", "xls": "xlsx"}.get(ext)
            if f:
                groups.setdefault(f, []).append(p)
        dfs = [d for f, ps in sorted(groups.items())
               if (d := _read(f, ps)) is not None]
        if not dfs:
            return None
        out = dfs[0]
        for d in dfs[1:]:
            out = out.unionByName(d, allowMissingColumns=True)
        return out
    if fmt == "mixed":
        for f in ("csv", "parquet", "json", "xlsx"):
            try:
                df = _read(f, paths)
                if df is None:
                    continue
                df.schema  # force plan analysis to validate the format
                return df
            except Exception:
                continue
        return None
    raise ValueError(f"unknown format {fmt!r}")


def _ensure_session_confs(spark: SparkSession) -> None:
    """Make queries independent of who built the SparkSession (the driver
    uses its own): UTC session time (oracle parity), nanos-as-long
    parquet reads (the events table is TIMESTAMP(NANOS), which Spark
    otherwise rejects), and the performance confs ``session.get_spark``
    sets (codegen limits for the wide rulebook projections; the
    InferFiltersFromGenerate exclusion that keeps explode-over-computed-
    array plans from re-hashing every document's n-grams — see
    session.py for the rationale). All are runtime-settable SQL confs."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.codegen.maxFields", "1000")
    spark.conf.set("spark.sql.codegen.hugeMethodLimit", "65535")
    spark.conf.set("spark.sql.optimizer.excludedRules",
                   "org.apache.spark.sql.catalyst.optimizer."
                   "InferFiltersFromGenerate")


# (path → StructType) schema memo for the driver testdata tables. Each
# bare ``spark.read.parquet`` runs a footer-inference job (one task) plus
# a driver round-trip BEFORE the real query starts; multi-sheet plans
# (the rulebook reads 5 distinct bases for 10 sheets) and best-of-n bench
# loops re-pay it per reference. The testdata dirs are immutable, so the
# inferred schema is stable per path; passing it back via ``.schema(...)``
# makes repeat reads footer-job-free. Keyed per session id too — a schema
# inferred under one session's confs (e.g. nanosAsLong) must not leak
# into a session configured differently.
_SCHEMA_MEMO: dict[tuple[str, str, float], object] = {}


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver testdata parquet table (schema memoized per path).

    The memo key includes the path's content mtime: a regenerated dir
    (e.g. ``tools/gen_scale.py`` rewriting ``.scale/sf1`` with different
    columns) re-infers instead of serving a stale schema — an explicit
    ``.schema()`` read would otherwise mask drift as NULL columns rather
    than erroring. For a parquet *directory* the mtime is the max over
    its data files, not the directory inode: rewriting a part file in
    place does not bump the directory mtime. Older mtime entries for
    the same path are evicted on insert so the memo stays one entry per
    (app, path). The scan is recursive (advisor r9): for a
    HIVE-PARTITIONED dir, rewriting a part file inside ``key=.../``
    bumps neither a top-level file mtime nor the root inode, so a flat
    scandir would serve the stale schema — the exact failure the memo
    key exists to prevent.
    """
    _ensure_session_confs(spark)
    path = os.path.join(sf_dir, f"{name}.parquet")
    abspath = os.path.abspath(path)
    mtime = 0.0
    try:
        if os.path.isdir(abspath):
            mtimes = []
            for root, _dirs, files in os.walk(abspath):
                mtimes.extend(os.path.getmtime(os.path.join(root, f))
                              for f in files)
            mtime = max(mtimes, default=os.path.getmtime(abspath))
        else:
            mtime = os.path.getmtime(abspath)
    except OSError:
        pass
    app = spark.sparkContext.applicationId
    key = (app, abspath, mtime)
    schema = _SCHEMA_MEMO.get(key)
    if schema is None:
        df = spark.read.parquet(path)
        for k in [k for k in _SCHEMA_MEMO if k[:2] == (app, abspath)]:
            del _SCHEMA_MEMO[k]
        _SCHEMA_MEMO[key] = df.schema
        return df
    return spark.read.schema(schema).parquet(path)


def read_tables(spark: SparkSession, sf_dir: str,
                names: list[str] | None = None) -> dict[str, DataFrame]:
    names = names or ["region", "nation", "customer", "supplier", "part",
                      "orders", "lineitem", "events", "documents",
                      "embeddings"]
    return {n: read_table(spark, sf_dir, n) for n in names}
