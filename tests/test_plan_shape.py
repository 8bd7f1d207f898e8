"""Physical-plan shape assertions — the scale-posture invariants:

- findings compilation is ONE scan with no shuffle;
- parquet scans prune columns (ReadSchema) and push filters;
- small join sides broadcast;
- the LSH pipeline shuffles on band buckets, not on raw docs.

These are regression guards: a refactor that silently de-optimizes a plan
fails here, not in a 100 TB run.
"""

from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.driver_queries import (
    q_c1_in_list,
    q_j1_enrich_revenue,
)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_findings_scan_has_no_shuffle(spark, sf_dir):
    plan = _plan(q_c1_in_list(spark, sf_dir))
    assert "Exchange" not in plan          # map-only: scan → project → explode
    assert plan.count("Scan parquet") == 1


def test_scan_prunes_and_pushes(spark, sf_dir):
    df = (spark.read.parquet(f"{sf_dir}/lineitem.parquet")
          .filter(F.col("l_quantity") > 49)
          .select("l_orderkey", "l_quantity"))
    plan = _plan(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity" \
        in plan
    # column pruning: the read schema carries only the two needed columns
    assert "l_extendedprice" not in plan.split("ReadSchema")[-1]


def test_enrich_join_broadcasts_customer(spark, sf_dir):
    plan = _plan(q_j1_enrich_revenue(spark, sf_dir))
    assert "BroadcastHashJoin" in plan


def test_csv_ingest_is_jvm_only(spark, tmp_path):
    """The ingest path (read → na.fill → row index) must never leave the
    JVM: no Python eval, no RDD round-trip (VERDICT r1 scale-killer #2)."""
    from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
    p = tmp_path / "sheet.csv"
    p.write_text("a,b\nx,1\ny,2\nz,3\n")
    df = read_sheet_csv(spark, str(p))
    plan = _plan(df)
    assert "BatchEvalPython" not in plan
    assert "ExistingRDD" not in plan
    assert "SerializeFromObject" not in plan
    rows = {r["a"]: r["row_index"] for r in df.collect()}
    assert rows == {"x": 2, "y": 3, "z": 4}  # header = line 1


def _tagged_sheet(spark, tmp_path, n_files):
    """``read_sheet_csv_tagged`` over ``n_files`` one-sheet submissions,
    file ``i`` holding ``10 + i`` records ``payload_a`` = 0, 1, ... in
    file order."""
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_sheet_csv_tagged,
    )
    paths = {}
    for i in range(n_files):
        p = tmp_path / f"sub{i}.csv"
        p.write_text("payload_a,payload_b\n" + "".join(
            f"{r},{2 * r}\n" for r in range(10 + i)))
        paths[f"sub{i}"] = str(p)
    return read_sheet_csv_tagged(spark, paths, "__submission_id")


def test_row_index_multi_partition(spark, tmp_path):
    """Per-file, contiguous, 0-gap index starting at the CSV line of the
    first record (2), in file record order, over a scan that spans
    several partitions."""
    out = _tagged_sheet(spark, tmp_path, 7)
    n_parts = (out.select(F.spark_partition_id().alias("p"))
               .distinct().count())
    assert n_parts > 1, n_parts
    got: dict = {}
    for r in out.collect():
        got.setdefault(r["__submission_id"], []).append(
            (r["row_index"], int(r["payload_a"])))
    assert sorted(got) == [f"sub{i}" for i in range(7)]
    for i in range(7):
        assert sorted(got[f"sub{i}"]) == [(r + 2, r) for r in range(10 + i)]


def test_lsh_shuffles_on_band_buckets_only(spark, sf_dir):
    from nci_seronet_proc_data_validator_spark.operators.dedup import (
        minhash_lsh_pairs)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(minhash_lsh_pairs(docs))
    assert "band_hash" in plan
    # signature build itself is map-side; shuffles belong to the bucket
    # join + dedup, not to a groupBy over raw text
    assert "Scan parquet" in plan


def test_quality_features_map_only(spark, sf_dir):
    """Quality scoring is pure array algebra over the scan — no shuffle,
    no Python eval."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        quality_features)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(quality_features(docs))
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_stratified_sample_pushes_to_scan(spark, sf_dir):
    """The sampling cut is a map-only predicate: one scan, no shuffle."""
    from nci_seronet_proc_data_validator_spark.operators.sampling import (
        stratified_sample)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(stratified_sample(docs, "lang", {"en": 0.5}, 0.1))
    assert "Exchange" not in plan
    assert plan.count("Scan parquet") == 1


def test_vocab_pipeline_top_n_is_take_ordered(spark, sf_dir):
    """The vocabulary's top-N must be a TakeOrderedAndProject (bounded
    per-partition heaps), never a full global sort materialization."""
    from nci_seronet_proc_data_validator_spark.driver_queries import (
        q_vocab_pipeline)
    plan = _plan(q_vocab_pipeline(spark, sf_dir))
    spark.catalog.clearCache()    # the query persists its token counts
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan


def test_keep_canonical_broadcasts_loser_set(spark, sf_dir):
    """The corpus-side anti-join must broadcast the (tiny) non-canonical
    id set — a shuffle of the full corpus here would dominate at scale."""
    from nci_seronet_proc_data_validator_spark.driver_queries import (
        q_dedup_keep_canonical)
    plan = _plan(q_dedup_keep_canonical(spark, sf_dir))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_familiarity_shuffles_on_bigram_key(spark, sf_dir):
    """The corpus-count join must be a shuffle join on the bigram key with
    no Python eval and no nested-loop fallback."""
    from nci_seronet_proc_data_validator_spark.operators.text_quality import (
        familiarity_features)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(familiarity_features(docs))
    assert "BatchEvalPython" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pagerank_rounds_are_two_shuffle(spark):
    """A PageRank round is contribution-join + keyed agg — no window, no
    Python, no nested loop; the checkpointed edge set keeps plans flat."""
    from nci_seronet_proc_data_validator_spark.operators.graph import (
        pagerank)
    edges = spark.range(0, 200).selectExpr("id AS src", "(id % 40) AS dst")
    plan = _plan(pagerank(edges, iters=2))
    for op in ("BatchEvalPython", "BroadcastNestedLoopJoin",
               "CartesianProduct", "Window"):
        assert op not in plan, op


def test_tpch_shapes_push_and_broadcast(spark, sf_dir):
    """Q3: the segment/date filters reach the scans and the filtered
    customer side broadcasts; Q5: both dimension joins broadcast and
    nothing degenerates to a nested-loop join."""
    from nci_seronet_proc_data_validator_spark.driver_queries import (
        q_tpch_q3, q_tpch_q5)
    p3 = _plan(q_tpch_q3(spark, sf_dir))
    assert "BroadcastHashJoin" in p3
    assert "PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate" \
        in p3
    assert "TakeOrderedAndProject" in p3
    p5 = _plan(q_tpch_q5(spark, sf_dir))
    assert p5.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" not in p5
    assert "CartesianProduct" not in p5


def test_training_prep_plan_shapes(spark, sf_dir):
    """chunk/split are pure maps (no exchange, no Python); packing's only
    exchanges are the shard-key window + the tiny (shard, seq) agg."""
    from nci_seronet_proc_data_validator_spark.operators.training import (
        chunk_documents, pack_sequences, train_val_split)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    for df in (chunk_documents(docs), train_val_split(docs)):
        plan = _plan(df)
        assert "Exchange" not in plan
        assert "BatchEvalPython" not in plan
    plan = _plan(pack_sequences(docs))
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange") <= 2


def test_bm25_filters_terms_before_shuffle(spark, sf_dir):
    """The tf explode must be filtered to query terms BEFORE the (doc,
    term) aggregation shuffle, and corpus stats / df must broadcast."""
    from nci_seronet_proc_data_validator_spark.operators.search import (
        bm25_topk)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(bm25_topk(docs, ["spark", "window", "join"]))
    assert "BroadcastHashJoin" in plan       # dfreq + stats sides
    # the IN-filter on exploded terms sits below the first aggregate
    first_agg = plan.find("HashAggregate")
    assert first_agg != -1
    assert "spark" in plan  # term literals present in a Filter
    # top-N is a TakeOrdered over the scored set, rank assigned after the
    # take via broadcast rank-count join — NO window anywhere.
    assert "TakeOrderedAndProject" in plan
    assert "Window" not in plan


def _global_window_lines(plan: str) -> list[str]:
    """Lines for partition-less WindowExec nodes. Bracket groups:
    partitioned+ordered prints ``Window [funcs], [partition], [ordering]``
    (3 groups — fine); 2 groups is EITHER ``[funcs], [ordering]`` (global
    ordered — the hazard) or ``[funcs], [partition]`` (partitioned,
    unordered frame — fine): the ordering group is recognizable by its
    ASC/DESC sort directions. <2 groups is global unconditionally. A
    global window moves every row to ONE task — the single worst scale
    hazard a plan can silently grow."""
    out = []
    for line in plan.splitlines():
        stripped = line.strip().lstrip("+-: ").lstrip()
        if not stripped.startswith("Window "):
            continue
        groups = stripped.count("], [")
        if groups >= 2:
            continue
        last = stripped.rsplit("], [", 1)[-1] if groups == 1 else ""
        if groups == 0 or " ASC" in last or " DESC" in last:
            out.append(line)
    return out


def test_no_driver_query_has_global_window(spark, sf_dir):
    """Every registered driver query must plan without a partition-less
    WindowExec (the r2 BM25 regression class). Also a smoke guard that
    every query's physical plan still builds.

    Threaded: plan construction for the model-fit queries (kmeans / PQ /
    BPE / PageRank) runs driver-side fit jobs, serially ~50 s of the
    suite; Spark job submission is thread-safe and the fits are
    independent, so an 8-way pool overlaps them."""
    from concurrent.futures import ThreadPoolExecutor

    from nci_seronet_proc_data_validator_spark.driver_queries import QUERIES

    def _check(item):
        name, (fn, _sql) = item
        return name, _global_window_lines(_plan(fn(spark, sf_dir)))

    with ThreadPoolExecutor(max_workers=8) as pool:
        results = list(pool.map(_check, QUERIES.items()))
    bad = {name: lines for name, lines in results if lines}
    assert not bad, f"global windows found: {bad}"


def _biospecimen_findings_sql(spark, sf_dir, view):
    """The widest rulebook sheet's findings as the one ``spark.sql``
    statement both production paths issue (``q_rulebook_full`` and the
    batched compile): ``sheet_findings_sql`` over a temp view, chunked
    by 9 rule groups."""
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        fixture_sheet_df,
    )
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        sheet_findings_sql,
    )
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        rulebook_bound_sheets,
    )
    spec, bound = next((s, b) for s, b in rulebook_bound_sheets()
                       if s.sheet == "biospecimen.csv")
    fixture_sheet_df(spark, sf_dir, spec).createOrReplaceTempView(view)
    legs = sheet_findings_sql(view, spec.sheet, bound.column_rules,
                              codegen_chunk=9)
    assert len(legs) > 1
    return spark.sql(" UNION ALL ".join(legs)), len(legs)


def test_rulebook_sheet_findings_map_only(spark, sf_dir):
    """The flagship's per-sheet findings pass must stay map-only scans:
    scan → value projection → shadows → check explode, no Exchange (the
    only shuffles in rulebook_full are the dup-ID aggs and the cross-sheet
    spines). Guarded without the local-testdata spread repartition, i.e.
    the shape a real pre-split cluster input gets: one parquet scan per
    codegen chunk."""
    f, n_legs = _biospecimen_findings_sql(spark, sf_dir, "__t_plan_bio_map")
    plan = _plan(f)
    assert "Exchange" not in plan, plan[:2000]
    assert plan.count("Scan parquet") == n_legs


def test_rulebook_findings_codegen(spark, sf_dir):
    """The findings explode must stay inside whole-stage codegen.

    Two ways to lose it, both regressions this pins:
    - array_compact in the explode input: desugars to a higher-order
      filter(..., lambda) which is CodegenFallback and demotes the whole
      check-expression tree (every CASE WHEN / RLIKE) to interpreted
      evaluation (~2x the findings pass, measured at sf0.1);
    - the wide fixture tripping spark.sql.codegen.maxFields (kept raised
      in session.py).
    Formatted explain marks codegen'd operators with '*'.
    """
    import contextlib
    import io

    f, n_legs = _biospecimen_findings_sql(spark, sf_dir, "__t_plan_bio_cg")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        f.explain("formatted")
    plan = buf.getvalue()
    ops = [ln.strip() for ln in plan.splitlines()]
    # operator-tree lines (not the numbered details), one per leg
    gen = [ln.lstrip(":+- ") for ln in ops
           if "Generate" in ln and ("+-" in ln or ln.startswith("*"))]
    assert len(gen) == n_legs, gen
    assert all(ln.startswith("* ") for ln in gen), gen
    assert "array_compact" not in plan


def test_no_duplicated_generator_input_in_filters(spark, sf_dir):
    """InferFiltersFromGenerate must stay excluded (session.py): it infers
    size(arr)>0 filters below every explode, and pushdown substitutes the
    array-producing alias — re-evaluating the whole tokenize->ngram->md5
    chain up to 3x per row (measured 3.5x on dsir at sf0.1). Guard: no
    Filter in the n-gram query plans contains a transform/md5 chain."""
    import re

    from nci_seronet_proc_data_validator_spark.driver_queries import QUERIES
    for name in ("doc_scoring", "contamination", "vocab_pipeline"):
        plan = _plan(QUERIES[name][0](spark, sf_dir))
        for cond in re.findall(r"Filter \(?[^\n]*", plan):
            assert "md5(" not in cond and "transform(" not in cond, (
                name, cond[:200])


def test_quantized_ann_rerank_is_broadcast(spark, sf_dir):
    """The int8 candidate scan must broadcast the quantized query set, and
    the float rerank must broadcast the O(Q*cand) candidate ids against
    the corpus — a sort-merge join on either side would shuffle the full
    embedding table per query batch."""
    from pyspark.sql import functions as F
    from nci_seronet_proc_data_validator_spark.operators.similarity import (
        quantized_topk)
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_table)
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qe"))
    plan = _plan(quantized_topk(emb, queries, k=5, cand=20))
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_data_profile_is_six_scans(spark, sf_dir):
    """The quality tier's scan budget, pinned: the fused aggregation over
    orders is planned as TWO one-row aggregates (algebraic + exact-
    DISTINCT, stitched by a single-row cross join — ``_struct_agg``, r13:
    a mixed multi-DISTINCT agg drags every algebraic function through the
    Expand) = two scans; the anomaly masked-metrics pass splits the same
    way = two more; plus the fk arm's probe (lineitem) and its key-only
    dimension scan — and the dimension scan must prune to the join key."""
    from nci_seronet_proc_data_validator_spark.driver_queries import (
        q_data_profile)
    plan = _plan(q_data_profile(spark, sf_dir))
    assert plan.count("Scan parquet") == 6
    # the fk dimension reads only o_orderkey (column pruning reached it)
    dim_reads = [seg.split("\n")[0] for seg in plan.split("ReadSchema: ")
                 if seg.startswith("struct<o_orderkey")]
    assert any(seg.rstrip(">,. ").endswith("o_orderkey:bigint")
               or seg.startswith("struct<o_orderkey:bigint>")
               for seg in dim_reads), dim_reads


def test_aqe_splits_skewed_join(spark):
    """The session enables AQE skew-join splitting; demonstrate it fires.

    Shape = the reference's cross-sheet enrichment at scale
    (File_Submission_Object.py:106-127): a fact sheet where ONE CBC id
    owns half the rows, equi-joined to a per-id dimension too big to
    broadcast. Production thresholds key on 256 MB partitions, so the
    test lowers them (runtime-settable confs, restored after) and
    asserts the executed plan split the hot partition — the scale
    behavior no static plan test can pin.
    """
    from pyspark.sql import functions as F
    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        sheet = spark.range(1_000_000).select(
            F.when(F.col("id") % 2 == 0, F.lit(14))
            .otherwise(F.col("id") % 1000).alias("cbc_id"),
            F.concat(F.lit("x" * 64), F.col("id").cast("string"))
            .alias("payload"))
        dim = spark.range(1000).select(
            F.col("id").alias("cbc_id"), (F.col("id") * 2).alias("site"))
        joined = sheet.join(dim, "cbc_id")
        qe = joined._jdf.queryExecution()
        # run the DataFrame's OWN plan JVM-side (collect would drag 1M
        # rows into Python; a noop write is a different QueryExecution)
        n = qe.executedPlan().execute().count()
        assert n == 1_000_000
        plan = qe.executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan[:2000]
        assert "skewed" in plan  # AQEShuffleRead split the hot partition
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_rulebook_row_findings_union_shuffle_free(spark, sf_dir):
    """r8 restructure guard: the one-statement SQL union of every
    key_unique sheet's findings legs (what q_rulebook_full feeds the
    final union WITHOUT a dedup exchange) must itself be exchange-free —
    scan → casts/shadows → check explode per leg, union, nothing keyed.
    If someone reintroduces a dropDuplicates/groupBy on this path the
    widest stage of the flagship regains a shuffle of every finding."""
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        fixture_sheet_df,
    )
    from nci_seronet_proc_data_validator_spark.plans.rules import (
        sheet_findings_sql,
    )
    from nci_seronet_proc_data_validator_spark.plans.sql_oracle import (
        rulebook_bound_sheets,
    )
    legs = []
    for i, (spec, bound) in enumerate(rulebook_bound_sheets()):
        if not spec.key_unique or bound.icd10_columns:
            continue                       # icd flag join adds a broadcast
        view = f"__t_plan_rb_{i}"
        fixture_sheet_df(spark, sf_dir, spec).createOrReplaceTempView(view)
        legs.extend(sheet_findings_sql(view, spec.sheet, bound.column_rules,
                                       codegen_chunk=9))
    assert len(legs) >= 10
    plan = _plan(spark.sql(" UNION ALL ".join(legs)))
    assert "Exchange" not in plan, plan[:2000]


def test_row_index_offsets_stay_distributed(spark, tmp_path):
    """Ingest-path guard (``with_per_file_row_index``,
    sources/readers.py): the per-(partition, file) base ordinals ride
    the plan as a broadcast-joined aggregate. A collect()+VALUES form
    would show up as a LocalTableScan proportional to the file count; a
    keyed join instead of the broadcast would shuffle the full-width
    data rows; a Window would mean an index scheme beyond the one
    multiLine files need. Pins: a broadcast hash join, no
    LocalTableScan, no Window, and exactly one non-broadcast exchange
    (the (partition, file) aggregate) carrying no data column."""
    plan = _plan(_tagged_sheet(spark, tmp_path, 4))
    assert "BroadcastHashJoin" in plan, plan[:2000]
    assert "LocalTableScan" not in plan, plan[:2000]
    assert "Window" not in plan, plan[:2000]
    wide = [ln for ln in plan.splitlines()
            if "Exchange" in ln and "BroadcastExchange" not in ln]
    assert len(wide) == 1, plan[:2000]
    assert "payload_a" not in wide[0] and "payload_b" not in wide[0], wide


def test_submission_build_py4j_budget(spark, tmp_path):
    """r11 driver-build guard: a 2-sheet validate() build stays under a
    py4j round-trip budget. The Column-chain era cost ~4,900 round-trips
    per 3-sheet build; the generated-SQL restructure runs at ~700-800.
    The budget (1,500) has slack for Spark-version drift but catches any
    reintroduction of per-column Column chatter on the hot path."""
    import cProfile
    import datetime
    import pstats

    from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
    from nci_seronet_proc_data_validator_spark.submission import (
        SubmissionValidator)
    p = tmp_path / "demographic.csv"
    p.write_text("Research_Participant_ID,Age,Race\n"
                 "14_000001,30,White\n")
    b = tmp_path / "biospecimen.csv"
    b.write_text("Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
                 "14_000001,14_000001_001,PBMC\n")
    sheets = {"demographic.csv": read_sheet_csv(spark, str(p)),
              "biospecimen.csv": read_sheet_csv(spark, str(b))}
    kw = dict(sheets=sheets, cbc_id="14", today=datetime.date(2026, 1, 1))
    SubmissionValidator(spark, **kw).validate()      # warm bind caches
    pr = cProfile.Profile()
    pr.enable()
    SubmissionValidator(spark, **kw).validate()
    pr.disable()
    stats = pstats.Stats(pr)
    sends = sum(nc for (fn, _l, name), (nc, *_r) in stats.stats.items()
                if name == "send_command" and "java_gateway" in fn)
    assert 0 < sends < 1500, f"driver build used {sends} py4j round-trips"


def test_batched_build_py4j_budget(spark, tmp_path):
    """r12 batched-build guard: the 8-submission batched build stays
    under ~2x the 1-submission build's py4j round-trips (measured 1.89x
    at introduction: ~350 vs ~660). The whole point of batched mode is
    an O(distinct schemas) driver build — the only per-submission cost
    allowed is the tag-and-union (one withColumns + one unionByName per
    sheet); a change that reintroduces per-submission rule binding, SQL
    rendering, or per-leg analysis shows up here as O(N) chatter."""
    import cProfile
    import datetime
    import pstats

    from nci_seronet_proc_data_validator_spark.orchestrate import (
        validate_batched)
    from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv

    def mk(i: int) -> dict:
        d = tmp_path / f"s{i}"
        d.mkdir()
        (d / "demographic.csv").write_text(
            f"Research_Participant_ID,Age,Race\n14_00000{i},30,White\n")
        (d / "biospecimen.csv").write_text(
            "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
            f"14_00000{i},14_00000{i}_001,PBMC\n")
        return {"sheets": {n: read_sheet_csv(spark, str(d / n))
                           for n in ("demographic.csv", "biospecimen.csv")},
                # mixed CBCs on purpose: v2 must not fall back to
                # per-submission binding for mixed-lab batches
                "cbc_id": "14" if i % 2 == 0 else "41",
                "today": datetime.date(2026, 1, 1)}

    subs = {f"s{i}": mk(i) for i in range(8)}
    one = {"s0": subs["s0"]}

    def roundtrips(batch) -> int:
        """py4j round-trips of building the plan and releasing it."""
        pr = cProfile.Profile()
        pr.enable()
        with validate_batched(spark, batch):
            pass
        pr.disable()
        stats = pstats.Stats(pr)
        return sum(nc for (f, _l, n), (nc, *_r) in stats.stats.items()
                   if n == "send_command" and "java_gateway" in f)

    roundtrips(one)                         # warm bind + SQL-render caches
    n1 = roundtrips(one)
    n8 = roundtrips(subs)
    assert 0 < n1 < 800, f"1-sub batched build used {n1} round-trips"
    assert n8 < 2.2 * n1, (f"8-sub batched build used {n8} round-trips "
                           f"vs {n1} for 1 sub — per-submission driver "
                           f"cost crept back in")


def test_batched_compile_reads_its_sheet_caches(spark, tmp_path,
                                                monkeypatch):
    """The batched compile persists each cleaned sheet union for its many
    consumers (findings chunks, dup-ID legs, Merged_Table projections,
    submitted-id views, A4). Dropping a temp view uncaches every equal
    cached plan, so the compile must keep its views until its last
    action: when the findings checkpoint runs, every persist of the call
    is still cached and the optimized findings plan reads no CSV
    relation outside an InMemoryRelation. A4 then runs as ONE action.
    Checked for 3 pretagged submissions and for N=1 through
    SubmissionValidator.validate()."""
    import datetime

    from nci_seronet_proc_data_validator_spark.orchestrate import (
        SUB_COL, validate_batched_results)
    from nci_seronet_proc_data_validator_spark.sources import read_sheet_csv
    from nci_seronet_proc_data_validator_spark.sources.readers import (
        read_sheet_csv_tagged)
    from nci_seronet_proc_data_validator_spark.submission import (
        SubmissionValidator)

    names = ("demographic.csv", "biospecimen.csv")
    subs = {}
    for i in range(3):
        d = tmp_path / f"s{i}"
        d.mkdir()
        (d / names[0]).write_text(
            "Research_Participant_ID,Age,Race\n"
            f"14_00000{i},30,White\n14_10000{i},9{i}9,Race_{i}\n")
        (d / names[1]).write_text(
            "Research_Participant_ID,Biospecimen_ID,Biospecimen_Type\n"
            f"14_00000{i},14_00000{i}_001,PBMC\n"
            f"14_90000{i},14_90000{i}_001,Serum\n")
        subs[f"s{i}"] = {
            "sheets": {n: read_sheet_csv(spark, str(d / n)) for n in names},
            "cbc_id": "14", "today": datetime.date(2026, 1, 1),
            "declared_participants": 2, "declared_biospecimens": 3}
    pretagged = {n: read_sheet_csv_tagged(
        spark, {sid: str(tmp_path / sid / n) for sid in subs}, SUB_COL)
        for n in names}

    cls = type(spark.range(1))
    persist, checkpoint, collect = (
        cls.persist, cls.localCheckpoint, cls.collect)
    persisted: list = []
    seen: list = []
    collects_after = [0]

    def persist_hook(self, *a, **k):
        persisted.append(self)
        return persist(self, *a, **k)

    def checkpoint_hook(self, *a, **k):
        leaves = self._jdf.queryExecution().optimizedPlan().collectLeaves()  # noqa: SLF001
        csv = [leaf.toString()[:200]
               for leaf in (leaves.apply(i) for i in range(leaves.length()))
               if leaf.getClass().getSimpleName() != "InMemoryRelation"
               and "csv" in leaf.toString()]
        lost = [str(df.storageLevel) for df in persisted
                if not (df.storageLevel.useMemory
                        or df.storageLevel.useDisk)]
        seen.append((len(persisted), csv, lost))
        collects_after[0] = 0
        return checkpoint(self, *a, **k)

    def collect_hook(self):
        collects_after[0] += 1
        return collect(self)

    monkeypatch.setattr(cls, "persist", persist_hook)
    monkeypatch.setattr(cls, "localCheckpoint", checkpoint_hook)
    monkeypatch.setattr(cls, "collect", collect_hook)
    for label, run in (
            ("3 pretagged", lambda: validate_batched_results(
                spark, subs, pretagged=pretagged)[0]),
            ("N=1 validate()", lambda: {"s0": SubmissionValidator(
                spark, **subs["s0"]).validate()})):
        persisted.clear()
        seen.clear()
        results = run()
        assert len(seen) == 1, label
        n_persisted, csv, lost = seen[0]
        assert n_persisted >= len(names), label
        assert not lost, (label, "sheet caches dropped before the "
                          "checkpoint", lost)
        assert not csv, (label, "findings plan re-reads CSVs", csv)
        assert collects_after[0] == 1, (label, "A4 actions",
                                         collects_after[0])
        for r in results.values():
            r.release()


def test_fixture_spread_sizes_directory_tables(tmp_path):
    """The size-derived fixture spread must see the DATA size of a
    Spark-written directory table, not the directory inode (~4 KB),
    which would collapse the spread to 1 partition on any real layout
    (sf1 A/B regression: rulebook_full 42.6 -> 49.0 s best)."""
    from nci_seronet_proc_data_validator_spark.plans.fixture import (
        _table_data_size)

    # single-file layout (the bench testdata shape)
    f = tmp_path / "lineitem.parquet"
    f.write_bytes(b"x" * 300_000)
    assert _table_data_size(str(tmp_path), "lineitem") == 300_000

    # directory layout (Spark-written): sum part files, skip markers
    d = tmp_path / "orders.parquet"
    d.mkdir()
    (d / "part-00000.snappy.parquet").write_bytes(b"x" * 200_000)
    (d / "part-00001.snappy.parquet").write_bytes(b"x" * 150_000)
    (d / "_SUCCESS").write_bytes(b"")
    (d / ".part-00000.crc").write_bytes(b"y" * 999)
    assert _table_data_size(str(tmp_path), "orders") == 350_000

    # missing table -> None (caller keeps its full spread)
    assert _table_data_size(str(tmp_path), "nope") is None


def test_local_rows_df_is_single_slice_and_value_faithful(spark):
    """Driver-computed metadata frames (A4 mismatches, P10 header
    findings, failure records, arrival ledgers) must be ONE pickled
    slice, not defaultParallelism slices — every slice costs a Python
    worker round trip per action, and a 24-submission burst's status
    action ran 768 such tasks (170 s blocked, 1.7 s CPU) before r13
    pinned this. Values, schema, and NULL handling must match the plain
    createDataFrame path; empty input becomes a single empty slice (one
    task per action, not defaultParallelism of them)."""
    from nci_seronet_proc_data_validator_spark.errors import local_rows_df

    schema = ("Message_Type string, CSV_Sheet_Name string, "
              "Row_Index bigint, Column_Name string, "
              "Column_Value string, Error_Message string")
    rows = [("Error", "submission.csv", -5, "f", None, "m"),
            ("Warning", "a.csv", 2, "c", "v", "w")]
    got = local_rows_df(spark, rows, schema)
    want = spark.createDataFrame(rows, schema)
    assert got.rdd.getNumPartitions() == 1
    assert got.schema == want.schema
    assert sorted(map(tuple, got.collect())) == \
        sorted(map(tuple, want.collect()))
    empty = local_rows_df(spark, [], schema)
    assert empty.count() == 0 and empty.schema == want.schema
    # one empty slice — a plain createDataFrame([], schema) parallelizes
    # into defaultParallelism empty pickled slices, each still a Python
    # worker round trip per action
    assert empty.rdd.getNumPartitions() == 1
