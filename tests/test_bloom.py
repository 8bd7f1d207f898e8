"""Bloom-filter membership: engine-portable bitset build + map-side probe
(the BFF/Dolma decontamination primitive)."""

import duckdb
from pyspark.sql import functions as F

from nci_seronet_proc_data_validator_spark.operators.bloom import (
    bloom_build,
    bloom_contaminated,
    bloom_oracle_sql,
    bloom_probe,
)


def test_bloom_no_false_negatives_and_most_negatives_pass(spark):
    """Every inserted hash hits (Bloom guarantees no false negatives);
    non-members mostly miss at this load factor."""
    members = spark.range(500).select((F.col("id") * 7919).alias("h"))
    bloom = bloom_build(members, "h")
    probe_in = bloom_probe(members, bloom, "h")
    assert probe_in.filter(~F.col("bloom_hit")).count() == 0
    others = spark.range(500, 5000).select((F.col("id") * 7919 + 3).alias("h"))
    fp = bloom_probe(others, bloom, "h").filter("bloom_hit").count()
    assert fp < 45  # ~1% expected at 500*5/2^18 load; wide margin


def test_bloom_matches_duckdb_bit_for_bit(spark):
    """The filter is deterministic and engine-portable: DuckDB rebuilds
    the identical bitset, so hits INCLUDING false positives agree."""
    members = spark.range(300).select((F.col("id") * 104729).alias("h"))
    probes = spark.range(2000).select(
        (F.col("id") % 50).alias("doc_id"), (F.col("id") * 3571).alias("h"))
    got = {(r["doc_id"],): r["n_bloom_hits"] for r in
           bloom_probe(probes, bloom_build(members, "h"), "h")
           .groupBy("doc_id")
           .agg(F.sum(F.col("bloom_hit").cast("long")).alias("n_bloom_hits"))
           .collect()}
    sql = bloom_oracle_sql(
        "SELECT DISTINCT id * 104729 AS h FROM range(300) t(id)",
        "SELECT id % 50 AS doc_id, id * 3571 AS h FROM range(2000) t(id)")
    want = {(int(d),): int(nc) for d, nc in
            duckdb.connect().execute(sql).fetchall()}
    # oracle omits zero-hit docs; fill
    for k in got:
        want.setdefault(k, 0)
    assert got == want


def test_bloom_contaminated_superset_of_exact(spark):
    """Bloom hits are a superset of exact-join contamination hits — the
    fp-bounded scale path never misses a truly contaminated doc."""
    from nci_seronet_proc_data_validator_spark.operators.contamination import (
        benchmark_overlap)
    leak = ("question four what is the capital of france answer paris "
            "question five name the largest planet answer jupiter")
    rows = [(1, "training text " + leak),
            (2, "clean document about spark adaptive execution runtime "
                "with plenty of words and no leaked evaluation data"),
            (3, leak + " plus extra commentary")]
    corpus = spark.createDataFrame(rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, leak)], "doc_id long, text string")
    exact = {r["doc_id"]: r["is_contaminated"]
             for r in benchmark_overlap(corpus, bench, n=5).collect()}
    bloomed = {r["doc_id"]: r["bloom_flag"]
               for r in bloom_contaminated(corpus, bench, n=5).collect()}
    for d, is_c in exact.items():
        if is_c:
            assert bloomed[d], f"doc {d} exact-contaminated but bloom missed"
    assert exact[1] and exact[3] and not exact[2]


def test_bloom_probe_is_broadcast_no_hash_shuffle(spark):
    """Plan guard: the probe joins the broadcast bitset — no Exchange
    keyed on the hash/position columns (the corpus-side promise)."""
    members = spark.range(100).select(F.col("id").alias("h"))
    probes = spark.range(1000).select(
        (F.col("id") % 10).alias("doc_id"), F.col("id").alias("h"))
    plan = (bloom_probe(probes, bloom_build(members, "h"), "h")
            ._jdf.queryExecution().executedPlan().toString())
    assert "BroadcastHashJoin" in plan
    assert "hashpartitioning(pos" not in plan
    assert "hashpartitioning(h" not in plan
