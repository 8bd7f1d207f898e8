"""Benchmark harness: a fixed tuple of registered driver queries
(``driver_queries.QUERIES``) at $SPARK_GRAFT_SF_DIR (default sf0.1) on
``get_spark``'s local[N] ($SPARK_GRAFT_CPUS, else the usable cores).

    python bench.py
    SPARK_GRAFT_BENCH_N=1 SPARK_GRAFT_BENCH_ONLY=rulebook_full python bench.py

Each query runs to completion through the noop sink (full pipeline,
nothing collected to the driver), best and median of
$SPARK_GRAFT_BENCH_N samples (default 5). The last stdout line is one
JSON object: {"metric", "value" (sum of the bests, sec), "unit",
"queries" (best per query), "queries_median", "sf", "samples"}.
"""

from __future__ import annotations

import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from nci_seronet_proc_data_validator_spark.driver_queries import QUERIES
from nci_seronet_proc_data_validator_spark.session import get_spark

# The registered names the suite times, in order: a subset of QUERIES.
# streaming_parity and jdbc_roundtrip run side effects inside their
# callables and stay out.
BENCH_QUERIES = (
    "c1_c4_checks", "c5_c8_checks", "j1_enrich_revenue",
    "j3_presence_patterns", "a2_crosstab", "dedup_normalized",
    "minhash_lsh_pairs", "embedding_ann", "events_windows", "sessionize",
    "temporal_joins", "quality_profile", "bm25_topk",
    "dedup_keep_canonical", "tpch_q1", "tpch_q3", "tpch_q5",
    "rulebook_full", "doc_scoring", "boilerplate_removal",
    "vocab_pipeline", "semdedup", "bpe_train", "substr_dup_pairs",
    "pq_ann", "sketch_profile", "fuzzy_join", "merge_upsert",
    "graph_metrics", "data_profile",
)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    # SPARK_GRAFT_BENCH_N samples per query; each sample is a full
    # cold-cache run (clearCache first), so a query that persists an
    # intermediate never gets a later sample for free.
    n = int(os.environ.get("SPARK_GRAFT_BENCH_N", "5"))
    # comma-separated allowlist for isolated reruns; unset = full suite
    only = {q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "")
            .split(",") if q}
    unknown = only - set(BENCH_QUERIES)
    if unknown:
        raise SystemExit(f"SPARK_GRAFT_BENCH_ONLY names unknown queries: "
                         f"{sorted(unknown)} (known: "
                         f"{sorted(BENCH_QUERIES)})")
    names = [q for q in BENCH_QUERIES if not only or q in only]

    spark = get_spark("bench")
    # Warm the JVM: run the same plans at the smallest scale factor first
    # so codegen/JIT compilation is excluded from the timed runs.
    warm_dir = "/root/testdata/sf0.001"
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in names:
            try:
                QUERIES[name][0](spark, warm_dir).write.format("noop") \
                    .mode("overwrite").save()
            except Exception:
                pass

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    for name in names:
        samples = []
        for _ in range(n):
            spark.catalog.clearCache()
            t0 = time.time()
            df = QUERIES[name][0](spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples.append(time.time() - t0)
        samples.sort()
        timings[name] = round(samples[0], 3)
        medians[name] = round(samples[len(samples) // 2], 3)
        # localCheckpoint blocks (semdedup/graph/kmeans) are released by
        # the ContextCleaner only after Python drops the plan refs; left
        # to accumulate they slowed later queries up to 12x at sf1
        # (BENCH_NOTES r8). Collect both heaps between queries.
        del df
        gc.collect()
        spark.sparkContext._jvm.System.gc()

    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    # A filtered run's total covers only the allowlisted queries: stamp
    # the filter so it cannot be read as a full-suite total.
    partial = {"only": sorted(only)} if only else {}
    print(json.dumps({
        "metric": "bench_suite_partial" if only else "bench_suite_total",
        **partial,
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "queries_median": medians,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "samples": n,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
