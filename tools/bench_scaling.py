"""Measure how the heavy queries scale with data size.

    python tools/bench_scaling.py [--dirs d1 d2 ...] [--queries q1 ...]
        [--n 2] [--cpus 32] [--in-session]

Runs each query (default: the six most expensive suite queries) at each
scale dir (default: sf0.01, sf0.1, and the locally generated
``.scale/sf1`` — build it first with ``tools/gen_scale.py``), best-of-n
with cold cache per sample, full execution through the noop sink.

Prints one JSON line per (dir, query) and a final summary with the
per-decade scaling exponent  alpha = log(t_hi / t_lo) / log(rows_hi /
rows_lo)  between the two largest dirs: alpha ≈ 1 is linear in rows,
alpha < 1 means fixed per-query overhead still dominates, alpha > 1 is
super-linear and needs a plan explanation.

**Fresh JVM per scale dir is the DEFAULT** (SCALING_r10 lesson): running
the big-dir cells late in a long-lived JVM inflates them ~50% (sf10
rulebook best-of-4 480 s after four sf1 samples vs 319 s fresh —
codegen/broadcast/heap accumulation across repeated 540-expression
compilations), which r9 misread as alpha 0.94/0.95 where the clean
protocol measures 0.85/0.81. The parent process therefore spawns one
subprocess (one JVM, its own warmup) per dir and fits alpha across
their outputs. ``--in-session`` reverts to the single-JVM sweep — only
for quick comparative smoke, never for reported alphas.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = ["rulebook_full", "dedup_keep_canonical", "substr_dup_pairs", "pq_ann",
         "data_profile", "graph_metrics"]


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dirs", nargs="*",
                    default=["/root/testdata/sf0.01", "/root/testdata/sf0.1",
                             os.path.join(os.path.dirname(
                                 os.path.dirname(os.path.abspath(__file__))),
                                 ".scale", "sf1")])
    ap.add_argument("--queries", nargs="*", default=HEAVY)
    ap.add_argument("--n", type=int, default=2)
    ap.add_argument("--cpus", type=int, default=32)
    ap.add_argument("--in-session", action="store_true",
                    help="single JVM for all dirs (legacy r9 protocol; "
                         "inflates late big-dir cells ~50%% — do not "
                         "report alphas from this mode)")
    args = ap.parse_args()

    if not args.in_session:
        return _fresh_jvm_sweep(args)

    from nci_seronet_proc_data_validator_spark import get_spark
    from nci_seronet_proc_data_validator_spark.driver_queries import QUERIES

    spark = get_spark("bench_scaling", cpus=args.cpus)

    # warm codegen/JIT on the smallest scale so cold-compile cost is not
    # attributed to the first (dir, query) cell
    warm = "/root/testdata/sf0.001"
    for q in args.queries:
        try:
            QUERIES[q][0](spark, warm).write.format("noop") \
                .mode("overwrite").save()
        except Exception as e:  # pragma: no cover - warmup best-effort
            print(f"warmup {q}: {e}", file=sys.stderr)

    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    for d in args.dirs:
        rows[d] = (spark.read.parquet(os.path.join(d, "lineitem.parquet"))
                   .count())
        for q in args.queries:
            # VOLUME warmup at the timed dir (untimed): the sf0.001 warm
            # compiles the plan but pushes too few rows for HotSpot's
            # tiered JIT to reach C2 on the generated code — measured
            # r12 on substr_dup_pairs at sf1, samples fell 216 -> 169 ->
            # 14 s across the first three runs of an identical cached
            # plan. One full-volume run retires the compilation tiers so
            # the timed samples measure the engine, not the JIT ramp.
            spark.catalog.clearCache()
            try:
                QUERIES[q][0](spark, d).write.format("noop") \
                    .mode("overwrite").save()
            except Exception as e:  # pragma: no cover
                print(f"volume warmup {q}@{d}: {e}", file=sys.stderr)
            samples = []
            for _ in range(args.n):
                spark.catalog.clearCache()
                t0 = time.time()
                QUERIES[q][0](spark, d).write.format("noop") \
                    .mode("overwrite").save()
                samples.append(time.time() - t0)
            best = round(min(samples), 3)
            results.setdefault(q, {})[d] = best
            print(json.dumps({"dir": d, "query": q, "best": best,
                              "samples": [round(s, 3) for s in samples]}),
                  flush=True)
        print(json.dumps({"dir": d, "rows": rows[d]}), flush=True)

    if len(args.dirs) < 2 or rows[args.dirs[-1]] == rows[args.dirs[-2]]:
        # nothing to fit an exponent against — still emit the raw cells
        print(json.dumps({"metric": "scaling", "rows": {
            os.path.basename(d): rows[d] for d in args.dirs},
            "queries": {q: {"t": {os.path.basename(d): results[q][d]
                                  for d in args.dirs}}
                        for q in args.queries},
            "note": "alpha omitted: need two dirs with distinct sizes"}))
        return 0
    lo, hi = args.dirs[-2], args.dirs[-1]
    decade = math.log(rows[hi] / rows[lo])
    summary = {}
    for q in args.queries:
        t_lo, t_hi = results[q][lo], results[q][hi]
        summary[q] = {
            "t": {os.path.basename(d): results[q][d] for d in args.dirs},
            "ratio_last_decade": round(t_hi / t_lo, 2),
            "alpha": round(math.log(t_hi / t_lo) / decade, 2),
        }
    print(json.dumps({"metric": "scaling", "rows": {
        os.path.basename(d): rows[d] for d in args.dirs},
        "queries": summary, "protocol": "in-session"}, indent=2))
    return 0


def _fresh_jvm_sweep(args) -> int:
    """One subprocess (one JVM, own warmup) per scale dir; alpha fitted
    in the parent across the children's per-cell lines."""
    import subprocess

    results: dict[str, dict[str, float]] = {}
    rows: dict[str, int] = {}
    for d in args.dirs:
        cmd = [sys.executable, os.path.abspath(__file__), "--in-session",
               "--dirs", d, "--queries", *args.queries,
               "--n", str(args.n), "--cpus", str(args.cpus)]
        proc = subprocess.run(cmd, capture_output=True, text=True)
        for line in proc.stdout.splitlines():
            if not line.startswith("{"):
                continue
            o = json.loads(line)
            if "query" in o and "best" in o:
                results.setdefault(o["query"], {})[d] = o["best"]
                print(line, flush=True)
            elif "rows" in o and isinstance(o.get("rows"), int):
                rows[d] = o["rows"]
        if proc.returncode != 0:
            print(f"child for {d} exited {proc.returncode}:\n"
                  f"{proc.stderr[-2000:]}", file=sys.stderr)
            return proc.returncode
    if len(args.dirs) < 2 or rows[args.dirs[-1]] == rows[args.dirs[-2]]:
        print(json.dumps({"metric": "scaling", "rows": {
            os.path.basename(d): rows[d] for d in args.dirs},
            "queries": {q: {"t": {os.path.basename(d): results[q][d]
                                  for d in args.dirs}}
                        for q in args.queries},
            "protocol": "fresh-jvm-per-dir",
            "note": "alpha omitted: need two dirs with distinct sizes"}))
        return 0
    lo, hi = args.dirs[-2], args.dirs[-1]
    decade = math.log(rows[hi] / rows[lo])
    summary = {}
    for q in args.queries:
        t_lo, t_hi = results[q][lo], results[q][hi]
        summary[q] = {
            "t": {os.path.basename(d): results[q][d] for d in args.dirs},
            "ratio_last_decade": round(t_hi / t_lo, 2),
            "alpha": round(math.log(t_hi / t_lo) / decade, 2),
        }
    print(json.dumps({"metric": "scaling", "rows": {
        os.path.basename(d): rows[d] for d in args.dirs},
        "queries": summary, "protocol": "fresh-jvm-per-dir"}, indent=2))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
