"""Dump .explain("formatted") for every bench query to plans/<tag>/.

Usage: python tools/dump_plans.py <tag> [suffix] [query ...]

Writes plans/<tag>/<query>_<suffix>.txt (suffix defaults to "before").
Plans are ANALYZED (not executed) — this captures plan shape (Exchange
count, join strategy, PushedFilters/ReadSchema, codegen spans,
BatchEvalPython nodes), which is what the optimization evidence needs.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    if not args:
        print("usage: dump_plans.py <tag> [suffix] [query ...]")
        return 2
    tag = args[0]
    suffix = args[1] if len(args) > 1 else "before"
    only = set(args[2:])

    from bench import BENCH_QUERIES
    from nci_seronet_proc_data_validator_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("dump_plans")

    out_dir = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "plans", tag)
    os.makedirs(out_dir, exist_ok=True)

    for name, fn in BENCH_QUERIES.items():
        if only and name not in only:
            continue
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        try:
            df = fn(spark, sf_dir)
            txt = df._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        except Exception as e:  # keep going; record the failure
            txt = f"ERROR building plan: {type(e).__name__}: {e}\n"
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
