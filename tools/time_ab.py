"""Same-session A/B timing of driver queries across two CODE TREES.

    git worktree add /tmp/r7tree <r7-sha>
    python tools/time_ab.py --trees r9=/root/repo r7=/tmp/r7tree \
        --queries vocab_pipeline events_sliding --n 5

Verdict-r8 item 1: a round-over-round drift read off two different bench
runs can't separate code from environment (the documented 1.09-1.24 env
band). This harness removes the environment axis: ONE process, ONE Spark
session (same JVM, same codegen cache, same machine state), samples
ALTERNATING between arms so slow drift in the box hits both arms
equally.

Mechanics: each tree's ``driver_queries`` module is imported with the
tree at ``sys.path[0]``, the query callables are captured, then the
package is purged from ``sys.modules`` before the next tree loads. The
captured function objects keep their own module globals alive, so both
versions coexist; only the FIRST tree's ``get_spark`` builds the
session, and every arm runs against it.

Prints one JSON line per (query, tree) with best/median over n
interleaved samples through the noop sink (cold cache per sample).
"""
from __future__ import annotations

import argparse
import importlib
import json
import os
import statistics
import sys
import time

PKG = "nci_seronet_proc_data_validator_spark"


def _pkg_modules() -> dict:
    return {m: sys.modules[m] for m in list(sys.modules)
            if m == PKG or m.startswith(PKG + ".")}


def _load_tree(path: str, queries: list[str]):
    """Import ``driver_queries`` from ``path``; return ({name: fn},
    module snapshot). The snapshot matters because query functions use
    FUNCTION-BODY lazy imports (``from ...operators.x import y`` inside
    the callable), which resolve against ``sys.modules`` at CALL time —
    without re-installing the tree's own modules around each run, tree
    2's queries would silently call tree 1's operators (r11 fix: the
    r10 tree's ``q_semdedup_pinned`` crashed on the r9 tree's
    ``semdedup`` signature, proving the leak)."""
    path = os.path.abspath(path)
    for m in list(_pkg_modules()):
        del sys.modules[m]
    sys.path.insert(0, path)
    try:
        dq = importlib.import_module(PKG + ".driver_queries")
        assert dq.__file__ and dq.__file__.startswith(path), (
            f"resolved {dq.__file__}, wanted a module under {path}")
        out = {}
        for q in queries:
            fn = getattr(dq, f"q_{q}", None)
            if fn is None:
                fn = dq.QUERIES[q][0]
            out[q] = fn
        return out, _pkg_modules()
    finally:
        sys.path.remove(path)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--trees", nargs=2, required=True,
                    metavar="LABEL=PATH")
    ap.add_argument("--queries", nargs="+", required=True)
    ap.add_argument("--n", type=int, default=5)
    ap.add_argument("--sf", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--cpus", type=int,
                    help="local[N] (default: get_spark's)")
    args = ap.parse_args()

    arms = {}   # label -> {query: fn}
    snaps = {}  # label -> package-module snapshot
    paths = {}
    labels = []
    for spec in args.trees:
        label, _, path = spec.partition("=")
        labels.append(label)
        arms[label], snaps[label] = _load_tree(path, args.queries)
        paths[label] = os.path.abspath(path)

    def activate(lb: str) -> None:
        """Install tree ``lb``'s package modules and path so CALL-TIME
        lazy imports (function-body ``from ... import``) resolve inside
        the right tree — without this, every arm's lazy imports hit
        whichever tree loaded last (r11 fix)."""
        for m in list(_pkg_modules()):
            del sys.modules[m]
        sys.modules.update(snaps[lb])
        sys.path[:] = [p for p in sys.path if p not in paths.values()]
        sys.path.insert(0, paths[lb])

    # session from the FIRST tree (confs identical across rounds; a conf
    # difference would itself be a code change worth flagging).
    activate(labels[0])
    _pkg = sys.modules[PKG]
    assert _pkg.__file__ and _pkg.__file__.startswith(paths[labels[0]]), (
        f"session package resolved to {_pkg.__file__}")
    spark = _pkg.get_spark("time_ab", cpus=args.cpus)

    samples: dict[tuple[str, str], list[float]] = {
        (q, lb): [] for q in args.queries for lb in labels}

    def run(q: str, lb: str) -> float:
        activate(lb)
        try:
            spark.catalog.clearCache()
            t0 = time.time()
            arms[lb][q](spark, args.sf).write.format("noop") \
                .mode("overwrite").save()
            return time.time() - t0
        finally:
            # adopt any modules the call lazily imported, so the next
            # activation of this tree reuses them
            snaps[lb] = _pkg_modules()

    # warmup: one pass per (query, arm) so codegen/JIT lands outside
    # sample 0 of either arm
    for q in args.queries:
        for lb in labels:
            run(q, lb)

    for i in range(args.n):
        for q in args.queries:
            # flip arm order each round: any position effect (cache
            # residue, gc debt) alternates sides instead of biasing one
            for lb in (labels if i % 2 == 0 else labels[::-1]):
                samples[(q, lb)].append(run(q, lb))

    for q in args.queries:
        for lb in labels:
            s = samples[(q, lb)]
            print(json.dumps({
                "query": q, "tree": lb,
                "best": round(min(s), 3),
                "median": round(statistics.median(s), 3),
                "samples": [round(x, 3) for x in s]}), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
