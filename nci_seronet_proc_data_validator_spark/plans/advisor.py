"""Scale-hazard advisor: rules that flag plans and invocations which pass
correctness at test scale but collapse at 100 TB.

Two kinds of rule live here:

1. **Plan rules** (``advise_plan``) — inspect a DataFrame's optimized
   physical plan for shapes that are quadratic or single-task by
   construction: cartesian products, nested-loop joins, unpartitioned
   ordered windows. These are the hazards a 60k-row test never feels and
   a 1000-executor cluster dies on.
2. **Invocation rules** (``warn_fixed_k``) — parameter combinations whose
   cost model goes superlinear on unbounded input. The motivating case is
   SemDeDup with a pinned cluster count: within-cluster pairing is
   O(N²/k), so a compile-time ``k`` over an input with no declared row
   bound is a quadratic time bomb (measured ×13.4/decade at sf1 vs
   ×3.6/decade for auto-k — BENCH_NOTES r8). The reference has no vector
   surface; the analogous reference behavior is its hard-coded per-sheet
   assumptions that only hold at Lambda-batch granularity
   (nci-seronet-data-validator.py:152-159).

Rules warn (``ScaleHazardWarning``) rather than raise: test fixtures and
oracle-pinned callers legitimately use the hazardous forms at known-small
scale, and they silence the rule by DECLARING the bound (``max_rows=``)
instead of suppressing the warning class.
"""

from __future__ import annotations

import re
import warnings

from pyspark.sql import DataFrame

__all__ = ["ScaleHazardWarning", "advise_plan",
           "warn_fixed_k", "check_declared_bound",
           "warn_nonsplittable_csv", "PAIR_BUDGET",
           "NONSPLITTABLE_CSV_BUDGET"]


class ScaleHazardWarning(UserWarning):
    """An invocation or plan shape that is correct at test scale but
    superlinear / single-task at production scale."""


#: Within-cluster candidate-pair budget above which a DECLARED bound still
#: warns: N^2/k pairs at ~100 bytes of shuffled key+vector state each is
#: ~200 GB of pair traffic at 2e9 — roughly where one skewed cluster stops
#: fitting a single executor's scratch space even with AQE skew-split.
PAIR_BUDGET = 2_000_000_000


def warn_fixed_k(op: str, k: int | None, max_rows: int | None,
                 pair_budget: int = PAIR_BUDGET) -> str | None:
    """Invocation rule: pinned cluster count over unbounded input.

    - ``k`` fixed (not None) and no declared row bound → warn: pairing is
      O(N²/k) with a compile-time denominator; the caller should either
      use the auto-k form (``k=None``, k = max(8, isqrt(N)), O(N^1.5)) or
      declare the bound they are relying on via ``max_rows=``.
    - ``k`` fixed with a declared bound → warn only when the implied pair
      count ``max_rows²/k`` exceeds ``pair_budget`` (the bound makes the
      cost computable, so compute it).
    - ``k=None`` (auto-scaled) → no hazard.

    Returns the warning message (also emitted via ``warnings.warn``) or
    None when the invocation is clean — callers and tests can assert on
    the return value without a ``pytest.warns`` block.
    """
    if k is None or k < 1:     # k < 1 is invalid; the operator raises
        return None
    if max_rows is None:
        msg = (f"{op}: fixed k={k} over an input with no declared row "
               f"bound — within-cluster pairing is O(N^2/{k}) and grows "
               f"quadratically with the corpus (measured x13.4/decade vs "
               f"x3.6 for auto-k; BENCH_NOTES r8). Use k=None to scale k "
               f"with the corpus, or declare the bound you rely on with "
               f"max_rows=.")
        warnings.warn(msg, ScaleHazardWarning, stacklevel=3)
        return msg
    pairs = max_rows * max_rows // max(k, 1)
    if pairs > pair_budget:
        msg = (f"{op}: fixed k={k} at declared max_rows={max_rows} "
               f"implies ~{pairs:.2e} candidate pairs "
               f"(budget {pair_budget:.0e}) — raise k, use k=None, or "
               f"pre-partition the corpus.")
        warnings.warn(msg, ScaleHazardWarning, stacklevel=3)
        return msg
    return None


def check_declared_bound(op: str, max_rows: int | None,
                         actual_rows: int) -> str | None:
    """Post-hoc validation of a ``max_rows`` trust declaration.

    ``max_rows`` is deliberately TRUSTED at call time (validating it
    would cost the count job whose absence is the declaration's point).
    But when an operator later learns the true N anyway — semdedup's
    auto-k ``emb.count()``, a profiler pass, the orchestrator — the
    check is free: assert the declaration there and warn on breach,
    turning the audit trail into a checked one at zero added jobs.

    Returns the warning message (also emitted) or None when the
    declaration holds (or none was made).
    """
    if max_rows is None or actual_rows <= max_rows:
        return None
    msg = (f"{op}: declared max_rows={max_rows} but the input actually "
           f"has {actual_rows} rows — the bound the scale advisor "
           f"trusted is FALSE. Fix the declaration (a false bound "
           f"disarms the advisor, not the blowup).")
    warnings.warn(msg, ScaleHazardWarning, stacklevel=3)
    return msg


#: A single multiLine CSV above this size parses on ONE task (multiLine
#: makes the file non-splittable). 256 MB = 2× the default
#: ``spark.sql.files.maxPartitionBytes``: below it a splittable read
#: would use ≤2 tasks anyway, so single-task parsing costs at most one
#: lost split; above it the lost parallelism grows linearly with the
#: file.
NONSPLITTABLE_CSV_BUDGET = 256 * 1024 * 1024


def warn_nonsplittable_csv(paths: "str | list[str]",
                           budget_bytes: int = NONSPLITTABLE_CSV_BUDGET
                           ) -> list[str]:
    """Invocation rule: oversized single-file multiLine CSV reads.

    Every sheet reader parses with ``multiLine=true``
    (``sources.readers.sheet_csv_options``), which makes each CSV file
    non-splittable — one task parses the whole file. Fine for
    submission sheets (parallelism comes from MANY files); a single
    machine-generated multi-GB export silently serializes onto one
    core. This rule stats the resolved input files and warns for each
    one over ``budget_bytes``; the remedy is upstream: pre-split the
    file into several sheets, or convert it to a splittable format
    before it reaches the validator.

    Local-filesystem stat only (globs and directories resolved one
    level); non-local URIs are skipped — on an object store the driver
    cannot cheaply stat here, and the cluster's own input-split metrics
    surface the same hazard.
    """
    import glob as _glob
    import os

    path_list = [paths] if isinstance(paths, str) else list(paths)
    files: list[str] = []
    for p in path_list:
        if "://" in p and not p.startswith("file://"):
            continue
        p = p.removeprefix("file://")
        for hit in (_glob.glob(p) if _glob.has_magic(p) else [p]):
            if os.path.isdir(hit):
                files.extend(os.path.join(hit, f)
                             for f in os.listdir(hit)
                             if not f.startswith((".", "_")))
            elif os.path.isfile(hit):
                files.append(hit)
    msgs: list[str] = []
    for f in files:
        try:
            size = os.path.getsize(f)
        except OSError:
            continue
        if size > budget_bytes:
            msg = (f"non-splittable-csv: {f} is {size / 1024**2:.0f} MiB "
                   f"and multiLine CSV parses each file on ONE task "
                   f"(budget {budget_bytes / 1024**2:.0f} MiB). Pre-split "
                   f"it into several files, or convert it upstream to a "
                   f"splittable format.")
            warnings.warn(msg, ScaleHazardWarning, stacklevel=3)
            msgs.append(msg)
    return msgs


# -- plan rules ------------------------------------------------------------

_WINDOW_RE = re.compile(r"\bWindow\b")


def _bracket_groups(line: str) -> list[str]:
    """Top-level ``[...]`` groups of a plan line (nested brackets folded)."""
    groups, depth, start = [], 0, -1
    for i, ch in enumerate(line):
        if ch == "[":
            if depth == 0:
                start = i
            depth += 1
        elif ch == "]":
            depth -= 1
            if depth == 0:
                groups.append(line[start + 1:i])
    return groups


def _plan_string(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()  # noqa: SLF001


_SINGLE_ROW_RE = re.compile(
    r"(?:HashAggregate|SortAggregate|ObjectHashAggregate)"
    r"\((?:keys|key)=\[\]"          # global aggregate → exactly one row
    r"|GlobalLimit 1[,\s)]")        # LIMIT 1


def _nested_loop_hazards(df: DataFrame) -> list[str]:
    """Flag ``BroadcastNestedLoopJoin`` nodes UNLESS one side is provably
    single-row (a global aggregate or LIMIT 1 subtree) — the
    scalar-subquery pattern (join a 1-row threshold/total against every
    row) is the one legitimate BNLJ at scale: the "nested loop" is one
    probe per stream row. Everything else is O(|stream| × |broadcast|)
    comparisons and flagged."""
    hazards: list[str] = []
    stack = [df._jdf.queryExecution().executedPlan()]  # noqa: SLF001
    while stack:
        node = stack.pop()
        if "AdaptiveSparkPlan" in node.nodeName():
            # AQE's wrapper is a LEAF node (children() is empty) holding
            # the real tree in a field — without piercing it the whole
            # traversal is vacuous.
            try:
                stack.append(node.executedPlan())
            except Exception:      # pre-execution: fall back
                stack.append(node.initialPlan())
            continue
        ch = node.children()
        kids = [ch.apply(i) for i in range(ch.size())]
        if "BroadcastNestedLoopJoin" in node.nodeName():
            # Judge the BROADCAST side only (the child rooted at a
            # BroadcastExchange): a global aggregate buried in the STREAM
            # side (e.g. an earlier scalar-subquery enrichment) must not
            # whitelist a multi-row broadcast side.
            bcast = [k for k in kids
                     if "BroadcastExchange" in k.nodeName()
                     or "BroadcastQueryStage" in k.nodeName()]
            judged = bcast or kids
            benign = any(_SINGLE_ROW_RE.search(k.toString()) for k in judged)
            if not benign:
                hazards.append(
                    "nested-loop-join: BroadcastNestedLoopJoin with a "
                    "multi-row broadcast side — every stream row scans "
                    "the full broadcast side. Add an equi-key, or band/"
                    "block the condition (operators/interval, "
                    "operators/linkage).")
        stack.extend(kids)
    return hazards


def advise_plan(df: DataFrame, warn: bool = True) -> list[str]:
    """Scan ``df``'s physical plan for scale hazards; return the list of
    hazard messages (empty = clean). With ``warn=True`` each is also
    emitted as a ``ScaleHazardWarning``.

    Rules:

    - **cartesian-product** — ``CartesianProduct`` in the plan: O(|L|·|R|)
      rows materialized; at 100 TB this never finishes. Usually a missing
      join key or a non-equi condition that should be banded/blocked
      (see ``operators/interval``, ``operators/linkage``).
    - **nested-loop-join** — ``BroadcastNestedLoopJoin``: every stream row
      scans the whole broadcast side; tolerable only when the broadcast
      side is O(1) rows.
    - **global-ordered-window** — a ``Window`` with an ORDER BY but no
      PARTITION BY: Spark routes ALL rows through a single task
      (one ``Exchange SinglePartition``). Fine for a final top-k style
      presentation; fatal mid-pipeline. Detection mirrors
      tests/test_plan_shape.py: a partitioned window prints 3 top-level
      bracket groups; a global ordered one prints 2 with ASC/DESC in the
      trailing group.
    """
    if df.isStreaming:
        # no executed plan exists before a sink starts the query; the
        # batch twin of the same transformation is the auditable form
        return []
    plan = _plan_string(df)
    hazards: list[str] = []
    if "CartesianProduct" in plan:
        hazards.append(
            "cartesian-product: CartesianProduct in plan — O(|L|*|R|) "
            "rows; add an equi-key or band/block the condition.")
    hazards.extend(_nested_loop_hazards(df))
    for line in plan.splitlines():
        if not _WINDOW_RE.search(line):
            continue
        groups = _bracket_groups(line)
        if len(groups) == 2 and re.search(r"\b(ASC|DESC)\b", groups[-1]):
            hazards.append(
                "global-ordered-window: Window with ORDER BY and no "
                "PARTITION BY — all rows through one task "
                f"({line.strip()[:100]}). Partition the window or use a "
                "two-level (per-partition then merge) form.")
            break
    if warn:
        for h in hazards:
            warnings.warn(h, ScaleHazardWarning, stacklevel=2)
    return hazards
