"""Benchmark of the SeroNet validator engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S \\
        --trace 0|1 [--size full|smoke]

One process runs one workload on ``local[nproc]``, closed loop with one
client: it generates the workload's inputs from the seed (``gen.py``),
sets up three times (session start, reference data, input staging),
makes one cold run, then warm runs: at least ``MIN_WARM`` of the
workload, and more until ``--seconds`` have passed.
Every run's output is checked. The last line of stdout is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` — the
end-to-end metrics with ``--trace 0``, the per-layer ones with
``--trace 1`` (see README.md). The traced run also writes its spans to
``.perfbench/traces/``.

Everything the run writes — inputs, Spark local dirs, warehouse, Derby
and temp files — stays under ``.perfbench/`` at the repository root and
is removed at exit, apart from the trace files.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shlex
import shutil
import statistics
import sys
import threading
import time
import zlib
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")

# workload name -> generator kind
WORKLOADS = {"rulebook_800p": "rulebook", "burst_24": "burst"}
SETUPS = 3
SEP, NULL = "\x1f", "\x00"

# cold_s is printed, not reported: one sample per process, it spreads
# more between processes than any bound a metric may have
END_TO_END_UNITS = {"setup_s": "s", "wall_s": "s", "peak_rss_mb": "MB"}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "sources.load_s": "s", "sources.files": "count", "sources.jobs": "count",
    "plans.construct_s": "s", "plans.py4j_calls": "count",
    "catalyst.plan_s": "s",
    "submission.validate_s": "s", "submission.jobs": "count",
    "submission.py4j_calls": "count", "submission.py4j_wait_s": "s",
    "streaming.drain_s": "s", "streaming.epochs": "count",
    "streaming.add_batch_ms": "ms", "streaming.trigger_ms": "ms",
    "streaming.complete_cb_s": "s",
    "orchestrate.compile_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.task_s": "s", "exec.cpu_s": "s", "exec.cpu_ratio": "ratio",
    "exec.shuffle_write_mb": "MB", "exec.shuffle_read_mb": "MB",
    "exec.spill_mb": "MB", "exec.input_mb": "MB",
    "sinks.write_s": "s", "sinks.files": "count", "sinks.mb_written": "MB",
    "py4j.calls": "count", "py4j.wait_s": "s",
    "trace.overhead_s": "s",
}


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def isolate(work: str) -> None:
    """Pin the engine to the available cores and keep every file Spark,
    Derby, the JVM and Python write under ``work``."""
    for d in ("local", "warehouse", "derby", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    java_opts = (f"-Dderby.system.home={os.path.join(work, 'derby')} "
                 f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ.update({
        # q_rulebook_full sizes its repartition from this (default 32)
        "SPARK_GRAFT_CPUS": str(nproc()),
        # the package defaults to an 8 GB driver heap; these inputs need
        # a fraction of it
        "SPARK_DRIVER_MEMORY": "2g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "PYTHONDONTWRITEBYTECODE": "1",
        "PYSPARK_SUBMIT_ARGS": " ".join([
            "--conf", shlex.quote("spark.sql.warehouse.dir="
                                  + os.path.join(work, "warehouse")),
            "--driver-java-options", shlex.quote(java_opts),
            "pyspark-shell"]),
    })
    sys.dont_write_bytecode = True


def crc_row(values) -> int:
    return zlib.crc32(SEP.join(NULL if v is None else str(v)
                               for v in values).encode())


def digest_column(F, cols):
    """Spark twin of ``crc_row``: an order-insensitive findings digest is
    (row count, sum of per-row CRC32)."""
    return F.crc32(F.concat_ws(SEP, *[
        F.coalesce(F.col(c).cast("string"), F.lit(NULL)) for c in cols]))


def rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_size(path: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


# ------------------------------------------------------------ workloads
class Rulebook:
    """Registered query ``rulebook_full`` over the generated base tables,
    written to the noop sink. Every run's findings digest (taken with
    ``observe`` on the same execution) must equal the DuckDB oracle's."""

    # the first warm run still pays JIT work on the giant generated
    # projection (10-40 % above the later ones); two samples halve its
    # weight in the median
    MIN_WARM = 2

    def __init__(self, gen_dir: str, seed: int) -> None:
        self.gen_dir = gen_dir
        self.data = None

    def prepare(self) -> None:
        import duckdb

        from nci_seronet_proc_data_validator_spark.driver_queries import (
            QUERIES,
        )
        from nci_seronet_proc_data_validator_spark.errors import (
            FINDING_COLUMNS,
        )
        con = duckdb.connect()
        for f in sorted(os.listdir(self.gen_dir)):
            name = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                        f"'{os.path.join(self.gen_dir, f)}')")
        cur = con.execute(QUERIES["rulebook_full"][1])
        names = [d[0] for d in cur.description]
        idx = [names.index(c) for c in FINDING_COLUMNS]
        rows = cur.fetchall()
        con.close()
        self.expected = (len(rows), sum(crc_row([r[i] for i in idx])
                                        for r in rows))
        self.query = QUERIES["rulebook_full"][0]

    def setup(self, spark, stage_dir: str) -> None:
        # the query derives its ICD-10 dictionary from ``part`` itself
        self.data = os.path.join(stage_dir, "data")
        shutil.copytree(self.gen_dir, self.data)

    def run(self, spark, tracer, k: int, run_dir: str) -> dict:
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        from nci_seronet_proc_data_validator_spark.errors import (
            FINDING_COLUMNS,
        )
        obs = Observation(f"digest{k}")
        t0 = time.perf_counter()
        with tracer.span("plans.q_rulebook_full", "plans"):
            df = self.query(spark, self.data)
        df = df.observe(obs, F.count(F.lit(1)).alias("n"),
                        F.sum(digest_column(F, FINDING_COLUMNS)).alias("h"))
        with tracer.span("catalyst.executedPlan", "catalyst"):
            df._jdf.queryExecution().executedPlan()
        with tracer.span("exec.noop_write", "exec"):
            df.write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        got = obs.get
        ok = (got["n"], got["h"]) == self.expected
        return {"wall": wall, "attempted": 1, "failed": 0 if ok else 1,
                "extra": {}}


class Burst:
    """24 same-schema submissions staged before one availableNow drain of
    the completeness-gated watcher. Every run must complete all of them
    with no failure and repeat the cold run's findings digest. In the
    traced run, one seeded sample must also match a serial
    ``SubmissionValidator.validate`` (``check``)."""

    DECLARED = ("submission.csv", "demographic.csv", "biospecimen.csv")
    MIN_WARM = 1

    def __init__(self, gen_dir: str, seed: int) -> None:
        self.gen_dir = gen_dir
        self.landing = os.path.join(gen_dir, "landing")
        self.subs = sorted(os.listdir(self.landing))
        self.sample = random.Random(seed).choice(self.subs)
        self.sample_rows = None
        self.digest = None

    def prepare(self) -> None:
        from nci_seronet_proc_data_validator_spark.streaming import (
            validate_stream_submissions,
        )
        self.drain = validate_stream_submissions

    def setup(self, spark, stage_dir: str) -> None:
        from nci_seronet_proc_data_validator_spark.sources.catalog import (
            static_expected_columns,
        )
        from nci_seronet_proc_data_validator_spark.sources.icd10 import (
            load_icd10_codes,
        )
        import gen
        self.catalog = static_expected_columns()
        self.icd = load_icd10_codes(
            spark, os.path.join(self.gen_dir, gen.ICD10_FILE)).cache()
        self.icd.count()
        self.cbc = dict(gen.CBC_MAP)
        shutil.copytree(self.landing, os.path.join(stage_dir, "landing"))

    def run(self, spark, tracer, k: int, run_dir: str) -> dict:
        from pyspark.sql import functions as F

        from nci_seronet_proc_data_validator_spark.errors import (
            FINDING_COLUMNS,
        )
        landing = os.path.join(run_dir, "landing")
        out = os.path.join(run_dir, "out")
        cp = os.path.join(run_dir, "checkpoint")
        shutil.copytree(self.landing, landing)
        done: set = set()
        failed: dict = {}
        cb_at: list = []

        def on_complete(results, epoch_id):
            cb_at.append(time.perf_counter())
            done.update(results)

        t0 = time.perf_counter()
        with tracer.span("streaming.drain", "streaming"):
            q = self.drain(spark, landing, cp, set(self.DECLARED), out,
                           cbc_map=self.cbc, icd10_codes=self.icd,
                           expected_columns=self.catalog,
                           complete_cb=on_complete,
                           failed_cb=lambda f, e: failed.update(f))
            with tracer.untimed():
                q.awaitTermination()
        drain = time.perf_counter() - t0
        wall = (max(cb_at) if cb_at else time.perf_counter()) - t0

        with tracer.untimed():
            progress = q.recentProgress
            cols = FINDING_COLUMNS + ["__submission_id"]
            got = spark.read.parquet(os.path.join(out, "findings"))
            r = got.agg(F.count(F.lit(1)).alias("n"),
                        F.sum(digest_column(F, cols)).alias("h")).first()
            digest = (r["n"], r["h"])
            if self.sample_rows is None:
                self.sample_rows = Counter(
                    tuple(x) for x in got.filter(
                        F.col("__submission_id") == self.sample)
                    .select(*FINDING_COLUMNS).collect())
        if self.digest is None:
            self.digest = digest
        files, size = tree_size(out)
        missing = len(set(self.subs) - done)
        bad = missing + len(failed)
        if digest != self.digest:
            bad = len(self.subs)
        dur = [p.durationMs for p in progress]
        extra = {
            "streaming.drain_s": drain,
            "streaming.epochs": len(progress),
            "streaming.add_batch_ms": sum(d.get("addBatch", 0) for d in dur),
            "streaming.trigger_ms": sum(d.get("triggerExecution", 0)
                                        for d in dur),
            "streaming.complete_cb_s": wall if cb_at else 0.0,
            "sinks.files": files,
            "sinks.mb_written": size / (1024.0 * 1024.0),
        }
        return {"wall": wall, "attempted": len(self.subs), "failed": bad,
                "extra": extra}

    def check(self, spark) -> bool:
        """The sampled submission, validated serially (the CLI's
        single-directory mode), must yield the drain's findings."""
        import glob

        from nci_seronet_proc_data_validator_spark.errors import (
            FINDING_COLUMNS,
        )
        from nci_seronet_proc_data_validator_spark.sources import readers
        from nci_seronet_proc_data_validator_spark import submission
        d = os.path.join(self.landing, self.sample)
        sheets = {os.path.basename(p): readers.read_sheet_csv(
                      spark, p, columns=readers.csv_header(p))
                  for p in sorted(glob.glob(os.path.join(d, "*.csv")))}
        meta = submission.parse_submission_metadata(
            sheets["submission.csv"], self.cbc)
        res = submission.SubmissionValidator(
            spark, sheets=sheets, cbc_id=str(meta["cbc_id"]),
            declared_participants=meta["declared_participants"],
            declared_biospecimens=meta["declared_biospecimens"],
            icd10_codes=self.icd, expected_columns=self.catalog).validate()
        rows = Counter(tuple(x) for x in
                       res.findings.select(*FINDING_COLUMNS).collect())
        res.release()
        return rows == self.sample_rows


# --------------------------------------------------------------- traced
def install_wrappers(tracer) -> None:
    """Spans at each layer's public boundary (benchmark-side wrappers)."""
    from nci_seronet_proc_data_validator_spark import (
        orchestrate,
        submission,
    )
    from nci_seronet_proc_data_validator_spark.sinks import reports
    from nci_seronet_proc_data_validator_spark.sources import icd10, readers
    from nci_seronet_proc_data_validator_spark.streaming import watcher

    def n_paths(args, kwargs):
        p = args[1] if len(args) > 1 else kwargs.get("path",
                                                      kwargs.get("paths"))
        return len(p) if isinstance(p, (list, tuple, dict)) else 1

    for name in ("read_sheet_csv", "read_sheet_csv_tagged"):
        tracer.wrap(readers, name, "sources", files=n_paths)
    tracer.wrap(readers, "read_table", "sources", files=lambda a, k: 1)
    tracer.wrap(readers, "csv_header", "sources")
    tracer.wrap(icd10, "load_icd10_codes", "sources")
    tracer.wrap(submission.SubmissionValidator, "validate", "submission")
    tracer.wrap(orchestrate, "validate_batched_results", "orchestrate")
    tracer.wrap(watcher, "_epoch_sink", "sinks")
    for name in ("write_error_reports", "write_findings_parquet"):
        tracer.wrap(reports, name, "sinks")


def layer_metrics(spans: list[dict], ex: dict, extra: dict) -> dict:
    """Per-layer metrics of one traced run (or of the check) from its
    spans, its jobs (``ex``) and workload-specific values (``extra``)."""
    from tracing import jobs_within, layer_totals

    src = layer_totals(spans, "sources")
    sub = layer_totals(spans, "submission")
    out = {
        "sources.load_s": src["seconds"], "sources.files": src["files"],
        "sources.jobs": jobs_within(ex["job_times"], src["intervals"]),
        "plans.construct_s": layer_totals(spans, "plans")["seconds"],
        "plans.py4j_calls": layer_totals(spans, "plans")["py4j_calls"],
        "catalyst.plan_s": layer_totals(spans, "catalyst")["seconds"],
        "submission.validate_s": sub["seconds"],
        "submission.jobs": jobs_within(ex["job_times"], sub["intervals"]),
        "submission.py4j_calls": sub["py4j_calls"],
        "submission.py4j_wait_s": sub["py4j_wait_s"],
        "orchestrate.compile_s": layer_totals(spans,
                                              "orchestrate")["seconds"],
        "sinks.write_s": layer_totals(spans, "sinks")["seconds"],
    }
    for k, v in ex.items():
        if k != "job_times":
            out[f"exec.{k}"] = v
    out.update(extra)
    return out


# ----------------------------------------------------------------- main
def descendants(pid: int) -> set[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = set(), [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def shutdown(spark) -> None:
    """Stop the session and the JVM, and wait until the JVM and every
    process it started (Python workers) have ended."""
    import signal

    procs = descendants(os.getpid())
    gateway_proc = getattr(spark.sparkContext._gateway, "proc", None)
    spark.stop()
    if gateway_proc is not None:
        gateway_proc.stdin.close()      # the JVM exits on end of stdin
        try:
            gateway_proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 — a JVM that will not exit
            gateway_proc.kill()
            gateway_proc.wait()
    deadline = time.monotonic() + 30
    while procs and time.monotonic() < deadline:
        procs = {p for p in procs if os.path.exists(f"/proc/{p}")}
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def bench(args, work: str) -> tuple[dict, list[str]]:
    import gen
    from tracing import Tracer, exec_metrics, last_job_id, run_spans, \
        self_times

    t_begin = time.perf_counter()
    kind = WORKLOADS[args.workload]
    gen_dir = os.path.join(work, "gen")
    sizes = gen.generate(kind, args.seed, gen_dir, args.size)
    wl = (Rulebook if kind == "rulebook" else Burst)(gen_dir, args.seed)
    # the oracle runs while the first session starts (that setup includes
    # the JVM launch and is never the median one)
    prep_errors: list[BaseException] = []

    def prepare() -> None:
        try:
            wl.prepare()
        except BaseException as e:  # re-raised in the main thread
            prep_errors.append(e)

    prep = threading.Thread(target=prepare, name="oracle")
    prep.start()
    t_prep = time.perf_counter() - t_begin

    from nci_seronet_proc_data_validator_spark.session import get_spark

    tracer = Tracer()
    spark = None
    setups, starts = [], []
    try:
        for i in range(SETUPS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = get_spark("perfbench", cpus=nproc())
            t1 = time.perf_counter()
            wl.setup(spark, os.path.join(work, f"setup{i}"))
            setups.append(time.perf_counter() - t0)
            starts.append(t1 - t0)
            if i == 0:
                prep.join()
                if prep_errors:
                    raise prep_errors[0]
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()

        if args.trace:
            install_wrappers(tracer)
            tracer.hook_py4j()

        def one(k: int, traced: bool) -> dict:
            import gc
            spark.catalog.clearCache()
            spark._jvm.System.gc()
            gc.collect()
            run_dir = os.path.join(work, f"run{k}")
            before = last_job_id(spark) if traced else None
            tracer.enabled = traced
            tracer.reset_counters()
            with tracer.span(f"run{k}", "run") as sp:
                tracer.root = sp["id"] if sp else None
                r = wl.run(spark, tracer, k, run_dir)
            tracer.root = None
            tracer.enabled = False
            if traced:
                # all sends of the run, the streaming callback thread's
                # outside any wrapped call included
                r["extra"].update({"py4j.calls": tracer.py4j_calls,
                                   "py4j.wait_s": tracer.py4j_wait_s})
                spans = run_spans(tracer.spans, sp["id"])
                with tracer.untimed():
                    ex = exec_metrics(spark, before)
                r["layers"] = layer_metrics(spans, ex, r["extra"])
                r["self"] = self_times(spans)
            shutil.rmtree(run_dir, ignore_errors=True)
            return r

        cold = one(0, bool(args.trace))
        warm: list[dict] = []
        t_start = time.perf_counter()
        # traced mode makes at least three warm runs and alternates
        # traced and untraced ones (traced first and last), so the
        # tracing overhead is measured in one process with the warm-up
        # drift cancelling
        while (time.perf_counter() - t_start < args.seconds
               or len(warm) < (3 if args.trace else wl.MIN_WARM)):
            warm.append(one(1 + len(warm),
                            bool(args.trace) and len(warm) % 2 == 0))
        runs = [cold] + warm

        check_ok, check_layers, t_check = True, {}, 0.0
        cross_check = args.trace and hasattr(wl, "check")
        if cross_check:
            # the cross-check against a second entry mode (serial
            # validate) runs in the traced process, where it also gives
            # the submission layer's spans
            before = last_job_id(spark)
            tracer.enabled = True
            tracer.reset_counters()
            t_check = time.perf_counter()
            with tracer.span("check", "check") as check_span:
                check_ok = wl.check(spark)
            t_check = time.perf_counter() - t_check
            tracer.enabled = False
            with tracer.untimed():
                ex = exec_metrics(spark, before)
            check_layers = layer_metrics(
                run_spans(tracer.spans, check_span["id"]), ex,
                {"py4j.calls": tracer.py4j_calls,
                 "py4j.wait_s": tracer.py4j_wait_s})

        peak = rss_mb(os.getpid()) + rss_mb(jvm_pid)
        versions = {
            "nproc": nproc(), "python": platform.python_version(),
            "spark": spark.version,
            "java": str(spark._jvm.System.getProperty("java.version"))}
    finally:
        t_stop = time.perf_counter()
        if spark is not None:
            shutdown(spark)
        t_stop = time.perf_counter() - t_stop

    attempted = sum(r["attempted"] for r in runs) + int(cross_check)
    failed = sum(r["failed"] for r in runs) + (0 if check_ok else 1)
    walls = [r["wall"] for r in warm]
    lines = [
        f"workload {args.workload} seed {args.seed} sizes "
        f"{json.dumps(sizes)}",
        f"versions {json.dumps(versions)}",
        f"setup_s median {statistics.median(setups):.3f} s of "
        f"{json.dumps([round(s, 3) for s in setups])} (session start "
        f"{json.dumps([round(s, 3) for s in starts])})",
        f"cold_s {cold['wall']:.3f} s",
        f"wall_s median {statistics.median(walls):.3f} s, max "
        f"{max(walls):.3f} s, n={len(walls)} "
        f"{json.dumps([round(w, 3) for w in walls])}",
        f"peak_rss_mb {peak:.1f} MB",
        f"failed_frac {failed / attempted:.4f} ({failed}/{attempted})"
        + (f"; serial cross-check {'ok' if check_ok else 'FAILED'} "
           f"({t_check:.1f} s)" if cross_check else ""),
        f"process {time.perf_counter() - t_begin:.1f} s: inputs "
        f"{t_prep:.1f} s, shutdown {t_stop:.1f} s",
    ]
    if not args.trace:
        metrics = {"setup_s": statistics.median(setups),
                   "wall_s": statistics.median(walls),
                   "peak_rss_mb": peak}
        units = END_TO_END_UNITS
    else:
        traced = [r for r in warm if "layers" in r]
        plain = [r["wall"] for r in warm if "layers" not in r]
        metrics = {}
        for name in PER_LAYER_UNITS:
            vals = [r["layers"].get(name, 0) for r in traced]
            metrics[name] = statistics.median(vals) if vals else 0.0
            if not metrics[name] and check_layers.get(name):
                # layers only the check exercises (serial validate on
                # the burst) are reported from the check's spans
                metrics[name] = check_layers[name]
        metrics["session.start_s"] = statistics.median(starts)
        overhead = (statistics.median(r["wall"] for r in traced)
                    - statistics.median(plain))
        metrics["trace.overhead_s"] = overhead
        self_s: dict = {}
        for r in traced:
            for layer, v in r["self"].items():
                self_s.setdefault(layer, []).append(v)
        self_med = {k: statistics.median(v) for k, v in self_s.items()}
        lines.append(f"self_s {json.dumps(self_med, sort_keys=True)}")
        lines.append(f"tracing overhead {overhead:+.3f} s (traced "
                     f"warm median minus untraced warm median)")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces",
                            f"{args.workload}-seed{args.seed}.json")
        tracer.dump(path, {"workload": args.workload, "seed": args.seed,
                           "versions": versions, "self_s": self_med,
                           "tracing_overhead_s": overhead})
        lines.append(f"spans written to {os.path.relpath(path, ROOT)}")
        units = PER_LAYER_UNITS
    result = {"correct": failed == 0, "attempted": attempted,
              "failed": failed,
              "metrics": {k: {"value": v, "unit": units[k]}
                          for k, v in metrics.items()}}
    return result, lines


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--size", choices=["full", "smoke"], default="full")
    args = ap.parse_args(argv)

    work = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        isolate(work)
        sys.path.insert(0, HERE)
        sys.path.insert(1, ROOT)
        result, lines = bench(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for line in lines:
        print(line)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    raise SystemExit(main())
