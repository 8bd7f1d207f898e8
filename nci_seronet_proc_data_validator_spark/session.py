"""SparkSession factory with scale-posture defaults.

Local testing runs ``local[N]``; on a real cluster the same configs apply
(AQE, adaptive coalescing/skew-join) and only master/memory change.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "nci_seronet_proc_data_validator_spark",
              cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    - AQE on: runtime coalescing of shuffle partitions and skew-join
      splitting, so plans survive data-size changes without retuning.
    - ``local[cpus]`` with shuffle.partitions = cpus: ``cpus`` is the
      argument, else ``$SPARK_GRAFT_CPUS``, else the cores this process
      may run on; a cluster deployment overrides it (or relies on AQE's
      coalescing from a higher initial value).
    - UTC session timezone so timestamp semantics match the DuckDB oracle
      and are stable across environments.
    - Arrow enabled for the few Pandas-UDF paths (multimodal decode).
    """
    cpus = (cpus or int(os.environ.get("SPARK_GRAFT_CPUS") or 0)
            or len(os.sched_getaffinity(0)))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Read TIMESTAMP(NANOS) parquet (events table) as long nanos;
        # sources convert to timestamp explicitly.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Collect bound for oracle-parity harnesses that pull full result
        # tables (e.g. the 11M-row sf1 rulebook findings); default
        # matches Spark's own 1g — raise via env only for those runs.
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "1g"))
        # The default 100-entry codegen class cache thrashes when a
        # workload cycles through many distinct large plans (measured: the
        # minhash signature expression re-compiles for ~5s once 12 other
        # queries ran in between). Static conf — takes effect only on
        # fresh JVMs, harmless otherwise.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
        # The rulebook compiles whole sheets (30+ raw columns + 2 typed
        # shadows each + hundreds of check predicates) into ONE projection.
        # With the default codegen limits that stage silently falls back to
        # interpreted expression evaluation: >100 fields disables
        # whole-stage codegen, and a generated method over 8 KB bytecode
        # triggers the huge-method fallback. Raising both keeps the wide
        # validation scan code-generated — measured 81.7s -> 17.0s on the
        # full-rulebook pass at sf0.1 (methods past the 8 KB JIT threshold
        # run as interpreted *bytecode*, still far cheaper than
        # interpreted Catalyst expressions).
        .config("spark.sql.codegen.maxFields", "1000")
        .config("spark.sql.codegen.hugeMethodLimit", "65535")
        # InferFiltersFromGenerate infers `size(arr) > 0 AND isnotnull(arr)`
        # below every explode; predicate pushdown then substitutes the
        # array-producing ALIAS through the projections, so the inferred
        # filter re-evaluates the whole array expression — for the n-gram
        # pipelines (tokenize → transform → md5 per element, all
        # CodegenFallback HOFs with no CSE) that is the full per-document
        # hashing THREE times per row (measured: dsir's explode stage
        # 3.2s -> 0.9s at sf0.1 with the rule excluded). The rule only
        # saves emitting rows whose arrays are empty — negligible against
        # re-hashing every document's n-grams twice more.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer."
                "InferFiltersFromGenerate")
        # FAIR scheduling so concurrent schema-group validations (see
        # orchestrate.validate_groups) share executor slots round-robin
        # across per-group pools instead of head-of-line blocking
        # behind the largest group. With one caller thread
        # the behavior is identical to FIFO (one pool, one job at a
        # time), so batch/bench paths are unaffected. Static conf —
        # effective on fresh JVMs only.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
