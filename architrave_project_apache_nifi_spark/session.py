"""SparkSession construction tuned for this engine.

The reference runs a single NiFi node with per-event, disk-queued
processing (SURVEY.md §4.1). We instead target Spark's whole-stage
codegen + AQE. These settings are what we'd ship on a real cluster;
only ``master`` differs between local test runs and cluster deploys.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Conf applied everywhere (tests, bench, driver helpers). Values chosen
# for the 100 TB design point and safe at local scale:
#  - AQE on: runtime coalescing of shuffle partitions + skew-join
#    splitting replaces hand-tuned partition counts.
#  - shuffle.partitions is only the *initial* number under AQE.
#  - UTC session timezone: deterministic timestamp semantics matching
#    the parquet test data and the DuckDB oracle.
#  - Arrow on: any pandas-UDF extension op gets batched transfer.
ENGINE_CONF: dict[str, str] = {
    # local[N] runs executors as threads inside the driver JVM, so the
    # driver heap is the whole cluster's memory; 1g default OOMs at
    # sf0.1 with 32 threads. Env-overridable for constrained hosts.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.driver.maxResultSize": "4g",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
    "spark.sql.parquet.filterPushdown": "true",
    # InferFiltersFromGenerate turns explode(expr) into a pushed-down
    # `size(expr) > 0` scan filter. When expr is an expensive computed
    # array (shingles, LSH bands), predicate pushdown re-inlines the
    # whole expression tree into the scan stage and evaluates it per
    # row — measured 36-60× regressions on the dedup operators. The
    # rows it would skip (empty arrays) are negligible; exclude it.
    "spark.sql.optimizer.excludedRules": (
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
    ),
    "spark.sql.shuffle.partitions": "32",
    # r12 (optimization): the generated-class cache defaults to 100
    # entries; one pass over this engine's registry compiles several
    # hundred distinct WholeStageCodegen/expression classes, so a
    # multi-query driver (the bench loop, any long-lived serving
    # session) evicts and re-Janino-compiles continuously. 10k entries
    # comfortably holds the whole registry's classes (they are small —
    # this bounds compilation work, not data memory) and is what a
    # production driver cycling many distinct plans wants too.
    "spark.sql.codegen.cache.maxEntries": "10000",
    "spark.serializer": "org.apache.spark.serializer.KryoSerializer",
    # The live UI's listener store is not free: with many short
    # multi-stage jobs in one JVM its event processing measurably
    # throttles the scheduler (measured on the dedup join+agg: runs
    # degrade 7 s → 14 s with the UI on, and instead IMPROVE 6 s → 2 s
    # with it off as JIT warms). Headless engine runs don't need the UI;
    # set SPARK_GRAFT_UI=true (or 1/yes) for interactive debugging.
    "spark.ui.enabled": (
        "true"
        if os.environ.get("SPARK_GRAFT_UI", "").strip().lower()
        in ("1", "true", "yes", "on")
        else "false"
    ),
    # no stage-progress frames on stderr: bench.py's committed stderr
    # and any log a headless run keeps stay machine-readable
    "spark.ui.showConsoleProgress": "false",
}


def apply_engine_conf(builder: SparkSession.Builder) -> SparkSession.Builder:
    for k, v in ENGINE_CONF.items():
        builder = builder.config(k, v)
    return builder


def get_spark(app_name: str = "architrave-spark", master: str | None = None) -> SparkSession:
    """Build (or reuse) a session with the engine conf applied.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    so the bench harness and ad-hoc runs share one code path.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    return apply_engine_conf(builder).getOrCreate()
