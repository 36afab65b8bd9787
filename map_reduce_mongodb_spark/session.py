"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every setting is chosen so the
same code ships unchanged to a 1000-executor cluster against ~100 TB:

- **AQE on** (coalesce partitions, skew-join splitting, runtime join
  strategy switching) so plans self-correct at scale.
- **Arrow on** so any ``pandas_udf`` / ``applyInPandas`` escape hatch
  moves data in columnar batches, never row-at-a-time pickling.
- **Nested schema pruning on** so the deeply nested GeoJSON structs of
  the flagship pipeline (SURVEY.md §1.2) only read the accessed leaves
  from parquet.
- ``spark.sql.shuffle.partitions`` defaults to a small local value but
  AQE's coalescing makes the number advisory; on a real cluster you set
  it (or leave AQE's initialPartitionNum) to ~2-3x total cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Defaults appropriate for the driver's local[32] harness. On a real
# cluster these are overridden by spark-submit conf; nothing here is
# load-bearing for correctness.
_LOCAL_DEFAULTS: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.optimizer.nestedSchemaPruning.enabled": "true",
    # Pure-parquet workloads: bigger splits = fewer, denser tasks.
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.parquet.filterPushdown": "true",
    # Unit tolerance for driver testdata: current snapshots store
    # TIMESTAMP(MICROS) (read natively; this conf is then a no-op), but
    # older generations stored TIMESTAMP(NANOS), which Spark's reader
    # rejects outright without this conf. With it, nanos land as BIGINT
    # and io.table's dtype-checked DIV-1000 conversion restores
    # timestamps (lossless — the corpus has no sub-µs digits).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.session.timeZone": "UTC",
    # Keep the UI off in tests and benchmarks: saves startup time and ports.
    "spark.ui.enabled": "false",
    # No console progress bars: they interleave with (and in captured
    # output can truncate away) the one-line JSON summaries that the
    # CLI and perfbench/run.py print as their last stdout line.
    "spark.ui.showConsoleProgress": "false",
    # Metastore artifacts (bucketed-table demos) stay out of the repo.
    "spark.sql.warehouse.dir": "/tmp/spark-warehouse",
    "spark.driver.extraJavaOptions": "-Dderby.system.home=/tmp/derby",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "map-reduce-mongodb-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or fetch) the session.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default
    ``*``). ``shuffle_partitions`` defaults to the core count — with AQE
    coalescing enabled the exact number is advisory.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = dict(_LOCAL_DEFAULTS)
    if shuffle_partitions is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "")
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
