"""SparkSession factory tuned for the index-build / query workload.

Settings chosen for 100 TB-scale behavior (and why):

- Arrow on: every text stage is a vectorized pandas UDF; Arrow batching is
  the difference between 10x and 100x vs row-at-a-time Python.
- AQE on (+ skew join): web-corpus term distributions are Zipfian; AQE
  splits skewed shuffle partitions at runtime and demotes/ promotes join
  strategies from real stats instead of estimates.
- shuffle.partitions: defaults to 2x cores locally; on a real cluster this
  should be ~2-3x total executor cores (set via spark-submit).
- maxRecordsPerBatch bounded so a batch of large HTML pages does not blow
  the Arrow buffer on executors.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "document-retrieval-system-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default all
    cores) in the sandbox; under ``spark-submit`` on a cluster leave it
    unset and let the submitter decide.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        try:
            n = int(master.split("[")[1].rstrip("]*")) if "[" in master else 0
        except ValueError:
            n = 0
        shuffle_partitions = max(n, 32) if n else 64

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # InferFiltersFromGenerate synthesizes `size(gen) > 0 AND
        # isnotnull(gen)` below every explode; with an expensive
        # generator expression (the tokenizer / shingle chains) the
        # inferred filter re-evaluates it per row, and predicate
        # pushdown then slides it below any repartition — serializing
        # TWO extra tokenizer passes onto the (often single-split) scan
        # partition.  Excluding the rule changes no results: the
        # Generate itself skips empty/null arrays.
        .config(
            "spark.sql.optimizer.excludedRules",
            "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "4096")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # the JVM-wide cache of generated classes: one build + stream batch
        # + queries compiles ~180 classes, past the default of 100, so a
        # long-running stream or a repeated workload recompiled most of
        # them on every pass
        .config("spark.sql.codegen.cache.maxEntries", "2000")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
