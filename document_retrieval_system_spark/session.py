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

Importing this module also makes zip-importer cache invalidation cheap
(``_stat_checked_zip_invalidation``), in the driver and in every Python
worker that unpickles an engine UDF.
"""

from __future__ import annotations

import os
import sys
import zipimport

from pyspark.sql import SparkSession


def _stat_checked_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive's
    directory only when the archive changed on disk.

    A PySpark worker calls ``importlib.invalidate_caches()`` at the start
    of every task (``worker_util.setup_spark_files``).  On CPython < 3.13
    each zip importer then re-reads its whole archive directory: 16 of
    them per task on a stock install (``pyspark.zip`` and 12 of its
    subpackages, the py4j zip, and the spark-core jar with its ``org``
    package), ~80 ms of worker CPU on every task.  CPython 3.13 changed
    ``invalidate_caches`` to only drop the cached directory, which the
    next lookup re-reads; this leaves 3.13+ alone.

    Every directory read (``zipimport._read_directory``, by a new
    importer or an invalidation) records the archive's
    ``(st_ino, st_mtime_ns, st_size)`` taken just before it.  An
    invalidation whose stamp still matches keeps the directory in
    ``zipimport._zip_directory_cache``, so a zip rewritten in place is
    still re-read (the check CPython makes of a ``.py`` file against its
    ``.pyc`` is the same kind, on mtime seconds and size), and the
    importers of one archive (one per package prefix) share one re-read
    through that cache.  The archives already cached are read once here,
    so each gets a stamp."""
    if sys.implementation.name != "cpython" or sys.version_info >= (3, 13):
        return
    full = zipimport.zipimporter.invalidate_caches
    read = zipimport._read_directory
    stamps: dict[str, tuple] = {}

    def stamp_of(archive):
        try:
            st = os.stat(archive)
        except OSError:
            return None
        return st.st_ino, st.st_mtime_ns, st.st_size

    def read_directory(archive):
        # stamped before the read: a rewrite during it shows as a change;
        # a failed read leaves no stamp
        stamps.pop(archive, None)
        stamp = stamp_of(archive)
        files = read(archive)
        if stamp is not None:
            stamps[archive] = stamp
        return files

    def invalidate_caches(self):
        files = zipimport._zip_directory_cache.get(self.archive)
        stamp = stamps.get(self.archive)
        if files is not None and stamp is not None and stamp == stamp_of(self.archive):
            self._files = files
        else:
            full(self)

    zipimport._read_directory = read_directory
    zipimport.zipimporter.invalidate_caches = invalidate_caches
    for importer in list(sys.path_importer_cache.values()):
        if isinstance(importer, zipimport.zipimporter):
            importer.invalidate_caches()


_stat_checked_zip_invalidation()


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
