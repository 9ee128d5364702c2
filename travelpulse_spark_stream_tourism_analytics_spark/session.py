"""SparkSession factory tuned for the engine.

The reference hardcodes ``spark.sql.shuffle.partitions=4`` for its toy
cluster (reference spark/kafka_to_metrics.py:148). We instead enable
AQE so Spark coalesces/splits shuffle partitions at runtime — the same
code then scales from local[32] test runs to a 1000-executor cluster
without retuning.

AQE never resizes a stateful streaming operator: its state partition
count is ``spark.sql.shuffle.partitions`` at the query's first start,
kept in the checkpoint's offset log and read back on every restart.
The KPI topology therefore starts its queries with one state partition
(``streaming.pipeline.one_state_partition``): each stateful key space
is windows x cities, so per-core partitions would only multiply the
state stores and checkpoint files committed per trigger. Existing
checkpoints keep their count, and the session default set here still
applies to every other query.

Two settings remove work the driver would otherwise repeat on every
streaming trigger and every catalog pass:

- ``spark.sql.codegen.cache.maxEntries`` (Spark default 100) bounds
  the JVM-wide cache of Janino-compiled classes. The 16 KPI queries
  and the catalog each need several hundred, so at 100 every drain
  and every pass compiled again what the previous one had evicted.
  It is a static conf: it takes effect only when set on the builder
  before the first session of the JVM, so only ``get_spark`` can
  size it. A session started elsewhere keeps Spark's 100.
- ``spark.sql.streaming.checkpointFileManagerClass`` selects the
  FileSystem-based checkpoint file manager. Spark's default goes
  through Hadoop's FileContext, whose local rename resolves symlinks
  with a ``readlink`` subprocess (4 per checkpoint file) when the
  native Hadoop library is absent; the FileSystem manager renames
  with ``File.renameTo``. On a local filesystem both managers write
  the same files (Spark's checksum files and Hadoop's ``.crc``
  sidecars included) to a temp file, check that the target does not
  exist and then do a POSIX rename, so checkpoints written under
  either one restart under the other. On HDFS and other non-local
  roots the rename stays atomic, but the no-overwrite check becomes
  ``exists()`` followed by ``rename`` instead of one namenode call:
  that matters only if two drivers share one checkpoint, which
  Structured Streaming does not support anyway.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "travelpulse-spark") -> SparkSession:
    """Build (or reuse) a SparkSession with scale-ready defaults.

    - AQE on: runtime partition coalescing, skew-join splitting and
      dynamic join-strategy switching replace hand-tuned partition
      counts.
    - UTC session timezone: deterministic window/date semantics
      regardless of host locale (events carry naive UTC timestamps).
    - Arrow on: vectorized pandas interchange for the few Pandas-UDF
      operators.

    Two environment variables are deployment settings:
    ``SPARK_GRAFT_CPUS`` (local cores and the default shuffle partition
    count, 32) and ``SPARK_DRIVER_MEMORY`` (8g).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE rewrite a sort-merge join to shuffled-hash at
        # runtime when the build side's ACTUAL post-shuffle partitions
        # fit a local hash map (default 0 = never). Guide §3.1: SMJ
        # pays a full sort of BOTH sides; for joins whose probe side
        # is a row-heavy fan-out over a compact build relation (the
        # near-dup jaccard verify shuffles a 166M-row fan-out at the
        # sf1 soak against a 5M-row shingle table) the sort dominates
        # — measured 21.8 -> ~11 s at 32 cores. Runtime sizes, not
        # estimates, gate the rewrite, and broadcast selection is
        # unaffected; 64 MB/partition bounds per-task build memory.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(64 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Sized from measured working sets (distinct generated classes
        # per JVM, 4 cores): the 16 KPI queries ~330,
        # the 12 perfbench catalog entries ~500, bench.py's 16 entries
        # plus its stream row ~1,450; 4000 holds all three in one JVM
        # with headroom. At 100 each warm 30k-event drain compiled
        # ~370 classes again and each warm catalog pass ~525; at 4000
        # the next three drains compiled 4, 0, 0 and the passes 30,
        # 0, 0. The price is metaspace for the kept classes: 191 ->
        # 200 MB used after bench.py. Static conf (see the module
        # docstring).
        .config("spark.sql.codegen.cache.maxEntries", "4000")
        # 1,408 `readlink` forks per warm 30k-event KPI drain at
        # 4 cores under the FileContext default, 0 with this manager.
        # Set for the whole session, not around start(): a file source
        # creates its source log lazily, from the session the
        # DataFrame was built in.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Snappy parquet decompresses ~4-8x, so the 128 MB default can
        # hand one task a multi-GB in-memory partition — and on small
        # clusters/fixtures it starves scan parallelism outright (the
        # sf1 soak read a 50k-doc table as TWO partitions, running
        # expression-heavy projections on 2 of 32 cores: text profile
        # 23 s -> ~4 s with this setting). 32 MB is the common
        # compressed-parquet tuning; at real scale file counts dwarf
        # partition sizing and AQE coalescing absorbs the extra splits.
        .config("spark.sql.files.maxPartitionBytes", str(32 * 1024 * 1024))
        # Driver testdata stores events.ts as parquet TIMESTAMP(NANOS),
        # which Spark cannot read natively; read as long and convert in
        # the loader (plans/catalog.py load_table).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # Bound driver-side status/listener retention. The defaults
        # retain 1000 SQL executions (each holding the full physical
        # plan graph + per-operator metrics — multi-MB apiece for this
        # engine's merged union plans) and 1000 jobs / 100k tasks. A
        # long-lived driver that has executed a few hundred queries
        # accumulates GBs of live listener state; profiled on this
        # box, that state made HOF-heavy queries intermittently run
        # 2-6x their fresh-session steady state (headline bench total
        # 71 s -> 43 s with retention bounded, every entry back at its
        # isolated steady state — OPTIMIZATION_r10.md "Bench-context
        # JVM degradation"). Production-relevant for any long-running
        # driver (streaming topologies, query servers), not a
        # local-mode tune.
        .config("spark.sql.ui.retainedExecutions", "16")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "2000")
        # NOTE: deliberately NOT disabling
        # spark.sql.streaming.statefulOperator.checkCorrectness — the
        # engine's streaming shapes are all supported forms, and the
        # global session must keep Spark's fail-fast guard for user
        # queries.
        # Keep catalog/metastore artifacts out of the repo cwd.
        .config("spark.sql.warehouse.dir", "/tmp/tp_warehouse")
        .config("spark.driver.extraJavaOptions", "-Dderby.system.home=/tmp/tp_derby")
    )
    return builder.getOrCreate()
