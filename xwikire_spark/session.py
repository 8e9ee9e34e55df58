"""SparkSession factory tuned for the KG-construction workload.

Replaces the reference's hand-rolled execution substrate
(multiprocessing.Pool(NUM_WORKERS) + Mongo chunk cursors,
reference src/config.py:8-9, src/qa.py:30, src/srl.py:40) with Spark's task
scheduler. Every knob here exists to keep the 100 TB plan healthy:

- AQE on (coalesce + skew-join splitting) — the reference has no skew story;
  hot entities (P31-style) are our analog and AQE + salting handle them.
- Arrow on with a bounded batch size — all Python kernels run as vectorized
  pandas UDFs (BASELINE.json input_hint mandates no per-row Python).
- UTC session timezone — deterministic timestamps across executors/oracles.
- shuffle partitions default to 2x cores locally; on a real cluster this is
  overridden via spark-submit --conf (AQE coalesces the excess anyway).
- parallel file listing is capped at the same shuffle-partition count
  (``spark.sql.sources.parallelPartitionDiscovery.parallelism``; Spark's
  default of 10000 gives one task per directory): reading a table with
  more than 32 partition directories lists them in at most that many
  tasks, e.g. 32 instead of 256 for the 256-bucket triple table. The cap
  is cluster-safe: it equals the parallelism the session already gives
  every shuffle, and any directory count still lists in one job.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_spark(
    app_name: str = "xwikire_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-ready defaults."""
    master = master or f"local[{DEFAULT_CPUS}]"
    shuffle_partitions = shuffle_partitions or max(DEFAULT_CPUS, 32)

    # Executor Python workers must import this package: the driver's
    # sys.path does NOT propagate to them. Locally PYTHONPATH (inherited by
    # the JVM -> workers) covers it; on a cluster use spark-submit
    # --py-files xwikire_spark.zip (the reference ships code to its Pool
    # workers implicitly by fork — Spark needs it explicit).
    repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    existing = os.environ.get("PYTHONPATH", "")
    if repo_root not in existing.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            repo_root + (os.pathsep + existing if existing else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.sources.parallelPartitionDiscovery.parallelism",
            str(shuffle_partitions),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Input split size (guide §2.5 input skew / §6): parameterised via
        # env because the right value is deployment-dependent. The LOCAL
        # default is 16m: the bench corpus arrives as single 100-MB-class
        # parquet files, and the default 128m packs a whole table into ONE
        # scan task, serializing every pre-shuffle stage on one of 32
        # cores (measured: lineitem 6M rows = 1 task). On a real cluster
        # reading thousands of files, raise to 512m-1g (guide §6: fewer,
        # larger map tasks feeding each shuffle).
        .config(
            "spark.sql.files.maxPartitionBytes",
            os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
        )
        .config("spark.executorEnv.PYTHONPATH", repo_root)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
