"""Session factory — the rebuild's ``HBaseSparkSession``.

The reference wires a custom catalog + planner strategy into a
``SparkSession`` subclass (HBaseSparkSession.scala:33-59). In PySpark we
wrap rather than subclass: ``HeraclesSession`` owns a ``SparkSession``
configured for analytic scans and a ``HeraclesCatalog`` that registers
key-organized tables as Spark views so stock Catalyst plans every query.

Scale posture (100 TB / 1000 executors):
- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- Broadcast threshold raised so dimension tables (region/nation/part at
  TPC-H shapes) broadcast instead of shuffling the fact table.
- Shuffle partitions sized for the local harness; on a real cluster this is
  operator-independent because AQE coalesces from a high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def get_session(app_name: str = "heracles_spark", master: str | None = None,
                extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for analytic workloads.

    Mirrors HBaseSparkSession's role as single entry point
    (reference HBaseSparkSession.scala:33-47) but all tuning is stock Spark.
    """
    cpus = _default_parallelism()
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # AQE: runtime coalescing, skew-join handling — the scale story.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        # Arrow for any pandas_udf path (the slow-path escape hatch).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Dimension tables broadcast; 64 MB covers TPC-H dims at sf≤100.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Parquet pushdown/pruning — the rebuild's analogue of the
        # reference's region pruning + FilterList pushdown.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Parallelism floor for small inputs: a single sub-128MB file must
        # still fan out across cores (one split would serialize the scan
        # + partial agg). At cluster scale maxPartitionBytes governs.
        .config("spark.sql.files.minPartitionNum", str(cpus))
        # Coalesce post-shuffle partitions by target size rather than
        # padding to max parallelism (the Spark-docs-recommended
        # setting): kilobyte reduce stages collapse to one task instead
        # of scheduling 32, and at scale the advisory size governs.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        # No data locality to wait for on object-store/local reads.
        .config("spark.locality.wait", "0")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


class HeraclesSession:
    """Facade over SparkSession + HeraclesCatalog (≙ HBaseSparkSession).

    ``sql()`` routes DDL/DML for key-organized tables through the dispatcher
    (heracles_spark.sql) and everything else to stock ``spark.sql`` —
    exactly the reference's split, where its custom surface rides on
    analyzer rewrites (HBaseStrategies.scala:231-271) and every other
    statement is stock Spark SQL.
    """

    def __init__(self, spark: SparkSession | None = None,
                 metastore_dir: str | None = None):
        from heracles_spark.catalog import HeraclesCatalog

        self.spark = spark or get_session()
        self.catalog = HeraclesCatalog(
            metastore_dir or os.environ.get(
                "HERACLES_METASTORE", os.path.join(os.getcwd(), ".heracles")))
        self.current_db = "default"
        # Audit trail of the stats planner's broadcast/shuffle verdicts
        # for the most recent dispatched SELECT (sql._inject_stats_hints).
        self.last_join_decisions: list[dict] = []
        # Audit of the most recent dispatched SELECT's access-path
        # routing (sql._route_pruned_select / _route_vector_topk).
        self.last_select_route: dict = {}
        # Audit of the most recent dispatched SELECT's join-reorder
        # decision (sql._maybe_reorder_joins).
        self.last_join_reorder: dict = {}
        self.catalog.register_all(self.spark)

    def sql(self, statement: str):
        """Dispatch one statement between two ``catalog.publish`` calls
        (the second also when it raises): library writes through this
        catalog reach the views before it runs, its own writes after."""
        from heracles_spark.sql import dispatch

        self.catalog.publish(self.spark)
        try:
            return dispatch(self, statement)
        finally:
            self.catalog.publish(self.spark)

    def table(self, name: str):
        return self.catalog.read_table(self.spark, name)

    def stop(self) -> None:
        self.spark.stop()
