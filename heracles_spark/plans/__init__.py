"""Plan inspection utilities — the rebuild's answer to the reference's
plan assertions (exchange-presence checks HBaseAdditionalQuerySuite.scala:
262-308; pushdown verification throughout). Used by tests and by users
tuning 100 TB jobs."""

from heracles_spark.plans.inspect import (
    executed_plan_string, pushed_filters, has_node, count_exchanges,
    read_schema_columns, plan_node_names,
)

__all__ = ["executed_plan_string", "pushed_filters", "has_node",
           "count_exchanges", "read_schema_columns", "plan_node_names"]
