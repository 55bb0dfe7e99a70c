from tableau_dashboard_performance_etl_automation_spark.plans.explain import (
    PYTHON_NODES,
    formatted_plan,
    has_broadcast_hash_join,
    has_cartesian_product,
    pushed_filters,
    range_exchanges,
    shuffle_count,
)

__all__ = [
    "PYTHON_NODES",
    "formatted_plan",
    "has_broadcast_hash_join",
    "has_cartesian_product",
    "pushed_filters",
    "range_exchanges",
    "shuffle_count",
]
