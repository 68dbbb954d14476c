"""Physical-plan audit utilities.

The reference has no optimizer at all (`stupidb/core.py:3-5` aspires to one;
SURVEY.md §4.1: none exists) — here Catalyst does the optimizing, and this
package makes its decisions *observable and testable*: predicate pushdown,
column pruning, join strategy, top-k fusion and exchange counts are
asserted in tests/test_plans.py so a regression that would only hurt at
100 TB (a lost pushdown, a broadcast that became a shuffle) fails CI at
sf0.001.
"""

from stupidb_spark.plans.audit import (
    exchange_count,
    executed_final_plan,
    formatted_plan,
    has_node,
    pushed_filters,
    read_schema_fields,
)

__all__ = [
    "formatted_plan",
    "pushed_filters",
    "read_schema_fields",
    "has_node",
    "exchange_count",
    "executed_final_plan",
]
