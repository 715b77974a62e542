"""Plan lint over EVERY registered batch query: two anti-patterns must
never appear in any executed plan, now or in future rounds —

- ``CartesianProduct``: an un-broadcast cross product is quadratic data
  movement; every intentional cross join here broadcasts a tiny side and
  must compile to ``BroadcastNestedLoopJoin`` instead.
- ``BatchEvalPython``: a row-at-a-time Python UDF in the plan means some
  expression silently fell off the JVM fast path (Arrow-batched
  ``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas`` are the
  sanctioned Python escapes).
"""

import pytest

from training_data_ops.registry import all_queries

SF_DIR = "/root/testdata/sf0.01"

# streaming queries run to completion inside their builder and return a
# plan over the materialized sink rows; lint the batch ones
BATCH_QUERIES = sorted(
    name for name in all_queries() if not name.startswith("streaming_")
)


@pytest.mark.parametrize("name", BATCH_QUERIES)
def test_no_cartesian_or_python_row_udf(spark, name):
    df = all_queries()[name].spark(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, f"{name}: cartesian product\n{plan}"
    assert "BatchEvalPython" not in plan, f"{name}: row-at-a-time Python UDF\n{plan}"
