from __future__ import annotations

import pytest

from herodb_spark.operators import relational as R
from tests.harness import compare

CASES = [
    (R.scan_filter_project, R.SCAN_FILTER_PROJECT_SQL),
    (R.datalog_selfjoin, R.DATALOG_SELFJOIN_SQL),
    (R.multiway_join, R.MULTIWAY_JOIN_SQL),
    (R.union_cases, R.UNION_CASES_SQL),
    (R.pattern_match, R.PATTERN_MATCH_SQL),
    (R.semi_anti_join, R.SEMI_ANTI_JOIN_SQL),
]


@pytest.mark.parametrize("fn,sql", CASES, ids=[f.__name__ for f, _ in CASES])
def test_relational_oracle(spark, sf_dir, duck, fn, sql):
    res = compare(fn(spark, sf_dir), sql, duck)
    assert res["ok"], res


def test_semijoin_plan_is_semi(spark, sf_dir):
    """`exists` and `not` plan as semi and anti joins, not as inner
    joins that multiply rows and deduplicate afterwards."""
    plan = R.semi_anti_join(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan, plan[:2000]


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    plan = R.multiway_join(spark, sf_dir)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:2000]
