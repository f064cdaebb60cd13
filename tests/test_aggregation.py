from __future__ import annotations

import pytest

from herodb_spark.operators import aggregation as A
from tests.harness import compare

CASES = [
    (A.partition_topk, A.PARTITION_TOPK_SQL),
    (A.order_range, A.ORDER_RANGE_SQL),
    (A.collect_agg, A.COLLECT_AGG_SQL),
    (A.topk_then_avg, A.TOPK_THEN_AVG_SQL),
    (A.window_running, A.WINDOW_RUNNING_SQL),
    (A.group_having, A.GROUP_HAVING_SQL),
    (A.order_collect_union, A.ORDER_COLLECT_SQL),
    (A.agg_topk_suite, A.AGG_TOPK_SUITE_SQL),
]


@pytest.mark.parametrize("fn,sql", CASES, ids=[f.__name__ for f, _ in CASES])
def test_aggregation_oracle(spark, sf_dir, duck, fn, sql):
    res = compare(fn(spark, sf_dir), sql, duck)
    assert res["ok"], res


def test_collect_agg_array_variant(spark, sf_dir):
    """The gate emits the collection as a '|'-joined scalar (pandas
    canonicalizers can't hash lists); pin the underlying array
    semantics here: splitting recovers a sorted, complete list."""
    rows = A.collect_agg(spark, sf_dir).collect()
    assert rows, "collect_agg returned no rows"
    total = 0
    for r in rows:
        names = r["suppliers"].split("|")
        assert names == sorted(names)
        total += len(names)
    from herodb_spark.catalog import load_table

    assert total == load_table(spark, sf_dir, "supplier").count()
