from __future__ import annotations

import pytest

from herodb_spark.operators import extra as E
from tests.harness import compare

CASES = [
    (E.graph_weighted_sssp, E.GRAPH_WEIGHTED_SSSP_SQL),
    (E.tpch_q10_returned_revenue, E.TPCH_Q10_SQL),
    (E.tpch_q7_nation_volume, E.TPCH_Q7_SQL),
]


@pytest.mark.parametrize("fn,sql", CASES, ids=[f.__name__ for f, _ in CASES])
def test_extra_oracle(spark, sf_dir, duck, fn, sql):
    res = compare(fn(spark, sf_dir), sql, duck)
    assert res["ok"], res
