"""scripts/layer_profile.py attributes to a key every job its call submits,
also jobs on `run_overlapped` threads and the jobs of Structured
Streaming micro-batches. The Tracer here is not installed, so no
wrappers or listener outlive the test."""

from __future__ import annotations

import importlib.util
import os

import pytest

from herodb_spark.session import run_overlapped

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location("profile_script", os.path.join(HERE, "scripts", "layer_profile.py"))
profile = importlib.util.module_from_spec(spec)
spec.loader.exec_module(profile)


def test_overlapped_jobs_are_attributed_to_the_call(spark):
    from perfbench.tracing import Tracer

    def call():
        run_overlapped(lambda: spark.range(10).collect(), lambda: spark.range(20).collect())
        return spark.range(5)

    m, plan = profile.profile_key(Tracer(spark), call, explain=True)
    assert "Range" in plan
    assert set(profile.METRICS) <= set(m)
    assert m["operators.call_jobs"] >= 2
    assert m["spark.exec.jobs"] >= 3  # the two overlapped jobs + the noop write


def test_micro_batch_jobs_are_attributed_to_the_call(spark, tmp_path):
    """Micro-batch jobs run in their stream's own job group, not the
    caller's."""
    from perfbench.tracing import Tracer

    src = str(tmp_path / "src")
    spark.range(20).repartition(2).write.parquet(src)
    progress = []

    def call():
        q = (
            spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
            .writeStream.format("memory").queryName("profile_stream")
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()
        progress.extend(q.recentProgress)
        return spark.table("profile_stream")

    m, plan = profile.profile_key(Tracer(spark), call)
    assert plan is None
    assert spark.table("profile_stream").count() == 20
    batches = len({p["batchId"] for p in progress})
    assert batches == 2
    assert m["operators.call_jobs"] >= batches
    assert m["spark.exec.jobs"] >= m["operators.call_jobs"]


def test_unknown_key_exits_naming_it():
    with pytest.raises(SystemExit, match="no_such_registry_key"):
        profile.main(["tpch_q1", "no_such_registry_key"])
