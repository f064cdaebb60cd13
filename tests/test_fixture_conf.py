"""session.fixture_conf: pins the three fixture settings for its body
and gives the caller back its own values, on a normal exit and when
the body raises."""

import pytest

from herodb_spark.session import fixture_conf

PINNED = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.autoBroadcastJoinThreshold": "-1",
}
#: caller values that differ from both the pins and get_spark's defaults
CALLER = {
    "spark.sql.shuffle.partitions": "5",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": "12345",
}


@pytest.fixture
def caller_conf(spark):
    saved = {k: spark.conf.get(k) for k in CALLER}
    for k, v in CALLER.items():
        spark.conf.set(k, v)
    yield spark
    for k, v in saved.items():
        spark.conf.set(k, v)


def _conf(spark):
    return {k: spark.conf.get(k) for k in CALLER}


def test_fixture_conf_pins_then_restores(caller_conf):
    spark = caller_conf
    with fixture_conf(spark):
        assert _conf(spark) == PINNED
    assert _conf(spark) == CALLER


def test_fixture_conf_restores_when_body_raises(caller_conf):
    spark = caller_conf
    with pytest.raises(RuntimeError, match="boom"):
        with fixture_conf(spark):
            assert _conf(spark) == PINNED
            raise RuntimeError("boom")
    assert _conf(spark) == CALLER


def test_fixture_conf_inside_overlapped_threads(caller_conf):
    """Scopes entered on run_overlapped threads share the caller's
    session conf. Forced interleaving — A enters, B enters, A exits
    while B is still inside, B exits — must keep B pinned after A
    leaves and give the caller back its own values at the end, with
    jobs running on both threads throughout."""
    import threading

    from herodb_spark.session import run_overlapped

    spark = caller_conf
    b_in, a_out = threading.Event(), threading.Event()
    seen = {}

    def a():
        with fixture_conf(spark):
            assert spark.range(100).count() == 100
            assert b_in.wait(60)
            seen["a"] = _conf(spark)
        a_out.set()

    def b():
        assert spark.range(50).groupBy().count().first()[0] == 50
        with fixture_conf(spark):
            b_in.set()
            assert a_out.wait(60)
            assert spark.range(10).count() == 10
            seen["b_after_a"] = _conf(spark)

    run_overlapped(a, b)
    assert seen == {"a": PINNED, "b_after_a": PINNED}
    assert _conf(spark) == CALLER


def test_fixture_conf_around_overlapped_jobs(caller_conf):
    """The documented shape (lifecycle's transactions): one scope on
    the caller thread around run_overlapped. Every thread's jobs plan
    under the pins, and the caller's values return after the scope."""
    from herodb_spark.session import run_overlapped

    spark = caller_conf
    seen = []

    def job(n):
        def run():
            assert spark.range(n).groupBy("id").count().count() == n
            seen.append(_conf(spark))
        return run

    with fixture_conf(spark):
        run_overlapped(job(30), job(60), job(90))
    assert seen == [PINNED] * 3
    assert _conf(spark) == CALLER


def test_fixture_conf_scope_stress(caller_conf):
    """More threads than cores open and close scopes in a loop with a
    short interpreter switch interval: every body sees the pins and
    the caller's values come back after the last scope closes."""
    import sys

    from herodb_spark.session import run_overlapped

    spark = caller_conf
    bad = []

    def worker():
        for _ in range(15):
            with fixture_conf(spark):
                got = _conf(spark)
                if got != PINNED:
                    bad.append(got)

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        run_overlapped(*[worker] * 8)
    finally:
        sys.setswitchinterval(prev)
    assert not bad, bad[:3]
    assert _conf(spark) == CALLER
