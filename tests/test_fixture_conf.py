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
