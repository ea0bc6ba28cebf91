"""get_spark reports JVM options it could not apply."""

from __future__ import annotations

import logging

from iscc_specs_spark.session import get_spark

LOGGER = "iscc_specs_spark.session"


def _warnings(caplog) -> list[str]:
    return [r.getMessage() for r in caplog.records if r.name == LOGGER]


def test_attaching_to_a_jvm_without_the_options_warns(spark, monkeypatch, caplog):
    # the session fixture's JVM was started with the default options
    with caplog.at_level(logging.WARNING, logger=LOGGER):
        assert get_spark("iscc-tests", cores=4, shuffle_partitions=8) is spark
    assert _warnings(caplog) == []

    monkeypatch.setenv(
        "SPARK_GRAFT_JVM_OPTS", "-XX:-DontCompileHugeMethods -Dget_spark.probe=1"
    )
    with caplog.at_level(logging.WARNING, logger=LOGGER):
        assert get_spark("iscc-tests", cores=4, shuffle_partitions=8) is spark
    [msg] = _warnings(caplog)
    assert "existing JVM gateway" in msg
    assert "-Dget_spark.probe=1" in msg
    assert "DontCompileHugeMethods" not in msg
