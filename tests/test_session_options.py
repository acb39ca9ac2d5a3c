"""The executor heap pin reaches the conf string — checked without a JVM."""

from __future__ import annotations

from debezium_server_bigquery_spark.session import executor_java_options


def test_executor_mem_env_pins_xms():
    opts = executor_java_options(False, {"SPARK_GRAFT_EXECUTOR_MEM": "3g"})
    assert opts.split()[0] == "-Xms3g"
    assert "-XX:+AlwaysPreTouch" not in opts


def test_no_executor_mem_env_no_xms():
    for pin_heap in (False, True):
        opts = executor_java_options(pin_heap, {})
        assert "-Xms" not in opts
        assert ("-XX:+AlwaysPreTouch" in opts) == pin_heap
        assert "-XX:ReservedCodeCacheSize=1g" in opts
