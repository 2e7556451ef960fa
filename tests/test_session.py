"""get_spark's JVM options: local mode runs driver and executors in one
JVM, whose launch arguments must carry the requested flags — and when
the JVM already exists without them, get_spark says so."""

from __future__ import annotations

from options_data_pipeline_spark.session import get_spark


def _jvm_args(spark) -> list[str]:
    return list(
        spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
        .getInputArguments()
    )


def test_session_jvm_carries_code_cache_flag(spark):
    assert "-XX:ReservedCodeCacheSize=512m" in _jvm_args(spark)


def test_options_a_running_jvm_lacks_are_reported(spark, capfd):
    get_spark("tests", shuffle_partitions=4)
    assert "[session] JVM already running" not in capfd.readouterr().err
    get_spark(
        "tests",
        shuffle_partitions=4,
        extra_conf={"spark.driver.extraJavaOptions": "-XX:+UseSerialGC"},
    )
    err = capfd.readouterr().err
    assert "[session] JVM already running without requested options" in err
    assert "-XX:+UseSerialGC" in err
