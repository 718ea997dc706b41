"""get_spark's driver JVM options reach the JVM it launches.

``spark.driver.extraJavaOptions`` only acts when the JVM starts, so the conf
string alone proves nothing: the test reads the running JVM's own arguments.
"""

from pyspark.sql import SparkSession

from scikg_spark.pipeline import session


def test_jvm_options_reach_the_driver_jvm(spark):
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = set(bean.getInputArguments())
    missing = [f for f in session.JVM_OPTIONS.split() if f not in args]
    assert not missing, (missing, sorted(args))


def test_extra_conf_keeps_jvm_options(monkeypatch):
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    opts = session.get_spark(
        extra_conf={"spark.sql.shuffle.partitions": "3"})
    assert opts["spark.driver.extraJavaOptions"] == session.JVM_OPTIONS
    assert opts["spark.sql.shuffle.partitions"] == "3"
