"""get_spark's driver JVM options reach the JVM it launches.

``spark.driver.extraJavaOptions`` only acts when the JVM starts, so the conf
string alone proves nothing: the test reads the running JVM's own arguments.
"""

from pyspark import SparkContext
from pyspark.sql import SparkSession

from scikg_spark.pipeline import appcds, session


def test_jvm_options_reach_the_driver_jvm(spark):
    bean = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    args = set(bean.getInputArguments())
    missing = [f for f in session.JVM_OPTIONS.split() if f not in args]
    assert not missing, (missing, sorted(args))


def test_extra_conf_keeps_jvm_options(monkeypatch, tmp_path):
    """Every JVM_OPTIONS flag, in order, ahead of the AppCDS flags of a
    launch that trains the archive (an empty cache)."""
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate",
                        lambda self: dict(self._options))
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setenv("SPARK_CONF_DIR", "")  # restored after the test
    monkeypatch.delenv("SPARK_CONF_DIR")
    dumps = []
    monkeypatch.setattr(appcds, "record_dump",
                        lambda spark, dump: dumps.append(dump))
    opts = session.get_spark(
        extra_conf={"spark.sql.shuffle.partitions": "3"})
    flags = opts["spark.driver.extraJavaOptions"].split()
    jvm = session.JVM_OPTIONS.split()
    assert flags[:len(jvm)] == jvm
    assert flags[len(jvm):] == [f"-XX:ArchiveClassesAtExit={dumps[0]}"]
    assert opts["spark.sql.shuffle.partitions"] == "3"
