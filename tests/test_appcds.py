"""The driver JVM's AppCDS archive (``pipeline/appcds.py``).

Unit tests dump small real archives with ``-XX:ArchiveClassesAtExit`` and
settle them with the real ``-Xshare:on ... -version`` probe. The end-to-end
test starts ``get_spark`` in subprocesses with ``XDG_CACHE_HOME`` in
``tmp_path``: one session trains, the next maps the promoted archive."""

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

from scikg_spark.pipeline import appcds

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JARS = os.path.join(_find_spark_home(), "jars")
FLAGS = ["-Xmx256m", "-XX:+UseParallelGC"]


def _dump(path):
    """Dump a real (small) archive of Spark's launcher to ``path`` and
    record it as get_spark does; the dumping JVM has exited."""
    class_path = glob.glob(os.path.join(JARS, "spark-launcher_*.jar"))[0]
    proc = subprocess.run(
        [appcds.java_binary(), *FLAGS, f"-XX:ArchiveClassesAtExit={path}",
         "-cp", class_path, "org.apache.spark.launcher.Main"],
        capture_output=True, timeout=120)
    assert os.path.getsize(path) > 0, proc.stderr[-2000:]
    meta = {"pid": _dead_pid(), "java_home": os.path.dirname(os.path.dirname(
        appcds.java_binary())), "class_path": class_path,
        "args": [*FLAGS, f"-XX:ArchiveClassesAtExit={path}"]}
    with open(path + ".json", "w") as f:
        json.dump(meta, f)
    return meta


def _dead_pid():
    proc = subprocess.Popen(["true"])
    proc.wait()
    return proc.pid


def _files(cache):
    return sorted(os.listdir(cache))


def test_key_covers_java_jars_and_flags(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a")
    (jars / "b.jar").write_bytes(b"bb")
    key = appcds.archive_key("/usr/bin/java", str(jars), "-Xmx8g")
    assert appcds.archive_key("/usr/bin/java", str(jars), "-Xmx8g") == key
    assert appcds.archive_key("/usr/bin/java", str(jars), "-Xmx4g") != key
    assert appcds.archive_key("/usr/local/bin/java", str(jars), "-Xmx8g") != key
    st = os.stat(jars / "b.jar")
    os.utime(jars / "b.jar", ns=(st.st_atime_ns, st.st_mtime_ns + 1))
    assert appcds.archive_key("/usr/bin/java", str(jars), "-Xmx8g") != key


def test_probe_promotes_a_dump_and_prunes_other_keys(tmp_path):
    cache = str(tmp_path)
    (tmp_path / "0123456789abcdef.jsa").write_bytes(b"another key's archive")
    dump = os.path.join(cache, "feedfacefeedface.1-aa.tmp")
    _dump(dump)
    size = os.path.getsize(dump)
    final = appcds.promote(cache, "feedfacefeedface")
    assert final == os.path.join(cache, "feedfacefeedface.jsa")
    assert _files(cache) == ["feedfacefeedface.jsa"]
    assert os.path.getsize(final) == size
    # settled: a second launch maps it without probing again
    assert appcds.promote(cache, "feedfacefeedface") == final


@pytest.mark.parametrize("damage", ["truncated", "cut_in_padding",
                                    "classpath_mismatch", "other_key"])
def test_a_bad_dump_is_deleted_not_promoted(tmp_path, damage):
    cache = str(tmp_path)
    key = "feedfacefeedface"
    dump = os.path.join(cache, ("0000000000000000" if damage == "other_key"
                                else key) + ".1-aa.tmp")
    meta = _dump(dump)
    if damage in ("truncated", "cut_in_padding"):
        # cut by one byte, a complete archive loses only zero padding and
        # would still map; the size check rejects it
        size = os.path.getsize(dump)
        os.chmod(dump, 0o644)
        os.truncate(dump, size // 2 if damage == "truncated" else size - 1)
    if damage == "classpath_mismatch":
        meta["class_path"] = glob.glob(os.path.join(JARS, "slf4j-api-*.jar"))[0]
        with open(dump + ".json", "w") as f:
            json.dump(meta, f)
    assert appcds.promote(cache, key) is None
    assert _files(cache) == []


def test_a_running_trainer_is_left_alone(tmp_path):
    cache = str(tmp_path)
    dump = os.path.join(cache, "feedfacefeedface.1-aa.tmp")
    meta = _dump(dump)
    meta["pid"] = os.getpid()  # the dumping JVM is still alive
    with open(dump + ".json", "w") as f:
        json.dump(meta, f)
    # and a launch that has not yet recorded its JVM
    (tmp_path / f"feedfacefeedface.{os.getpid()}-bb.tmp").write_bytes(b"")
    before = _files(cache)
    assert appcds.promote(cache, "feedfacefeedface") is None
    assert _files(cache) == before


def test_conf_guard(tmp_path, monkeypatch):
    """Spark's conf dir with only templates is redirected to an empty cache
    dir; any other file there means no redirect and no archive flags."""
    # as if this process were about to launch its JVM
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "xdg"))
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    # set, then delete, so that teardown restores whatever it was before
    monkeypatch.setenv("SPARK_CONF_DIR", "")
    monkeypatch.delenv("SPARK_CONF_DIR")
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    (home / "jars" / "a.jar").write_bytes(b"a")
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_HOME", str(home))

    options, dump = appcds.java_options("-XX:+UseParallelGC", "8g")
    cache = appcds.cache_dir()
    assert os.environ["SPARK_CONF_DIR"] == os.path.join(cache, "conf")
    assert os.listdir(os.path.join(cache, "conf")) == []
    assert dump and os.path.dirname(dump) == cache
    assert options == f"-XX:+UseParallelGC -XX:ArchiveClassesAtExit={dump}"

    monkeypatch.delenv("SPARK_CONF_DIR")
    (home / "conf" / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert appcds.java_options("-XX:+UseParallelGC", "8g") == (
        "-XX:+UseParallelGC", None)
    assert "SPARK_CONF_DIR" not in os.environ


SESSION = r"""
import json, sys
sys.path.insert(0, %(repo)r)
from pyspark import SparkContext
from scikg_spark.pipeline.session import get_spark

spark = get_spark(app_name="appcds-test", cores=1)
assert spark.range(3).count() == 3
jvm = spark._jvm
args = list(jvm.java.lang.management.ManagementFactory
            .getRuntimeMXBean().getInputArguments())
pid = int(jvm.java.lang.ProcessHandle.current().pid())
proc = SparkContext._gateway.proc
spark.stop()
SparkContext._gateway.shutdown()
proc.stdin.close()  # the JVM exits, and a training run dumps its archive
proc.wait(timeout=240)
print(json.dumps({"args": args, "pid": pid}))
"""


def _session(tmp_path, **env):
    env = dict(os.environ, XDG_CACHE_HOME=str(tmp_path / "xdg"),
               SCIKG_DRIVER_MEM="1g", **env)
    for var in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT",
                "PYSPARK_GATEWAY_SECRET"):
        env.pop(var, None)
    proc = subprocess.run([sys.executable, "-c", SESSION % {"repo": REPO}],
                          cwd=str(tmp_path), env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    # the JVM's unified logging (hundreds of [cds] warnings while dumping)
    # stays off stdout, which the CLIs and kgbench parse
    assert "[cds]" not in proc.stdout, proc.stdout[:2000]
    return json.loads(proc.stdout.strip().splitlines()[-1]), proc.stderr


def test_a_session_trains_then_the_next_maps_the_archive(tmp_path):
    cache = str(tmp_path / "xdg" / "scikg_spark")
    first, stderr = _session(tmp_path)
    assert "[warning][cds]" in stderr  # the dump's warnings went here
    (dump,) = glob.glob(os.path.join(cache, "*.tmp"))
    assert f"-XX:ArchiveClassesAtExit={dump}" in first["args"]
    assert not glob.glob(os.path.join(cache, "*.jsa"))
    with open(dump + ".json") as f:
        meta = json.load(f)
    assert meta["pid"] == first["pid"]
    assert meta["class_path"].startswith(os.path.join(cache, "conf") + "/:")

    # a truncated copy of the real archive, pending next to it
    key = os.path.basename(dump).split(".")[0]
    bad = os.path.join(cache, f"{key}.0-trunc.tmp")
    with open(dump, "rb") as src, open(bad, "wb") as dst:
        dst.write(src.read(os.path.getsize(dump) // 2))
    shutil.copy(dump + ".json", bad + ".json")
    size = os.path.getsize(dump)

    # _JAVA_OPTIONS, unlike JAVA_TOOL_OPTIONS, is parsed after the command
    # line's -Xlog:disable
    log = tmp_path / "classes-%p.log"
    second, _ = _session(
        tmp_path, _JAVA_OPTIONS=f"-Xlog:class+load=info:file={log}")
    final = os.path.join(cache, key + ".jsa")
    assert _files(cache) == sorted(["conf", key + ".jsa"])
    assert os.path.getsize(final) == size
    assert f"-XX:SharedArchiveFile={final}" in second["args"]
    assert "-Xshare:auto" in second["args"]
    with open(tmp_path / f"classes-{second['pid']}.log") as f:
        loaded = f.read()
    assert ("org.apache.spark.SparkContext source: shared objects file (top)"
            in loaded)
