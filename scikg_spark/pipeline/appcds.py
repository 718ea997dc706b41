"""A per-user AppCDS class archive for the driver JVM that ``get_spark``
launches.

A cold driver JVM loads about 15k classes before its first query, and
parsing and verifying them is most of the session's start-up. JDK 17 can
dump the classes a run loaded into a dynamic CDS archive when the JVM exits
(``-XX:ArchiveClassesAtExit``), and a later JVM maps that archive instead of
loading the classes again (``-XX:SharedArchiveFile``). JDK 19's
``-XX:+AutoCreateSharedArchive`` automates this; JDK 17 does not, so this
module does:

- With no archive for the current key (:func:`archive_key`), the launch adds
  ``-XX:ArchiveClassesAtExit=<cache>/<key>.<pid>-<token>.tmp``, a path no
  other launch uses. After start-up, :func:`record_dump` writes the JVM's own
  pid, ``java.home``, ``java.class.path`` and input arguments next to it.
- A later launch, once that JVM has exited, probes the dump:
  ``java <same flags> -Xshare:on -XX:SharedArchiveFile=<dump> -cp <same
  classpath> -version``. Only a probe that exits 0 moves the dump to
  ``<key>.jsa`` (``os.replace``); otherwise the dump is deleted. A truncated
  archive crashes the JVM with SIGBUS even under ``-Xshare:auto``, so a
  partial dump must never reach the final name. Promotion deletes the
  archives of every other key.
- Every launch after that maps ``<key>.jsa`` with ``-Xshare:auto``, which
  falls back to a normal start if the JVM finds any mismatch.

The JVM refuses to dump with a non-empty directory on the classpath, and
Spark's launcher puts its conf directory there. So the archive is only used
when ``SPARK_CONF_DIR`` is unset and ``$SPARK_HOME/conf`` holds nothing but
``*.template`` files; ``SPARK_CONF_DIR`` then points at an empty directory in
the cache, which Spark reads the same way. The cache is
``${XDG_CACHE_HOME:-~/.cache}/scikg_spark``; deleting it is always safe.
"""

from __future__ import annotations

import glob
import hashlib
import json
import mmap
import os
import secrets
import shutil
import subprocess

from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home

# Added to the dumping JVM's own flags: -Xshare:on exits 1 instead of falling
# back, VerifySharedSpaces checks each region's CRC, and a crash writes no
# hs_err file.
_PROBE_FLAGS = ("-Xshare:on", "-XX:+VerifySharedSpaces",
                "-XX:+SuppressFatalErrorMessage")
_CDS_FLAGS = ("-XX:ArchiveClassesAtExit=", "-XX:SharedArchiveFile=", "-Xshare:")


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "scikg_spark")


def java_binary() -> str:
    """The java that Spark's launcher runs, resolved as ``spark-class`` does."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java else ""


def archive_key(java: str, jars_dir: str, flags: str) -> str:
    """Hash of what the JVM validates an archive against: the java binary,
    the Spark jars (name, size, mtime) and the flag string."""
    h = hashlib.sha256(f"{java}\0{flags}".encode())
    for entry in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"\0{entry.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def java_options(flags: str, memory: str) -> tuple[str, str | None]:
    """The driver's ``extraJavaOptions``: ``flags`` plus the archive flags,
    and the path the JVM dumps to (None unless this launch trains).

    Only when this process is about to launch the JVM (no gateway yet, not
    under ``spark-submit``) and Spark's conf directory holds only templates;
    otherwise ``flags`` unchanged."""
    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return flags, None
    if "SPARK_CONF_DIR" in os.environ:
        return flags, None
    spark_home = _find_spark_home()
    conf = os.path.join(spark_home, "conf")
    if os.path.isdir(conf) and any(
            not name.endswith(".template") for name in os.listdir(conf)):
        return flags, None
    cache = cache_dir()
    empty_conf = os.path.join(cache, "conf")
    try:
        os.makedirs(empty_conf, exist_ok=True)
        if os.listdir(empty_conf) or any(c.isspace() for c in cache):
            return flags, None
        key = archive_key(java_binary(), os.path.join(spark_home, "jars"),
                          f"{flags} -Xmx{memory}")
        final = promote(cache, key)
    except (OSError, ValueError):  # an unwritable or foreign cache: no archive
        return flags, None
    os.environ["SPARK_CONF_DIR"] = empty_conf
    if final:
        return f"{flags} -XX:SharedArchiveFile={final} -Xshare:auto", None
    dump = os.path.join(cache, f"{key}.{os.getpid()}-{secrets.token_hex(4)}.tmp")
    return f"{flags} -XX:ArchiveClassesAtExit={dump}", dump


def record_dump(spark, dump: str) -> None:
    """Write ``<dump>.json``: the probe's java, classpath and flags, read from
    the running JVM that will write ``dump`` when it exits."""
    jvm = spark.sparkContext._jvm
    system = jvm.java.lang.System
    meta = {"pid": int(jvm.java.lang.ProcessHandle.current().pid()),
            "java_home": system.getProperty("java.home"),
            "class_path": system.getProperty("java.class.path"),
            "args": list(jvm.java.lang.management.ManagementFactory
                         .getRuntimeMXBean().getInputArguments())}
    # until this file parses, promote() waits for this (live) process
    with open(dump + ".json", "w") as f:
        json.dump(meta, f)


def promote(cache: str, key: str) -> str | None:
    """Settle every dump whose JVM has exited: promote a dump of ``key`` that
    passes :func:`probe`, delete the rest. -> ``<key>.jsa`` if it exists."""
    final = os.path.join(cache, key + ".jsa")
    dumps = {p.removesuffix(".json") for p in
             glob.glob(os.path.join(cache, "*.tmp"))
             + glob.glob(os.path.join(cache, "*.tmp.json"))}
    for dump in sorted(dumps):
        meta = _read_meta(dump + ".json")
        # the JVM's pid once recorded; before that, the launching process's
        owner = meta["pid"] if meta else int(
            os.path.basename(dump).split(".")[1].split("-")[0])
        if _alive(owner):
            continue
        if (os.path.basename(dump).startswith(key + ".")
                and not os.path.exists(final) and meta is not None
                and os.path.exists(dump) and probe(dump, meta)):
            try:
                os.replace(dump, final)
            except FileNotFoundError:
                pass  # another launch settled it first
            else:
                _remove(*(p for p in glob.glob(os.path.join(cache, "*.jsa"))
                          if p != final))
        _remove(dump, dump + ".json")
    return final if os.path.exists(final) else None


def probe(dump: str, meta: dict) -> bool:
    """True if a JVM with the dumping JVM's java, flags and classpath starts
    with ``dump`` mapped. A complete archive ends on an allocation-granularity
    boundary; a copy cut inside its zero padding would still map."""
    if os.path.getsize(dump) % mmap.ALLOCATIONGRANULARITY:
        return False
    args = [a for a in meta["args"] if not a.startswith(_CDS_FLAGS)]
    cmd = [os.path.join(meta["java_home"], "bin", "java"), *args,
           *_PROBE_FLAGS, f"-XX:SharedArchiveFile={dump}",
           "-cp", meta["class_path"], "-version"]
    try:
        return subprocess.run(cmd, stdin=subprocess.DEVNULL,
                              stdout=subprocess.DEVNULL,
                              stderr=subprocess.DEVNULL,
                              timeout=120).returncode == 0
    except (OSError, subprocess.TimeoutExpired):
        return False


def _read_meta(path):
    try:
        with open(path) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True
    return True


def _remove(*paths):
    for path in paths:
        try:
            os.remove(path)
        except FileNotFoundError:
            pass
