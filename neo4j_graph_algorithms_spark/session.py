"""SparkSession builder tuned for the link-graph engine.

Local-mode defaults mirror what we would submit on a real cluster via
``spark-submit --py-files`` (see README): AQE on (runtime skew-join
splitting + partition coalescing), Arrow on (``toPandas`` and the
multimodal ``mapInPandas`` decode), shuffle partitions sized to cores rather than the 200
default, UTC timezone so results compare bit-for-bit against the
DuckDB oracle.

Cold start.  A fresh driver JVM spends most of its start-up loading
classes, and every job here (each resumed checkpointed PageRank, each
benchmark run) starts one.  When ``get_spark`` itself launches the
driver JVM, it starts it from a per-host dynamic AppCDS
(class-data-sharing) archive in
``$XDG_CACHE_HOME/neo4j_graph_algorithms_spark/cds/`` (``~/.cache``
when ``XDG_CACHE_HOME`` is unset):

- the archive is keyed on the JDK (its ``release`` file), the jar set
  in ``$SPARK_HOME/jars`` (name, size, mtime) and ``pyspark.__version__``;
- the first such JVM on a host has no archive; it records the classes
  it loads and writes the archive (about 170 MB) when it exits, which
  at interpreter exit keeps Python waiting a few seconds after the
  work ends.  The file is written under a temporary name and renamed,
  only after a clean exit, to a name that records its byte size;
- a file whose size does not match its name is deleted, never
  handed to the JVM (a truncated archive crashes the JVM that maps it);
- publishing an archive deletes every other file there, so at most one
  archive is kept; deleting the directory clears the cache;
- the archive needs the launch classpath to hold no non-empty
  directory, so the launch points ``SPARK_CONF_DIR`` at an empty
  directory in the cache.  This is done only when the effective conf
  dir holds nothing but ``*.template`` files (the same configuration);
  with real Spark or Hadoop config, or when the cache cannot be
  written, the JVM starts exactly as without the archive;
- a session whose JVM already runs, and a driver started by
  ``spark-submit`` (``PYSPARK_GATEWAY_PORT`` set, as for ``jobs/*.py``),
  do not get the archive.
"""

from __future__ import annotations

import atexit
import contextlib
import hashlib
import os
import secrets
import shlex
import shutil
import subprocess
from dataclasses import dataclass

import pyspark
from pyspark import SparkContext
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

_DRIVER_JAVA_OPTIONS = "spark.driver.extraJavaOptions"
#: how long interpreter exit waits for a training JVM to stop Spark and
#: write its archive (about 11 s on a 4-core host) before killing it
_TRAIN_EXIT_TIMEOUT_S = 120


def get_spark(
    app_name: str = "neo4j_graph_algorithms_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session.

    ``cores=None`` → ``local[*]``.  On a real cluster this builder is a
    no-op passthrough: ``spark-submit`` owns master/memory and
    ``getOrCreate`` returns the provided session.
    """
    cores_s = "*" if cores is None else str(cores)
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.appName(app_name)
        .master(os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores_s}]"))
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    conf = dict(extra_conf or {})
    launches_jvm = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ  # noqa: SLF001
    launch = _cds_launch(conf) if launches_jvm else None
    if launch is not None:
        # appended: a caller's own driver options are kept
        conf[_DRIVER_JAVA_OPTIONS] = " ".join(
            filter(None, (conf.get(_DRIVER_JAVA_OPTIONS), launch.java_option))
        )
    for k, v in conf.items():
        builder = builder.config(k, v)
    try:
        with _env("SPARK_CONF_DIR", launch.conf_dir) if launch else contextlib.nullcontext():
            spark = builder.getOrCreate()
    finally:
        # SparkContext._gateway may be cleared before exit (perfbench
        # does), so the hook keeps its own handle on the JVM process
        gateway = SparkContext._gateway  # noqa: SLF001
        if launch and launch.train_path and gateway is not None and gateway.proc:
            atexit.register(_publish_archive, gateway.proc, launch)
    spark.sparkContext.setLogLevel("WARN")
    return spark


@dataclass(frozen=True)
class _CdsLaunch:
    java_option: str        # appended to spark.driver.extraJavaOptions
    conf_dir: str           # empty SPARK_CONF_DIR for the launch
    cds_dir: str
    key: str
    train_path: str | None  # where a training JVM writes its archive


def _cds_launch(conf: dict[str, str]) -> _CdsLaunch | None:
    """The class-data-sharing flags for a driver JVM about to launch, or
    ``None`` to launch it without them."""
    spark_home = _find_spark_home()
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not _only_templates(conf_dir) or "spark.driver.extraClassPath" in conf or any(
        os.environ.get(v) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
    ):
        return None  # classpath directories with files: the JVM cannot archive
    cds_dir = _cds_dir()
    empty_conf = os.path.join(cds_dir, "empty-conf")
    try:
        key = _archive_key(_java_home(), os.path.join(spark_home, "jars"), pyspark.__version__)
        os.makedirs(empty_conf, exist_ok=True)
        usable = not os.listdir(empty_conf) and os.access(cds_dir, os.W_OK)
    except OSError:
        return None
    # the path goes into a Java option string: keep it free of quoting
    if not usable or shlex.quote(cds_dir) != cds_dir:
        return None
    archive = _find_archive(cds_dir, key)
    if archive is not None:
        return _CdsLaunch(f"-XX:SharedArchiveFile={archive}", empty_conf, cds_dir, key, None)
    train = os.path.join(cds_dir, f"{key}.{os.getpid()}.{secrets.token_hex(4)}.tmp")
    # -Xlog:cds=off: the dump warns once per class it skips (thousands)
    return _CdsLaunch(
        f"-XX:ArchiveClassesAtExit={train} -Xlog:cds=off", empty_conf, cds_dir, key, train
    )


def _cds_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "neo4j_graph_algorithms_spark", "cds")


def _only_templates(conf_dir: str) -> bool:
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _java_home() -> str:
    """The JDK ``spark-class`` runs: ``$JAVA_HOME``, else ``java`` on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home:
        return home
    java = shutil.which("java")
    if java is None:
        raise FileNotFoundError("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _archive_key(java_home: str, jars_dir: str, pyspark_version: str) -> str:
    """Hash of what decides the driver's loaded classes: the JDK, the
    launch jar set and the pyspark version."""
    h = hashlib.sha256()
    with open(os.path.join(java_home, "release"), "rb") as fh:
        h.update(fh.read())
    for entry in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    h.update(pyspark_version.encode())
    return h.hexdigest()[:24]


def _find_archive(cds_dir: str, key: str) -> str | None:
    """A published archive for ``key`` whose size on disk is the size in
    its name; mismatched files are deleted."""
    for name in sorted(os.listdir(cds_dir)):
        stem = name.removesuffix(".jsa")
        if stem == name or not stem.startswith(key + "-"):
            continue
        path = os.path.join(cds_dir, name)
        try:
            if os.path.getsize(path) == int(stem[len(key) + 1:]):
                return path
        except (OSError, ValueError):
            pass
        with contextlib.suppress(OSError):
            os.remove(path)
    return None


def _publish_archive(proc: subprocess.Popen, launch: _CdsLaunch) -> None:
    """At interpreter exit: end the training JVM (it exits on stdin EOF),
    then publish the archive it wrote — only after a clean exit — and
    delete every other file in the cache."""
    sc = SparkContext._active_spark_context  # noqa: SLF001
    if sc is not None and getattr(SparkContext._gateway, "proc", None) is proc:  # noqa: SLF001
        # a live context's accumulator server would report the JVM's exit;
        # a failed stop must not keep the archive from being published
        with contextlib.suppress(Exception):
            sc.stop()
    with contextlib.suppress(OSError, ValueError):
        proc.stdin.close()
    try:
        code = proc.wait(timeout=_TRAIN_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        code = proc.wait()
    try:
        size = os.path.getsize(launch.train_path) if code == 0 else 0
        if size:
            final = os.path.join(launch.cds_dir, f"{launch.key}-{size}.jsa")
            os.replace(launch.train_path, final)
            for name in os.listdir(launch.cds_dir):
                path = os.path.join(launch.cds_dir, name)
                if path != final and os.path.isfile(path):
                    os.remove(path)
    except OSError:
        pass
    finally:
        with contextlib.suppress(OSError):
            os.remove(launch.train_path)


@contextlib.contextmanager
def _env(name: str, value: str):
    old = os.environ.get(name)
    os.environ[name] = value
    try:
        yield
    finally:
        if old is None:
            os.environ.pop(name, None)
        else:
            os.environ[name] = old
