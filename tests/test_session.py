"""The driver JVM's class-data-sharing archive (``session.get_spark``):
its key, how it joins the caller's options, when it is skipped, and the
train → publish → map round trip in fresh processes."""

import glob
import json
import os
import subprocess
import sys

import pytest
from pyspark import SparkContext
from pyspark.sql import SparkSession

from neo4j_graph_algorithms_spark import session

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _fake_install(tmp_path):
    java = tmp_path / "jdk"
    java.mkdir()
    (java / "release").write_text('JAVA_VERSION="17.0.20"\n')
    jars = tmp_path / "jars"
    jars.mkdir()
    for name in ("a.jar", "b.jar"):
        (jars / name).write_bytes(b"x" * 10)
        os.utime(jars / name, ns=(10**18, 10**18))
    return str(java), str(jars)


def test_key_follows_jdk_jars_and_pyspark(tmp_path):
    java, jars = _fake_install(tmp_path)
    base = session._archive_key(java, jars, "4.1.2")
    assert session._archive_key(java, jars, "4.1.2") == base
    assert session._archive_key(java, jars, "4.1.3") != base
    jar = os.path.join(jars, "a.jar")
    os.utime(jar, ns=(10**18, 10**18 + 1))
    touched = session._archive_key(java, jars, "4.1.2")
    assert touched != base
    with open(jar, "ab") as fh:
        fh.write(b"y")
    os.utime(jar, ns=(10**18, 10**18 + 1))
    assert session._archive_key(java, jars, "4.1.2") not in (base, touched)
    with open(os.path.join(java, "release"), "a") as fh:
        fh.write('IMPLEMENTOR="other"\n')
    assert session._archive_key(java, jars, "4.1.2") not in (base, touched)


def test_callers_driver_options_are_kept(tmp_path, monkeypatch):
    """The archive flag is appended to the caller's options, and
    SPARK_CONF_DIR is set only around the launch."""
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)  # as before a first launch
    if session._cds_launch({}) is None:
        pytest.skip("this Spark install has real config in its conf dir")
    seen = {}

    def fake_get_or_create(builder):
        seen.update(builder._options)
        seen["SPARK_CONF_DIR"] = os.environ.get("SPARK_CONF_DIR")
        raise RuntimeError("launch stopped here")

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", fake_get_or_create)
    with pytest.raises(RuntimeError, match="launch stopped here"):
        session.get_spark(extra_conf={"spark.driver.extraJavaOptions": "-Dcaller=1"})
    opts = seen["spark.driver.extraJavaOptions"]
    assert opts.startswith("-Dcaller=1 -XX:ArchiveClassesAtExit=" + str(tmp_path))
    assert seen["SPARK_CONF_DIR"] == os.path.join(session._cds_dir(), "empty-conf")
    assert "SPARK_CONF_DIR" not in os.environ


def test_real_config_turns_archive_off(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("")
    monkeypatch.setenv("SPARK_CONF_DIR", str(conf))
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH"):
        monkeypatch.delenv(var, raising=False)
    assert session._cds_launch({}) is not None
    # extra classpath entries, which may be directories with files
    assert session._cds_launch({"spark.driver.extraClassPath": str(conf)}) is None
    monkeypatch.setenv("HADOOP_CONF_DIR", str(conf))
    assert session._cds_launch({}) is None
    monkeypatch.delenv("HADOOP_CONF_DIR")
    (conf / "spark-defaults.conf").write_text("spark.driver.memory 2g\n")
    assert session._cds_launch({}) is None


def test_archive_with_wrong_size_is_deleted_not_used(tmp_path):
    key = "k" * 24
    short = tmp_path / f"{key}-1000.jsa"
    short.write_bytes(b"x" * 10)
    assert session._find_archive(str(tmp_path), key) is None
    assert not short.exists()
    good = tmp_path / f"{key}-10.jsa"
    good.write_bytes(b"x" * 10)
    other = tmp_path / f"{'j' * 24}-10.jsa"
    other.write_bytes(b"x" * 10)
    assert session._find_archive(str(tmp_path), key) == str(good)


# -- fresh processes: one trains, one maps, one meets a truncated archive

PROBE = """
import json
from neo4j_graph_algorithms_spark import get_spark
spark = get_spark(app_name="cds-probe", cores=2, shuffle_partitions=2)
pid = spark._jvm.ProcessHandle.current().pid()
with open(f"/proc/{pid}/maps") as fh:
    maps = sorted({l.split()[-1] for l in fh if l.rstrip().endswith(".jsa")})
rows = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
print(json.dumps({"maps": maps, "counts": sorted(r["count"] for r in rows)}))
"""
WANT_COUNTS = sorted([143] * 6 + [142])


def _probe(cache: str) -> dict:
    env = {k: v for k, v in os.environ.items() if k != "PYSPARK_GATEWAY_PORT"}
    env.update(XDG_CACHE_HOME=cache, PYTHONPATH=ROOT)
    p = subprocess.run([sys.executable, "-c", PROBE], cwd=ROOT, env=env,
                       capture_output=True, text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def _cds_files(cache: str) -> list[str]:
    d = os.path.join(cache, "neo4j_graph_algorithms_spark", "cds")
    return sorted(f for f in glob.glob(os.path.join(d, "*")) if os.path.isfile(f))


@pytest.fixture(scope="module")
def trained(tmp_path_factory):
    """A cache in which one fresh process has trained an archive."""
    cache = str(tmp_path_factory.mktemp("xdg"))
    with session._env("XDG_CACHE_HOME", cache):
        if session._cds_launch({}) is None:
            pytest.skip("this Spark install has real config in its conf dir")
    return cache, _probe(cache)


def test_first_process_trains_second_maps(trained):
    cache, first = trained
    assert first["counts"] == WANT_COUNTS
    files = _cds_files(cache)
    assert len(files) == 1 and files[0].endswith(".jsa"), files  # no temp left
    archive = files[0]
    assert archive not in first["maps"]
    assert os.path.getsize(archive) == int(archive[:-4].rsplit("-", 1)[1])
    second = _probe(cache)
    assert archive in second["maps"]
    assert second["counts"] == WANT_COUNTS


def test_truncated_archive_is_not_mapped(trained, tmp_path):
    """The first 20 MB of a real archive, under a name claiming the full
    size, would crash the JVM; the size check deletes it instead."""
    (archive,) = _cds_files(trained[0])
    cds = tmp_path / "neo4j_graph_algorithms_spark" / "cds"
    cds.mkdir(parents=True)
    truncated = cds / os.path.basename(archive)
    with open(archive, "rb") as src:
        truncated.write_bytes(src.read(20 << 20))
    out = _probe(str(tmp_path))
    assert out["counts"] == WANT_COUNTS
    assert str(truncated) not in out["maps"]
    # the process trained a fresh archive in its place
    (fresh,) = _cds_files(str(tmp_path))
    assert os.path.getsize(fresh) == int(fresh[:-4].rsplit("-", 1)[1])
