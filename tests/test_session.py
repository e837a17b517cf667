"""The driver JVM's class-data-sharing archive: when it is used, built,
promoted and left alone (``osmi_addresses_spark.session``)."""

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark.find_spark_home import _find_spark_home

from osmi_addresses_spark.session import (
    _CDS_FOREIGN_ENV,
    DEFAULT_CONF,
    archive_accepted,
    cds_key,
    promote_candidates,
    use_cds,
)

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# everything that steers the launch; each test sets what it needs
_LAUNCH_ENV = ("XDG_CACHE_HOME", "SPARK_CONF_DIR", *_CDS_FOREIGN_ENV)


def _java() -> str:
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else shutil.which("java")


def _env(tmp_path, **extra) -> dict:
    env = {k: v for k, v in os.environ.items() if k not in _LAUNCH_ENV}
    env["XDG_CACHE_HOME"] = str(tmp_path / "cache")
    env.update(extra)
    return env


def _templates_only_conf(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf.template").write_text("spark.master local[2]\n")
    return conf


def test_templates_only_conf_dir_launches_with_cds(tmp_path):
    env = _env(tmp_path, SPARK_CONF_DIR=str(_templates_only_conf(tmp_path)))
    conf = dict(DEFAULT_CONF)
    cds = use_cds(conf, env)
    assert cds is not None and cds.dumping
    assert env["SPARK_CONF_DIR"] == cds.conf_dir and os.listdir(cds.conf_dir) == []
    opts = conf["spark.driver.extraJavaOptions"]
    assert opts.startswith(DEFAULT_CONF["spark.driver.extraJavaOptions"] + " ")
    assert "-XX:ArchiveClassesAtExit=" in opts and "-Xlog:cds=off" in opts


@pytest.mark.parametrize("case", ["real_conf_file", "cache_not_creatable", "hadoop_conf_dir",
                                  "extra_class_path"])
def test_plain_launch_when_cds_cannot_apply(tmp_path, case):
    conf_dir = _templates_only_conf(tmp_path)
    env = _env(tmp_path, SPARK_CONF_DIR=str(conf_dir))
    conf = dict(DEFAULT_CONF)
    if case == "real_conf_file":
        (conf_dir / "spark-defaults.conf").write_text("spark.master local[2]\n")
    elif case == "cache_not_creatable":
        (tmp_path / "file").write_text("")
        env["XDG_CACHE_HOME"] = str(tmp_path / "file" / "cache")
    elif case == "hadoop_conf_dir":
        env["HADOOP_CONF_DIR"] = str(tmp_path)
    else:
        conf["spark.driver.extraClassPath"] = str(tmp_path)
    conf_before, env_before = dict(conf), dict(env)
    assert use_cds(conf, env) is None
    # exactly today's driver options, and SPARK_CONF_DIR left alone
    assert conf == conf_before
    assert env == env_before


def test_changed_jar_listing_changes_key(tmp_path):
    jars = tmp_path / "jars"
    jars.mkdir()
    (jars / "a.jar").write_bytes(b"a")
    java = _java()
    key = cds_key(java, str(jars))
    assert cds_key(java, str(jars)) == key
    (jars / "b.jar").write_bytes(b"b")
    added = cds_key(java, str(jars))
    (jars / "b.jar").write_bytes(b"bb")
    resized = cds_key(java, str(jars))
    assert len({key, added, resized}) == 3


def test_truncated_candidate_is_deleted_not_promoted(tmp_path):
    java = _java()
    # the prefix of a real archive has a valid header: a JVM that maps it
    # dies with SIGBUS, so only the validating JVM may ever see it
    real = os.path.join(os.path.dirname(os.path.dirname(os.path.realpath(java))),
                        "lib", "server", "classes.jsa")
    if not os.path.isfile(real):  # any file over 1 MB does
        real = max(glob.glob(os.path.join(_find_spark_home(), "jars", "*.jar")),
                   key=os.path.getsize)
    with open(real, "rb") as f:
        prefix = f.read(1 << 20)
    assert len(prefix) == 1 << 20
    cache = tmp_path / "cds"
    cache.mkdir()
    (cache / "k.classpath").write_text(str(tmp_path))
    cand = cache / "k.0123.dump"
    cand.write_bytes(prefix)
    (cache / "other.jsa").write_bytes(b"another key's archive")
    assert not archive_accepted(java, str(cand), str(tmp_path))
    assert promote_candidates(str(cache), "k", java) is False
    assert sorted(os.listdir(cache)) == ["k.classpath", "other.jsa"]


def test_candidate_without_recorded_classpath_is_deleted(tmp_path):
    cache = tmp_path / "cds"
    cache.mkdir()
    (cache / "k.0123.dump").write_bytes(b"\0" * 4096)
    assert promote_candidates(str(cache), "k", _java()) is False
    assert os.listdir(cache) == []


_CHILD = """
import json
from osmi_addresses_spark.session import get_spark, warm_python_workers

spark = get_spark("cds-test", cores=2, extra_conf={
    "spark.driver.memory": "1g", "spark.memory.offHeap.size": "512m"})
warm_python_workers(spark, 2)
print(json.dumps({"opts": spark.sparkContext.getConf().get("spark.driver.extraJavaOptions")}))
spark.stop()
"""


def test_first_run_builds_archive_second_uses_it(tmp_path):
    env = _env(tmp_path, PYTHONPATH=os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p))
    cache = os.path.join(env["XDG_CACHE_HOME"], "osmi_addresses_spark", "cds")

    def run():
        r = subprocess.run([sys.executable, "-c", _CHILD], env=env, cwd=str(tmp_path),
                           capture_output=True, text=True, timeout=400)
        assert r.returncode == 0, r.stderr[-3000:]
        lines = r.stdout.splitlines()
        assert not [ln for ln in lines if "[cds" in ln or "Error occurred" in ln]
        return json.loads(lines[-1])

    first = run()
    assert "-XX:ArchiveClassesAtExit=" in first["opts"]
    # the dumping process waited for its JVM, then checked and promoted
    (archive,) = glob.glob(os.path.join(cache, "*.jsa"))
    assert os.path.getsize(archive) > 1 << 20
    assert not glob.glob(os.path.join(cache, "*.dump"))

    second = run()
    assert f"-XX:SharedArchiveFile={archive} -Xshare:auto" in second["opts"]
    assert glob.glob(os.path.join(cache, "*.jsa")) == [archive]
