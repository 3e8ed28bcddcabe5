"""The driver's class-data-sharing archive (session.py): the launch decision
as pure functions with no JVM, the exit-time build's failure bookkeeping,
and one small archive built from the session's own class path."""

from __future__ import annotations

import os
import subprocess

import pytest

from data_integration_case_study_spark import session

KEY = "0123456789abcdef"


@pytest.fixture
def spark_home(tmp_path):
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "jars").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# x\n")
    (home / "conf" / "log4j2.properties.template").write_text("# x\n")
    (home / "jars" / "spark-core.jar").write_bytes(b"jar")
    return home


@pytest.fixture
def cache(tmp_path):
    c = tmp_path / "cache"
    c.mkdir()
    return c


def plan(spark_home, cache, caller=None, key=KEY, **env):
    return session.plan_launch({"SPARK_HOME": str(spark_home), **env},
                               cache, key, caller)


def write_archive(path, magic=session._STATIC_MAGIC):
    path.write_bytes(magic + b"\0" * 60)


def test_archive_present_is_mapped_with_template_conf_swapped(spark_home, cache):
    write_archive(cache / f"spark-{KEY}.jsa")
    launch = plan(spark_home, cache)
    assert launch.state == "archive"
    assert launch.java_options == f"-XX:SharedArchiveFile={cache}/spark-{KEY}.jsa"
    # only *.template files: the launch points SPARK_CONF_DIR at an empty dir
    assert launch.conf_dir == str(cache / "conf")


def test_archive_missing_records_the_loaded_classes(spark_home, cache):
    launch = plan(spark_home, cache)
    assert launch.state == "recording"
    listed = cache / f"spark-{KEY}.{os.getpid()}.classlist"
    assert launch.class_list == listed
    assert launch.archive == cache / f"spark-{KEY}.jsa"
    assert launch.java_options == f"-XX:DumpLoadedClassList={listed}"


def test_zero_header_or_foreign_key_archive_is_not_mapped(spark_home, cache):
    write_archive(cache / f"spark-{KEY}.jsa", magic=b"\0\0\0\0")  # torn write
    write_archive(cache / "spark-fedcba9876543210.jsa")  # another JDK/jars
    assert plan(spark_home, cache).state == "recording"


def test_live_conf_file_turns_the_archive_off(spark_home, cache):
    (spark_home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    write_archive(cache / f"spark-{KEY}.jsa")
    launch = plan(spark_home, cache, caller="-Dfoo=1")
    assert launch.state == "off:SPARK_CONF_DIR"
    assert launch.java_options == "-Dfoo=1" and launch.conf_dir is None


def test_explicit_conf_dir_with_templates_only_is_swapped(spark_home, cache, tmp_path):
    own = tmp_path / "own-conf"
    own.mkdir()
    (own / "workers.template").write_text("localhost\n")
    (spark_home / "conf" / "spark-defaults.conf").write_text("ignored\n")
    launch = plan(spark_home, cache, SPARK_CONF_DIR=str(own))
    assert launch.state == "recording"
    assert launch.conf_dir == str(cache / "conf")


def test_empty_conf_dir_is_left_alone(spark_home, cache):
    for f in (spark_home / "conf").iterdir():
        f.unlink()
    launch = plan(spark_home, cache)
    assert launch.state == "recording" and launch.conf_dir is None


@pytest.mark.parametrize("var", ["HADOOP_CONF_DIR", "YARN_CONF_DIR"])
def test_non_empty_class_path_dir_turns_the_archive_off(spark_home, cache,
                                                        tmp_path, var):
    empty, full = tmp_path / "empty", tmp_path / "full"
    empty.mkdir()
    full.mkdir()
    (full / "core-site.xml").write_text("<configuration/>\n")
    assert plan(spark_home, cache, **{var: str(empty)}).state == "recording"
    assert plan(spark_home, cache, **{var: str(full)}).state == f"off:{var}"


def test_caller_java_options_are_merged_not_clobbered(spark_home, cache):
    write_archive(cache / f"spark-{KEY}.jsa")
    launch = plan(spark_home, cache, caller="-Dfoo=1 -Xss4m")
    assert launch.java_options == (
        f"-Dfoo=1 -Xss4m -XX:SharedArchiveFile={cache}/spark-{KEY}.jsa")
    # a caller that already decides class data sharing keeps its choice
    launch = plan(spark_home, cache, caller="-Dfoo=1 -Xshare:off")
    assert launch.state == "off:caller-cds-option"
    assert launch.java_options == "-Dfoo=1 -Xshare:off"


def test_failed_build_marker_and_missing_java_turn_the_archive_off(spark_home, cache):
    assert plan(spark_home, cache, key=None).state == "off:no-key"
    (cache / f"spark-{KEY}.failed").write_text("dump exited 1\n")
    assert plan(spark_home, cache).state == "off:build-failed"


def test_key_follows_the_jars_listing(spark_home, tmp_path):
    java = tmp_path / "java"
    java.write_bytes(b"launcher")
    jars = str(spark_home / "jars")
    key = session.archive_key(str(java), jars)
    assert key == session.archive_key(str(java), jars)
    (spark_home / "jars" / "spark-core.jar").write_bytes(b"jar2")
    assert session.archive_key(str(java), jars) != key


def test_failed_build_leaves_a_marker_and_no_lock(cache, capsys):
    archive = cache / f"spark-{KEY}.jsa"
    recorded = cache / f"spark-{KEY}.{os.getpid()}.classlist"
    recorded.write_text("java/lang/Object\n")
    session._build_at_exit(archive, "/bin/false", "", [], recorded)
    assert f"building class-data-sharing archive {archive}" in capsys.readouterr().err
    assert "-Xshare:dump" in (cache / f"spark-{KEY}.failed").read_text()
    assert not archive.exists() and not recorded.exists()
    assert not (cache / f"spark-{KEY}.lock").exists()
    # a cache directory that went away skips the build without raising
    gone = cache / "gone" / f"spark-{KEY}.jsa"
    session._build_at_exit(gone, "/bin/false", "", [], None)
    assert not gone.parent.exists()


def test_lock_of_a_dead_process_is_taken_over(cache):
    lock = cache / f"spark-{KEY}.lock"
    dead = subprocess.Popen(["true"])
    dead.wait()
    lock.write_text(str(dead.pid))
    assert session._take_lock(lock)
    assert lock.read_text() == str(os.getpid())
    assert not session._take_lock(lock)  # held by this live process


def test_archive_of_session_classes_maps(spark, tmp_path):
    state = session.class_archive_state()
    if state.startswith("off:"):
        pytest.skip(f"this session launched without the class archive: {state}")
    props = spark.sparkContext._jvm.java.lang.System
    java = os.path.join(props.getProperty("java.home"), "bin", "java")
    class_path = props.getProperty("java.class.path")
    listed = tmp_path / "session.classlist"
    # the classes a JVM on the session's class path loads through Spark's
    # own entry point; the last 500 mix JDK, Scala and Spark classes
    subprocess.run([java, "-cp", class_path, f"-XX:DumpLoadedClassList={listed}",
                    "org.apache.spark.deploy.SparkSubmit", "--version"],
                   check=True, capture_output=True, timeout=120)
    classes = [ln for ln in listed.read_text().splitlines()
               if not ln.startswith("#")][-500:]
    assert any(c.startswith("org/apache/spark/") for c in classes)
    subset = tmp_path / "subset.classlist"
    subset.write_text("\n".join(classes) + "\n")
    archive = tmp_path / "spark-test.jsa"
    session.build_archive(java, subset, class_path, [], archive)
    assert archive.read_bytes()[:4] == session._STATIC_MAGIC
    out = subprocess.run([java, "-Xshare:on", f"-XX:SharedArchiveFile={archive}",
                          "-cp", class_path, "-version"],
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
