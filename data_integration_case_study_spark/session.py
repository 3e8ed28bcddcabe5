"""SparkSession factory with a 100-TB-minded default configuration.

Local testing runs ``local[N]`` single-JVM; the configs below are chosen so
the *same* plans scale to a multi-executor cluster: AQE owns runtime
re-planning (partition coalescing, skew-join splitting, dynamic broadcast),
Arrow accelerates the few pandas_udf paths, and shuffle partitions default
to the local core count (on a real cluster this would be set to ~2-3x the
executor-core total, or left to AQE's coalescing).
"""

from __future__ import annotations

import atexit
import ctypes
import hashlib
import multiprocessing
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time
from collections.abc import Mapping
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path

from pyspark.sql import SparkSession


def local_cores() -> int:
    """The core count of the ``local[N]`` master: ``$SPARK_GRAFT_CPUS``;
    unset, the CPUs this process may run on (what ``nproc`` prints); a
    malformed value falls back to the host's CPU count. bench.py's
    environment fingerprint reads the same number."""
    raw = os.environ.get("SPARK_GRAFT_CPUS")
    if raw is None:
        return len(os.sched_getaffinity(0))
    try:
        return int(raw)
    except ValueError:
        return multiprocessing.cpu_count()


DEFAULT_SHUFFLE_PARTITIONS = local_cores()


# -- class-data-sharing archive of the driver's classes ----------------------
#
# A driver JVM loads and verifies ~18,000 classes from $SPARK_HOME/jars
# before the first row is read. A JDK static class-data-sharing archive
# (JEP 310) of those classes, mapped at launch, skips most of that work.
# The archive is built once per java binary and jars listing: the first
# session records the classes it loads, and its interpreter exit dumps
# them. See SCALE.md "Session start".

ARCHIVE_CACHE = "data_integration_case_study_spark"
# The first four bytes of a JDK static archive: magic 0xf00baba2, little-endian.
_STATIC_MAGIC = (0xF00BABA2).to_bytes(4, "little")
BUILD_TIMEOUT_S = 600
JAVA_OPTIONS = "spark.driver.extraJavaOptions"
# Options that already decide class data sharing; a caller passing one keeps it.
_CDS_OPTIONS = ("-Xshare", "-XX:SharedArchiveFile", "-XX:DumpLoadedClassList",
                "-XX:SharedClassListFile", "-XX:ArchiveClassesAtExit",
                "-XX:+RecordDynamicDumpInfo")
# Spark's launcher appends these directories and paths to the class path.
_CLASS_PATH_VARS = ("HADOOP_CONF_DIR", "YARN_CONF_DIR", "SPARK_DIST_CLASSPATH")
_PR_SET_PDEATHSIG = 1


@dataclass(frozen=True)
class Launch:
    """How the next driver JVM starts with respect to the class archive.

    ``state`` is ``archive`` (map ``archive``), ``recording`` (write the
    loaded-class list to ``class_list``; ``archive`` is built from it at
    exit) or ``off:<reason>``. ``java_options`` is the merged
    ``spark.driver.extraJavaOptions`` and ``conf_dir`` the
    ``SPARK_CONF_DIR`` to launch with (None: unchanged)."""

    state: str
    java_options: str | None
    conf_dir: str | None = None
    archive: Path | None = None
    class_list: Path | None = None


# One driver JVM per process, so one archive state per process.
_ARCHIVE_STATE = "off:not-launched"


def class_archive_state() -> str:
    """The class archive state of the driver JVM this process launched:
    ``mapped``, ``recording`` (the archive is built at interpreter exit),
    ``rejected`` (the JVM refused it; rebuilt at exit) or ``off:<reason>``
    (``off:not-launched`` before ``get_spark`` starts a JVM)."""
    return _ARCHIVE_STATE


def archive_cache_dir(env: Mapping[str, str]) -> Path:
    base = env.get("XDG_CACHE_HOME") or os.path.join(
        os.path.expanduser("~"), ".cache")
    return Path(base) / ARCHIVE_CACHE


def java_binary(env: Mapping[str, str]) -> str | None:
    """The java binary Spark's launcher runs: ``$JAVA_HOME/bin/java``, else
    the ``java`` on ``PATH``."""
    java_home = env.get("JAVA_HOME")
    java = (os.path.join(java_home, "bin", "java") if java_home
            else shutil.which("java", path=env.get("PATH")))
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def archive_key(java: str, jars_dir: str) -> str:
    """Digest of the java binary and the jars listing (name, size, mtime):
    an archive is valid only for the JVM and the classes it was dumped from."""
    h = hashlib.sha256(java.encode() + b"\0" + Path(java).read_bytes())
    for entry in sorted(os.scandir(jars_dir), key=lambda e: e.name):
        st = entry.stat()
        h.update(f"{entry.name}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()[:16]


def _is_static_archive(path: Path) -> bool:
    try:
        with open(path, "rb") as f:
            return f.read(4) == _STATIC_MAGIC
    except OSError:
        return False


def _live_entries(path: str) -> list[str]:
    """Entries of a class-path directory that make it non-empty to the JVM."""
    try:
        return os.listdir(path)
    except OSError:  # missing, or a jar file rather than a directory
        return []


def plan_launch(env: Mapping[str, str], cache: Path, key: str | None,
                caller_options: str | None) -> Launch:
    """Decide how a new driver JVM starts; starts nothing.

    Class data sharing refuses a non-empty directory on the class path, and
    Spark's launcher puts ``$SPARK_CONF_DIR`` (default ``$SPARK_HOME/conf``)
    first and ``HADOOP_CONF_DIR``, ``YARN_CONF_DIR`` and
    ``SPARK_DIST_CLASSPATH`` last. A conf dir holding only ``*.template``
    files (which Spark never reads) is swapped for the empty
    ``<cache>/conf``; any other live entry turns the archive off."""

    def off(reason: str) -> Launch:
        return Launch(f"off:{reason}", caller_options)

    if key is None:
        return off("no-key")
    if any(o.startswith(_CDS_OPTIONS) for o in shlex.split(caller_options or "")):
        return off("caller-cds-option")
    conf = env.get("SPARK_CONF_DIR") or os.path.join(env.get("SPARK_HOME", ""), "conf")
    conf_entries = _live_entries(conf)
    if not all(n.endswith(".template") and os.path.isfile(os.path.join(conf, n))
               for n in conf_entries):
        return off("SPARK_CONF_DIR")
    for var in _CLASS_PATH_VARS:
        if any(_live_entries(p) for p in env.get(var, "").split(os.pathsep) if p):
            return off(var)
    archive = cache / f"spark-{key}.jsa"
    if archive.with_suffix(".failed").exists():
        return off("build-failed")
    conf_dir = str(cache / "conf") if conf_entries else None
    if _is_static_archive(archive):
        state, class_list = "archive", None
        option = f"-XX:SharedArchiveFile={shlex.quote(str(archive))}"
    else:
        state = "recording"
        class_list = archive.with_suffix(f".{os.getpid()}.classlist")
        option = f"-XX:DumpLoadedClassList={shlex.quote(str(class_list))}"
    merged = f"{caller_options} {option}" if caller_options else option
    return Launch(state, merged, conf_dir, archive, class_list)


def _run_java(cmd: list[str]) -> None:
    """Run ``cmd`` under ``PR_SET_PDEATHSIG``, so a runner killed mid-build
    leaves no dump JVM behind."""
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int, ctypes.c_ulong, ctypes.c_ulong,
                      ctypes.c_ulong, ctypes.c_ulong]
    prctl.restype = ctypes.c_int
    parent = os.getpid()

    def die_with_parent():
        prctl(_PR_SET_PDEATHSIG, signal.SIGKILL, 0, 0, 0)
        if os.getppid() != parent:  # the parent died before prctl took effect
            os._exit(1)

    subprocess.run(cmd, stdin=subprocess.DEVNULL, capture_output=True,
                   text=True, timeout=BUILD_TIMEOUT_S, check=True,
                   preexec_fn=die_with_parent)


def build_archive(java: str, class_list: Path, class_path: str,
                  jvm_args: list[str], archive: Path) -> None:
    """Dump a static archive of the classes in ``class_list``, check that a
    JVM with the same class path and options maps it (``-Xshare:on`` fails
    otherwise), and rename it into place. Raises
    ``subprocess.CalledProcessError`` or ``subprocess.TimeoutExpired``;
    ``archive`` is then untouched."""
    tmp = archive.with_suffix(f".{os.getpid()}.tmp")
    base = [java, *jvm_args, "-cp", class_path, f"-XX:SharedArchiveFile={tmp}"]
    try:
        _run_java([*base, "-Xshare:dump", f"-XX:SharedClassListFile={class_list}"])
        _run_java([*base, "-Xshare:on", "-version"])
        os.replace(tmp, archive)
    finally:
        tmp.unlink(missing_ok=True)


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _take_lock(lock: Path) -> bool:
    """Create ``lock`` with O_EXCL. A lock whose process is gone, or older
    than two build timeouts, is stale and taken over once."""
    for _ in range(2):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
        except FileExistsError:
            try:
                owner = lock.read_text()
                age = time.time() - lock.stat().st_mtime
            except OSError:
                continue  # released meanwhile
            if age < 2 * BUILD_TIMEOUT_S and (
                    not owner.isdigit() or _pid_alive(int(owner))):
                return False  # held, or just created and its pid not yet written
            lock.unlink(missing_ok=True)
            continue
        with os.fdopen(fd, "w") as f:
            f.write(str(os.getpid()))
        return True
    return False


def _prune(archive: Path) -> None:
    """Delete the files of every other key, and the class lists and
    temporary archives that dead processes of this key left."""
    for path in archive.parent.glob("spark-*"):
        parts = path.name.split(".")
        if parts[0] != archive.stem or (
                len(parts) == 3 and parts[1].isdigit()
                and not _pid_alive(int(parts[1]))):
            path.unlink(missing_ok=True)


def _build_at_exit(archive: Path, java: str, class_path: str,
                   jvm_args: list[str], recorded: Path | None) -> None:
    """Build ``archive`` from the recorded class list (or, after a
    rejection, the list kept from the last build) unless another process
    holds the build lock or has built it. A failed build leaves a
    ``.failed`` marker so the key is not retried at every exit; a good one
    keeps its list and prunes every file of another key. A cache directory
    that went away or turned read-only skips the build."""
    kept = archive.with_suffix(".classlist")
    lock = archive.with_suffix(".lock")
    try:
        if _is_static_archive(archive) or not _take_lock(lock):
            return
        try:
            class_list = recorded if recorded and recorded.exists() else kept
            if not class_list.exists():
                return
            print(f"building class-data-sharing archive {archive} "
                  "(one-time, ~40 s)", file=sys.stderr, flush=True)
            try:
                build_archive(java, class_list, class_path, jvm_args, archive)
            except subprocess.CalledProcessError as e:
                tail = (e.stdout + e.stderr).strip().splitlines()[-3:]
                archive.with_suffix(".failed").write_text(
                    f"{e.cmd[-2:]} exited {e.returncode}: {' | '.join(tail)}\n")
                return
            except (subprocess.TimeoutExpired, OSError) as e:
                archive.with_suffix(".failed").write_text(f"{e}\n")
                return
            if class_list != kept:
                os.replace(class_list, kept)
            _prune(archive)
        finally:
            lock.unlink(missing_ok=True)
    except OSError:
        pass
    finally:
        if recorded:
            recorded.unlink(missing_ok=True)


def _new_launch(caller_options: str | None) -> Launch | None:
    """The launch plan when ``getOrCreate`` is about to start a driver JVM;
    None when it reuses a running one."""
    from pyspark import SparkContext
    from pyspark.find_spark_home import _find_spark_home

    if SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ:
        return None
    env = {**os.environ, "SPARK_HOME": _find_spark_home()}
    cache = archive_cache_dir(env)
    java = java_binary(env)
    try:
        key = java and archive_key(java, os.path.join(env["SPARK_HOME"], "jars"))
    except OSError:
        key = None
    launch = plan_launch(env, cache, key, caller_options)
    if launch.archive:
        try:
            os.makedirs(launch.conf_dir or cache, exist_ok=True)
        except OSError:
            return Launch("off:cache-dir", caller_options)
    return launch


@contextmanager
def _conf_dir(path: str | None):
    """Launch with ``SPARK_CONF_DIR=path``; pyspark hands its environment to
    spark-submit when it starts the JVM."""
    if not path:
        yield
        return
    before = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = path
    try:
        yield
    finally:
        if before is None:
            os.environ.pop("SPARK_CONF_DIR", None)
        else:
            os.environ["SPARK_CONF_DIR"] = before


def _after_start(spark: SparkSession, launch: Launch) -> str:
    """Read whether the archive mapped and schedule the exit-time build. A
    ``.rejected`` marker remembers one refusal, so an archive refused again
    after its rebuild marks the key failed instead of rebuilding at every
    exit."""
    if launch.archive is None:
        return launch.state
    jvm = spark.sparkContext._jvm
    mgmt = jvm.java.lang.management.ManagementFactory
    state = launch.state
    if state == "archive":
        bean = mgmt.getPlatformMXBean(
            jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
        mapped = bean.getVMOption("UseSharedSpaces").getValue() == "true"
        rejected_once = launch.archive.with_suffix(".rejected")
        if mapped:
            rejected_once.unlink(missing_ok=True)
            return "mapped"
        # A rejected archive also switched off the JDK's default one.
        launch.archive.unlink(missing_ok=True)
        if rejected_once.exists():  # the rebuild was refused too
            launch.archive.with_suffix(".failed").write_text(
                "rejected again after a rebuild\n")
            return "rejected"
        rejected_once.touch()
        state = "rejected"
    props = jvm.java.lang.System
    java = os.path.join(props.getProperty("java.home"), "bin", "java")
    args = [a for a in mgmt.getRuntimeMXBean().getInputArguments()
            if not a.startswith(_CDS_OPTIONS)]
    atexit.register(_build_at_exit, launch.archive, java,
                    props.getProperty("java.class.path"), args,
                    launch.class_list)
    return state


def get_spark(
    app_name: str = "data-integration-case-study-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Settings rationale (scale posture):

    - ``spark.sql.adaptive.enabled`` + coalescePartitions + skewJoin: at
      100 TB the optimizer's static estimates are wrong often enough that
      AQE's runtime re-plan (dynamic broadcast, skew split, coalesce) is
      mandatory, and it is free at small scale.
    - ``spark.sql.execution.arrow.pyspark.enabled``: the engine's policy is
      native expressions first; where Python is unavoidable we use Arrow
      batched pandas_udf, never row-at-a-time UDFs.
    - ``spark.sql.shuffle.partitions``: local default = core count; a real
      deployment sizes this so post-shuffle partitions are ~128-256 MB.
    - ``spark.sql.parquet.*`` pushdown flags are on by default in Spark 4
      but pinned here so the scan contract (PushedFilters in .explain) is
      explicit and survives config drift.
    - ``spark.buffer.pageSize`` = 4m: every sort, hash-aggregate and
      shuffle-sorter consumer in a task takes a whole Tungsten page before
      it holds a byte. Left unset, Spark sizes the page as
      nextPowerOf2(execution memory / cores / 16) capped at 64 MB, and
      the 8g driver hits the cap, so a 9-task sort of a few thousand rows
      zero-fills ~577 MB. A record larger than a page still gets its own
      page (``allocatePage`` takes max(pageSize, required)); the one new
      ceiling is the per-task page table, 8192 pages x 4 MiB = 32 GiB per
      task, far above any task's execution-memory share.
    - Class-data-sharing archive (session start only; no plan changes): a
      new driver JVM maps ``spark-<key>.jsa`` from
      ``~/.cache/data_integration_case_study_spark`` through
      ``spark.driver.extraJavaOptions`` (a caller's options are kept and
      extended), which cuts the class loading that dominates start. With
      no archive yet, the JVM records the classes it loads and the
      interpreter's exit dumps the archive once (30–40 s, ~150 MB).
      ``class_archive_state()`` says which happened (see ``plan_launch``
      for the conf-dir rule).
    """
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{local_cores()}]")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS),
        )
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Runtime SMJ -> shuffled-hash conversion (guide §3.1): when every
        # post-shuffle partition of the build side measures under this
        # threshold AT RUNTIME, AQE replaces the sort-merge join with a
        # shuffled-hash join and skips both sorts. Unlike the static
        # preferSortMergeJoin=false, the decision uses actual partition
        # bytes, so the per-task hash map is bounded (~64 MB, the
        # advisory partition size) at ANY corpus size — the explode-blind
        # size-estimate failure class (round 10's broadcast bug) cannot
        # reach it. Sort-pinned joins (the ER candidate join's merge
        # hint) are unaffected. Env-tunable for deployments that size
        # partitions differently. Measured ~8%% on the join-heavy catalog
        # subset at sf0.1 under load-controlled A/B.
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            os.environ.get("SPARK_GRAFT_SHJ_THRESHOLD", "64m"),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.buffer.pageSize", "4m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    global _ARCHIVE_STATE
    conf = dict(extra_conf or {})
    launch = _new_launch(conf.get(JAVA_OPTIONS))
    if launch and launch.java_options:
        conf[JAVA_OPTIONS] = launch.java_options
    for k, v in conf.items():
        builder = builder.config(k, v)
    with _conf_dir(launch and launch.conf_dir):
        spark = builder.getOrCreate()
    if launch:
        _ARCHIVE_STATE = _after_start(spark, launch)
    return spark
