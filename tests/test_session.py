"""Session sizing, the driver JVM's class-data-sharing archive, the
zip-import patch and the Python-worker daemon. The CDS launch test
starts a JVM in a child process; the worker tests at the end use the
shared session."""

import json
import os
import subprocess
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest
from pyspark import SparkContext

from cello_spark import session, worker_daemon
from cello_spark.session import (
    default_driver_mem,
    initial_heap,
    memory_mb,
    warm_python_workers,
)

GIB_KB = 1024 * 1024
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_default_driver_mem_is_half_of_memtotal():
    # a 15 GB box: MemTotal just under 16 GiB; the half rounds down
    assert default_driver_mem(16_083_436) == "7g"
    assert default_driver_mem(32 * GIB_KB) == "16g"


def test_default_driver_mem_bounds():
    assert default_driver_mem(GIB_KB) == "1g"  # never below 1g
    assert default_driver_mem(512 * GIB_KB) == "24g"  # capped


def test_default_driver_mem_reads_this_box():
    mem = default_driver_mem()
    assert mem.endswith("g") and 1 <= int(mem[:-1]) <= 24


def test_initial_heap_is_per_slot_and_never_above_the_max():
    assert initial_heap(4, "3g") == "1024m"
    assert initial_heap(1, "1g") == "256m"
    assert initial_heap(8, "1g") == "1024m"  # capped at -Xmx


def test_memory_mb_parses_spark_memory_strings():
    assert memory_mb("512m") == 512
    assert memory_mb("3g") == 3072
    assert memory_mb("2G") == 2048
    assert memory_mb("1048576k") == 1024
    assert memory_mb("1t") == 1024 * 1024
    assert memory_mb("3gb") == 3072
    assert memory_mb("768") == 768  # a bare number is MB
    for bad in ("1.5g", "3 g", "g", "1048576b"):
        with pytest.raises(ValueError):
            memory_mb(bad)


# ---------------------------------------------------------------------------
# Class-data sharing (AppCDS) for the driver JVM
# ---------------------------------------------------------------------------

@pytest.fixture
def cds_box(tmp_path, monkeypatch):
    """A stock Spark install (templates-only conf dir), a java binary and
    an empty cache, with no driver JVM running. Training is replaced by
    a recorder; tests that need it publish or fail explicitly."""
    home = tmp_path / "spark"
    (home / "jars").mkdir(parents=True)
    (home / "jars" / "spark-core.jar").write_bytes(b"core")
    (home / "conf").mkdir()
    (home / "conf" / "spark-defaults.conf.template").write_text("# stock\n")
    java = tmp_path / "jdk" / "bin" / "java"
    java.parent.mkdir(parents=True)
    java.write_bytes(b"java")
    monkeypatch.setenv("SPARK_HOME", str(home))
    monkeypatch.setenv("JAVA_HOME", str(tmp_path / "jdk"))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    for v in ("SPARK_CONF_DIR", "PYSPARK_GATEWAY_PORT", *session._CLASSPATH_ENV):
        monkeypatch.delenv(v, raising=False)
    monkeypatch.setattr(SparkContext, "_gateway", None)
    box = SimpleNamespace(
        home=home,
        java=java,
        cache=tmp_path / "cache" / "cello_spark" / "cds",
        trained=[],
    )
    monkeypatch.setattr(session, "_cds_train", lambda cache, key: box.trained.append(key))
    box.key = lambda: session._cds_key(str(java), str(home / "jars"))
    return box


def test_cds_stock_install_starts_from_published_archive(cds_box):
    cds_box.cache.mkdir(parents=True)
    jsa = cds_box.cache / f"{cds_box.key()}.jsa"
    jsa.write_bytes(b"archive")
    opts, conf_dir = session._cds_options()
    assert opts.split() == [
        f"-XX:SharedArchiveFile={jsa}", "-Xlog:disable", "-Xlog:all=warning:stderr"
    ]
    assert conf_dir == str(cds_box.cache / "conf") and os.listdir(conf_dir) == []
    assert cds_box.trained == []


@pytest.mark.parametrize(
    "live",
    ["defaults", "conf_dir_env", "HADOOP_CONF_DIR", "SPARK_DIST_CLASSPATH"],
)
def test_cds_live_conf_launches_as_before(cds_box, tmp_path, monkeypatch, live):
    """A conf dir holding a live file, or a variable that adds to the
    launch classpath: no CDS flags, no training, SPARK_CONF_DIR as the
    user set it (a published archive notwithstanding)."""
    cds_box.cache.mkdir(parents=True)
    (cds_box.cache / f"{cds_box.key()}.jsa").write_bytes(b"archive")
    if live == "defaults":
        (cds_box.home / "conf" / "spark-defaults.conf").write_text("spark.x 1\n")
    elif live == "conf_dir_env":
        user_conf = tmp_path / "user_conf"
        user_conf.mkdir()
        (user_conf / "spark-env.sh").write_text("export X=1\n")
        monkeypatch.setenv("SPARK_CONF_DIR", str(user_conf))
    else:
        monkeypatch.setenv(live, str(tmp_path))
    before = os.environ.get("SPARK_CONF_DIR")
    assert session._cds_options() is None
    assert os.environ.get("SPARK_CONF_DIR") == before
    assert cds_box.trained == []


def test_launch_points_conf_dir_only_during_launch(monkeypatch, tmp_path):
    seen = []
    builder = SimpleNamespace(
        getOrCreate=lambda: seen.append(os.environ.get("SPARK_CONF_DIR"))
    )
    monkeypatch.setenv("SPARK_CONF_DIR", "/user/conf")
    session._launch(builder, None)
    session._launch(builder, str(tmp_path))
    assert seen == ["/user/conf", str(tmp_path)]
    assert os.environ["SPARK_CONF_DIR"] == "/user/conf"
    monkeypatch.delenv("SPARK_CONF_DIR")
    session._launch(builder, str(tmp_path))
    assert "SPARK_CONF_DIR" not in os.environ


def test_cds_key_tracks_jdk_and_spark_install(cds_box):
    key = cds_box.key()
    assert cds_box.key() == key
    (cds_box.home / "jars" / "extra.jar").write_bytes(b"extra")
    jars_changed = cds_box.key()
    assert jars_changed != key
    cds_box.java.write_bytes(b"java, patched")
    assert cds_box.key() not in (key, jars_changed)


def test_cds_never_passes_an_unpublished_archive(cds_box):
    """A leftover tmp file is not an archive, and a `.failed` marker
    stops retraining: both launch without CDS."""
    cds_box.cache.mkdir(parents=True)
    key = cds_box.key()
    (cds_box.cache / f"{key}.4242.tmp").write_bytes(b"half an archive")
    assert session._cds_options() is None
    assert cds_box.trained == [key]  # trained, published nothing
    (cds_box.cache / f"{key}.failed").write_text("training exited with 1\n")
    assert session._cds_options() is None
    assert cds_box.trained == [key]  # not retrained


def test_cds_unwritable_cache_starts_without_cds(cds_box, tmp_path, monkeypatch):
    blocker = tmp_path / "not_a_dir"
    blocker.write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(blocker))
    assert session._cds_options() is None
    assert cds_box.trained == []


def test_cds_running_jvm_gets_no_flags(cds_box, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", object())
    assert session._cds_options() is None
    assert cds_box.trained == []


@pytest.mark.parametrize("rc", [0, 1, None])
def test_cds_train_publishes_only_a_clean_exit(tmp_path, monkeypatch, rc):
    """The training child's archive becomes `<key>.jsa` only when the
    child exits 0; a failure or a timeout leaves `<key>.failed`, and no
    tmp file survives either way."""

    class Child:
        pid = 0

        def __init__(self, args, **_kw):
            with open(args[-1], "wb") as f:  # the tmp archive path
                f.write(b"dump")
            self.rc = rc

        def wait(self, timeout=None):
            if self.rc is None and timeout is not None:
                raise subprocess.TimeoutExpired("train", timeout)
            return -9 if self.rc is None else self.rc

        def poll(self):
            return self.rc

    killed = []
    monkeypatch.setattr(session.subprocess, "Popen", Child)
    monkeypatch.setattr(session.os, "killpg", lambda pid, sig: killed.append(sig))
    session._cds_train(str(tmp_path), "k")
    names = sorted(os.listdir(tmp_path))
    if rc == 0:
        assert names == ["k.jsa", "k.log"]
    else:
        assert names == ["k.failed", "k.log"]
    # the training's process group is killed whatever the outcome, so
    # no JVM is left writing the tmp file
    assert killed == [session.signal.SIGKILL]


def test_zip_directory_reread_only_when_zip_changes(tmp_path, monkeypatch):
    """`importlib.invalidate_caches()` (PySpark's worker calls it per
    task) re-reads a zip's directory once, not once per call, and again
    after the zip is rewritten."""
    if sys.version_info >= (3, 12):
        pytest.skip("CPython 3.12 invalidates zip caches lazily itself")
    zp = tmp_path / "m.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("a.py", "A = 1\n")
    importer = zipimport.zipimporter(str(zp))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(
        zipimport, "_read_directory", lambda p: reads.append(p) or real(p)
    )
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert reads == [str(zp)]
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr("a.py", "A = 2\n")
        z.writestr("b.py", "B = 1\n")
    importer.invalidate_caches()
    assert reads == [str(zp), str(zp)]
    assert importer.find_spec("b") is not None
    monkeypatch.delitem(zipimport._zip_directory_cache, str(zp))


def test_get_spark_driver_starts_from_published_archive(tmp_path):
    """A fresh process on a stock install (trains the archive first if
    this box has none yet): the driver JVM gets the archive, the stderr
    log routing and a pre-touched initial heap of one slot's share (not
    the 1g maximum), the session runs a job, SPARK_CONF_DIR is restored,
    and stdout carries only the script's own line."""
    code = (
        "import json, os, sys; sys.path.insert(0, sys.argv[1]);"
        "from cello_spark import get_spark;"
        "s = get_spark(app_name='cds_test', cores=1);"
        "print(json.dumps({'opts': s.conf.get('spark.driver.extraJavaOptions'),"
        " 'n': s.range(10).count(), 'conf': os.environ.get('SPARK_CONF_DIR')}))"
    )
    conf = tmp_path / "conf"
    conf.mkdir()
    env = {k: v for k, v in os.environ.items() if k not in session._CLASSPATH_ENV}
    env.update(SPARK_DRIVER_MEM="1g", SPARK_CONF_DIR=str(conf))
    out = subprocess.run(
        [sys.executable, "-c", code, ROOT],
        env=env, capture_output=True, text=True, timeout=900,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout
    got = json.loads(lines[0])
    assert got["n"] == 10 and got["conf"] == str(conf)
    archive = [o for o in got["opts"].split() if o.startswith("-XX:SharedArchiveFile=")]
    assert len(archive) == 1, got["opts"]
    assert archive[0].endswith(".jsa") and os.path.isfile(archive[0].split("=", 1)[1])
    assert "-Xlog:disable -Xlog:all=warning:stderr" in got["opts"]
    opts = got["opts"].split()
    assert "-XX:+AlwaysPreTouch" in opts and "-Xms256m" in opts, got["opts"]


# ---------------------------------------------------------------------------
# Python workers: the preloaded daemon and the warm-up
# ---------------------------------------------------------------------------


def test_import_cello_spark_loads_no_pyspark():
    """The worker daemon is run as `python -m cello_spark.worker_daemon`,
    which imports the package first: that import must leave pyspark
    unloaded, while `from cello_spark import get_spark` still works."""
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); import cello_spark;"
        "loaded = [m for m in sys.modules if m.split('.')[0] == 'pyspark'];"
        "assert not loaded, loaded;"
        "from cello_spark import get_spark;"
        "from cello_spark.session import get_spark as real;"
        "assert get_spark is real"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, ROOT], capture_output=True, text=True, timeout=120
    )
    assert out.returncode == 0, out.stderr[-4000:]


def _spark_lib(tmp_path, zip_version: str) -> list[str]:
    """A stand-in `$SPARK_HOME`: pyspark.zip of `zip_version`, the py4j
    zip and the spark-core jar, as the worker factory lists them."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    with zipfile.ZipFile(lib / "pyspark.zip", "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f"__version__: str = '{zip_version}'\n")
    with zipfile.ZipFile(lib / "py4j-0.10.9.9-src.zip", "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir()
    jar.write_bytes(b"jar")
    return [str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip"), str(jar)]


def _site(tmp_path, version: str | None) -> str:
    site = tmp_path / "site-packages"
    site.mkdir()
    if version is not None:
        (site / "pyspark").mkdir()
        (site / "pyspark" / "__init__.py").write_text("")
        (site / "pyspark" / "version.py").write_text(f'__version__: str = "{version}"\n')
    return str(site)


@pytest.mark.parametrize(
    "installed, zipped, moved",
    [("4.1.2", "4.1.2", True), ("4.0.1", "4.1.2", False), (None, "4.1.2", False)],
)
def test_daemon_puts_spark_archives_behind_an_installed_pyspark(
    tmp_path, installed, zipped, moved
):
    """Equal versions move Spark's archives behind the interpreter's
    paths; a different or a missing installed pyspark leaves the path
    as it is."""
    archives = _spark_lib(tmp_path, zipped)
    site = _site(tmp_path, installed)
    stdlib = str(tmp_path / "python311.zip")
    own = [str(tmp_path / "cwd"), *archives, ROOT, stdlib, site]
    got = worker_daemon.prefer_installed_pyspark(list(own))
    if moved:
        assert got == [str(tmp_path / "cwd"), ROOT, stdlib, site, *archives]
    else:
        assert got == own


def test_daemon_path_without_spark_zip_is_unchanged(tmp_path):
    site = _site(tmp_path, "4.1.2")
    own = [str(tmp_path), ROOT, site]
    assert worker_daemon.prefer_installed_pyspark(list(own)) == own


def test_warmed_workers_serve_tasks_from_the_preloaded_daemon(spark):
    """After the warm-up, a job of `defaultParallelism` tasks runs on
    workers the daemon has already forked. Each imports pyspark from
    the installed copy (Spark's zip when the versions differ), and has
    pandas and pyarrow loaded before its task starts, imported by the
    daemon before it forked."""
    from perfbench.system import _children_map
    from pyspark.find_spark_home import _find_spark_home

    # nested, so cloudpickle ships it by value: the workers cannot import
    # this test module by name
    def _worker_state(batches):
        preloaded = [m for m in ("pandas", "pyarrow") if m in sys.modules]
        import pandas as pd
        import pyspark

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "pid": [os.getpid()],
                "ppid": [os.getppid()],
                "pyspark": [pyspark.__file__],
                "main": [sys.modules["__main__"].__spec__.name],
                "preloaded": [",".join(preloaded)],
            }
        )

    n = spark.sparkContext.defaultParallelism
    warm_python_workers(spark)
    kids = _children_map()
    # one daemon per worker environment: a long session can hold several
    forked = {
        p: set(kids.get(p, ()))
        for p in kids[spark.sparkContext._gateway.proc.pid]
        if b"cello_spark.worker_daemon" in open(f"/proc/{p}/cmdline", "rb").read()
    }
    assert forked
    got = (
        spark.range(0, n, 1, n)
        .mapInPandas(
            _worker_state,
            "pid long, ppid long, pyspark string, main string, preloaded string",
        )
        .toPandas()
    )
    assert len(got) == n
    served = set(got.ppid)
    assert len(served) == 1 and served <= forked.keys(), (served, forked)
    (daemon,) = served
    assert len(forked[daemon]) >= n
    assert set(got.pid) <= forked[daemon], (sorted(got.pid), sorted(forked[daemon]))
    assert set(got.main) == {"cello_spark.worker_daemon"}
    assert set(got.preloaded) == {"pandas,pyarrow"}
    # the daemon itself has pandas' and pyarrow's extension modules
    # mapped: the workers inherit them from the fork, not the first task
    with open(f"/proc/{daemon}/maps") as f:
        maps = f.read()
    assert f"{os.sep}pandas{os.sep}_libs{os.sep}" in maps
    assert f"{os.sep}pyarrow{os.sep}" in maps
    lib = os.path.join(_find_spark_home(), "python", "lib")
    zipped = worker_daemon._zip_version(os.path.join(lib, "pyspark.zip"))
    import pyspark

    from_zip = zipped is not None and zipped != pyspark.__version__
    assert {f.startswith(lib + os.sep) for f in got.pyspark} == {from_zip}


def test_warm_python_workers_runs_one_single_stage_job(spark):
    sc = spark.sparkContext
    group = "warm_python_workers_test"
    sc.setJobGroup(group, "warm-up only")
    try:
        warm_python_workers(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    assert len(jobs) == 1, jobs
    stages = list(tracker.getJobInfo(jobs[0]).stageIds)
    assert len(stages) == 1, stages
    assert tracker.getStageInfo(stages[0]).numTasks == sc.defaultParallelism
