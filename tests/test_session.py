"""Session sizing, the driver JVM's class-data-sharing archive and the
zip-import patch. Only the last test starts a JVM (in a child
process)."""

import json
import os
import subprocess
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest
from pyspark import SparkContext

from cello_spark import session
from cello_spark.session import default_driver_mem, initial_heap, memory_mb

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
