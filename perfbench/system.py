"""Box-honest environment, machine fingerprint, process-tree memory
sampling and child-process cleanup. Linux only: everything reads
/proc."""

from __future__ import annotations

import os
import platform
import signal
import subprocess
import threading
import time


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_heap() -> str:
    """A quarter of physical memory, in whole GiB (at least 1): the
    driver heap is committed and pre-touched at start, and the Python
    workers and page cache need the rest."""
    return f"{max(1, mem_total_kb() // (4 * 1024 * 1024))}g"


def configure(work: str) -> None:
    """Size the session from this box and keep every scratch file of
    Spark, the JVM and Python under `work`. Must run before the JVM
    starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_DRIVER_MEM"] = driver_heap()
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    )
    import tempfile

    tempfile.tempdir = tmp


def _git_commit(root: str) -> str | None:
    try:
        out = subprocess.run(
            ["git", "-C", root, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
            # a checkout that is not a repository must not report the
            # commit of some repository above it
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(root)},
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def _jdk() -> str | None:
    try:
        out = subprocess.run(
            ["java", "-XX:-UsePerfData", "-version"],
            capture_output=True, text=True, timeout=30,
            env={k: v for k, v in os.environ.items() if k != "JAVA_TOOL_OPTIONS"},
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    lines = out.stderr.strip().splitlines()
    return lines[0] if lines else None


def fingerprint(root: str) -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": nproc(),
        "mem_total_kb": mem_total_kb(),
        "driver_heap": os.environ.get("SPARK_DRIVER_MEM"),
        "cpu": platform.processor() or platform.machine(),
        "jdk": _jdk(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "git_commit": _git_commit(root),
    }


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # comm may hold spaces/parens: ppid is the 2nd field after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page divided
    among the processes mapping it, so forked Python workers do not
    count their parent's pages again."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Background thread sampling the resident memory (summed PSS) of
    this process and all its descendants (driver JVM, Python workers)."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> int:
        me = os.getpid()
        kb = sum(_pss_kb(p) for p in [me] + descendants(me))
        self.peak_kb = max(self.peak_kb, kb)
        return kb

    def _run(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            state = f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return False
    return state != "Z"


def stop_descendants(timeout_s: float = 20.0) -> None:
    """SIGTERM every descendant, SIGKILL what is left after the timeout,
    and reap direct children so none is left running or defunct."""
    me = os.getpid()
    pids = descendants(me)
    for p in pids:
        try:
            os.kill(p, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        _reap()
        if not any(_alive(p) for p in pids):
            return
        time.sleep(0.1)
    for p in descendants(me):
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + 10.0
    while time.monotonic() < deadline and any(_alive(p) for p in pids):
        _reap()
        time.sleep(0.1)
    _reap()


def _reap() -> None:
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return
