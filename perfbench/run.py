"""Benchmark entry point.

    python3 perfbench/run.py --workload kg_dense --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. Generates the workload's inputs from
the seed, starts the session (timed as setup_s), runs warm-up units
(the first verified against an oracle), then closed-loop units for
--seconds, and prints one JSON
object as the last line of stdout. --trace 0 reports the end-to-end
metrics; --trace 1 reports the per-layer metrics of a traced run (see
README.md). Exits non-zero when an output is wrong or the program
cannot be imported.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MIN_UNITS = 4
# untimed units before the timed ones: the first (cold JVM, codegen) is
# verified against the oracle, any further ones are only checked
WARMUP_UNITS = 1


def _run_unit(wl, spark, tracer=None, keep=False):
    from workloads import UNIT_TIMEOUT_S, Unit

    t0 = time.perf_counter()
    try:
        u = wl.unit(spark, tracer=tracer, keep=keep)
    except Exception:  # a unit that raises is a failed unit; keep measuring
        traceback.print_exc()
        return Unit(time.perf_counter() - t0, 0, 0, ["raised"])
    if u.wall_s > UNIT_TIMEOUT_S:
        u.errors.append(f"timed out ({u.wall_s:.1f} s)")
    return u


class Tally:
    """Units attempted and failed, with the reasons."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def add(self, errors: list[str]) -> bool:
        self.attempted += 1
        if errors:
            self.failed += 1
            self.errors.extend(errors)
        return not errors

    def check(self, errors: list[str]) -> None:
        """A check over all units so far (end-of-run): a mismatch fails
        every unit it covers."""
        if errors:
            self.failed = self.attempted
            self.errors.extend(errors)


def measure(wl, spark, seconds: float, tally: Tally) -> list:
    """WARMUP_UNITS untimed units, the first verified against the
    oracle, then closed-loop units for `seconds` (at least MIN_UNITS).
    Returns the timed units that passed."""
    u = _run_unit(wl, spark, keep=True)
    verify = [] if u.errors else _guard(wl.verify, spark)
    tally.add(u.errors + verify)
    for _ in range(WARMUP_UNITS - 1):
        tally.add(_run_unit(wl, spark).errors)
    timed = []
    t_end = time.monotonic() + seconds
    while time.monotonic() < t_end or len(timed) < MIN_UNITS:
        if getattr(wl, "exhausted", lambda: False)() or tally.attempted > 200:
            break
        u = _run_unit(wl, spark)
        if tally.add(u.errors):
            timed.append(u)
        elif len(timed) == 0 and tally.failed > MIN_UNITS:
            break
    return timed


def _guard(fn, *args) -> list[str]:
    try:
        return fn(*args)
    except Exception as e:  # a check that cannot run is a failed check
        traceback.print_exc()
        return [f"{fn.__name__} raised {type(e).__name__}: {e}"]


def start_session(app: str, extra_conf=None) -> tuple:
    from cello_spark.session import get_spark, warm_python_workers

    t0 = time.perf_counter()
    spark = get_spark(app_name=app, extra_conf=extra_conf)
    start_s = time.perf_counter() - t0
    warm_s = warm_python_workers(spark)
    return spark, start_s, time.perf_counter() - t0, warm_s


def end_to_end(timed: list, setup_s: float, peak_mb: float) -> dict:
    from stats import median

    wall = sum(u.wall_s for u in timed)
    return {
        "setup_s": setup_s,
        "latency_p50_s": median([u.wall_s for u in timed]),
        "docs_per_s": sum(u.docs for u in timed) / wall,
        "triples_per_s": sum(u.triples for u in timed) / wall,
        "peak_rss_mb": peak_mb,
    }


def traced_phase(wl, spark, tally) -> tuple:
    """Units and layer calls under spans, with Spark's event log on."""
    from spans import Tracer

    tracer = Tracer(spark)
    if hasattr(wl, "layers"):
        wl.progress = _progress_listener(spark)
    timed = []
    while len(timed) < MIN_UNITS and tally.attempted < 200:
        if getattr(wl, "exhausted", lambda: False)():
            break
        u = _run_unit(wl, spark, tracer, keep=len(timed) == MIN_UNITS - 1)
        if tally.add(u.errors):
            timed.append(u)
        elif tally.failed > MIN_UNITS:
            break
    tally.check(_guard(wl.finish, spark))
    extras = {}
    if hasattr(wl, "layers") and not tally.failed:
        extras = wl.layers(spark, tracer, wl.last_pipe)
    return tracer, timed, extras


def _progress_listener(spark):
    import threading

    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        """(triggerExecution ms, input rows) of every micro-batch."""

        def __init__(self):
            self.batches: list[tuple[float, int]] = []
            self._cv = threading.Condition()

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            if p.numInputRows > 0:
                with self._cv:
                    self.batches.append(
                        (float(p.durationMs.get("triggerExecution", 0)), int(p.numInputRows))
                    )
                    self._cv.notify_all()

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def wait_for(self, n: int, timeout_s: float = 10.0) -> list:
            with self._cv:
                self._cv.wait_for(lambda: len(self.batches) >= n, timeout_s)
                return list(self.batches)

    listener = Progress()
    spark.streams.addListener(listener)
    return listener


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isfile(os.path.join(ROOT, "cello_spark", "__init__.py")):
        print(f"perfbench: no cello_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import system
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    system.configure(work)
    wl = WORKLOADS[args.workload](args.seed, work)
    tally = Tally()
    info = {"workload": wl.name, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "fingerprint": system.fingerprint(ROOT)}
    spark = None
    try:
        with system.RssSampler() as rss:
            t0 = time.perf_counter()
            wl.generate()
            info["gen_s"] = time.perf_counter() - t0
            spark, start_s, setup_s, warm_s = start_session(f"perfbench-{wl.name}")
            timed = measure(wl, spark, args.seconds, tally)
            if args.trace:
                untraced_p50 = _p50(timed)
                spark.stop()
                evdir = os.path.join(work, "eventlog")
                os.makedirs(evdir, exist_ok=True)
                spark, *_ = start_session(f"perfbench-{wl.name}-traced", {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + evdir,
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                })
                tracer, traced, extras = traced_phase(wl, spark, tally)
            else:
                tally.check(_guard(wl.finish, spark))
            spark.stop()
            spark = None
            peak_mb = rss.peak_mb
    finally:
        if spark is not None:
            spark.stop()
        system.stop_descendants()
        if not args.trace:
            shutil.rmtree(work, ignore_errors=True)

    from stats import tail_percentile

    walls = [u.wall_s for u in timed]
    tail = tail_percentile(walls)
    info.update({
        "units_s": walls,
        "latency_tail": None if tail is None else {"percentile": tail[0], "value_s": tail[1], "samples": len(walls)},
        "fail_ratio": tally.failed / max(1, tally.attempted),
        "errors": tally.errors[:20],
    })
    correct = tally.failed == 0 and bool(timed)
    if args.trace:
        from layers import per_layer

        events_path = (glob.glob(os.path.join(work, "eventlog", "*")) or [None])[0]
        metrics = per_layer(wl, tracer, events_path, extras, {
            "session.start_s": start_s, "session.py_warm_s": warm_s,
            "trace.latency_p50_s": _p50(traced),
            "trace.overhead_s": _p50(traced) - untraced_p50 if traced and timed else 0.0,
        })
        tracer.dump(os.path.join(out_dir, f"{wl.name}-seed{args.seed}-trace.json"),
                    {"info": info, "metrics": metrics})
        correct = correct and bool(traced)
        shutil.rmtree(work, ignore_errors=True)
    else:
        metrics = end_to_end(timed, setup_s, peak_mb) if timed else {}

    from metrics import END_TO_END, PER_LAYER

    units = dict(PER_LAYER if args.trace else END_TO_END)
    print(json.dumps(info))
    print(json.dumps({
        "correct": correct,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in units.items()},
    }))
    return 0 if correct else 1


def _p50(units: list) -> float:
    from stats import median

    return median([u.wall_s for u in units]) if units else 0.0


if __name__ == "__main__":
    sys.exit(main())
