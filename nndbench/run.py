#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 nndbench/run.py --workload nnd_build_784 --seed 1 --seconds 10 --trace 0

Run it from the root of the repository. ``--trace 0`` prints the
end-to-end metrics; ``--trace 1`` turns Spark's event log on, sets a job
group around every public call and prints the per-layer metrics. Every
file the run writes goes under ``.bench_out/`` and is removed at exit.
The last line of standard output is the result; Spark's own logging goes
to standard error.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

# The driver JVM's heap, committed and touched at start-up. The
# workloads' data are a few MB, so 1 GB leaves Spark's execution and
# storage pools room without asking a shared host for more. A heap that
# G1 grows on demand made the JVM's resident size depend on when the
# collector decided to expand, which swung peak RSS by 10-20% between
# runs of the same workload.
HEAP = "1g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "peak_rss_mb": "MB",
    "write_s": "s",
    "write_cpu_s": "s",
    "write_shuffle_mb": "MB",
    "recall": "fraction",
    "round_s": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(out: str) -> None:
    """Point every scratch location of Python, Spark and the JVM into
    ``out`` and size the session to this host."""
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(out, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(out, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_DRIVER_MEMORY"] = HEAP
    # the JVM that spark-submit runs first to assemble the driver's command
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    )
    # Python workers import the program from the same checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = os.environ["TMPDIR"]


def session_conf(out: str, traced: bool) -> dict[str, str]:
    from spans import spark_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(out, "local"),
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(out, 'tmp')} -XX:-UsePerfData "
            f"-Xms{HEAP} -XX:+AlwaysPreTouch"
        ),
    }
    if traced:
        conf.update(spark_conf(os.path.join(out, "events")))
    return conf


class Context:
    """What a workload needs: the session, the tracer, the ledger of
    operations, its scratch directory and its seed."""

    def __init__(self, spark, tracer, ledger, out: str, seed: int):
        self.spark = spark
        self.tracer = tracer
        self.ledger = ledger
        self.out = out
        self.seed = seed
        self._status = spark.sparkContext._jsc.sc()  # noqa: SLF001

    def shuffle_written(self) -> int:
        """Bytes of shuffle written so far in this session, from Spark's
        live status store once its listener has caught up."""
        self._status.listenerBus().waitUntilEmpty()
        return int(self._status.statusStore().executorSummary("driver").totalShuffleWrite())

    @staticmethod
    def log(msg: str) -> None:
        print(f"[nndbench] {msg}", file=sys.stderr, flush=True)


def stop_session(spark, monitor) -> None:
    """Stop Spark, end the JVM, and wait until every process the run
    started has exited."""
    from pyspark import SparkContext

    started = monitor.descendants()
    spark.stop()
    gateway = SparkContext._gateway  # noqa: SLF001
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - any failure to exit ends in a kill
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    alive = started
    while alive and time.monotonic() < deadline:
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def _median(values) -> float:
    """Median over the rounds that produced the value; 0 when every
    round's operation failed, which ``failed`` then reports."""
    values = [v for v in values if v is not None]
    return statistics.median(values) if values else 0.0


def main(argv=None) -> int:
    args = parse_args(argv)
    # a terminated run still stops Spark and its workers on the way out
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    out = os.path.join(ROOT, ".bench_out", f"{args.workload}-{args.seed}-{os.getpid()}")
    prepare_env(out)
    try:
        return run(args, out)
    finally:
        shutil.rmtree(out, ignore_errors=True)


def run(args, out: str) -> int:
    sys.path.insert(1, ROOT)
    import spark_nnd_spark

    if os.path.dirname(os.path.dirname(os.path.abspath(spark_nnd_spark.__file__))) != ROOT:
        raise SystemExit(f"spark_nnd_spark imported from outside {ROOT}")
    import layers
    import oracle
    from procstat import Monitor
    from spark_nnd_spark import get_spark
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; have {sorted(WORKLOADS)}")
    traced = bool(args.trace)
    with Monitor() as monitor:
        t_setup = time.perf_counter()
        spark = get_spark(
            app_name=f"nndbench-{args.workload}", extra_conf=session_conf(out, traced)
        )
        session_s = time.perf_counter() - t_setup
        tracer = Tracer(spark, monitor, traced)
        ledger = oracle.Ledger()
        ctx = Context(spark, tracer, ledger, out, args.seed)
        wl = WORKLOADS[args.workload](ctx)
        try:
            wl.setup()
            setup_s = time.perf_counter() - t_setup
            rounds = []
            first_span = len(tracer.spans)
            before = monitor.read()
            t_run = time.perf_counter()
            while not rounds or time.perf_counter() - t_run < args.seconds:
                rounds.append(wl.round(len(rounds)))
            after = monitor.read()
        finally:
            stop_session(spark, monitor)
    ctx.log("peak RSS by process (MB): " + ", ".join(
        f"{name} {rss / 1e6:.0f}" for name, rss in monitor.peak_procs))
    for v in ledger.violations[:20]:
        ctx.log(f"check failed: {v}")

    if traced:
        metrics = layers.per_layer(
            tracer, out, session_s, tracer.spans[first_span:], before, after,
            monitor, rounds,
        )
    else:
        metrics = {
            "setup_s": setup_s,
            "peak_rss_mb": monitor.peak_rss / 1e6,
            **{k: _median(r.get(k) for r in rounds) for k in END_TO_END_UNITS
               if k not in ("setup_s", "peak_rss_mb")},
        }
        metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END_UNITS.items()}
    result = {
        "correct": ledger.correct,
        "attempted": ledger.attempted,
        "failed": ledger.failed,
        "metrics": metrics,
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
