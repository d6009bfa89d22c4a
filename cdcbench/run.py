#!/usr/bin/env python3
"""End-to-end CDC benchmark over the in-process Kafka broker.

    python3 cdcbench/run.py --workload backfill --seed 1 --seconds 4 --trace 0

Run from the repository root. The workload's input is generated from the
seed (cached under ``.cdcbench/cache``), loaded into a fake broker, and
drained through the paper's path: Kafka wire -> JVM header prefilter ->
decode -> typed I/UB/UA/D changelog -> upsert / signed aggregates ->
``offset@timestamp`` tracker. Every drain is checked against the
generator's own ground truth. The last line of stdout is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics`` -- the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
See cdcbench/README.md.
"""

from __future__ import annotations

import time

_T_SCRIPT = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402


def _since_process_start() -> float:
    """Seconds since this process was started (Linux /proc); falls back to
    the time since this script began running."""
    try:
        with open("/proc/self/stat") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
        start = int(fields[19]) / os.sysconf("SC_CLK_TCK")
        return time.clock_gettime(time.CLOCK_BOOTTIME) - start
    except (OSError, ValueError, IndexError, AttributeError):
        return time.perf_counter() - _T_SCRIPT


def _parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(pl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--cpus", type=int, default=min(4, os.cpu_count() or 1),
                    help="Spark local[N] cores (1 gives the single-core baseline)")
    return ap.parse_args()


ROOT = os.getcwd()
sys.path.insert(0, ROOT)
try:
    import flink_dts_connector_spark  # noqa: F401,E402
except ImportError:
    print("run from the repository root: flink_dts_connector_spark is not importable",
          file=sys.stderr)
    sys.exit(2)

import checks  # noqa: E402
import pipeline as pl  # noqa: E402
from spans import Tracer  # noqa: E402

STATE_DIR = os.path.join(ROOT, ".cdcbench")


def log(msg: str) -> None:
    print(f"[cdcbench {time.perf_counter() - _T_SCRIPT:7.2f}s] {msg}", file=sys.stderr, flush=True)


def start_spark(work: str, cpus: int):
    from flink_dts_connector_spark.session import get_spark
    from flink_dts_connector_spark.sources.fakebroker import register_fake_broker

    spark = get_spark(
        "cdcbench",
        cpus=cpus,
        extra_conf={
            "spark.local.dir": os.path.join(work, "spark"),
            # keep the JVM's temp files, and its perf-data file, out of /tmp
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    register_fake_broker(spark)
    return spark


def stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def batch_times(progress: list[dict]) -> list[float]:
    return [p["durationMs"].get("triggerExecution", 0) / 1000.0 for p in progress]


class Window:
    """Drains of one timed window, each one operation: whole drains until
    ``seconds`` pass. A traced window alternates traced and untraced drains
    and runs whole pairs, two pairs at least."""

    def __init__(self):
        self.results: list[pl.DrainResult] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, spark, wl, broker_dir, truth, work, seconds, tracer, tag, toggle_trace=False):
        t_end = time.perf_counter() + seconds
        n = 0
        while n < (4 if toggle_trace else 1) or time.perf_counter() < t_end or (
            toggle_trace and n % 2
        ):
            if toggle_trace:
                tracer.enabled = n % 2 == 0
            try:
                with tracer.span("drain", tag=f"{tag}{n}") as span:
                    res = pl.drain(spark, wl, broker_dir, truth, work, f"{tag}{n}", tracer)
                if span is not None:  # micro-batch spans, timed by Spark's progress
                    shift = time.time() - time.perf_counter()
                    for p in res.progress:
                        tracer.add("batch", pl.batch_start(p) - shift, pl.batch_end(p) - shift,
                                   span["id"], batch_id=p["batchId"], rows=p["numInputRows"])
                bad = checks.check_drain(wl, truth, res)
            except Exception as exc:  # a drain that raises is a failed operation
                res, bad = None, [f"{type(exc).__name__}: {str(exc)[:300]}"]
            self.attempted += 1
            if bad:
                self.failed += 1
                self.errors.extend(bad)
            elif res is not None:
                self.results.append(res)
            n += 1


def main() -> int:
    args = _parse()
    # a terminated run still stops its JVM and removes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    wl = pl.WORKLOADS[args.workload]
    work = os.path.join(STATE_DIR, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    spark = None
    try:
        spark = start_spark(work, min(args.cpus, os.cpu_count() or 1))
        setup_s = _since_process_start()
        log(f"spark up, setup_s={setup_s:.2f}")
        broker_dir, truth = pl.build_inputs(spark, wl, args.seed, os.path.join(STATE_DIR, "cache"))
        log(f"inputs ready: {truth.records} records")
        tracer = Tracer(False, f"{args.workload}-s{args.seed}-{os.getpid()}")
        t0 = time.perf_counter()
        # warm-up, untimed: one capped batch of a sixteenth of the topic runs
        # every step of the path once and pays the process's cold start (JIT,
        # code generation, Python workers) for little record work; then one
        # full drain, like the timed ones, brings the JIT near its steady state
        pl.drain(spark, wl, broker_dir, truth, work, "warm0", tracer, limit=truth.records // 16)
        w1 = pl.drain(spark, wl, broker_dir, truth, work, "warm1", tracer)
        warmup_s = time.perf_counter() - t0
        log(f"warm-up done in {warmup_s:.2f}s; its full drain took {w1.wall_s:.3f}s, "
            f"batch {batch_times(w1.progress)}")

        win = Window()
        tracer.enabled = bool(args.trace)
        with tracer.span("workload", workload=args.workload, seed=args.seed):
            win.run(spark, wl, broker_dir, truth, work, args.seconds, tracer, "t",
                    toggle_trace=bool(args.trace))
        log(f"timed window: {len(win.results)} good drains, {win.attempted} operations")

        if args.trace:
            import layers

            tracer.enabled = True  # the window ends on an untraced drain
            metrics = layers.per_layer(spark, wl, broker_dir, truth, work, win, tracer, warmup_s)
            tracer.write(os.path.join(STATE_DIR, "traces", f"{tracer.run_id}.json"))
            # the cross-check of the two totals is one more operation
            bad = layers.cross_check(metrics)
            win.attempted += 1
            if bad:
                win.failed += 1
                win.errors.extend(bad)
        else:
            rates = [r.records / r.wall_s for r in win.results]
            times = [t for r in win.results for t in batch_times(r.progress)]
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "records_per_s": {
                    "value": statistics.median(rates) if rates else 0.0, "unit": "records/s"
                },
                "batch_p50_s": {"value": statistics.median(times) if times else 0.0, "unit": "s"},
            }
        for e in win.errors[:10]:
            print(f"check failed: {e}", file=sys.stderr)
        out = {
            "correct": not win.errors,
            "attempted": win.attempted,
            "failed": win.failed,
            "metrics": metrics,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
