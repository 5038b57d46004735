"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of ``BENCHMARK.json`` in one process against the
``gee_datapipeline_spark`` package of the checkout it sits in. Inputs are
generated from the seed (cached by seed and size under ``.perfbench_work``)
before any timing. The run then sets up the workload's ``SETUPS`` times
(session start plus one pass over the inputs; ``setup_s`` is the median)
on ``local[CORES]``, warms up with every operation once, untimed, while
the correctness oracles are computed, and measures the workload for
``--seconds``. With ``--trace 1`` the work runs
split at layer boundaries with Spark's event log on, and the per-layer
metrics are reported instead of the end-to-end ones. See README.md.

Human-readable lines go first; the last line of stdout is one JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
# Spark task threads: one core is left to the Python driver, the JVM's GC
# and JIT threads and the host, so a stolen or busy core does not stall
# every stage's last task
CORES = max(1, len(os.sched_getaffinity(0)) - 1)
# keeps the JVMs' scratch files (perf data, temp files) inside the checkout
JVM_SCRATCH_OPTS = "-XX:-UsePerfData -Djava.io.tmpdir={tmp}"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def environment() -> None:
    """Point Spark and its Python workers at this checkout: workers import
    the package by name, so it must be on PYTHONPATH, not only sys.path."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.makedirs(os.environ["TMPDIR"], exist_ok=True)
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = JVM_SCRATCH_OPTS.format(tmp=os.environ["TMPDIR"])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    sys.path.insert(0, ROOT)


class Background(threading.Thread):
    """Runs ``fn`` in a thread; ``wait()`` joins it and re-raises its
    exception."""

    def __init__(self, fn):
        super().__init__(daemon=True)
        self.fn = fn
        self.error: BaseException | None = None

    def run(self) -> None:
        try:
            self.fn()
        except BaseException as e:  # noqa: BLE001 - re-raised in wait()
            self.error = e

    def wait(self) -> None:
        self.join()
        if self.error is not None:
            raise self.error


def stop_jvm() -> None:
    """Shut down the py4j gateway and wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not os.path.isdir(os.path.join(ROOT, "gee_datapipeline_spark")):
        print(f"gee_datapipeline_spark package not found under {ROOT}", file=sys.stderr)
        return 2
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    environment()

    from bench import _cpu_sample, host_telemetry
    from gee_datapipeline_spark.session import get_spark

    from perfbench.measure import (
        EventLog,
        RssSampler,
        Tracer,
        percentile,
        spark_counters,
    )
    from perfbench.workloads import WORKLOADS, Results

    wl = WORKLOADS[args.workload](WORK, args.seed)
    # the DuckDB oracles are computed during the untimed warm-up
    oracles = Background(wl.prepare)
    res = Results()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": JVM_SCRATCH_OPTS.format(tmp=os.environ["TMPDIR"]),
    }
    log_dir = os.path.join(WORK, "eventlog")
    if args.trace:
        shutil.rmtree(log_dir, ignore_errors=True)
        os.makedirs(log_dir)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
        })
    jiffies = _cpu_sample()
    starts, setups = [], []
    try:
        with RssSampler() as rss:
            # the first set-up also launches the JVM; the median is robust to it
            for i in range(wl.SETUPS):
                t0 = time.perf_counter()
                spark = get_spark(cpus=CORES, extra_conf=conf)
                t1 = time.perf_counter()
                wl.input_pass(spark)
                setups.append(time.perf_counter() - t0)
                starts.append(t1 - t0)
                if i < wl.SETUPS - 1:
                    spark.stop()
            cores = spark.sparkContext.defaultParallelism
            # warm-up: every operation once, untimed, verified once the
            # oracles are ready
            t0 = time.perf_counter()
            oracles.start()
            wl.warm_up(spark, res, oracles.wait)
            warm_s = time.perf_counter() - t0
            if args.trace:
                tr = Tracer(spark)
                t0 = time.perf_counter()
                layers = wl.trace(spark, args.seconds, tr, res)
                wall = time.perf_counter() - t0
            else:
                wl.measure(spark, args.seconds, res)
            spark.stop()
    finally:
        stop_jvm()
    host = {**host_telemetry(jiffies), "nproc": len(os.sched_getaffinity(0))}

    if args.trace:
        log = EventLog(log_dir)
        layers.update(wl.log_metrics(tr, log))
        jobs, busy = wl.spark_scope(tr, wall)
        layers.update(spark_counters(log.stages_for(jobs), busy, cores))
        layers["session.start_s"] = statistics.median(starts)
        layers["bench.peak_mem_mb"] = rss.peak_mb
        declared = {m["name"]: m["unit"] for m in spec["per_layer"]}
        unknown = set(layers) - set(declared)
        if unknown:
            raise KeyError(f"per-layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
        metrics = {n: {"value": float(layers.get(n, 0.0)), "unit": u} for n, u in declared.items()}
    else:
        values = {
            "setup_s": statistics.median(setups),
            "latency_ms_mean": statistics.fmean(res.latencies_ms),
            "throughput_per_s": res.items / res.busy_s,
        }
        metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}

    print(f"workload {args.workload} seed {args.seed} local[{cores}] trace {args.trace}")
    print("inputs " + json.dumps(wl.props, sort_keys=True))
    print("host " + json.dumps(host, sort_keys=True))
    print(f"set-ups {['%.3f' % s for s in setups]} s; warm-up (untimed) {warm_s:.3f} s")
    lat = res.latencies_ms
    shown = ", ".join(f"{v:.0f}" for v in lat) if len(lat) <= 16 else f"{min(lat):.0f} .. {max(lat):.0f}"
    print(f"samples {len(lat)} ({shown} ms); verdict {'correct' if not res.failed else 'WRONG'}"
          f" ({res.failed} of {res.attempted} checks failed)")
    if hasattr(wl, "summary"):
        print("by operation: " + wl.summary())
    print("peak memory (PSS kB) by process " + json.dumps(rss.peak_parts, sort_keys=True))
    for e in res.errors[:5]:
        print("error: " + e.strip().replace("\n", " | "))
    for name, m in metrics.items():
        print(f"  {name:40s} {m['value']:.6g} {m['unit']}")
    if not args.trace:
        # Percentiles are printed but are no end-to-end metrics: batch_mix's
        # 11 samples come from 7 operations, so its p50 is one call of one
        # cheap query and moves with it, and fewer than two lie beyond p90.
        values["latency_ms_p50"] = percentile(res.latencies_ms, 50)
        values["latency_ms_p90"] = percentile(res.latencies_ms, 90)
        named = wl.named(values)
        named["peak_pss_mb"] = (rss.peak_mb, "MB")
        named["failed_frac"] = (res.failed / max(1, res.attempted), "ratio")
        for name, (v, unit) in named.items():
            print(f"  = {name:38s} {v:.6g} {unit}")
    print(json.dumps({
        "correct": res.failed == 0,
        "attempted": res.attempted,
        "failed": res.failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
