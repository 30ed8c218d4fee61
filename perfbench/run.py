#!/usr/bin/env python3
"""Warehouse benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload query --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout on ``local[1]``. The first run in a
checkout builds the inputs and oracles into ``.perfbench/cache``
(``build.py``); every run writes only under ``.perfbench/``. A run starts
the session and warms it (``setup_s``), then times operations in pass
order until ``--seconds`` have passed and every operation of a pass has
run, checks every result against its oracle, and prints one JSON line
last: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). A fuller record (seed, input sizes, host) goes to the line
before it and to ``.perfbench/runs/<run>/record.json``. See README.md.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
BENCHMARK_JSON = os.path.join(ROOT, "BENCHMARK.json")
CPUS = "1"


def _configure_env(tmp: str) -> None:
    """Keep every file the run (and a build it starts) writes inside the
    checkout: temp files, Spark's local dirs and the JVM's tmpdir."""
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # one task thread: the host's four cores are shared with other
    # tenants, and four task threads plus the driver, py4j and JIT threads
    # measured the host's scheduler (run-to-run spreads up to 40 %)
    os.environ["SPARK_GRAFT_CPUS"] = CPUS
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # spark-submit's launcher JVM
    os.environ["PYSPARK_SUBMIT_ARGS"] = f'--driver-java-options "{jvm_opts}" pyspark-shell'


def _enable_event_log(run_dir: str) -> str:
    """Turn on Spark's event log from outside the engine (traced run only)."""
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    confs = {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": f"file://{log_dir}",
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "true",
    }
    extra = " ".join(f"--conf {k}={v}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{extra} {os.environ['PYSPARK_SUBMIT_ARGS']}"
    return log_dir


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (numpy's default)."""
    import numpy as np

    return float(np.percentile(values, q))


def end_to_end(setup_s: float, per_op: dict[str, list[float]]) -> dict[str, float]:
    """``op_p50_s``: the median of every timed operation; ``pass_s``: one
    pass, as the sum over its operations of each one's median."""
    return {
        "setup_s": setup_s,
        "op_p50_s": statistics.median([t for ts in per_op.values() for t in ts]),
        "pass_s": sum(statistics.median(ts) for ts in per_op.values()),
    }


def result_line(metrics: list[dict], values: dict, attempted: int, failed: int) -> dict:
    """The last stdout line: every metric ``BENCHMARK.json`` lists, in its unit."""
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in metrics},
    }


class Runner:
    def __init__(self, workload, tracer=None):
        self.wl, self.tracer = workload, tracer
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.check_s = 0.0

    def run_op(self, op, traced: bool = False, group: str | None = None) -> float:
        """Time one operation, then check its result (untimed)."""
        from contextlib import nullcontext

        import spans

        if op.before:
            op.before()
        sc = self.wl.spark.sparkContext
        phase = (lambda name: self.tracer.span(name)) if traced else (lambda name: nullcontext())
        if traced:
            patched = spans.install(self.tracer)
            self.tracer.op = group
            sc.setJobGroup(group, op.name)
        result, error = None, None
        t0 = time.perf_counter()
        try:
            if traced:
                with self.tracer.span("op", family=op.family, op_name=op.name):
                    result = op.run(phase)
            else:
                result = op.run(phase)
        except Exception:  # noqa: BLE001 — a failed operation is counted, not fatal
            error = traceback.format_exc()
        elapsed = time.perf_counter() - t0
        if traced:
            sc._jsc.clearJobGroup()
            self.tracer.op = None
            spans.uninstall(patched)
        self.attempted += 1
        t1 = time.perf_counter()
        if error is None:
            try:
                ok = bool(op.check(result))
            except Exception:  # noqa: BLE001
                ok, error = False, traceback.format_exc()
            if not ok and error is None:
                error = "result differs from the oracle"
        if error is not None:
            self.failed += 1
            self.failures.append(f"{op.name}: {error}")
            print(f"perfbench: operation {op.name} failed: {error}", file=sys.stderr)
        self.check_s += time.perf_counter() - t1
        return elapsed


def collect_heaps(spark) -> None:
    """Collect the Python and JVM heaps, so that a collection the previous
    pass left due does not land in the next one's time."""
    gc.collect()
    spark.sparkContext._jvm.java.lang.System.gc()


def measured(runner: Runner, seconds: float) -> dict[str, list[float]]:
    """Operations in pass order, pass after pass, until ``seconds`` have
    passed and each operation of a pass has run at least once; returns
    every operation's latencies."""
    ops = runner.wl.one_pass()
    per_op: dict[str, list[float]] = {op.name: [] for op in ops}
    t0, i = time.perf_counter(), 0
    while i < len(ops) or time.perf_counter() - t0 < seconds:
        if i % len(ops) == 0:
            collect_heaps(runner.wl.spark)
        op = ops[i % len(ops)]
        per_op[op.name].append(runner.run_op(op))
        i += 1
    return per_op


def traced(runner: Runner) -> dict:
    """After the workload's warm-up operations, each operation of one pass
    runs untraced and traced, in alternating order. The traced copy is
    tagged with a job group and recorded in spans."""
    for op in runner.wl.warmup_ops():
        runner.run_op(op)
    plain, tagged, latency = 0.0, 0.0, []
    for i, op in enumerate(runner.wl.one_pass()):
        for trace_it in ((False, True) if i % 2 == 0 else (True, False)):
            collect_heaps(runner.wl.spark)
            if trace_it:
                tagged += runner.run_op(op, traced=True, group=f"perfbench-op{i}")
            else:
                latency.append(runner.run_op(op))
        plain += latency[-1]
    return {"overhead_pct": 100.0 * (tagged - plain) / plain, "op_latencies_s": latency}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(BENCHMARK_JSON) as fh:
        spec = json.load(fh)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        ap.error(f"unknown workload {args.workload!r}")
    run_dir = os.path.join(WORK, "runs", f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    _configure_env(os.path.join(run_dir, "tmp"))
    sys.path[:0] = [ROOT, HERE]

    import numpy as np

    import build
    import host
    import layers
    import spans
    from workloads import WORKLOADS

    manifest = build.ensure_built(WORK)
    log_dir = _enable_event_log(run_dir) if args.trace else None
    built = {**manifest, **build.paths(manifest["dir"])}
    wl = WORKLOADS[args.workload](None, built, np.random.default_rng(args.seed), run_dir)
    wl.prepare()
    prepare_s = time.perf_counter() - T_START

    loadavg_start = os.getloadavg()
    from ufc_data_warehouse_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    session_s = time.perf_counter() - t0
    wl.spark = spark
    tracer = spans.Tracer() if args.trace else None
    runner = Runner(wl, tracer)
    try:
        wl.warm()
        setup_s = time.perf_counter() - t0
        if args.trace:
            timing = traced(runner)
            cached = layers.cached_storage(spark)
        else:
            timing = measured(runner, args.seconds)
        record = {"host": host.record(spark, ROOT)}
        peak_mb = host.peak_rss_mb(spark)
    finally:
        t_stop = time.perf_counter()
        host.stop(spark)
        stop_s = time.perf_counter() - t_stop
    record["host"]["loadavg_start"] = [round(x, 2) for x in loadavg_start]
    record["host"]["loadavg_end"] = [round(x, 2) for x in os.getloadavg()]

    if args.trace:
        from eventlog import read_counters

        values = layers.per_layer(
            tracer.spans, read_counters(log_dir), wl, runner, session_s,
            timing["overhead_pct"], cached, peak_mb,
        )
        values["op_p90_s"] = percentile(timing["op_latencies_s"], 90)
        with open(os.path.join(run_dir, "spans.json"), "w") as fh:
            json.dump(layers.span_dump(tracer.spans), fh)
        names = spec["per_layer"]
    else:
        values = end_to_end(setup_s, timing)
        names = spec["end_to_end"]
    record.update({
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "inputs": {**wl.inputs, "sizes": manifest["sizes"],
                   "fits_in_memory": manifest["fits_in_memory"]},
        "setup_s": setup_s, "session_s": session_s, "prepare_s": prepare_s,
        "check_s": runner.check_s, "stop_s": stop_s, "peak_rss_mb": peak_mb,
        "timing": timing, "failures": runner.failures,
    })
    with open(os.path.join(run_dir, "record.json"), "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    for bulky in ("tmp", "input", "warehouse"):  # keep the record, spans and event log
        shutil.rmtree(os.path.join(run_dir, bulky), ignore_errors=True)
    print("perfbench-record " + json.dumps(
        {k: record[k] for k in ("workload", "seed", "inputs", "host")}, default=str))
    print(json.dumps(result_line(names, values, runner.attempted, runner.failed)), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
