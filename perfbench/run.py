"""Benchmark entry point.

    python3 perfbench/run.py --workload mc_demo --seed 1 --seconds 12 --trace 0

Runs one workload from this process against ``local[<cores>]`` as a closed
loop with one client: operations run one after another. After set-up (the
session, the registry and one untimed warm-up pass) it runs whole passes
until ``--seconds`` of pass time have been measured, checks every
operation's output outside the timed region, and prints one JSON object as
the last line of stdout. ``--trace 0`` reports the end-to-end metrics;
``--trace 1`` reports the per-layer metrics and writes the full trace
record (spans, per-operation breakdown) under ``perfbench/.work/traces``.
See README.md in this directory.
"""

from __future__ import annotations

import argparse
import glob
import importlib.util
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import eventlog
import workloads
from spans import Tracer, with_self_times

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DRIVER_HEAP = "2g"


def process_age_s() -> float:
    """Seconds since this process started (kernel start time, 10 ms ticks)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def other_spark_jvms() -> int:
    """Live Spark JVMs other than this run's (it has not started yet), counted
    as ``bench.py`` does; kept here so the benchmark does not import that script."""
    n = 0
    for cmdline in glob.glob("/proc/[0-9]*/cmdline"):
        try:
            with open(cmdline, "rb") as fh:
                argv = fh.read().split(b"\0")
        except OSError:
            continue
        if argv and b"java" in argv[0] and any(b"spark" in a.lower() for a in argv):
            n += 1
    return n


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks since boot, summed over all CPUs."""
    with open("/proc/stat") as fh:
        fields = [int(x) for x in fh.readline().split()[1:9]]
    return fields[7], sum(fields)


def cpu_calibration_s(probes: int = 7) -> list[float]:
    """Seconds for each of ``probes`` runs of a fixed single-thread Python
    loop: ``bench.py``'s CPU probe, in fifths."""
    out = []
    for _ in range(probes):
        t0 = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        out.append(time.perf_counter() - t0)
    return out


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def build_session(cores: int, tmp_dir: str, eventlog_dir: str | None):
    from parallel_monte_carlo_simulations_spark.session import DEFAULT_CONF, get_spark

    java_opts = DEFAULT_CONF["spark.driver.extraJavaOptions"]
    conf = {
        "spark.driver.memory": DRIVER_HEAP,
        "spark.ui.showConsoleProgress": "false",
        # JVM temp files stay in the run directory; no /tmp perf-data file
        "spark.driver.extraJavaOptions": f"{java_opts} -Djava.io.tmpdir={tmp_dir} -XX:-UsePerfData",
    }
    if eventlog_dir:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + eventlog_dir,
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(
        app_name="perfbench", master=f"local[{cores}]",
        shuffle_partitions=cores, extra_conf=conf,
    )
    heap = spark.conf.get("spark.driver.memory")
    if heap != DRIVER_HEAP:
        raise SystemExit(f"driver heap is {heap}, not {DRIVER_HEAP}: a session existed already")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_pass(ops, tracer, pass_idx: int, spark, log: list) -> dict:
    """Run one pass; the checks and the cache release are not timed."""
    timed = attempted = failed = items = 0
    with tracer.span("pass", pass_idx=pass_idx):
        for op in ops:
            op_id = f"p{pass_idx}:{op.name}"
            attempted += 1
            t0 = time.perf_counter()
            # one failed operation must not end the run
            try:
                with tracer.span("op", op=op_id):
                    result = op.run(tracer)
                reason = None
            except Exception:
                reason = traceback.format_exc()
            timed += time.perf_counter() - t0
            if reason is None:
                tracer.label(f"{op_id}|check")
                try:
                    reason = op.check(result)
                except Exception:
                    reason = traceback.format_exc()
                tracer.label(None)
            if reason:
                failed += 1
                print(f"FAILED {op_id}: {reason}", file=sys.stderr)
            else:
                items += op.items
            log.append({"op": op_id, "ok": not reason})
        spark.catalog.clearCache()
    return {"idx": pass_idx, "pass_s": timed, "attempted": attempted, "failed": failed,
            "items": items, "traced": tracer.enabled}


def mc_micro_us(seed: int, configs, models, k: int = 2000) -> tuple[float, float]:
    """µs per ``seeds.rng_for`` and per model call, over a fixed sample of
    the workload's own ``(master_seed, model_id, sim_id)`` triples drawn in
    proportion to each model's simulation count."""
    import random

    import numpy as np

    from parallel_monte_carlo_simulations_spark.mc.seeds import rng_for

    rnd = random.Random(seed)
    weights = [c["number_simulations"] for c in configs]
    triples = []
    for _ in range(k):
        m = rnd.choices(range(len(configs)), weights)[0]
        triples.append((m, rnd.randrange(configs[m]["number_simulations"])))
    t0 = time.perf_counter()
    rngs = [rng_for(np.random.Philox, seed, m, s) for m, s in triples]
    t1 = time.perf_counter()
    for (m, _), rng in zip(triples, rngs):
        models[m](configs[m]["number_points"], rng, configs[m]["parameters"])
    t2 = time.perf_counter()
    return (t1 - t0) / k * 1e6, (t2 - t1) / k * 1e6


#: span name -> per-layer metrics its duration adds to
SPAN_METRICS = {
    "build": ("query.build_s",),
    "action": ("exec.action_s",),
    "simulate": ("mc.battery.simulate_s",),
    "sink": ("mc.sinks.write_s", "exec.action_s"),
}
CATALYST = ("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms")


def _merge(into: dict, totals: dict) -> None:
    for k, v in totals.items():
        if k == "exec.peak_exec_mem_bytes":
            into[k] = max(into.get(k, 0), v)
        else:
            into[k] = into.get(k, 0) + v


def per_op_totals(by_label: dict, spans: list[dict]) -> dict[str, dict]:
    """Operation id -> its event-log counters (check jobs excluded), span
    times and Catalyst phases."""
    per_op: dict[str, dict] = {}
    for label, totals in by_label.items():
        op_id, _, phase = label.partition("|")
        if not phase or phase == "check":
            continue
        entry = per_op.setdefault(op_id, {})
        _merge(entry, totals)
        if phase == "build":
            _merge(entry, {"query.build_jobs": totals["exec.jobs"]})
    for s in spans:
        if s["op"] is None:  # workload and pass spans
            continue
        entry = per_op.setdefault(s["op"], {})
        _merge(entry, {k: s["dur_s"] for k in SPAN_METRICS.get(s["name"], ())})
        _merge(entry, {k: s[k] for k in CATALYST if k in s})
    return per_op


def per_layer(workload, passes, spans, events, cores, setup, micro) -> tuple[dict, dict]:
    """Per-layer metrics (median over traced passes of per-pass sums) and
    the per-operation breakdown."""
    per_op = per_op_totals(eventlog.totals_by_label(events), spans)
    keys = [*eventlog.COUNTERS, *{k for ks in SPAN_METRICS.values() for k in ks},
            "query.build_jobs", *CATALYST]
    rows = []
    for p in passes:
        if not p["traced"]:
            continue
        m = dict.fromkeys(keys, 0.0)
        for op_id, entry in per_op.items():
            if op_id.startswith(f"p{p['idx']}:"):
                _merge(m, entry)
        m["exec.core_busy_ratio"] = m["exec.run_ms"] / (p["pass_s"] * 1000.0 * cores)
        m["python.init_share"] = (
            m["python.init_ms"] / m["python.run_ms"] if m["python.run_ms"] else 0.0
        )
        rows.append(m)
    metrics = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    traced = [p for p in passes if p["traced"]]
    plain = [p for p in passes if not p["traced"]]
    metrics.update({
        "session.get_spark_s": setup["session.get_spark_s"],
        "registry.load_s": setup["registry.load_s"],
        "mc.battery.shards": float(workloads.shard_count(workload.configs)),
        "mc.seeds.rng_for_us": micro[0],
        "mc.model.call_us": micro[1],
        "mc.sinks.bytes_written": float(setup.get("bytes_written", 0)),
        "jvm_peak_rss_mb": setup["jvm_peak_rss_mb"],
        "host.calibration_s": setup["calibration_s"],
        # traced pass throughput over plain pass throughput, same process
        "trace.throughput_ratio": statistics.median(p["pass_s"] for p in plain)
        / statistics.median(p["pass_s"] for p in traced),
    })
    return metrics, per_op


#: end-to-end metric -> unit; BENCHMARK.json lists the same names.
END_TO_END_UNITS = {"setup_s": "s", "items_per_cal": "1/cal", "pass_cal": "cal"}

#: per-layer metric -> unit; BENCHMARK.json lists the same names.
LAYER_UNITS = {
    "session.get_spark_s": "s", "registry.load_s": "s",
    "query.build_s": "s", "query.build_jobs": "count",
    "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "tables.input_bytes": "bytes", "tables.input_rows": "count",
    "exec.action_s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.failed_tasks": "count", "exec.run_ms": "ms",
    "exec.cpu_ms": "ms", "exec.gc_ms": "ms", "exec.deser_ms": "ms",
    "exec.core_busy_ratio": "ratio", "exec.peak_exec_mem_bytes": "bytes",
    "exec.spill_disk_bytes": "bytes",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_ms": "ms",
    "python.boot_ms": "ms", "python.init_ms": "ms", "python.run_ms": "ms",
    "python.init_share": "ratio", "python.bytes_sent": "bytes",
    "python.bytes_received": "bytes", "python.rows_received": "count",
    "mc.battery.simulate_s": "s", "mc.battery.shards": "count",
    "mc.seeds.rng_for_us": "us", "mc.model.call_us": "us",
    "mc.sinks.write_s": "s", "mc.sinks.bytes_written": "bytes",
    "trace.throughput_ratio": "ratio", "jvm_peak_rss_mb": "MB",
    "host.calibration_s": "s",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    if importlib.util.find_spec("parallel_monte_carlo_simulations_spark") is None:
        print(f"perfbench: package not found under {ROOT}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    with open("/proc/loadavg") as fh:
        load1 = float(fh.read().split()[0])
    env = {"master": f"local[{cores}]", "shuffle_partitions": cores,
           "driver_heap": DRIVER_HEAP, "load1_at_start": load1,
           "other_spark_jvms_at_start": other_spark_jvms(),
           "python": platform.python_version(), "seed": args.seed,
           "workload": args.workload, "trace": args.trace}
    # Python workers import the package through this, whatever the cwd.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    run_dir = os.path.join(WORK, f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(run_dir, "eventlog"))
    os.makedirs(os.path.join(run_dir, "tmp"))
    # Spark scratch space and Python temp files stay inside the checkout.
    os.environ["SPARK_LOCAL_DIRS"] = os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    try:
        attempted, failed, metrics = measure(args, cores, env, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"env": env}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def measure(args, cores: int, env: dict, run_dir: str) -> tuple[int, int, dict]:
    """Set up, run the passes, and return (attempted, failed, metrics)."""
    workload = workloads.WORKLOADS[args.workload]
    traced = bool(args.trace)
    eventlog_dir = os.path.join(run_dir, "eventlog")
    setup = {}
    t0 = time.perf_counter()
    spark = build_session(cores, os.path.join(run_dir, "tmp"), eventlog_dir if traced else None)
    setup["session.get_spark_s"] = time.perf_counter() - t0
    try:
        import pyspark

        env["spark"] = pyspark.__version__
        t0 = time.perf_counter()
        from parallel_monte_carlo_simulations_spark.registry import load_all_queries

        load_all_queries()
        setup["registry.load_s"] = time.perf_counter() - t0

        ctx = workloads.Context(spark=spark, seed=args.seed, workdir=run_dir)
        tracer = Tracer(spark, enabled=traced)
        log: list = []
        warm = run_pass(workload.make_ops(ctx, 0), Tracer(), 0, spark, log)
        setup_s = process_age_s()
        env["setup_parts_s"] = {"session": setup["session.get_spark_s"],
                                "registry": setup["registry.load_s"],
                                "warmup_pass": warm["pass_s"]}

        probes = cpu_calibration_s()
        steal0, total0 = cpu_ticks()
        passes, measured, i = [], 0.0, 0
        # Traced runs interleave traced and plain passes as T P P T T P P T
        # for the overhead ratio, so warm-up drift cancels.
        with tracer.span("workload", workload=workload.name):
            while measured < args.seconds or (traced and len(passes) < 4):
                i += 1
                use = tracer if (not traced or i % 4 in (0, 1)) else Tracer()
                p = run_pass(workload.make_ops(ctx, i), use, i, spark, log)
                passes.append(p)
                measured += p["pass_s"]
        steal1, total1 = cpu_ticks()
        # CPU time the hypervisor gave to other guests while passes ran
        env["cpu_steal_share"] = (steal1 - steal0) / max(total1 - total0, 1)
        probes += cpu_calibration_s()
        # The host's single-thread speed drifted up to 2x within an hour on
        # the box this was written on; pass times are reported in units of
        # this probe so that the drift cancels.
        cal_s = statistics.median(probes)
        env["cpu_calibration_s"] = cal_s
        setup["calibration_s"] = cal_s
        setup["jvm_peak_rss_mb"] = vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid())
        micro = (0.0, 0.0)
        if traced and workload.configs:
            micro = mc_micro_us(args.seed, workload.configs, workloads.coin_models())
        setup["bytes_written"] = ctx.cache.get("bytes_written", 0)
    finally:
        stop_session(spark)

    attempted = warm["attempted"] + sum(p["attempted"] for p in passes)
    failed = warm["failed"] + sum(p["failed"] for p in passes)
    timing = [p for p in passes if p["traced"] == traced]
    pass_times = [p["pass_s"] for p in timing]
    items_per_s = sum(p["items"] for p in timing) / sum(pass_times)
    env["pass_times_s"] = pass_times
    env["items"] = workload.items
    env["items_per_s"] = items_per_s
    env["pass_s"] = statistics.median(pass_times)
    if not traced:
        values = {"setup_s": setup_s, "items_per_cal": items_per_s * cal_s,
                  "pass_cal": env["pass_s"] / cal_s}
        return attempted, failed, {
            k: {"value": values[k], "unit": u} for k, u in END_TO_END_UNITS.items()
        }

    (log_path,) = glob.glob(os.path.join(eventlog_dir, "*"))
    spans = with_self_times(tracer.spans)
    metrics, per_op = per_layer(workload, passes, spans, eventlog.read_events(log_path),
                                cores, setup, micro)
    record = {
        "env": env, "setup_s": setup_s, "passes": passes, "warmup": warm,
        "items_per_s": items_per_s, "metrics": metrics, "per_op": per_op,
        "spans": spans, "ops": log,
    }
    out_dir = os.path.join(WORK, "traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{workload.name}-seed{args.seed}.json")
    with open(path, "w") as fh:
        json.dump(record, fh, indent=1, sort_keys=True)
    print(f"trace record -> {path}", file=sys.stderr)
    return attempted, failed, {k: {"value": metrics[k], "unit": u} for k, u in LAYER_UNITS.items()}


if __name__ == "__main__":
    sys.exit(main())
