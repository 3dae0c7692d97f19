"""Benchmark entry point: one workload, one fresh process, one JSON line.

    python3 perfbench/run.py --workload cow_bulk --seed 1 --seconds 15 --trace 0

Run from the repository root. ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` wraps the engine's public entry points in spans
and prints the per-layer metrics instead. A diagnostics line (``# diag``)
precedes the result, which is always the last line of standard output.
All data goes under ``perfbench/.work/<pid>``, removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

END_TO_END_UNITS = {
    "setup_s": "s",
    "events_per_s": "1/s",
    "epoch_ms_p50": "ms",
    "read_ms_p50": "ms",
    "write_bytes_per_input_byte": "ratio",
    "lake_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
}


def proc_cpu_s(pid) -> float:
    """User + system CPU seconds of a process, from /proc."""
    with open(f"/proc/{pid}/stat") as fh:
        fields = fh.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def steal_s() -> float:
    """Hypervisor steal time of the whole machine so far, in seconds."""
    with open("/proc/stat") as fh:
        cpu = fh.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK")


def vm_hwm_mb(pid) -> float:
    """Peak resident set of a process, in MB."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_spark(work: str, cores: int):
    from getl_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    spark = get_spark(
        "perfbench", cpus=cores, local_dir=os.path.join(work, "spark-local"),
        extra_conf={
            # a fixed-size heap: left to grow on demand, the heap's size
            # followed GC timing and peak RSS varied by 17% between runs
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Xms2g -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.ui.showConsoleProgress": "false",
            # keep every job and stage of the run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - any wait failure: make sure it is gone
            proc.kill()
            proc.wait()


def end_to_end(w, setup_s: float, peak_rss_mb: float) -> dict:
    import stats

    epochs = w.timed
    wall = epochs[-1].end - epochs[0].start - w.harness_s
    out = {
        "setup_s": setup_s,
        "events_per_s": sum(e.attrs["events"] for e in epochs) / wall,
        "epoch_ms_p50": stats.median((e.end - e.start) * 1000.0 for e in epochs),
        "read_ms_p50": stats.median(w.reads_ms),
        "write_bytes_per_input_byte": stats.bytes_ratio(w.written_bytes, w.timed_input_bytes()),
        "lake_bytes_per_input_byte": stats.bytes_ratio(w.setup_lake_bytes, w.setup_input_bytes),
        "peak_rss_mb": peak_rss_mb,
    }
    return {k: {"value": float(v), "unit": END_TO_END_UNITS[k]} for k, v in out.items()}


def diagnostics(w, steal0: float, traced: bool, phases: dict) -> dict:
    """Context for telling a noisy run from a regression; never gated on."""
    import stats

    lat = [(e.end - e.start) * 1000.0 for e in w.timed]
    tail = stats.tail(lat)
    return {
        "workload": w.name,
        "traced": traced,
        "timed_epochs": len(lat),
        "timed_epoch_ids": [w.timed[0].epoch, w.timed[-1].epoch],
        "epoch_ms_tail": None if tail is None else {"percentile": tail[0], "ms": tail[1]},
        "warmup_last3_ms": [round((e.end - e.start) * 1000.0, 1) for e in w.warmup[-3:]],
        "timed_p50_ms": round(stats.median(lat), 1),
        "timed_ms": [round(x, 1) for x in lat],
        "reads_ms": [round(x, 1) for x in w.reads_ms],
        "harness_s": round(w.harness_s, 4),
        "phases_s": {k: round(v, 2) for k, v in phases.items()},
        "steal_s": round(steal_s() - steal0, 2),
        "loadavg": os.getloadavg(),
        "failures": w.failures,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()
    steal0 = steal_s()

    sys.path[:0] = [ROOT, HERE]
    try:
        import getl_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from layers import WarehouseCommits, layer_metrics
    from spans import Tracer
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    work = os.path.join(HERE, ".work", str(os.getpid()))
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    cores = len(os.sched_getaffinity(0))
    spark = None
    try:
        spark = start_spark(work, cores)
        phases = {"jvm": time.monotonic() - t_start}
        jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
        tracer = Tracer(spark, traced=bool(args.trace))
        tracer.install()
        w = WORKLOADS[args.workload](spark, work, args.seed, args.seconds, tracer)
        commits = WarehouseCommits(w.wh)
        if args.trace:
            tracer.after_epoch.append(commits)
        w.setup()
        setup_s = time.monotonic() - t_start
        phases["log"] = w.log_s
        phases["warmup"] = setup_s - phases["jvm"] - w.log_s

        cpu0 = proc_cpu_s(jvm_pid) + proc_cpu_s("self")
        w.run_timed()
        cpu_s = proc_cpu_s(jvm_pid) + proc_cpu_s("self") - cpu0
        phases["timed"] = time.monotonic() - t_start - setup_s
        if not w.timed:
            print(f"perfbench: no epoch was timed: {w.failures}", file=sys.stderr)
            return 1
        t_post = time.monotonic()
        w.reads()
        phases["reads"] = time.monotonic() - t_post
        w.check()
        phases["checks"] = time.monotonic() - t_post - phases["reads"]

        if args.trace:
            groups = {s.group for s in tracer.spans if s.group}
            jobs, stages = tracer.spark_jobs(groups)
            metrics = layer_metrics(
                tracer.spans, w.timed, jobs, stages, commits, w.live_files_at_read,
                cores, cpu_s, w.streaming,
            )
        else:
            rss = vm_hwm_mb(jvm_pid) + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
            metrics = end_to_end(w, setup_s, rss)
        diag = diagnostics(w, steal0, bool(args.trace), phases)
        tracer.uninstall()
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    for f in w.failures:
        print(f"perfbench: failed: {f}", file=sys.stderr)
    print("# diag " + json.dumps(diag))
    print(json.dumps({
        "correct": not w.failures,
        "attempted": w.attempted,
        "failed": len(w.failures),
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
