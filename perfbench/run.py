"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload ann_ingest --seed 1 --seconds 4 --trace 0

Run from the root of a checkout. ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` also writes Spark's event log and
reports the per-layer metrics. The line before the last one is a detail
record: environment, sample counts, every end-to-end value and the
per-call wall time and job counts. All scratch files live under
``.bench_run/`` in the checkout and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAP = "8g"  # below the 15 GiB of the 4-core box the bounds were set on
SETUPS = 3  # session + corpus set-ups per run; setup_s is their median


def pinned_env() -> dict:
    """Environment every run executes under, fixed before numpy loads."""
    return {
        "PYTHONHASHSEED": "0",
        "OPENBLAS_NUM_THREADS": "1",
        "OMP_NUM_THREADS": "1",
        "MKL_NUM_THREADS": "1",
        "SPARK_GRAFT_DRIVER_MEM": HEAP,
        "PYTHONPATH": ROOT,  # local Python workers import the package from here
    }


def parse_args():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def hwm_mb(pid: int | str = "self") -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


def load1() -> float:
    with open("/proc/loadavg", encoding="ascii") as f:
        return float(f.read().split()[0])


def cpu_ref_s() -> float:
    """Seconds a fixed pure-Python loop takes: the host's speed right now,
    recorded so that runs on a slower or busier host can be told apart."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    return time.perf_counter() - t


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user ... steal)."""
    with open("/proc/stat", encoding="ascii") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def start_session(cpus: int, workdir: str, trace: bool):
    from bustub_vectordb_spark import shipping
    from bustub_vectordb_spark.session import get_spark

    conf = {
        "spark.sql.warehouse.dir": os.path.join(workdir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(workdir, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    spark = get_spark(cpus=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # workers already import the package through PYTHONPATH; marking the
    # context as shipped keeps the package zip out of /tmp
    shipping._SHIPPED.add(id(spark.sparkContext))
    return spark


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_jvm() -> None:
    """Stop the session and the Py4J gateway; wait for the JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits when stdin closes
        proc.wait(timeout=120)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main() -> int:
    args = parse_args()
    env = pinned_env()
    if any(os.environ.get(k) != v for k, v in env.items()):
        os.environ.update(env)  # PYTHONHASHSEED only applies at start-up
        os.execv(sys.executable, [sys.executable] + sys.argv)
    sys.path.insert(0, ROOT)
    try:
        import bustub_vectordb_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: engine package not importable: {e}", file=sys.stderr)
        return 2
    import pyspark

    import workloads as W
    from spans import Recorder, fold_event_log, per_layer_names

    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    # two task slots leave cores for the JVM's own threads, the Python
    # driver and the host: with four slots on four vCPUs, runs with 12%
    # steal read half the batch throughput of quiet ones
    cpus = min(2, nproc)
    workdir = os.path.join(ROOT, ".bench_run", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "events"):
        os.makedirs(os.path.join(workdir, sub))
    os.environ["TMPDIR"] = tempfile.tempdir = os.path.join(workdir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(workdir, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={workdir}/tmp -XX:-UsePerfData"
    )
    load_before, cpu_before, ref_before = load1(), cpu_times(), cpu_ref_s()
    layers = {}
    try:
        setups = []
        for i in range(SETUPS):
            t0 = T_START if i == 0 else time.perf_counter()
            t_session = time.perf_counter()
            spark = start_session(cpus, workdir, bool(args.trace))
            session_s = time.perf_counter() - t_session
            data = W.make_data(args.workload, args.seed)
            W.setup_frames(spark, data)
            setups.append(time.perf_counter() - t0)
            if i == 0:
                cold_session_s = session_s
            if i < SETUPS - 1:
                spark.stop()
        rec = Recorder(spark)
        rec.add("session.start", cold_session_s)
        tally = W.Tally()
        ctx = W.Context(spark, rec, tally, args.seconds, workdir, data)
        extra = W.WORKLOADS[args.workload](ctx)
        calls = rec.counts()
        app_id = spark.sparkContext.applicationId
        jvm_mb = hwm_mb(jvm_pid())
        spark.stop()  # flushes the event log
        if args.trace:
            layers = fold_event_log(os.path.join(workdir, "events", app_id), rec.spans)
    finally:
        stop_jvm()
        shutil.rmtree(workdir, ignore_errors=True)
        if not os.listdir(os.path.dirname(workdir)):
            os.rmdir(os.path.dirname(workdir))

    cpu_after, ref_after = cpu_times(), cpu_ref_s()
    s = tally.samples
    n_queries = len(data.queries)
    e2e = {
        "setup_s": (statistics.median(setups), "s"),
        "build_s": (extra["build_s"], "s"),
        "point_p50_ms": (statistics.median(s["point"]) * 1e3, "ms"),
        "batch_qps": (n_queries / statistics.median(s["batch"]), "1/s"),
        # timed rows / timed seconds (the batches are equal)
        "write_rows_per_s": (1 / statistics.fmean(s["write"]), "rows/s"),
        # a mean: the reads slow down round by round, so a median would
        # rest on the middle round's reads alone
        "rw_mean_ms": (statistics.fmean(s["rw"]) * 1e3, "ms"),
        "recall_at_10": (statistics.fmean(tally.recall.values()), "ratio"),
        "index_bytes_per_vec": (extra["index_bytes_per_vec"], "B"),
        "driver_rss_mb": (hwm_mb(), "MB"),
    }
    per_layer = {}
    for name, unit in per_layer_names():
        call, _, stat = name.rpartition(".")
        if name == "session.jvm_hwm_mb":
            value = jvm_mb
        elif stat in ("wall_ms", "jobs"):
            value = calls.get(call, {}).get(stat, 0)
        else:
            value = layers.get(call, {}).get(stat, 0.0)
        per_layer[name] = (value, unit)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "run_wall_s": time.perf_counter() - T_START,
        "env": {
            "nproc": nproc,
            "cpus": cpus,
            "heap": HEAP,
            "pyspark": pyspark.__version__,
            "load1_before": load_before,
            "load1_after": load1(),
            "cpu_ref_s_before": ref_before,
            "cpu_ref_s_after": ref_after,
            # share of CPU time the hypervisor gave to other guests
            "steal_pct": 100
            * (cpu_after[7] - cpu_before[7])
            / max(1, sum(cpu_after) - sum(cpu_before)),
        },
        "samples": {k: len(v) for k, v in s.items()} | {"setups": len(setups)},
        "samples_ms": {k: [round(x * 1e3, 1) for x in v] for k, v in s.items()}
        | {"setups": [round(x * 1e3, 1) for x in setups]},
        # read latency after each write round: delta depth / MERGE lineage
        "rw_round_p50_ms": {
            k.rpartition(".")[2]: statistics.median(v) * 1e3
            for k, v in s.items()
            if k.startswith("rw.round")
        },
        "warmup": "untimed: first pass of point queries, first batch KNN-join, first "
        "write batch (two on sql_ivf), and on sql_ivf the first exact SQL query",
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "calls": calls,
    }
    print(json.dumps(detail))
    shown = per_layer if args.trace else e2e
    print(
        json.dumps(
            {
                "correct": tally.failed == 0,
                "attempted": tally.attempted,
                "failed": tally.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
