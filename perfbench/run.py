"""Run one benchmark workload in a fresh single-process Spark session.

    python3 perfbench/run.py --workload finance_etl --seed 1 --seconds 12 --trace 0

Run from the repository root. The run stages seed-generated inputs,
times the cold op, runs an untimed warm-up past the JIT ramp, then
measures a closed loop with one client for ``--seconds``. Outputs are
checked against DuckDB after the window. The last stdout line is one
JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``, the
end-to-end metrics with ``--trace 0`` and the per-layer metrics with
``--trace 1``. A failed output check exits with status 1; a checkout
without the engine's sources exits with status 2 and prints no result.
"""

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parent.parent
HERE = ROOT / "perfbench"

#: local[K] and spark.sql.shuffle.partitions: pinned at 4, the core
#: count of the reference host, so hosts with more cores still plan
#: alike; never above nproc.
K = min(4, len(os.sched_getaffinity(0)))
#: Input staging runs this many times; setup_s takes the median.
SETUP_REPS = 3
#: Upper bound on the warm-up, so a slow host still ends in time.
WARMUP_MAX_S = 45.0
#: A run whose first timed quarter is this much slower than its last
#: is flagged as still ramping.
RAMP_FLAG = 1.10

END_TO_END = {
    "setup_s": "s",
    "cold_op_s": "s",
    "work_per_s": "1/s",
    "op_s_p50": "s",
    "op_s_tail": "s",
}
SESSION_METRICS = {
    "session.get_spark_s": "s",
    "session.ramp_ratio": "ratio",
    "session.jobs_per_op": "count",
    "session.tasks_per_op": "count",
    "session.driver_s": "s",
    "session.scheduler_delay_s": "s",
    "session.executor_run_s": "s",
    "session.executor_cpu_s": "s",
    "session.gc_s": "s",
    "session.task_skew": "ratio",
    "session.shuffle_read_bytes": "bytes",
    "session.shuffle_write_bytes": "bytes",
    "session.spill_bytes": "bytes",
    "trace.overhead_op_s": "s",
}
_FROM_OP = {  # session metric -> key of Tracer.op_metrics
    "session.jobs_per_op": "jobs",
    "session.tasks_per_op": "tasks",
    "session.driver_s": "driver_s",
    "session.scheduler_delay_s": "scheduler_delay_s",
    "session.executor_run_s": "executor_run_s",
    "session.executor_cpu_s": "executor_cpu_s",
    "session.gc_s": "gc_s",
    "session.task_skew": "task_skew",
    "session.shuffle_read_bytes": "shuffle_read_bytes",
    "session.shuffle_write_bytes": "shuffle_write_bytes",
    "session.spill_bytes": "spill_bytes",
}


def log(*args) -> None:
    print(*args, file=sys.stderr, flush=True)


def per_layer_metrics() -> dict[str, str]:
    from perfbench.workloads import WORKLOADS

    out = dict(SESSION_METRICS)
    for w in WORKLOADS.values():
        out.update(w.layer_metrics)
    return out


def percentile(values: list[float], pct: int) -> float:
    if len(values) < 2:
        return max(values)
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def ramp_ratio(op_s: list[float]) -> float:
    """Median of the first timed quarter over median of the last."""
    if len(op_s) < 2:
        return 1.0
    q = max(1, len(op_s) // 4)
    return statistics.median(op_s[:q]) / statistics.median(op_s[-q:])


def host_state() -> dict:
    from tools.ab import _steal_ticks

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "load_1min": os.getloadavg()[0],
        "steal_s": _steal_ticks(),
    }


def start_session(work: Path):
    from financial_data_pipeline_optimization_spark import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{K}]",
        shuffle_partitions=K,
        extra_conf={
            # Keep every file the run writes inside the checkout.
            "spark.local.dir": str(work / "spark-local"),
            "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stat(pid: int) -> tuple[str, int] | None:
    """(state, parent pid) of a live process, None once it is gone."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            rest = f.read().rsplit(")", 1)[1].split()
        return rest[0], int(rest[1])
    except (OSError, IndexError, ValueError):
        return None


def _children(pid: int) -> list[int]:
    return [int(e) for e in os.listdir("/proc")
            if e.isdigit() and (_stat(int(e)) or ("", 0))[1] == pid]


def _running(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"  # a zombie has ended


def stop_session(spark) -> None:
    """Stop Spark, end the gateway JVM and wait for it and its Python
    workers to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = gateway.proc
    workers = _children(proc.pid)
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 20
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if _running(p)]
        time.sleep(0.1)
    for p in workers:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


class Loop:
    """Runs ops and keeps their latencies and failures."""

    def __init__(self, spark) -> None:
        self.spark = spark
        self.attempted = self.failed = 0

    def run(self, fn, *args):
        """One call of ``fn``: (seconds, work units, extra result)."""
        self.attempted += 1
        t = time.perf_counter()
        try:
            out = fn(self.spark, *args)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            log(traceback.format_exc())
            self.failed += 1
            out = None
        dt = time.perf_counter() - t
        if isinstance(out, tuple):
            return dt, out[0], out[1:]
        return dt, out or 0, None


def run(args, work: Path) -> int:
    from tools.ab import LoadSampler

    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    host_before = host_state()
    sampler = LoadSampler()
    t = time.perf_counter()
    spark = start_session(work)
    get_spark_s = time.perf_counter() - t
    session_ready = time.perf_counter() - T0

    cls = WORKLOADS[args.workload]
    stage_s = []
    for r in range(SETUP_REPS):
        w = cls()
        t = time.perf_counter()
        w.stage(args.seed, work / f"inputs{r}")
        stage_s.append(time.perf_counter() - t)
        if r + 1 < SETUP_REPS:
            shutil.rmtree(work / f"inputs{r}")
    setup_s = session_ready + statistics.median(stage_s)

    phases = {"session": session_ready, "staging": sum(stage_s)}
    loop = Loop(spark)
    cold_op_s = loop.run(w.cold)[0]
    # The JIT ramp advances with the ops run, not with the seconds
    # spent, so the warm-up is a fixed op count: a slower host then
    # still enters the window at the same point of the ramp.
    t = time.perf_counter()
    for _ in range(w.warmup_ops):
        if time.perf_counter() - t > WARMUP_MAX_S:
            log(f"WARNING: warm-up cut at {WARMUP_MAX_S} s")
            break
        loop.run(w.op)

    tracer = Tracer(spark) if args.trace else None

    def traced(spark, tracer):
        # The status-store read is part of the traced op, so a job the
        # tracer cannot read fails the op instead of the run.
        u, root, layer = w.traced_op(spark, tracer)
        return u, layer, tracer.op_metrics(root)

    lat, traced_lat, layers, session = [], [], [], []
    units = 0
    t_window = time.perf_counter()
    while time.perf_counter() - t_window < args.seconds or (args.trace and not traced_lat):
        # Trace mode alternates untraced and traced ops, so tracing
        # overhead is measured on the same warm session.
        if args.trace and len(lat) > len(traced_lat):
            dt, u, extra = loop.run(traced, tracer)
            if extra is not None:
                layers.append(extra[0])
                session.append(extra[1])
            traced_lat.append(dt)
        else:
            dt, u, _ = loop.run(w.op)
            lat.append(dt)
        units += u
    window_s = time.perf_counter() - t_window
    phases["warm-up"] = t_window - t
    phases["window"] = window_s

    problems = []
    run_layers = w.run_metrics() if args.trace else {}
    if args.trace:
        # Every traced run reports every layer: the layers this workload
        # does not reach are traced on one op of each other workload,
        # after its own cold op, once the timed window is over.
        for other in WORKLOADS.values():
            if other is cls:
                continue
            o = other()
            o.stage(args.seed, work / f"probe-{o.name}")
            probe = Loop(spark)
            probe.run(o.cold)
            extra = probe.run(o.traced_op, tracer)[2]
            if extra is not None:
                layers.append(extra[1])
            run_layers.update(o.run_metrics())
            failed, found = o.check()
            loop.attempted += probe.attempted
            loop.failed += probe.failed + min(failed, probe.attempted)
            problems += found
    ramp = ramp_ratio(lat)
    log(f"ramp_ratio {ramp:.3f}")
    if ramp > RAMP_FLAG:
        log(f"WARNING: timed window still ramping (ramp_ratio {ramp:.3f})")
    if tracer is not None:
        tracer.dump(
            HERE / "traces" / f"{w.name}-seed{args.seed}.json",
            {"workload": w.name, "seed": args.seed, "k": K,
             "host_before": host_before, "ramp_ratio": ramp},
        )
    t = time.perf_counter()
    stop_session(spark)
    phases["stop"] = time.perf_counter() - t
    load_max, ext_cores_max = sampler.stop()
    host_after = host_state()
    log(json.dumps({
        "k": K, "shuffle_partitions": K, "host_before": host_before,
        "host_after": host_after, "load_max": load_max,
        "ext_cores_mean": sampler.ext_cores_mean,
        "steal_cores_mean": sampler.steal_cores_mean,
    }))

    t = time.perf_counter()
    failed, found = w.check()
    phases["check"] = time.perf_counter() - t
    log("phase seconds:", json.dumps({k: round(v, 2) for k, v in phases.items()}))
    problems += found
    for p in problems:
        log("CHECK FAILED:", p)
    loop.failed = min(loop.attempted, loop.failed + failed)

    if args.trace:
        values = {**run_layers,
                  "session.get_spark_s": get_spark_s, "session.ramp_ratio": ramp,
                  "trace.overhead_op_s":
                      statistics.median(traced_lat) - statistics.median(lat)}
        for name, key in _FROM_OP.items():
            values[name] = statistics.median(m[key] for m in session)
        for name in per_layer_metrics():
            if name not in values:
                values[name] = statistics.median(
                    m[name] for m in layers if name in m
                )
        units_of = per_layer_metrics()
    else:
        p = w.tail_pct
        log("timed op latencies (s):", [round(x, 3) for x in lat])
        log(f"op_s_tail = p{p} of {len(lat)} timed ops "
            f"({sum(x > percentile(lat, p) for x in lat)} beyond it)")
        values = {
            "setup_s": setup_s,
            "cold_op_s": cold_op_s,
            "work_per_s": units / window_s,
            "op_s_p50": statistics.median(lat),
            "op_s_tail": percentile(lat, p),
        }
        units_of = END_TO_END
    correct = not problems and loop.failed == 0
    print(json.dumps({
        "correct": correct,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {n: {"value": values[n], "unit": u} for n, u in units_of.items()},
    }))
    return 0 if correct else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["finance_etl", "corpus_curation", "query_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if not (ROOT / "financial_data_pipeline_optimization_spark").is_dir():
        log("engine sources not found next to perfbench/; run from a full checkout")
        return 2
    sys.path.insert(0, str(ROOT))
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    (work / "tmp").mkdir(parents=True)
    os.environ.update(
        TMPDIR=str(work / "tmp"),
        # Python workers (pandas UDFs) import the engine from the checkout.
        PYTHONPATH=os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        TZ="UTC",
    )
    time.tzset()
    tempfile.tempdir = None
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
