"""Benchmark of the ClearCare ETL and its query consumer.

    python3 perfbench/run.py --workload etl_campuses --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One process, one Spark session on
``local[<nproc>]``, one client in a closed loop. Set-up (session start,
fixtures, registry seeding, the cold warm-up round) is timed as
``setup_s``; then whole rounds run until ``--seconds`` have passed.
Outputs are checked against pinned values (pins.json) and a mismatch
counts as a failed op.

Both the time and the workload's ``timed_rounds`` bound the loop from
below, so the timed ops sit at the same place in a fresh JVM whatever
the machine's speed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` runs the same
loop with spans and the Spark event log on and prints the per-layer
metrics instead. The last stdout line is the compact result; the line
before it is the full record. See README.md.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
from contextlib import contextmanager, nullcontext  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_PREFIX = ".perfbench-run-"
RUN_LIMIT_S = 170  # the whole run, set-up and teardown included
CLEAN_WAIT_S = "60"  # budget for foreign Spark JVMs to drain


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


# --- run directory and processes ---------------------------------------


@contextmanager
def run_env(trace: bool):
    """A private run directory holding every cache and temp directory of
    the run. On exit, every process of the run is stopped and the
    directory removed; directories of killed runs are swept first."""
    for name in os.listdir(ROOT):
        pid = name[len(RUN_PREFIX) :]
        if name.startswith(RUN_PREFIX) and pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(ROOT, name), ignore_errors=True)
    run_dir = os.path.join(ROOT, f"{RUN_PREFIX}{os.getpid()}")
    os.makedirs(run_dir)
    try:
        make_run_env(run_dir, trace)
        yield run_dir
    finally:
        if run_processes(run_dir):
            stop_spark(None, run_dir)
        shutil.rmtree(run_dir, ignore_errors=True)


def make_run_env(run_dir: str, trace: bool) -> None:
    """Point every cache, scratch and temp directory of the run into
    ``run_dir`` (removed at exit), so no run inherits another's state."""
    for sub in ("tmp", "stage_cache", "spark_local", "work", "eventlog"):
        os.makedirs(os.path.join(run_dir, sub))
    tmp = os.path.join(run_dir, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CACHE_DIR"] = os.path.join(run_dir, "stage_cache")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark_local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PERFBENCH_RUN_DIR"] = run_dir
    os.environ["SPARK_GRAFT_BENCH_WAIT_CLEAN_SEC"] = CLEAN_WAIT_S
    conf = {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={run_dir}",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(run_dir, "eventlog"),
            "spark.eventLog.compress": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}='{v}'" if " " in v else f"--conf {k}={v}" for k, v in conf.items()
    ) + " pyspark-shell"
    import tempfile

    tempfile.tempdir = tmp


def run_processes(run_dir: str) -> list[int]:
    """PIDs other than this one that carry this run's marker: the JVM
    and its Python workers."""
    marker = f"PERFBENCH_RUN_DIR={run_dir}".encode()
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/environ", "rb") as f:
                if marker in f.read().split(b"\0"):
                    found.append(int(pid))
        except OSError:
            continue
    return found


def stop_spark(spark, run_dir: str) -> None:
    """Stop the session, close the gateway and wait until the JVM and
    every Python worker of this run has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.time() + 30
    while (left := run_processes(run_dir)) and time.time() < deadline:
        time.sleep(0.2)
    for pid in left:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while run_processes(run_dir):
        time.sleep(0.2)


# --- machine counters ----------------------------------------------------


def cpu_sample() -> list[int]:
    """Aggregate /proc/stat cpu ticks: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def cpu_delta(before: list[int], after: list[int]) -> dict:
    d = [b - a for a, b in zip(before, after)]
    tick = os.sysconf("SC_CLK_TCK")
    busy = d[0] + d[1] + d[2] + d[5] + d[6]  # steal excluded
    total = sum(d) or 1
    return {
        "busy_s": busy / tick,
        "busy_pct": 100.0 * busy / total,
        "steal_pct": 100.0 * d[7] / total,
    }


def jvm_memory(spark) -> dict:
    """Heap in use after a full GC, persisted RDDs and storage memory.

    Python is collected first: a DataFrame object alive in Python pins
    its JVM twin. The JVM is then collected until two readings in a row
    no longer fall, since Spark's cleaner frees shuffle and broadcast
    state only after a collection has dropped their last reference, and
    it does so on its own thread."""
    import gc

    gc.collect()
    jvm = spark._jvm
    rt = jvm.Runtime.getRuntime()
    used = []
    flat = 0
    for _ in range(8):
        jvm.System.gc()
        time.sleep(0.3)
        used.append(rt.totalMemory() - rt.freeMemory())
        flat = flat + 1 if len(used) > 1 and used[-1] >= 0.99 * min(used[:-1]) else 0
        if flat == 2:
            break
    jsc = spark.sparkContext._jsc
    infos = jsc.sc().getRDDStorageInfo()
    return {
        "retained_heap_mb": min(used) / 2**20,
        "persisted_rdds": jsc.getPersistentRDDs().size(),
        "storage_mem_mb": sum(i.memSize() for i in infos) / 2**20,
    }


# --- the run ----------------------------------------------------------


def untraced(*_, **__):
    return nullcontext()


def tail_percentile(samples: list[float]) -> dict | None:
    """The highest whole percentile with at least ten samples beyond
    it, or None when there are too few samples."""
    n = len(samples)
    if n < 11:
        return None
    pct = int(100 * (1 - 10 / n))
    value = statistics.quantiles(samples, n=100, method="inclusive")[pct - 1]
    return {"pct": pct, "value": value}


def measure(args, run_dir: str) -> dict:
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools"), HERE]
    import bench
    from make_testdata import REF_SF01

    from clearcare_data_pipeline_spark.session import get_spark
    from workloads import WORKLOADS, Op

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}")
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    data_root = os.path.dirname(REF_SF01)

    t_wait = time.perf_counter()
    foreign = bench._wait_for_clean_machine()
    clean_wait_s = time.perf_counter() - t_wait

    t_jvm = time.perf_counter()
    spark = get_spark("perfbench")
    rec: dict = {"spark": spark}
    workload = WORKLOADS[args.workload](
        spark, data_root, os.path.join(run_dir, "work"), args.seed, pins
    )
    t_fixtures = time.perf_counter()
    workload.setup()
    t_warmup = time.perf_counter()
    schedule = workload.round_ops()
    warm_problems = []
    warmup_ops = 0
    for _ in range(workload.warmup_rounds):
        for member in next(schedule):
            warm_problems += workload.run(member, untraced).problems
            warmup_ops += 1

    tracer = None
    span = untraced
    if args.trace:
        from spans import Tracer

        tracer = Tracer(spark, workload.checkpoint_dir)
        tracer.install()
        span = tracer.span

    ops, op_s, round_s, op_spans = [], [], [], []
    t_first = time.perf_counter()
    setup_s = t_first - T_START - clean_wait_s
    cpu0 = cpu_sample()
    for members in schedule:
        if len(round_s) >= workload.timed_rounds and time.perf_counter() - t_first >= args.seconds:
            break
        this_round = 0.0
        for member in members:
            with span(f"op:{member[0]}", "op", group=True) as s:
                t0 = time.perf_counter()
                try:
                    op = workload.run(member, span)
                except Exception as e:  # a failed op is counted, the loop goes on
                    op = Op(member[0], member[1], problems=[f"{member[0]}: {type(e).__name__}: {e}"[:300]])
                dt = time.perf_counter() - t0
            if tracer:
                op_spans.append((s, dt))
            op_s.append(dt)
            this_round += dt
            workload.account(op)
            ops.append(op)
        round_s.append(this_round)
    window_s = time.perf_counter() - t_first
    cpu = cpu_delta(cpu0, cpu_sample())
    if tracer:
        tracer.uninstall()
    t_after = time.perf_counter()
    mem = jvm_memory(spark)
    t_mem = time.perf_counter()
    final_problems = workload.final_check()
    t_check = time.perf_counter()

    # an op fails on its own check or on the check after the loop; a
    # problem no timed op owns fails the run
    failed_names = {name for name, _ in final_problems}
    failed = sum(1 for op in ops if op.problems or op.name in failed_names)
    if failed_names - {op.name for op in ops}:
        failed = max(failed, 1)
    n = len(ops)
    rows = sum(op.rows for op in ops)
    input_bytes = sum(op.input_bytes for op in ops)
    rec.update({
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "attempted": n,
        "failed": failed,
        "correct": failed == 0 and not warm_problems,
        "problems": [p for op in ops for p in op.problems][:20] + [p for _, p in final_problems][:20],
        "warmup_problems": warm_problems[:20],
        "warmup_rounds": workload.warmup_rounds,
        "warmup_ops": warmup_ops,
        "rounds": len(round_s),
        "setup_s": setup_s,
        "setup_phases_s": {
            "start": t_jvm - T_START - clean_wait_s,
            "session": t_fixtures - t_jvm,
            "fixtures": t_warmup - t_fixtures,
            "warmup": t_first - t_warmup,
        },
        "round_s": statistics.median(round_s),
        "op_p50_s": statistics.median(op_s),
        "op_tail": tail_percentile(op_s),
        "op_samples": op_s,
        "op_names": [op.name for op in ops],
        "op_kinds": [op.kind for op in ops],
        "round_samples": round_s,
        "rows_per_s": rows / sum(op_s),
        "cpu_s_per_op": cpu["busy_s"] / n,
        "cpu_busy_pct": cpu["busy_pct"],
        "steal_pct": cpu["steal_pct"],
        "window_s": window_s,
        "heap_probe_s": t_mem - t_after,
        "check_s": t_check - t_mem,
        "retained_heap_mb": mem["retained_heap_mb"],
        "persisted_rdds_after": mem["persisted_rdds"],
        "storage_mem_mb_after": mem["storage_mem_mb"],
        "stored_bytes_per_input_byte": (
            sum(op.stored_bytes for op in ops) / input_bytes if input_bytes else None
        ),
        "op_failure_ratio": failed / n,
        "clean_wait_s": clean_wait_s,
        "concurrent_jvms_at_start": foreign,
        "nproc": len(os.sched_getaffinity(0)),
    })
    if hasattr(workload, "campuses_run"):
        rec["campuses_run"] = workload.campuses_run
    if tracer:
        rec["tracer"] = tracer
        rec["op_spans"] = op_spans
    return rec


def main(argv=None) -> int:
    args = parse_args(argv)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    def _overrun(*_):
        raise TimeoutError(f"run exceeded {RUN_LIMIT_S} s")

    signal.signal(signal.SIGALRM, _overrun)
    signal.alarm(RUN_LIMIT_S)
    with run_env(bool(args.trace)) as run_dir:
        rec = measure(args, run_dir)
        stop_spark(rec.pop("spark"), run_dir)
        if args.trace:
            from eventlog import per_layer_metrics

            metrics = per_layer_metrics(rec, os.path.join(run_dir, "eventlog"))
        else:
            metrics = end_to_end_metrics(rec)
    signal.alarm(0)
    full = {k: v for k, v in rec.items() if k not in ("tracer", "op_spans")}
    full["metrics"] = metrics
    print(json.dumps(full, default=str))
    print(json.dumps({
        "correct": rec["correct"],
        "attempted": rec["attempted"],
        "failed": rec["failed"],
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


# round_s is in the full record but not gated: steal bursts on a shared
# host move it up to 2x between runs of the same code (README.md).
END_TO_END = {
    "setup_s": "s",
    "cpu_s_per_op": "s",
    "retained_heap_mb": "MB",
}


def end_to_end_metrics(rec: dict) -> dict:
    return {name: (rec[name], unit) for name, unit in END_TO_END.items()}


if __name__ == "__main__":
    sys.exit(main())
