"""Benchmark runner: one named workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 15 --trace 0

Run from the root of a checkout.  Inputs are generated from the seed
into ``perfbench/.work`` (cached where they do not depend on the seed),
the engine's own build-once stores and every Spark scratch directory are
pointed inside the same work directory, and the run's own sinks are
removed at exit.  The last stdout line is the result:
``{"correct", "attempted", "failed", "metrics"}``; the line before it is
the host fingerprint and per-run detail (sample count, tail percentile,
per-op latencies, per-layer breakdowns).  ``--trace 1`` reports the
per-layer metrics instead of the end-to-end ones and writes the spans to
``perfbench/.work/trace-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time


def cpu_split() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of this machine since boot, from /proc/stat:
    busy is user, nice, system, irq and softirq time; stolen is time a CPU
    of this machine wanted to run while the hypervisor ran another tenant."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    return f[0] + f[1] + f[2] + f[5] + f[6], f[7]


def granted(c0: tuple[int, int], c1: tuple[int, int]) -> float:
    """Share of the CPU time this machine wanted between two ``cpu_split``
    readings that the hypervisor gave it (1.0 when none was stolen)."""
    busy, stolen = c1[0] - c0[0], c1[1] - c0[1]
    return busy / (busy + stolen) if busy + stolen > 0 else 1.0


T_PROCESS, CPU_PROCESS = time.perf_counter(), cpu_split()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from dataclasses import dataclass  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
ENGINE = "politician_etl_project_spark"
WORKLOADS = ("serve", "ingest")
SETUP_REPEATS = 2  # set-ups per run; setup_s is their median (for two, their mean)
MIN_ROUNDS = 2  # whole rounds a closed loop sends at least, however slow they are


def host_fingerprint(cpus: int, driver_mem: str) -> dict:
    def first_line(cmd: list[str]) -> str:
        try:
            out = subprocess.run(cmd, capture_output=True, text=True, timeout=30)
            return (out.stdout + out.stderr).strip().splitlines()[0]
        except (OSError, subprocess.SubprocessError, IndexError):
            return "unknown"

    import duckdb
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(fh.readline().split()[1])
    commit = "unknown"
    if os.path.isdir(os.path.join(ROOT, ".git")):
        commit = first_line(["git", "-C", ROOT, "rev-parse", "HEAD"])
    return {
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "master": f"local[{cpus}]",
        "ram_gb": round(mem_kb / 1024 / 1024, 1),
        "SPARK_DRIVER_MEM": driver_mem,
        "load_avg_start": os.getloadavg()[0],
        "spark": pyspark.__version__,
        "jdk": first_line(["java", "-XX:-UsePerfData", "-version"]),
        "python": platform.python_version(),
        "duckdb": duckdb.__version__,
        "commit": commit,
    }


def configure_environment(run_dir: str) -> tuple[int, str]:
    """Size the session to this host and keep every write in the checkout."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        ram_gb = int(fh.readline().split()[1]) // (1024 * 1024)
    driver_mem = f"{max(1, min(4, ram_gb // 4))}g"
    engine_tmp = os.path.join(WORK, "engine-tmp")  # build-once stores: kept warm across runs
    for d in (engine_tmp, f"{run_dir}/spark-local", f"{run_dir}/jtmp", f"{run_dir}/ckpt"):
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_DRIVER_MEM=driver_mem,
        TMPDIR=engine_tmp,
        SPARK_LOCAL_DIRS=f"{run_dir}/spark-local",
        SPARK_GRAFT_EPHEMERAL_CKPT_DIR=f"{run_dir}/ckpt",
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # -XX:-UsePerfData: no hsperfdata file, which a JVM writes under /tmp
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=(
            f"--conf spark.local.dir={run_dir}/spark-local "
            f"--conf spark.sql.warehouse.dir={run_dir}/warehouse "
            f"--driver-java-options '-Djava.io.tmpdir={run_dir}/jtmp -XX:-UsePerfData' pyspark-shell"
        ),
    )
    tempfile.tempdir = engine_tmp
    sys.path[:0] = [p for p in (ROOT, HERE) if p not in sys.path]
    return cpus, driver_mem


class Context:
    """State shared by the runner and a workload."""

    def __init__(self, args, run_dir: str, tracer):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = WORK
        self.run_dir = run_dir
        self.tracer = tracer
        self.spark = None
        self.excluded_s = 0.0  # one-time state builds kept out of setup_s
        self.layer: dict[str, float] = {}
        self.failures: list[str] = []


@dataclass
class OpRecord:
    op_id: int
    kind: str
    latency: float = 0.0  # wall time, steal-adjusted (see ``measure``)
    ok: bool = True
    rows: int = 0
    spark: dict | None = None
    wall: float = 0.0  # wall time as measured


def run_op(ctx: Context, op_id: int, kind: str, fn) -> OpRecord:
    """Time one op under its own job group; ``fn`` returns the number of
    rows the op delivered and raises on failure or wrong output."""
    from ledger import read_group

    sc = ctx.spark.sparkContext
    group = f"perfbench-op-{op_id}"
    sc.setJobGroup(group, kind)
    rec = OpRecord(op_id, kind)
    c0 = cpu_split()
    t0w, t0 = time.time(), time.perf_counter()
    try:
        with ctx.tracer.span(f"op.{kind}", op_id=op_id):
            rec.rows = int(fn() or 0)
    except Exception as exc:  # a failed op is counted, never fatal
        rec.ok = False
        ctx.failures.append(f"op {op_id} {kind}: {type(exc).__name__}: {str(exc)[:300]}")
    rec.wall = time.perf_counter() - t0
    rec.latency = rec.wall * granted(c0, cpu_split())
    t1w = time.time()
    sc.setLocalProperty("spark.jobGroup.id", None)
    if ctx.trace:
        t = time.perf_counter()
        rec.spark = read_group(ctx.spark, group, t0w, t1w)
        ctx.tracer.overhead_s += time.perf_counter() - t
    return rec


def closed_loop(ctx: Context, ops, round_size: int) -> tuple[list[OpRecord], float]:
    """One client sends the next step of the seeded sequence after the
    previous one completes, until ``seconds`` have passed and the steps
    sent make at least ``MIN_ROUNDS`` whole rounds of ``round_size``, or
    the sequence ends.  A step is an op unless the workload groups
    several steps into one op (``group_steps``)."""
    records: list[OpRecord] = []
    t_start = time.perf_counter()
    for op_id, (kind, fn) in enumerate(ops, start=1):
        records.append(run_op(ctx, op_id, kind, fn))
        if (time.perf_counter() - t_start >= ctx.seconds and op_id % round_size == 0
                and op_id >= MIN_ROUNDS * round_size):
            break
    return records, time.perf_counter() - t_start


def group_steps(records: list[OpRecord], wrong: set[int], steps_per_op: int) -> list[OpRecord]:
    """Fold each run of ``steps_per_op`` consecutive step records into one
    op: its latency and rows are the steps' sums, it fails when any step
    failed or gave wrong output, and its Spark statistics are the steps'
    sums (the time to the first job is the first step's)."""
    for r in records:
        r.ok = r.ok and r.op_id not in wrong
    if steps_per_op == 1:
        return records
    ops = []
    for i in range(0, len(records), steps_per_op):
        steps = records[i:i + steps_per_op]
        spark = None
        if all(s.spark is not None for s in steps):
            spark = {k: sum(s.spark[k] for s in steps) for k in steps[0].spark}
            spark["first_job_s"] = steps[0].spark["first_job_s"]
        ops.append(OpRecord(len(ops) + 1, "batch", sum(s.latency for s in steps),
                            all(s.ok for s in steps), sum(s.rows for s in steps), spark,
                            sum(s.wall for s in steps)))
    return ops


def load_workload(name: str):
    if name == "serve":
        from serve import Serve
        return Serve()
    from ingest import Ingest
    return Ingest()


def spark_layer_means(records: list[OpRecord]) -> dict[str, float]:
    stats = [r.spark for r in records if r.spark is not None]
    if not stats:
        return {}

    def mean(k):
        return sum(s[k] for s in stats) / len(stats)

    out = {f"spark.{k}": mean(k) for k in (
        "driver_only_s", "executor_run_s", "executor_cpu_s", "shuffle_read_bytes",
        "shuffle_write_bytes", "spill_bytes", "gc_s")}
    out.update({
        "spark.jobs_per_op": mean("jobs"),
        "spark.stages_per_op": mean("stages"),
        "spark.tasks_per_op": mean("tasks"),
        "op.first_job_s": mean("first_job_s"),
        "spark.run_minus_cpu_s": mean("executor_run_s") - mean("executor_cpu_s"),
        "spark.failed_tasks": sum(s["failed_tasks"] for s in stats),
    })
    return out


def stop_spark(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait
    until every one of those processes has ended."""
    from ledger import process_tree

    children = [p for p in process_tree() if p != os.getpid()]
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # the JVM is stopped below either way
            traceback.print_exc()
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        jvm = getattr(gateway, "proc", None)
        if jvm is not None:
            jvm.stdin.close()  # the JVM exits when its stdin closes
            try:
                jvm.wait(timeout=60)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
    deadline = time.time() + 30
    for pid in children:
        while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
            time.sleep(0.1)
        if os.path.exists(f"/proc/{pid}"):
            os.kill(pid, signal.SIGKILL)


def measure(args, ctx: Context, rss) -> tuple[dict, dict]:
    """Set up, run the closed loop and check outputs; returns the detail
    record and the result line's fields."""
    from politician_etl_project_spark.session import get_spark
    from stats import latency_summary

    tracer = ctx.tracer
    fingerprint = host_fingerprint(int(os.environ["SPARK_GRAFT_CPUS"]), os.environ["SPARK_DRIVER_MEM"])
    wl = load_workload(args.workload)
    t = time.perf_counter()
    with tracer.span("gen.inputs"):
        wl.inputs(ctx)
    gen_s = time.perf_counter() - t

    # each set-up: session start, the workload's preparation, one warm-up
    # op; the first also pays interpreter start, imports and JVM launch.
    # Every time reported end to end is steal-adjusted: wall time times the
    # share of wanted CPU time the hypervisor granted over the same
    # interval.  On a shared host whose steal varied from 0 to 45 % of the
    # CPU time this machine wanted, every wall time tracked it, and the
    # wall figures (kept in the detail line) spread past the bounds.
    setups, setups_wall = [], []
    for i in range(SETUP_REPEATS):
        t, c = time.perf_counter(), cpu_split()
        if ctx.spark is not None:
            ctx.spark.stop()
        ctx.excluded_s = 0.0
        with tracer.span("setup"):
            with tracer.span("session.start"):
                ctx.spark = get_spark("perfbench")
            session_s = time.perf_counter() - t
            wl.prepare(ctx)
            warm = run_op(ctx, 0, "warmup", wl.warmup(ctx))
        if not warm.ok:
            raise RuntimeError("warm-up op failed: " + ctx.failures[-1])
        start, c_start = (T_PROCESS + gen_s, CPU_PROCESS) if i == 0 else (t, c)
        setups_wall.append(time.perf_counter() - start - ctx.excluded_s)
        setups.append(setups_wall[-1] * granted(c_start, cpu_split()))
        if i == 0:
            ctx.layer["session.start_s"] = session_s + (t - T_PROCESS - gen_s)
    ctx.layer["gen.inputs_s"] = gen_s

    c = cpu_split()
    records, window_wall = closed_loop(ctx, wl.ops(ctx), wl.round_size)
    window_granted = granted(c, cpu_split())
    window_s = window_wall * window_granted
    with tracer.span("check"):
        wl.check(ctx, records)
    ops = group_steps(records, set(wl.wrong_ops), wl.steps_per_op)
    failed = sum(1 for r in ops if not r.ok)
    lat = latency_summary([r.latency for r in ops])
    wall = latency_summary([r.wall for r in ops])
    detail = {
        "workload": args.workload, "seed": args.seed, "fingerprint": fingerprint,
        "setup_s_each": setups, "samples": lat["samples"], "tail_pct": lat["tail_pct"],
        "window_s": window_s, "failed_ops_frac": failed / max(1, len(ops)),
        "granted_window": window_granted,
        "wall": {"setup_s": statistics.median(setups_wall), "latency_p50_s": wall["p50"],
                 "latency_tail_s": wall["tail"], "throughput_ops_s": len(ops) / window_wall},
        "failures": ctx.failures[:20],
        "latencies": [(r.kind, round(r.latency, 4), round(r.wall, 4)) for r in records],
    }
    if args.trace:
        layer = dict(ctx.layer)
        layer.update(spark_layer_means(ops))
        layer.update(wl.layer_metrics(ctx, records))
        layer["trace.overhead_s"] = tracer.overhead_s / max(1, len(ops))
        rss.stop()
        layer["peak_rss_mb"] = rss.peak_bytes / 2**20
        per_layer = {m["name"]: m["unit"] for m in bench_spec()["per_layer"]}
        # a layer the workload does not exercise reads 0 on it
        metrics = {k: {"value": float(layer.get(k, 0.0)), "unit": u} for k, u in per_layer.items()}
        detail["layer_detail"] = {k: v for k, v in layer.items() if k not in per_layer}
        detail["self_s"] = tracer.self_times()
        with open(os.path.join(WORK, f"trace-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump({"spans": tracer.spans, "self_s": detail["self_s"], "layers": layer}, fh)
    else:
        metrics = {
            "setup_s": {"value": statistics.median(setups), "unit": "s"},
            "latency_p50_s": {"value": lat["p50"], "unit": "s"},
            "latency_tail_s": {"value": lat["tail"], "unit": "s"},
            "throughput_ops_s": {"value": len(ops) / window_s, "unit": "1/s"},
            "rows_per_s": {"value": sum(r.rows for r in ops) / window_s, "unit": "rows/s"},
        }
    result = {"correct": failed == 0 and not ctx.failures, "attempted": len(ops),
              "failed": failed, "metrics": metrics}
    return detail, result


def bench_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, ENGINE)):
        print(f"perfbench: engine package {ENGINE!r} not found next to {HERE}", file=sys.stderr)
        return 2

    os.makedirs(WORK, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=WORK)
    configure_environment(run_dir)
    from ledger import RssSampler, Tracer
    from stats import result_line

    ctx = Context(args, run_dir, Tracer(bool(args.trace)))
    rss = RssSampler().start()
    try:
        detail, result = measure(args, ctx, rss)
        print(json.dumps(detail, default=str))
        print(result_line(**result), flush=True)
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        stop_spark(ctx.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
