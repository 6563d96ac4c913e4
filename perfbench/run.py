"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Set-up (JVM start, seeded input, warm-up
ops) is followed by a closed loop of ops, one forced job at a time, for
``--seconds``. Every op's output is checked; an op fails if it raises or
a check fails. The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
A record of every op (wall, CPU, GC, stolen CPU share, 1-minute load
before and after) and, when traced, every span is written under
``.perfbench/runs/``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_DIR = os.path.join(ROOT, ".perfbench")
WORKLOAD_NAMES = ("featurize_skew", "stream_sessions")
END_TO_END = {"setup_s": "s", "cpu_s_per_op": "s"}
PER_LAYER = {
    "turns_per_s": "turns/s", "setup_wall_s": "s",
    "session.start_s": "s", "session.gc_s": "s", "peak_rss_mb": "MB",
    "datagen.gen_s": "s", "datagen.turns": "count", "datagen.scan_s": "s",
    "operators.temporal.self_s": "s", "operators.temporal.cpu_s": "s",
    "operators.temporal.shuffle_bytes": "bytes",
    "operators.temporal.spill_bytes": "bytes",
    "operators.temporal.sort_ms": "ms",
    "operators.temporal.task_skew": "ratio",
    "operators.asof.self_s": "s", "operators.asof.cpu_s": "s",
    "operators.asof.shuffle_bytes": "bytes",
    "operators.asof.spill_bytes": "bytes",
    "operators.asof.task_skew": "ratio",
    "operators.flagship.plan_s": "s",
    "checkpoint.commit_s": "s", "checkpoint.write_s": "s",
    "checkpoint.lineage_scan_s": "s", "checkpoint.bytes_written": "bytes",
    "checkpoint.files_written": "count", "checkpoint.shuffle_bytes": "bytes",
    "checkpoint.cpu_s": "s",
    "streaming.batches": "count", "streaming.batch_s_p50": "s",
    "streaming.batch_s_max": "s", "streaming.state_rows": "count",
    "streaming.state_commit_ms": "ms", "streaming.python_rows": "count",
    "streaming.python_bytes": "bytes",
    "featurize.parallel_eff": "ratio",
    "trace.overhead_frac": "ratio",
    "ops_failed_frac": "ratio",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", type=float, default=1.0,
                   help="input size relative to the benchmark's (tests use "
                        "a small fraction)")
    p.add_argument("--corrupt-op", type=int, default=None, metavar="N",
                   help="corrupt the output of op N before it is checked "
                        "(op numbers count the warm-up ops too): a "
                        "self-test that failed checks are counted")
    return p.parse_args(argv)


class Ctx:
    """What a workload needs from the run: the session, the seed, its
    own scratch directory and the tracer."""

    def __init__(self, spark, spark_conf, seed, scale, run_dir, tracer):
        self.spark, self.spark_conf = spark, spark_conf
        self.seed, self.scale = seed, scale
        self.run_dir, self.tracer = run_dir, tracer


class Meter:
    """Times one engine call: wall, process-tree CPU, JVM GC, the share
    of CPU time stolen by the hypervisor, and the 1-minute load before
    and after; arms the RSS sampler meanwhile."""

    def __init__(self, ctx, sampler):
        self.ctx, self.sampler = ctx, sampler

    def __call__(self, fn):
        from perfbench.host import cpu_ticks, load1, tree_cpu_s
        from perfbench.tracing import jvm_gc_s

        rec = {"load_before": load1()}
        cpu0, gc0 = tree_cpu_s(), jvm_gc_s(self.ctx.spark)
        steal0, total0 = cpu_ticks()
        self.sampler.arm()
        t0 = time.perf_counter()
        try:
            return fn(), rec
        finally:
            rec["wall_s"] = time.perf_counter() - t0
            self.sampler.disarm()
            rec["cpu_s"] = tree_cpu_s() - cpu0
            rec["gc_s"] = jvm_gc_s(self.ctx.spark) - gc0
            steal1, total1 = cpu_ticks()
            rec["steal_frac"] = (steal1 - steal0) / max(1, total1 - total0)
            rec["load_after"] = load1()


def run_op(w, meter, i, corrupt: bool) -> dict:
    """One untraced op: timed engine call, then the untimed check."""
    try:
        result, rec = meter(lambda: w.call(i))
        value = w.observe(result)
        if corrupt:
            value = w.corrupt(value)
        rec["error"] = w.verify(value)
    except Exception:
        rec = {"error": traceback.format_exc(limit=3)}
    rec.update(op=i, traced=False)
    return rec


def run_traced(w, i) -> tuple[dict, dict | None]:
    """One traced iteration; returns its op record and layer sample."""
    try:
        sample = w.traced(i)
        op = sample["op"]
        rec = {"wall_s": op["wall_s"], "collect_s": op["collect_s"],
               "error": w.verify(sample.pop("value"))}
    except Exception:
        sample, rec = None, {"error": traceback.format_exc(limit=3)}
    rec.update(op=i, traced=True)
    return rec, sample


def median(xs) -> float:
    return float(statistics.median(xs))


def measure(args, ctx, sampler, layer: dict) -> tuple[list[dict], dict]:
    """Set-up, warm-up and the closed loop; returns the op records and
    the metrics of this run."""
    from perfbench.host import tree_cpu_s
    from perfbench.workloads import WORKLOADS

    w = WORKLOADS[args.workload](ctx)
    layer.update(w.setup())
    meter = Meter(ctx, sampler)
    ops = []
    for i in range(w.warmup_ops):
        ops.append(run_op(w, meter, i, corrupt=(i == args.corrupt_op)))
        ops[-1]["warmup"] = True
    try:
        problem = w.reference_check()
    except Exception:
        problem = traceback.format_exc(limit=3)
    if problem and not ops[0]["error"]:
        ops[0]["error"] = problem
    layer["setup_wall_s"] = time.perf_counter() - T_START
    setup_cpu_s = tree_cpu_s()
    sampler.peak_mb = 0.0  # peak RSS counts timed ops only
    samples = []
    t_end = time.perf_counter() + args.seconds
    i = first = w.warmup_ops
    while i == first or time.perf_counter() < t_end:
        ops.append(run_op(w, meter, i, corrupt=(i == args.corrupt_op)))
        if args.trace:
            rec, sample = run_traced(w, i)
            ops.append(rec)
            if sample is not None:
                samples.append(sample)
        i += 1

    plain = [o for o in ops if "wall_s" in o and not o.get("warmup")
             and not o["traced"]]
    traced = [o for o in ops if "wall_s" in o and o["traced"]]
    if not plain:
        raise RuntimeError("no op completed; see the op errors above")
    # Both end-to-end metrics are CPU seconds of the whole process tree:
    # on a shared host the hypervisor's steal moves wall times (set-up
    # and throughput) by more than any end-to-end bound allows, so the
    # walls are layer metrics.
    metrics = {
        "setup_s": setup_cpu_s,
        "cpu_s_per_op": median(o["cpu_s"] for o in plain),
    }
    layer["turns_per_s"] = w.rows / median(o["wall_s"] for o in plain)
    layer["peak_rss_mb"] = sampler.peak_mb
    if args.trace:
        if samples:
            layer.update(w.layers(samples))
        layer["session.gc_s"] = median(o["gc_s"] for o in plain)
        layer["trace.overhead_frac"] = (
            median(o["wall_s"] + o["collect_s"] for o in traced)
            / median(o["wall_s"] for o in plain) - 1.0) if traced else 0.0
        tail_ops, tail_layers = w.trace_tail(
            median(o["wall_s"] for o in plain))
        ops += tail_ops
        layer.update(tail_layers)
        layer["ops_failed_frac"] = sum(1 for o in ops if o["error"]) / len(ops)
    return ops, metrics


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, then wait for every process this
    run started (the JVM's Python workers included) to end."""
    from pyspark import SparkContext

    from perfbench.host import tree_pids

    pids = tree_pids()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits at end of its stdin
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + 20
    while time.monotonic() < deadline:
        alive = [p for p in pids if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in alive:
        try:
            os.kill(p, signal.SIGKILL)
        except ProcessLookupError:
            pass


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import hipipe_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}",
              file=sys.stderr)
        return 2
    from perfbench.host import RssSampler, driver_memory_mb, host_cpus
    from perfbench.tracing import Tracer

    os.makedirs(os.path.join(WORK_DIR, "runs"), exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"tmp-{args.workload}-", dir=WORK_DIR)
    os.environ["SPARK_GRAFT_CPUS"] = str(host_cpus())
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_memory_mb()}m"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = run_dir
    # no /tmp/hsperfdata_* from the launcher JVM spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # pandas deprecation chatter from every Python worker batch
    os.environ.setdefault("PYTHONWARNINGS", "ignore::FutureWarning")
    spark_conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}",
    }
    sampler = RssSampler()
    spark = None
    try:
        from hipipe_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark(app_name=f"perfbench_{args.workload}",
                          extra_conf=spark_conf)
        layer = {"session.start_s": time.perf_counter() - t0}
        tracer = Tracer(spark, enabled=bool(args.trace))
        ctx = Ctx(spark, spark_conf, args.seed, args.scale, run_dir, tracer)
        ops, metrics = measure(args, ctx, sampler, layer)
        spark = ctx.spark
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        sampler.close()
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    failed = sum(1 for o in ops if o["error"])
    for o in ops:
        if o["error"]:
            print(f"perfbench: op {o['op']} failed: {o['error']}",
                  file=sys.stderr)
    record = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "scale": args.scale, "cpus": host_cpus(),
              "driver_memory_mb": driver_memory_mb(),
              "metrics": metrics, "layers": layer, "ops": ops,
              "spans": tracer.spans}
    stamp = time.strftime("%Y%m%dT%H%M%S")
    path = os.path.join(WORK_DIR, "runs", f"{args.workload}-seed{args.seed}"
                        f"-trace{args.trace}-{stamp}-{os.getpid()}.json")
    with open(path, "w") as f:
        json.dump(record, f, indent=1, default=str)
    print(f"perfbench: turns_per_s {layer['turns_per_s']:.1f}, run record "
          f"{os.path.relpath(path, ROOT)}", file=sys.stderr)
    names = PER_LAYER if args.trace else END_TO_END
    values = layer if args.trace else metrics
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": values.get(k, 0), "unit": u}
                    for k, u in names.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
