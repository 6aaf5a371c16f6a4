"""Benchmark entry point: one workload, one fresh process, one closed-loop
client.

    python3 perfbench/run.py --workload rag_ann_serve --seed 1 --seconds 1 --trace 0

Run from the repository root. The run starts a host-sized local session
(``SPARK_GRAFT_CPUS`` = usable cores, driver heap from the host's
memory), generates the workload's inputs from ``--seed``, fits what the
workload needs, runs a fixed count of untimed warm-up ops (all of that
is ``setup_s``, less the host witness and the computation of expected
outputs), then runs ops back to back for ``--seconds`` and checks every
op's output. The last stdout line is the result JSON; the line
before it carries the details (sample counts, percentiles, host
witness). With ``--trace 1`` the Spark event log is on and the result
holds the per-layer metrics instead of the end-to-end ones.

Exit codes: 0 all outputs correct, 1 an output check failed or an op
raised, 2 the engine sources are missing.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

START = time.perf_counter()
ROOT = os.getcwd()
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import host, layers, procfs  # noqa: E402
from perfbench.tracer import Tracer, layer_records  # noqa: E402
from perfbench.workloads import WORKLOADS, Ctx  # noqa: E402

END_TO_END = {
    "setup_s": "s", "op_p50_ms": "ms", "ops_per_s": "1/s", "cpu_s_per_op": "s",
}


def session_conf(work: str, heap: str, trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": heap,
        "spark.local.dir": f"{work}/local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{work}/eventlog",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def stop_children(timeout_s: float = 30.0) -> None:
    """Shut the JVM down and wait until every process this run started
    (the JVM and the Python workers it forked) has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=timeout_s)
        SparkContext._gateway = SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    while len(procfs.tree()) > 1:
        if time.monotonic() > deadline:
            for p in procfs.tree()[1:]:
                os.kill(p.pid, signal.SIGKILL)
        time.sleep(0.1)


def percentile(xs: list[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


def run(workload: str, seed: int, seconds: float, trace: bool) -> tuple[dict, dict]:
    import numpy as np

    w = WORKLOADS[workload]()
    hw = host.sizing()
    t_witness = time.perf_counter()
    witness = {"start": host.witness()}
    t_witness = time.perf_counter() - t_witness
    work = os.path.join(ROOT, ".bench_work", f"{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("local", "tmp", "eventlog", "warehouse"):
        os.makedirs(f"{work}/{sub}")
    os.environ["SPARK_GRAFT_CPUS"] = str(hw["cpus"])
    os.environ["TMPDIR"] = f"{work}/tmp"
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)

    from biodata_pipeline_spark.session import get_spark

    tracer = Tracer(trace)
    attempted = failed = 0
    problems: list[str] = []
    timed: list[tuple[int, float]] = []  # (op, wall_s)
    warmup: list[float | None] = []  # warm-up op walls, ms
    phases: dict[str, float] = {}  # where setup_s went
    spark = None
    try:
        with tracer.span("session.get_spark"):
            spark = get_spark(extra_conf=session_conf(work, hw["heap"], trace))
        tracer.spark = spark
        ctx = Ctx(spark, np.random.default_rng(seed), work, tracer)
        phases["session_s"] = time.perf_counter() - START
        w.setup(ctx)
        phases["inputs_fits_s"] = time.perf_counter() - START - phases["session_s"]

        def one(i: int) -> float | None:
            nonlocal attempted, failed
            attempted += 1
            tracer.op = i
            try:
                with tracer.span(f"{workload}.op"):
                    wall, problem = w.op(ctx, i)
            except Exception:  # an op that raises is a failed op
                problem, wall = traceback.format_exc(limit=3), 0.0
            finally:
                tracer.op = None
            if problem:
                failed += 1
                problems.append(f"op {i}: {problem}")
                return None
            return wall

        for i in range(w.warmup_ops):
            wall = one(i)
            warmup.append(wall * 1e3 if wall is not None else None)
        setup_s = time.perf_counter() - START - t_witness - ctx.untimed_s
        phases["harness_s"] = t_witness + ctx.untimed_s
        tree0 = procfs.tree()
        t0 = time.perf_counter()
        i = w.warmup_ops
        while time.perf_counter() - t0 < seconds:
            wall = one(i)
            if wall is not None:
                timed.append((i, wall))
            i += 1
        window_s = time.perf_counter() - t0
        tree1 = procfs.tree()
    finally:
        if spark is not None:
            spark.stop()
        stop_children()
    witness["end"] = host.witness()

    ops = {op for op, _ in timed}
    walls = [wall * 1e3 for _, wall in timed]
    n_ops = i - w.warmup_ops
    cpu_s = procfs.cpu_seconds(tree1) - procfs.cpu_seconds(tree0)
    detail = {
        "workload": workload, "seed": seed, "trace": trace,
        "host": hw, "witness": witness,
        "warmup_ops": w.warmup_ops, "warmup_ms": warmup, "setup_phases": phases,
        "timed_ops": n_ops, "samples": len(walls),
        "window_s": window_s, "op_ms": walls,
        "peak_rss_mb": procfs.peak_rss_mb(tree1),
        "problems": problems[:10],
    }
    # a higher percentile only where ten samples lie beyond it
    for q in (0.9, 0.99):
        if len(walls) * (1 - q) >= 10:
            detail[f"op_p{int(q * 100)}_ms"] = percentile(walls, q)
    result = {"correct": failed == 0 and bool(walls),
              "attempted": attempted, "failed": failed}
    if trace:
        log = os.path.join(work, "eventlog", os.listdir(f"{work}/eventlog")[0])
        recs = layer_records(tracer.spans, log)
        metrics = layers.summarize(recs, ops, f"{workload}.op", walls)
        detail["layers_ops"] = sorted(ops)
    else:
        metrics = {
            "setup_s": setup_s,
            "op_p50_ms": statistics.median(walls) if walls else 0.0,
            "ops_per_s": n_ops / window_s,
            "cpu_s_per_op": cpu_s / max(n_ops, 1),
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in metrics.items()}
    result["metrics"] = metrics
    shutil.rmtree(work, ignore_errors=True)
    return result, detail


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "biodata_pipeline_spark", "session.py")):
        print("perfbench: run from the repository root; "
              "biodata_pipeline_spark/ is missing here", file=sys.stderr)
        return 2
    result, detail = run(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
