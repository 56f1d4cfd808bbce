"""Seeded closed-loop benchmark of the pkd_tree_spark engine.

    python3 perfbench/run.py --workload knn_ann --seed 1 --seconds 30 --trace 0

Run from the repository root. The last stdout line is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics named
in BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1. The
line before it is a JSON record of the run: environment, ops attempted and
failed, gate coverage, steady-state checks and every metric computed.
Spans of a traced run go to .perfbench/spans-<workload>-<seed>.json.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
HARD_LIMIT_S = 170  # the whole run, set-up included, ends before this
DRIVER_MEM_MB = 4096


def pin_environment(work: Path) -> dict:
    """Spark settings for a reproducible local run on this machine's cores,
    with every scratch file under ``work``."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    mem_mb = min(DRIVER_MEM_MB, phys_mb // 3)
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=f"{mem_mb}m",
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(tmp),
        # no hsperfdata file outside the work directory
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        # Python workers import the engine from the checkout
        PYTHONPATH=os.pathsep.join(p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p),
    )
    return {"cpus": cpus, "driver_mem": f"{mem_mb}m", "phys_mem_mb": phys_mb}


def source_identity() -> dict:
    """git commit when the tree is a repository, and always a digest of the
    engine sources (a checkout without .git still identifies its code)."""
    h = hashlib.sha256()
    for p in sorted((ROOT / "pkd_tree_spark").rglob("*.py")):
        h.update(p.relative_to(ROOT).as_posix().encode())
        h.update(p.read_bytes())
    try:
        commit = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {"git_commit": commit, "engine_sha256": h.hexdigest()[:16]}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=30)
        except (OSError, subprocess.TimeoutExpired):
            proc.kill()
            proc.wait()


def _watchdog() -> None:
    from pyspark import SparkContext

    print(f"perfbench: run exceeded {HARD_LIMIT_S}s, aborting", file=sys.stderr, flush=True)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.kill()
        proc.wait()
    os._exit(3)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "pkd_tree_spark" / "__init__.py").is_file():
        print(f"perfbench: engine package pkd_tree_spark not found under {ROOT}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    # import the package by name from the root (the script's own directory
    # on sys.path would shadow stdlib modules such as ``trace``)
    sys.path[:] = [str(ROOT)] + [p for p in sys.path if Path(p or ".").resolve() != ROOT / "perfbench"]
    from perfbench import trace, workloads

    workload = workloads.WORKLOADS.get(args.workload)
    if workload is None:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    out_dir = ROOT / ".perfbench"
    work = out_dir / f"work-{os.getpid()}"  # a run of its own, even beside another
    env = pin_environment(work)
    timer = threading.Timer(HARD_LIMIT_S - (time.perf_counter() - t_start), _watchdog)
    timer.daemon = True
    timer.start()

    import pyspark

    from pkd_tree_spark.session import get_spark

    t0 = time.perf_counter()
    w0 = time.time()
    spark = get_spark(app=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    try:
        sc = spark.sparkContext
        sc.setLogLevel("ERROR")
        tracer = trace.Tracer(sc, args.seed, bool(args.trace))
        tracer.add_span("session.start", w0, w0 + session_s, job0=0)
        ctx = workloads.Ctx(
            spark=spark, tracer=tracer, seed=args.seed, seconds=args.seconds, trace=bool(args.trace),
            work_dir=str(work), deadline=t_start + HARD_LIMIT_S - 25, setup_s=session_s,
        )
        e2e = workload.run(ctx)
        tracer.resolve()
    finally:
        stop_spark(spark)
        timer.cancel()

    info = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "n_points": workloads.inputs.N_POINTS, "pyspark": pyspark.__version__, **env, **source_identity(),
        "ops_attempted": ctx.attempted, "ops_failed": ctx.failed, "errors": ctx.errors[:10],
        "calls": [(c.span, round(c.wall, 3)) for c in ctx.calls], "gates": ctx.gates, "steady": ctx.steady,
        "end_to_end": e2e, "counts": ctx.counts, "run_s": time.perf_counter() - t_start,
    }
    problems = ctx.problems(workload.gates)
    info["problems"] = problems
    if args.trace:
        layer = tracer.layer_metrics(sorted({m["name"].rsplit(".", 1)[0] for m in spec["per_layer"]
                                             if m["name"].rsplit(".", 1)[1] in trace.FIELDS}))
        layer.update(ctx.counts)
        info["per_layer"] = layer
        values, wanted = layer, spec["per_layer"]
        tracer.write(out_dir / f"spans-{args.workload}-{args.seed}.json", info)
    else:
        values, wanted = e2e, spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = values.get(m["name"], 0.0 if args.trace else None)
        if v is None or not math.isfinite(v):
            problems.append(f"metric {m['name']} not measured")
            continue
        metrics[m["name"]] = {"value": float(v), "unit": m["unit"]}
    shutil.rmtree(work, ignore_errors=True)
    correct = ctx.failed == 0 and not problems
    print(json.dumps(info, default=str))
    print(json.dumps({"correct": correct, "attempted": ctx.attempted, "failed": ctx.failed, "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
