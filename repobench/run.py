"""Repository benchmark.

    python3 repobench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from
``--seed`` under ``.repobench_work/``, starts Spark as local[N], sets the
workload up, then issues the workload's statements in a closed loop with
one client for ``--seconds`` seconds: each statement is fully
materialized through the noop sink before the next is issued, and a pass
runs every statement once. Outputs are then checked against their oracles
once. The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. See README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time
import traceback

WORK_DIR = ".repobench_work"
CORES = 4  # local[N]; see README.md for how N was chosen


def claim_stdout() -> int:
    """Keep the real stdout for the result line: fd 1 points at stderr for
    the rest of the run, so the JVM, Python workers and stray prints
    cannot write to it."""
    real = os.dup(1)
    os.dup2(2, 1)
    sys.stdout = sys.stderr
    return real


def isolate(root: str, work: str, cores: int) -> dict[str, str]:
    """Point every file Spark, the JVM and Python workers write under
    ``work``, and let workers import the package from ``root``. Returns the
    Spark confs that complete the isolation."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update(
        PYTHONPATH=os.pathsep.join(paths),
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"),
        SPARK_GRAFT_CPUS=str(cores),
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
    )
    return {
        "spark.driver.memory": "3g",
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # a JVM that ignores EOF is killed
            proc.kill()
            proc.wait()


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[repobench {time.perf_counter() - _T0:7.1f}s] {msg}", file=sys.stderr, flush=True)


def run_pass(ctx, statements, latencies: dict[str, list[float]], failures: list[str]) -> float:
    """Issue every statement once, each materialized before the next."""
    from .guard import timed_writer

    t_pass = time.perf_counter()
    for name in statements:
        t = time.perf_counter()
        try:
            timed_writer(ctx.build(name)).save()
        except Exception as exc:  # noqa: BLE001 — counted in `failed`
            failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
            continue
        latencies[name].append(time.perf_counter() - t)
    return time.perf_counter() - t_pass


def window(ctx, statements, seconds: float, failures: list[str]):
    """Warm passes in a closed loop until ``seconds`` have passed."""
    latencies = {s: [] for s in statements}
    passes = []
    end = time.perf_counter() + seconds
    while not passes or time.perf_counter() < end:
        passes.append(run_pass(ctx, statements, latencies, failures))
    return passes, latencies


def traced_pass(ctx, tracer, statements, failures: list[str]) -> dict[str, float]:
    """One pass with every statement's build and action under its own job
    group, then read back from Spark's status stores. Its ``pass_s`` sums
    the statements' build and action spans."""
    from collections import defaultdict

    from .guard import timed_writer

    out = defaultdict(float)
    first_execution = tracer.executions_so_far()
    jobs: list[int] = []
    for name in statements:
        build_span = "engine.sql_s" if name == "infer" else "plans.build_s"
        with tracer.group(f"build:{name}") as build_jobs, tracer.span(build_span):
            df = ctx.build(name)
        with tracer.group(f"exec:{name}") as exec_jobs, tracer.span("operators.exec_s"):
            try:
                timed_writer(df).save()
            except Exception as exc:  # noqa: BLE001 — counted in `failed`
                failures.append(f"{name}: {type(exc).__name__}: {str(exc)[:300]}")
        out["plans.build_jobs"] += len(build_jobs)
        out["operators.jobs"] += len(exec_jobs)
        jobs += build_jobs + exec_jobs
    out["pass_s"] = sum(tracer.spans[k] for k in ("engine.sql_s", "plans.build_s", "operators.exec_s"))
    for k, v in tracer.stage_totals(jobs).items():
        out[f"operators.{k}"] = v
    for k, v in tracer.python_totals(jobs, first_execution).items():
        out[f"pyudf.{k}"] = v
    return out


def model_layers(ctx) -> dict[str, float]:
    """In-process timings of the ``models`` kernels on this run's features,
    in seconds per 1M rows."""
    import numpy as np
    import pyarrow.parquet as pq

    from torchfusion_spark.models.backends import load_predictor
    from torchfusion_spark.models.batching import create_batched, flatten_batched

    col = pq.read_table(f"{ctx.inputs}/feats", columns=["embedding"]).column("embedding")
    arr = col.combine_chunks()
    values = np.asarray(arr.values.to_numpy(), dtype=np.float32)
    offsets = arr.offsets.to_numpy()
    rows = len(offsets) - 1
    uri = os.path.join(ctx.work, "clf.npz")
    with open(uri, "rb") as f:
        model = f.read()
    t0 = time.perf_counter()
    predictor = load_predictor(model, uri)
    t1 = time.perf_counter()
    batches = list(create_batched(values, offsets, 1024))
    t2 = time.perf_counter()
    outs = [predictor(b) for b in batches]
    t3 = time.perf_counter()
    flatten_batched(outs)
    t4 = time.perf_counter()
    per_m = 1e6 / rows
    return {
        "models.load_s": t1 - t0,
        "models.batch_s": (t2 - t1) * per_m,
        "models.forward_s": (t3 - t2) * per_m,
        "models.flatten_s": (t4 - t3) * per_m,
    }


def run(args, work: str, root: str) -> dict:
    from . import data
    from .trace import Tracer, calibrate
    from .workloads import PER_LAYER, WORKLOADS, Context

    wl = WORKLOADS[args.workload]
    confs = isolate(root, work, CORES)
    calib = [calibrate()]
    inputs = data.materialize(work, args.seed, wl.inputs, wl.scale, wl.files)
    log(f"inputs ready: {inputs}")

    from torchfusion_spark.session import session

    failures: list[str] = []
    t_setup = time.perf_counter()
    spark = session(app_name=f"repobench_{wl.name}", master=f"local[{CORES}]", extra_conf=confs)
    session_s = time.perf_counter() - t_setup
    try:
        ctx = Context(spark, wl, inputs, work)
        tracer = Tracer(spark) if args.trace else None
        ctx.setup(tracer)
        latencies = {s: [] for s in wl.statements}
        run_pass(ctx, wl.statements, latencies, failures)
        setup_s = time.perf_counter() - t_setup
        log(f"set up in {setup_s:.2f}s (session {session_s:.2f}s)")
        passes, latencies = window(ctx, wl.statements, args.seconds, failures)
        attempted = (len(passes) + 1) * len(wl.statements)
        pass_s = statistics.median(passes)
        stmt = {s: statistics.median(v) for s, v in latencies.items() if v}
        log(f"{len(passes)} warm passes, median {pass_s:.3f}s")

        if args.trace:
            traced = traced_pass(ctx, tracer, wl.statements, failures)
            attempted += len(wl.statements)
            m = dict.fromkeys(PER_LAYER, 0.0)
            m.update({k: v for k, v in {**tracer.spans, **traced}.items() if k in m})
            m["session.start_s"] = session_s
            m["trace.overhead"] = traced["pass_s"] / pass_s
            exec_s = m["operators.exec_s"]
            m["operators.busy_ratio"] = m["operators.executor_run_s"] / (exec_s * CORES) if exec_s else 0.0
            if wl.prewarm:
                m["staging.cached_mb"] = tracer.cached_mb()
            if wl.inputs == "features":
                m.update(model_layers(ctx))
            for s, v in stmt.items():
                m[f"stmt.{s}_s"] = v
        else:
            import pyarrow.parquet as pq

            rows = pq.ParquetDataset(os.path.join(inputs, wl.rows_of)).read(columns=[]).num_rows
            m = {
                "setup_s": setup_s,
                "pass_s": pass_s,
                "stmt_gmean_s": math.exp(statistics.fmean(math.log(v) for v in stmt.values())),
                "rows_per_s": rows / pass_s,
            }

        for s in wl.statements:
            attempted += 1
            t = time.perf_counter()
            try:
                problems = ctx.check(s)
            except Exception as exc:  # noqa: BLE001 — counted in `failed`
                problems = [f"{type(exc).__name__}: {str(exc)[:300]}"]
            failures.extend(f"{s}: {p}" for p in problems)
            log(f"checked {s} in {time.perf_counter() - t:.2f}s: {'ok' if not problems else problems}")
        log("outputs checked")
    finally:
        stop_spark(spark)
    log("spark stopped")
    calib.append(calibrate())
    host_calib = statistics.fmean(calib)
    if args.trace:
        m["host.calib_s"] = host_calib
    for f in failures:
        print(f"FAILED {f}", file=sys.stderr)
    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "cores": CORES,
        "setup_s": setup_s, "pass_times": passes, "host.calib_s": calib, "failures": failures, "metrics": m,
    }
    print(json.dumps(record), file=sys.stderr)
    with open(os.path.join(work, "runs.jsonl"), "a") as f:
        f.write(json.dumps(record) + "\n")
    return {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": v, "unit": _unit(k)} for k, v in m.items()},
    }


def _unit(name: str) -> str:
    if name == "rows_per_s":
        return "1/s"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name in ("trace.overhead", "operators.busy_ratio"):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    from .workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    import importlib.util

    if importlib.util.find_spec("torchfusion_spark") is None:
        print(f"torchfusion_spark is not importable from {root}: run from a checkout root",
              file=sys.stderr)
        return 2
    real_stdout = claim_stdout()
    work = os.path.join(root, WORK_DIR)
    os.makedirs(work, exist_ok=True)
    try:
        result = run(args, work, root)
    except Exception:  # noqa: BLE001 — no result line for a run that broke
        traceback.print_exc()
        return 1
    os.write(real_stdout, (json.dumps(result) + "\n").encode())
    os.close(real_stdout)
    return 0


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from repobench.run import main as _main

    raise SystemExit(_main())
