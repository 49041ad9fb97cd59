"""Per-query perf probe for the optimization rounds (guide §1).

Times individual registry queries (best of N with per-run breakdown,
bench-identical `.count()` action by default, optional noop-sink action
for §1.4 cross-checks) and writes `.explain("formatted")` output to
plans/<tag>/<query>_<suffix>.txt so plan claims in OPTIMIZATION_r*.md
are reviewable offline.

Usage:
  python tools/perf_probe.py [--sf SF_DIR] [--runs N] [--noop]
                             [--plans-dir plans/r16 --suffix before]
                             query [query ...]
  python tools/perf_probe.py --headline          # the whole bench set

Unlike bench.py this does NOT prewarm staging by default (pass
--prewarm to replicate the bench's staged-relation prewarm), so a cold
first run shows exactly which staged builds a query triggers.
"""

from __future__ import annotations

import argparse
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="*")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=2)
    ap.add_argument("--noop", action="store_true", help="time a noop-sink write instead of count()")
    ap.add_argument("--plans-dir", default=None, help="write explain('formatted') here")
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--headline", action="store_true")
    ap.add_argument("--prewarm", action="store_true", help="run the bench's staging prewarm first")
    args = ap.parse_args()

    from torchfusion_spark.plans import REGISTRY
    from torchfusion_spark.session import session

    spark = session(app_name="torchfusion_perf_probe")

    names = list(args.queries)
    if args.headline:
        import bench

        names = bench.HEADLINE + names

    from torchfusion_spark.sources import load_tables

    load_tables(spark, args.sf)

    if args.prewarm:
        _prewarm(spark)

    rows = []
    for occurrence, name in enumerate(names):
        q = REGISTRY[name]
        runs = []
        jobs = []
        for i in range(args.runs):
            # jobs/run via a per-run job group (statusTracker delta): the
            # noise-immune companion metric — every job is a driver
            # barrier whose cost scales with scheduler wake latency.
            # The occurrence index keeps the group unique when the same
            # name is probed twice (e.g. --headline plus an explicit
            # repeat) — a reused group id would report the UNION of both
            # occurrences' jobs (code-review r16, second pass)
            group = f"probe_{occurrence}_{name}_{i}"
            spark.sparkContext.setJobGroup(group, f"probe:{name}:run{i}")
            t0 = time.perf_counter()
            df = q.builder(spark, args.sf)
            if args.noop:
                df.write.format("noop").mode("overwrite").save()
            else:
                df.count()
            runs.append(time.perf_counter() - t0)
            jobs.append(len(spark.sparkContext.statusTracker().getJobIdsForGroup(group)))
        # clear the GROUP, not just the description — setJobGroup set
        # both, and a lingering thread-local group id would attribute any
        # later job (e.g. a staged build fired by the --plans-dir
        # re-build below) to the last run's count (code-review r16)
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        spark.sparkContext.setJobDescription(None)
        if args.plans_dir:
            os.makedirs(args.plans_dir, exist_ok=True)
            df = q.builder(spark, args.sf)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            with open(os.path.join(args.plans_dir, f"{name}_{args.suffix}.txt"), "w") as f:
                f.write(plan)
        rows.append((name, runs))
        print(
            f"{min(runs):8.3f}  "
            + " ".join(f"{r:7.3f}" for r in runs)
            + f"  jobs={'/'.join(str(j) for j in jobs)}  {name}",
            flush=True,
        )

    print("\nbest-of-N sum:", round(sum(min(r) for _, r in rows), 3))
    spark.stop()


def _prewarm(spark) -> None:
    """The bench's staged-relation prewarm — the shared schedule in
    torchfusion_spark/staging.py (one copy, no drift)."""
    from torchfusion_spark.staging import prewarm_staging

    t0 = time.perf_counter()
    prewarm_staging(spark)
    print(f"prewarm: {time.perf_counter() - t0:.3f}s", flush=True)


if __name__ == "__main__":
    main()
