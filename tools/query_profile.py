"""Per-query profile from Spark's status store: build vs execute time,
and the jobs behind each, grouped by call site.

  python tools/query_profile.py NAME... [--sf DIR] [--reps N]

For each registered query and rep, the build (the registered callable)
and the execute (a noop-sink write) run under their own job groups,
then ``release_pinned()`` and ``clearCache()`` as bench.py does between
queries. Each rep prints build wall, execute wall and build
driver-only time: build wall minus the union of the build jobs' walls,
i.e. analysis, optimization and Python work that no job shows. Then
one row per (phase, call site): job count, union of the jobs' walls,
executor run time, shuffle read/write, spill and GC. Barrier jobs are
named after the line that called ``caching.barrier`` and eager collects
after their caller, so each eager site of a build gets its own row.

``--sf`` defaults to $SPARK_GRAFT_SF_DIR; the session honours
$SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time
from pathlib import Path

REPO = str(Path(__file__).resolve().parent.parent)
if __name__ == "__main__":
    sys.path.insert(0, REPO)
    # Python workers resolve the package from PYTHONPATH, not sys.path
    os.environ["PYTHONPATH"] = REPO + os.pathsep + os.environ.get("PYTHONPATH", "")

from perfbench.spans import job_sum, job_wall_s, spark_jobs  # noqa: E402
from reduction_dask_spark.caching import release_pinned  # noqa: E402

_DIRS = re.compile(r" at .*[/\\]")
_GROUP = "spark.jobGroup.id"
MB = 1 << 20


def run_query(spark, fn, sf: str, tag: str) -> dict:
    """Build ``fn(spark, sf)`` under job group ``tag:build``, execute it
    to the noop sink under ``tag:execute``, then release its caches.
    Returns the two walls and each phase's jobs."""
    sc = spark.sparkContext
    try:
        sc.setLocalProperty(_GROUP, f"{tag}:build")
        t0 = time.time()
        df = fn(spark, sf)
        t1 = time.time()
        sc.setLocalProperty(_GROUP, f"{tag}:execute")
        df.write.format("noop").mode("overwrite").save()
        t2 = time.time()
    finally:
        sc.setLocalProperty(_GROUP, None)
    release_pinned()
    spark.catalog.clearCache()
    return {
        "build_s": t1 - t0,
        "execute_s": t2 - t1,
        "build": spark_jobs(sc, f"{tag}:build"),
        "execute": spark_jobs(sc, f"{tag}:execute"),
    }


def by_site(jobs: list[dict]) -> list[dict]:
    """One row per call site (directories dropped), in first-job order."""
    groups: dict[str, list[dict]] = {}
    for j in jobs:
        groups.setdefault(_DIRS.sub(" at ", j["name"]), []).append(j)
    return [
        {
            "site": site,
            "jobs": len(js),
            "wall_s": job_wall_s(js),
            "run_s": job_sum(js, "run_s"),
            "shuffle_read": job_sum(js, "shuffle_read"),
            "shuffle_write": job_sum(js, "shuffle_write"),
            "spill": job_sum(js, "spill"),
            "gc_s": job_sum(js, "gc_s"),
        }
        for site, js in groups.items()
    ]


def report(name: str, rep: int, r: dict) -> None:
    driver_s = r["build_s"] - job_wall_s(r["build"])
    print(
        f"{name} rep {rep}: build {r['build_s']:.2f} s "
        f"(driver-only {driver_s:.2f} s, {len(r['build'])} jobs), "
        f"execute {r['execute_s']:.2f} s ({len(r['execute'])} jobs)"
    )
    print("  phase    jobs  wall_s   run_s  shufR_MB  shufW_MB  spill_MB  gc_s  site")
    for phase in ("build", "execute"):
        for g in by_site(r[phase]):
            print(
                f"  {phase:7s} {g['jobs']:5d} {g['wall_s']:7.2f} {g['run_s']:7.2f} "
                f"{g['shuffle_read'] / MB:9.1f} {g['shuffle_write'] / MB:9.1f} "
                f"{g['spill'] / MB:9.1f} {g['gc_s']:5.2f}  {g['site']}"
            )


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Per-query build/execute profile.")
    ap.add_argument("names", nargs="+", metavar="NAME", help="registered query names")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    ap.add_argument("--reps", type=int, default=2)
    a = ap.parse_args(argv)
    if a.sf is None:
        ap.error("--sf DIR or $SPARK_GRAFT_SF_DIR is required")
    from reduction_dask_spark.registry import REGISTRY, load_all_operators
    from reduction_dask_spark.session import get_spark

    load_all_operators()
    unknown = [n for n in a.names if n not in REGISTRY]
    if unknown:
        ap.error(f"unknown query: {' '.join(unknown)}")
    spark = get_spark("query_profile")
    spark.read.parquet(f"{a.sf}/region.parquet").count()  # warm-up, as bench.py
    for name in a.names:
        for rep in range(a.reps):
            report(name, rep, run_query(spark, REGISTRY[name].fn, a.sf, f"{name}:{rep}"))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
