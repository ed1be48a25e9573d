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
A ``jit`` row per phase gives the JVM's compile work in it: HotSpot
compile seconds (``CompilationMXBean``), and the classes Janino
compiled for whole-stage codegen and their compile seconds
(``CodegenMetrics``, ``CodeGenerator.compileTime``). The counters are
JVM-wide, so they also see the compiler threads catching up on work
an earlier phase made hot. After a query's reps, one line gives the
min, median and every value of build + execute wall.

The script puts its own checkout first on ``sys.path`` and
``PYTHONPATH``, so a timing A/B runs each checkout's copy in a fresh
session, interleaved: ``python A/tools/query_profile.py NAME --reps 5``
then the same from B. :func:`run_query` is also the timing loop of
``tools/report.py`` and ``tools/scale_probe.py``, which put their rows
into SCALING.md through ``scale_probe.upsert_scaling``, and of
``tools/sweep.py``, which runs every query on the ×R replica that
``scale_probe.replicate`` builds.

``--sf`` defaults to $SPARK_GRAFT_SF_DIR; the session honours
$SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import argparse
import os
import re
import statistics
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


def jit_counters(spark) -> dict:
    """The JVM's cumulative compile counters: HotSpot compile seconds,
    and the classes Janino compiled and its compile seconds."""
    jvm = spark._jvm
    hotspot = jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    janino = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    return {
        "jit_s": hotspot.getTotalCompilationTime() / 1e3,
        "codegen_classes": janino.getCount(),
        "codegen_s": codegen.compileTime() / 1e9,  # nanoseconds
    }


def _delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


def run_query(spark, fn, sf: str, tag: str) -> dict:
    """Build ``fn(spark, sf)`` under job group ``tag:build``, execute it
    to the noop sink under ``tag:execute``, then release its caches,
    also when the query fails. Returns the two walls, each phase's
    jobs and each phase's :func:`jit_counters` delta."""
    sc = spark.sparkContext
    try:
        sc.setLocalProperty(_GROUP, f"{tag}:build")
        c0, t0 = jit_counters(spark), time.time()
        df = fn(spark, sf)
        t1, c1 = time.time(), jit_counters(spark)
        sc.setLocalProperty(_GROUP, f"{tag}:execute")
        df.write.format("noop").mode("overwrite").save()
        t2, c2 = time.time(), jit_counters(spark)
    finally:
        sc.setLocalProperty(_GROUP, None)
        release_pinned()
        spark.catalog.clearCache()
    return {
        "build_s": t1 - t0,
        "execute_s": t2 - t1,
        "build": spark_jobs(sc, f"{tag}:build"),
        "execute": spark_jobs(sc, f"{tag}:execute"),
        "build_jit": _delta(c1, c0),
        "execute_jit": _delta(c2, c1),
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
    for phase in ("build", "execute"):
        j = r[f"{phase}_jit"]
        print(
            f"  jit {phase:7s} hotspot {j['jit_s']:.2f} s, "
            f"janino {j['codegen_classes']} classes {j['codegen_s']:.2f} s"
        )


def profile(spark, name: str, fn, sf: str, reps: int) -> list[dict]:
    """Run and report ``reps`` reps of one query, then its wall line."""
    runs = []
    for rep in range(reps):
        runs.append(run_query(spark, fn, sf, f"{name}:{rep}"))
        report(name, rep, runs[-1])
    walls = [r["build_s"] + r["execute_s"] for r in runs]
    print(
        f"{name} min={min(walls):.2f} med={statistics.median(walls):.2f} "
        f"all={[round(t, 2) for t in walls]}"
    )
    return runs


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
        profile(spark, name, REGISTRY[name].fn, a.sf, a.reps)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
