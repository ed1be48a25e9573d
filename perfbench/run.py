"""Benchmark of the registered queries: two closed-loop workloads.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout.  One client process drives Spark on
``local[k]`` (k = min(4, nproc - 1)).  A run

1. generates (or reuses) the seed's input tables under
   ``perfbench/.data`` -- never inside the timed region;
2. sets up three times: import the package once, then three times
   ``session.get_spark`` plus a footer read of every input table (the
   first start launches the JVM; the next two restart the session in it);
3. runs one cold pass and then warm passes until ``--seconds`` have
   passed and the workload's ``warm`` passes are done.  Each pass runs
   the workload's queries in an order drawn from the seed.  A query is
   *build* (the registry callable, including its eager jobs), *execute*
   (writing the result to the workload's sink) and *release*
   (``caching.release_pinned``);
4. checks every query's output once, during the cold pass, with the
   pass clock stopped (see ``check.py``).

Every query is timed twice: wall time and the CPU time of the whole
process tree (``tree_cpu_s``: this process, the JVM, Python workers).
A warm-pass figure is the sum over queries of each query's median over
the warm passes, so that the first warm pass (the JIT still compiling)
or a burst of host load in one query does not move it.  The gated
metrics are CPU times: on a shared host the hypervisor hands our
virtual CPUs to other guests for minutes at a time, which stretches
wall time by tens of percent but is not charged to any process.  Wall
times are in the stderr table, the info line and the per-layer metrics.

With ``--trace 1`` warm passes run untraced, traced, traced, untraced
(repeating), one more pass than ``warm`` and at least four in all, so
that warm passes still speeding up do not favour either kind.  Traced
passes set a Spark job group per query phase, read Spark's job and
stage records and the result plan's Catalyst phase times after each
phase, write the spans to
``perfbench/.work/trace-<workload>-<seed>.json`` and report the
per-layer metrics.  The tracing overhead is the traced minus the
untraced wall-time warm-pass figure, both folded the same way, leaving
out the first warm pass.

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it describes the run (seed,
k, versions, load, sample counts).  A table of the metrics goes to
stderr.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import statistics
import subprocess
import sys
import time
import traceback
from dataclasses import dataclass
from pathlib import Path

import check
import datagen
from spans import (
    BARRIER_CALL,
    ML_ROUND_CALL,
    Tracer,
    job_sum,
    job_wall_s,
    spark_jobs,
)

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
DATA = HERE / ".data"
CORES = max(1, min(4, (os.cpu_count() or 2) - 1))
DRIVER_MEMORY = "2g"
SETUPS = 3

_PERF0 = time.perf_counter()
_EPOCH0 = time.time()


def now() -> float:
    """Monotonic clock on the epoch scale Spark's job records use."""
    return _EPOCH0 + (time.perf_counter() - _PERF0)


@dataclass(frozen=True)
class Workload:
    data: str  # "base" or "x10" (see datagen.ensure)
    sink: str  # "noop" or "parquet"
    queries: tuple[str, ...]
    # untraced warm passes run even when --seconds is up, so that the
    # number of passes behind pass_cpu_s does not vary from run to run;
    # from three on, each query's median leaves out the first warm pass,
    # which the JIT is still speeding up
    warm: int


WORKLOADS = {
    # build-heavy: the paper's era-wise rank correlation and k-fold CV
    # (ml driver rounds) plus the curation funnel (a caching barrier and
    # seconds of driver-side plan construction); the only workload that
    # writes its results
    "selection_funnel": Workload("base", "parquet", (
        "m1_spearman_by_era",
        "t2_kfold_cv_eval",
        "pipe1_corpus_curation",
    ), warm=2),
    # the bypass: shallow scan/join/window plans, no barriers or ml rounds,
    # over the ×10 replica; its passes are short, so it runs more of them
    "relational_x10": Workload("x10", "noop", (
        "q1_pricing_summary",
        "q9_product_type_profit",
        "w3_lead_lag_frames",
    ), warm=3),
}

END_TO_END = {
    "setup_s": "s",
    "first_pass_cpu_s": "s",
    "pass_cpu_s": "s",
    "driver_mem_mb": "MB",
    "correct_ops_ratio": "ratio",
}

PER_LAYER = {
    "wall.setup_s": "s",
    "wall.first_pass_s": "s",
    "wall.pass_s": "s",
    "data.gen_s": "s",
    "jvm.peak_rss_mb": "MB",
    "session.get_spark_s": "s",
    "sources.warmup_s": "s",
    "operators.build_s": "s",
    "operators.build_jobs": "count",
    "operators.build_job_wall_s": "s",
    "operators.build_driver_s": "s",
    "operators.build_executor_run_s": "s",
    "operators.build_shuffle_bytes": "B",
    "caching.barrier_jobs": "count",
    "caching.barrier_job_wall_s": "s",
    "caching.release_s": "s",
    "caching.released": "count",
    "ml.driver_jobs": "count",
    "ml.driver_job_wall_s": "s",
    "spark.exec_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.job_wall_s": "s",
    "spark.driver_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "sources.input_rows": "count",
    "sources.write_s": "s",
    "sources.write_bytes": "B",
    "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s",
    "catalyst.planning_s": "s",
    "catalyst.exchanges": "count",
    "trace.overhead_s": "s",
    "trace.pass_unaccounted_s": "s",
    **{
        f"{q}.{phase}": "s"
        for w in WORKLOADS.values()
        for q in w.queries
        for phase in ("build_s", "exec_s")
    },
}


def _pin_environment() -> None:
    """Point every process the run starts at the checkout under test and
    keep their files inside ``perfbench/.work``."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    for var in [v for v in os.environ if v.startswith("SPARK_GRAFT_")]:
        del os.environ[var]
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # the heap starts at its full size, so the GC's young-generation
    # sizing, and with it the pass times, does not drift from run to run
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.driver.extraJavaOptions=-Xms{DRIVER_MEMORY} pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))
    os.chdir(WORK)


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and every
    process under it: the JVM, Python workers, and reaped children.
    Time the hypervisor gave to other guests is not charged to a process,
    so on a shared host this moves far less than wall time."""
    stats: dict[int, tuple[int, int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            raw = Path(f"/proc/{entry}/stat").read_text()
        except OSError:
            continue
        # after "pid (comm) ": state ppid ... utime stime cutime cstime
        fields = raw[raw.rfind(")") + 2:].split()
        stats[int(entry)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, []))
    return ticks / os.sysconf("SC_CLK_TCK")


class Runner:
    def __init__(self, name: str, seed: int, data_dir: Path, trace: bool):
        self.w = WORKLOADS[name]
        self.data_dir = str(data_dir)
        self.trace = trace
        self.rng = random.Random(seed)
        self.attempted = 0
        self.failures: dict[str, list[str]] = {}
        self.sink_dir = WORK / "sink"

    # ------------------------------------------------------------ setup
    def setup(self) -> dict:
        c0, t0 = tree_cpu_s(), time.perf_counter()
        import __spark_entry__ as entry
        from reduction_dask_spark import caching
        from reduction_dask_spark.session import get_spark
        from reduction_dask_spark.sources import TABLES, load_table

        import_s, import_cpu_s = time.perf_counter() - t0, tree_cpu_s() - c0
        self.entry, self.caching = entry, caching
        sessions, warmups, cpus, spark = [], [], [], None
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            c0, t0 = tree_cpu_s(), time.perf_counter()
            spark = get_spark("perfbench", cpus=CORES)
            t1 = time.perf_counter()
            for t in TABLES:
                load_table(spark, self.data_dir, t)
            sessions.append(t1 - t0)
            warmups.append(time.perf_counter() - t1)
            cpus.append(tree_cpu_s() - c0)
        self.spark, self.sc = spark, spark.sparkContext
        self.qs = entry.queries()
        totals = [s + w for s, w in zip(sessions, warmups)]
        return {
            "import_s": import_s,
            "setups_s": totals,
            "setups_cpu_s": cpus,
            "setup_s": import_cpu_s + statistics.median(cpus),
            "wall.setup_s": import_s + statistics.median(totals),
            "session.get_spark_s": sorted(sessions)[len(sessions) // 2],
            "sources.warmup_s": sorted(warmups)[len(warmups) // 2],
        }

    # ------------------------------------------------------------ sinks
    def _sink(self, name: str, df) -> None:
        if self.w.sink == "parquet":
            from reduction_dask_spark.sources import write_overwrite

            write_overwrite(df, str(self.sink_dir / name))
        else:
            df.write.mode("overwrite").format("noop").save()

    def _written_bytes(self, name: str) -> int:
        path = self.sink_dir / name
        return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())

    def _result(self, name: str, df):
        if self.w.sink == "parquet":
            return self.spark.read.parquet(str(self.sink_dir / name)).toPandas()
        return df.toPandas()

    # ------------------------------------------------------------ passes
    def _group(self, gid: str | None) -> None:
        if gid is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(gid, gid)

    def run_pass(self, index: int, traced: bool, checker=None) -> dict:
        """One pass over the workload's queries in seeded order.  Returns
        the pass wall time (check time excluded) and, when traced, the
        per-query records the per-layer metrics are folded from."""
        order = list(self.w.queries)
        self.rng.shuffle(order)
        self.spark._jvm.System.gc()
        checked_s = 0.0
        records = []
        p0 = now()
        for name in order:
            self.attempted += 1
            gid = f"{index}:{name}"
            rec = {"name": name, "jobs": {}}
            df, err = None, None
            cpu0 = tree_cpu_s()
            t0 = now()
            try:
                if traced:
                    self._group(gid + ":build")
                df = self.qs[name](self.spark, self.data_dir)
                t1 = now()
                if traced:
                    self._group(gid + ":trace")
                    rec["catalyst"] = catalyst(df)
                t2 = now()
                if traced:
                    self._group(gid + ":execute")
                self._sink(name, df)
                t3 = now()
            except Exception as exc:  # noqa: BLE001 - a failed query is a result
                traceback.print_exc(file=sys.stderr)
                err = f"{type(exc).__name__}: {exc}".splitlines()[0][:300]
                t1 = t2 = t3 = now()
            cpu3 = tree_cpu_s()
            if checker is not None and err is None:
                c0 = time.perf_counter()
                try:
                    errs = checker(name, self._result(name, df))
                except Exception as exc:  # noqa: BLE001 - a failed check is a result
                    traceback.print_exc(file=sys.stderr)
                    errs = [f"check raised {type(exc).__name__}: {exc}"[:300]]
                checked_s += time.perf_counter() - c0
                if errs:
                    err = "; ".join(errs)
            if traced:
                self._group(gid + ":release")
            cpu4 = tree_cpu_s()
            t4, rec["released"] = now(), self.caching.release_pinned()
            t5 = now()
            rec["cpu_s"] = cpu3 - cpu0 + tree_cpu_s() - cpu4
            if err is not None:
                self.failures.setdefault(name, []).append(err)
            rec["spans"] = {"build": (t0, t1), "execute": (t2, t3), "release": (t4, t5)}
            if traced:
                self._group(None)
                for phase in ("build", "execute", "release"):
                    rec["jobs"][phase] = spark_jobs(self.sc, f"{gid}:{phase}")
                if self.w.sink == "parquet" and err is None:
                    rec["write_bytes"] = self._written_bytes(name)
            records.append(rec)
        p1 = now()
        return {
            "index": index,
            "traced": traced,
            "start": p0,
            "end": p1,
            "wall_s": p1 - p0 - checked_s,
            "checked_s": checked_s,
            "queries": records,
        }

    def measure(self, seconds: float) -> tuple[dict, list[dict]]:
        oracles = self.entry.oracle_sql()
        from reduction_dask_spark.sources import TABLES

        con = check.oracle_connection(Path(self.data_dir), TABLES)
        digests = {}

        def checker(name, pdf):
            if name not in oracles:
                digests[name] = check.digest(pdf)
            return check.check(name, pdf, oracles, con)

        cold = self.run_pass(0, traced=False, checker=checker)
        con.close()
        memory = self.memory()
        need = max(self.w.warm + 1, 4) if self.trace else self.w.warm
        warm = []
        w0 = time.perf_counter()
        while len(warm) < need or time.perf_counter() - w0 < seconds:
            traced = self.trace and len(warm) % 4 in (1, 2)
            warm.append(self.run_pass(len(warm) + 1, traced=traced))
        return {"cold": cold, "digests": digests, **memory}, warm

    def memory(self) -> dict[str, float]:
        """Driver memory after the cold pass.  ``driver_mem_mb`` is the
        Python driver's peak RSS plus what the JVM keeps live: heap in
        use after a full GC and non-heap (classes, JIT code).  The JVM's
        resident peak follows G1's heap-sizing choices from run to run,
        so it is reported (``peak_rss_mb``, Python peak plus JVM peak) but
        not gated on."""
        jvm = self.spark._jvm
        jvm.System.gc()
        mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        live = mx.getHeapMemoryUsage().getUsed() + mx.getNonHeapMemoryUsage().getUsed()
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        status = Path(f"/proc/{jvm.ProcessHandle.current().pid()}/status").read_text()
        hwm_kb = next(int(ln.split()[1]) for ln in status.splitlines() if ln.startswith("VmHWM:"))
        return {
            "driver_mem_mb": py_kb / 1024.0 + live / 2**20,
            "peak_rss_mb": (py_kb + hwm_kb) / 1024.0,
            "jvm.peak_rss_mb": hwm_kb / 1024.0,
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM the session launched to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait()


def catalyst(df) -> dict:
    """Catalyst phase times of the result plan and its shuffle Exchange
    count.
    Forces optimization and planning of the result's own QueryExecution
    (trace-only work, outside the build and execute spans)."""
    import re

    qe = df._jdf.queryExecution()
    plan = qe.executedPlan().toString()
    phases = qe.tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        opt = phases.get(ph)
        out[ph] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    out["exchanges"] = len(re.findall(r"\bExchange\b", plan))
    return out


# ---------------------------------------------------------------- folding

def query_s(rec: dict) -> float:
    """Build + execute + release time of one query in one pass."""
    return sum(rec["spans"][ph][1] - rec["spans"][ph][0] for ph in ("build", "execute", "release"))


def median_pass_s(passes: list[dict], of=query_s) -> tuple[float, dict[str, float]]:
    """The sum over queries of each query's median ``of`` across
    ``passes``, and those medians."""
    times: dict[str, list[float]] = {}
    for p in passes:
        for r in p["queries"]:
            times.setdefault(r["name"], []).append(of(r))
    medians = {name: statistics.median(ts) for name, ts in times.items()}
    return sum(medians.values()), medians


def pass_layers(p: dict, sink: str) -> dict[str, float]:
    """Per-layer metrics of one traced pass."""
    m: dict[str, float] = {}
    q = p["queries"]

    def span_sum(phase):
        return sum(r["spans"][phase][1] - r["spans"][phase][0] for r in q)

    build_jobs = [j for r in q for j in r["jobs"].get("build", [])]
    all_jobs = [j for r in q for js in r["jobs"].values() for j in js]
    barrier = [j for j in all_jobs if BARRIER_CALL.match(j["name"])]
    ml = [j for j in all_jobs if ML_ROUND_CALL.match(j["name"])]
    m["operators.build_s"] = span_sum("build")
    m["operators.build_jobs"] = len(build_jobs)
    m["operators.build_job_wall_s"] = job_wall_s(build_jobs)
    m["operators.build_driver_s"] = m["operators.build_s"] - m["operators.build_job_wall_s"]
    m["operators.build_executor_run_s"] = job_sum(build_jobs, "run_s")
    m["operators.build_shuffle_bytes"] = job_sum(build_jobs, "shuffle_write")
    m["caching.barrier_jobs"] = len(barrier)
    m["caching.barrier_job_wall_s"] = job_wall_s(barrier)
    m["caching.release_s"] = span_sum("release")
    m["caching.released"] = sum(r["released"] for r in q)
    m["ml.driver_jobs"] = len(ml)
    m["ml.driver_job_wall_s"] = job_wall_s(ml)
    m["spark.exec_s"] = span_sum("execute")
    m["spark.jobs"] = len(all_jobs)
    m["spark.stages"] = sum(len(j["stages"]) for j in all_jobs)
    m["spark.tasks"] = job_sum(all_jobs, "tasks")
    m["spark.job_wall_s"] = job_wall_s(all_jobs)
    m["spark.driver_s"] = p["wall_s"] - m["spark.job_wall_s"]
    m["spark.executor_run_s"] = job_sum(all_jobs, "run_s")
    m["spark.executor_cpu_s"] = job_sum(all_jobs, "cpu_s")
    m["spark.shuffle_write_bytes"] = job_sum(all_jobs, "shuffle_write")
    m["spark.shuffle_read_bytes"] = job_sum(all_jobs, "shuffle_read")
    m["spark.spill_bytes"] = job_sum(all_jobs, "spill")
    m["spark.gc_s"] = job_sum(all_jobs, "gc_s")
    m["sources.input_rows"] = job_sum(all_jobs, "input_rows")
    m["sources.write_s"] = m["spark.exec_s"] if sink == "parquet" else 0.0
    m["sources.write_bytes"] = sum(r.get("write_bytes", 0) for r in q)
    for key in ("analysis", "optimization", "planning", "exchanges"):
        suffix = "" if key == "exchanges" else "_s"
        m[f"catalyst.{key}{suffix}"] = sum(r.get("catalyst", {}).get(key, 0) for r in q)
    m["trace.pass_unaccounted_s"] = p["wall_s"] - sum(
        span_sum(ph) for ph in ("build", "execute", "release")
    )
    for r in q:
        m[f"{r['name']}.build_s"] = r["spans"]["build"][1] - r["spans"]["build"][0]
        m[f"{r['name']}.exec_s"] = r["spans"]["execute"][1] - r["spans"]["execute"][0]
    return m


def fold_traced(traced: list[dict], sink: str) -> dict[str, float]:
    """Every per-layer metric: the median over traced passes of each
    pass's value, 0 for layers the workload does not reach."""
    folded = [pass_layers(p, sink) for p in traced]
    metrics = {name: 0.0 for name in PER_LAYER}
    for name in folded[0]:
        metrics[name] = statistics.median(f[name] for f in folded)
    return metrics


def spans_of(tracer, run_span: int, passes: list[dict]) -> None:
    """Add run → pass → query → phase → job → stage spans for traced passes."""
    for p in passes:
        pid = tracer.add(run_span, f"pass {p['index']}", p["start"], p["end"], traced=p["traced"])
        for r in p["queries"]:
            s = r["spans"]
            qid = tracer.add(pid, r["name"], s["build"][0], s["release"][1])
            for phase in ("build", "execute", "release"):
                fid = tracer.add(qid, phase, *s[phase])
                for j in r["jobs"].get(phase, []):
                    jid = tracer.add(fid, f"job {j['id']}", j["start"], j["end"], call=j["name"])
                    for st in j["stages"]:
                        if st["start"] is not None and st["end"] is not None:
                            tracer.add(jid, f"stage {st['id']}", st["start"], st["end"],
                                       tasks=st["tasks"], run_s=st["run_s"])


def _cpu_ticks() -> list[int] | None:
    """Cumulative CPU ticks (user .. steal) from ``/proc/stat``, or None."""
    try:
        first = Path("/proc/stat").read_text().split("\n", 1)[0]
    except OSError:
        return None
    return [int(x) for x in first.split()[1:9]]


def _steal_share(t0: list[int] | None, t1: list[int] | None) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    ``_cpu_ticks`` readings: the host contention a run's timings include."""
    if t0 is None or t1 is None or sum(t1) == sum(t0):
        return None
    return (t1[7] - t0[7]) / (sum(t1) - sum(t0))


def _versions(spark) -> dict:
    import duckdb
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "duckdb": duckdb.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    missing = [p for p in ("__spark_entry__.py", "reduction_dask_spark/__init__.py", "tools/compare.py")
               if not (ROOT / p).is_file()]
    if missing:
        print(f"perfbench: not a checkout of the program (missing {missing})", file=sys.stderr)
        return 2

    load = os.getloadavg()[0]
    ticks0 = _cpu_ticks()
    _pin_environment()
    wl = WORKLOADS[args.workload]
    data_dir, gen_s = datagen.ensure(DATA, args.seed, wl.data)
    runner = Runner(args.workload, args.seed, data_dir, bool(args.trace))
    run0 = now()
    setup = runner.setup()
    try:
        cold_info, warm = runner.measure(args.seconds)
        versions = _versions(runner.spark)
    finally:
        s0 = time.perf_counter()
        runner.stop()
        stop_s = time.perf_counter() - s0
    run1 = now()

    cold = cold_info["cold"]
    untraced = [p for p in warm if not p["traced"]]
    traced = [p for p in warm if p["traced"]]
    pass_s, query_medians = median_pass_s(untraced)
    wall = {"wall.setup_s": setup["wall.setup_s"], "wall.first_pass_s": cold["wall_s"], "wall.pass_s": pass_s}
    failed = sum(len(v) for v in runner.failures.values())
    attempted = runner.attempted
    e2e = {
        "setup_s": setup["setup_s"],
        "first_pass_cpu_s": sum(r["cpu_s"] for r in cold["queries"]),
        "pass_cpu_s": median_pass_s(untraced, lambda r: r["cpu_s"])[0],
        "driver_mem_mb": cold_info["driver_mem_mb"],
        "correct_ops_ratio": 1.0 - failed / attempted,
    }
    samples = {"setup_s": SETUPS, "first_pass_cpu_s": 1, "pass_cpu_s": len(untraced),
               "wall.setup_s": SETUPS, "wall.first_pass_s": 1, "wall.pass_s": len(untraced),
               "driver_mem_mb": 1, "correct_ops_ratio": attempted}
    if args.trace:
        metrics = fold_traced(traced, wl.sink)
        metrics.update(wall)
        metrics["data.gen_s"] = gen_s
        metrics["jvm.peak_rss_mb"] = cold_info["jvm.peak_rss_mb"]
        metrics["session.get_spark_s"] = setup["session.get_spark_s"]
        metrics["sources.warmup_s"] = setup["sources.warmup_s"]
        # against the untraced passes after the first warm pass, which
        # the JIT is still speeding up and no traced pass precedes
        metrics["trace.overhead_s"] = median_pass_s(traced)[0] - median_pass_s(untraced[1:])[0]
        units = PER_LAYER
        samples.update({"per_layer": len(traced)})
        tracer = Tracer()
        run_span = tracer.add(None, f"run {args.workload}", run0, run1, seed=args.seed)
        spans_of(tracer, run_span, traced)
        out = WORK / f"trace-{args.workload}-{args.seed}.json"
        out.write_text(json.dumps(tracer.dump()))
    else:
        metrics, units = e2e, END_TO_END

    info = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "k": CORES,
        "nproc": os.cpu_count(),
        "driver_memory": DRIVER_MEMORY,
        "load_1min_at_start": load,
        "cpu_steal_share": _steal_share(ticks0, _cpu_ticks()),
        "run_wall_s": time.perf_counter() - _PERF0,
        "check_s": cold["checked_s"],
        "stop_s": stop_s,
        "versions": versions,
        "data_gen_s": gen_s,
        "import_s": setup["import_s"],
        "setups_s": setup["setups_s"],
        "setups_cpu_s": setup["setups_cpu_s"],
        "samples": samples,
        "wall_s": wall,
        "warm_passes_s": [p["wall_s"] for p in warm],
        "query_median_s": {name: round(v, 3) for name, v in query_medians.items()},
        "cold_query_cpu_s": {r["name"]: round(r["cpu_s"], 2) for r in cold["queries"]},
        "peak_rss_mb": cold_info["peak_rss_mb"],
        "failed_ops_ratio": failed / attempted,
        "failures": runner.failures,
        "rows_only_digests": cold_info["digests"],
    }
    print(json.dumps({"info": info}))
    shown = e2e | wall | {"peak_rss_mb": cold_info["peak_rss_mb"], "failed_ops_ratio": failed / attempted}
    units_shown = END_TO_END | PER_LAYER | {"peak_rss_mb": "MB", "failed_ops_ratio": "ratio"}
    for name, value in shown.items():
        unit = units_shown[name]
        print(f"{args.workload:18s} {name:20s} {value:12.4f} {unit}", file=sys.stderr)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
