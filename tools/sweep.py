"""Whole-registry execution sweep: run EVERY registered query
end-to-end against the ×R replicated sf0.1 tables and log per-query
wall-clock — the "nothing in the registry breaks one decade up"
evidence SCALING.md cites.

Resumable: completed queries are read back from the log and skipped,
so the sweep can be re-invoked until it prints DONE (useful under
session/time caps). A FAIL line is retried on the next invocation.
The replica is tools/scale_probe.py's: ``replicate`` builds it on the
first run and reuses it while its marker matches the base.

Usage: python tools/sweep.py [R] [logfile]      (default R=10,
       log /tmp/rds_sweep_x{R}.log)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.scale_probe import REPLICATED, SRC, replicate  # noqa: E402


def main() -> None:
    r = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    log = Path(sys.argv[2] if len(sys.argv) > 2 else f"/tmp/rds_sweep_x{r}.log")
    dest = f"/tmp/rds_scale_x{r}"
    replicate(SRC, dest, r, REPLICATED)

    done = set()
    if log.exists():
        for ln in log.read_text().splitlines():
            parts = ln.split()
            if len(parts) >= 2 and parts[1].endswith("s") and not parts[1].startswith("FAIL"):
                done.add(parts[0])

    import __spark_entry__ as e
    from reduction_dask_spark.session import get_spark
    from tools.query_profile import run_query

    spark = get_spark("sweep")
    qs = e.queries()
    todo = [n for n in sorted(qs) if n not in done]
    print(f"{len(done)} done, {len(todo)} to run", flush=True)
    fails = []
    with log.open("a") as fh:
        for name in todo:
            try:
                r = run_query(spark, qs[name], dest, name)
                line = f"{name} {r['build_s'] + r['execute_s']:.2f}s"
            except Exception as ex:  # noqa: BLE001 — log and continue
                fails.append(name)
                line = f"{name} FAIL {type(ex).__name__}: {ex}"
            print(line, flush=True)
            fh.write(line + "\n")
            fh.flush()
    print(f"DONE {len(qs)} queries, {len(fails)} failed this pass: {fails}", flush=True)


if __name__ == "__main__":
    main()
