"""Per-round certification spine (r10 verdict item 4): ONE command
that produces the round's correctness/scale evidence —

  1. tools/compare.py  (exact Spark↔DuckDB equality, full registry)
     at sf0.001, sf0.01 and sf0.1;
  2. tools/replica_gate.py --family docs  (×12 key-shifted replicas:
     DF_CAP/anchor-cap paths demonstrably bind, value equality held);
  3. tools/replica_gate.py --family tpch  (×12 FK-preserving clones
     of customer/orders/lineitem: join fan-out/group sizes ×12,
     value equality held);
  4. tools/replica_gate.py --family events  (×12 disjoint user
     populations with identical histories: the window/sessionization/
     temporal/streaming family under volume stress);
  5. tools/replica_gate.py --family emb  (×12 embeddings+documents:
     the ANN/similarity family — fixed probe batch, ×12 searched
     corpus; closes the r11 verdict's 249/249 accounting item);
  6. tools/plan_audit.py  (whole-registry physical-plan red flags;
     regenerates PLAN_AUDIT.md and PLAN_SHAPE.json, the per-query
     node counts whose `git diff` is the round's plan-shape record).

Each step runs as a subprocess (own Spark session, own log under
LOGDIR) and the tool prints one PASS/FAIL summary line per step plus
a final markdown block ready to paste into ROADMAP's state section.

Usage: python tools/certify.py [--logdir DIR] [--skip STEP,STEP]
       [--only STEP,STEP]
steps: sf0.001 sf0.01 sf0.1 docs tpch events emb audit
"""

from __future__ import annotations

import re
import subprocess
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

# GATE SCALE CEILING: the compare steps top out at sf0.1 by design.
# Two oracles are certified only up to that scale — iso1's minimax
# pair CTE is O(m^2) in distinct quality scores (~2.5M pairs at
# sf0.1, quadratic blow-up beyond; see the iso1 note in
# operators/reduction.py), and gr3's materialization hint choice is
# pinned to the DuckDB version (tests/test_r15_oracle_parity.py
# carries the version pin + wholesale-death canary). Adding an sf1+
# step requires reworking iso1's oracle to a sequential recursive-CTE
# PAV first.
STEPS: dict[str, list[str]] = {
    "sf0.001": [sys.executable, "tools/compare.py", "/root/testdata/sf0.001"],
    "sf0.01": [sys.executable, "tools/compare.py", "/root/testdata/sf0.01"],
    "sf0.1": [sys.executable, "tools/compare.py", "/root/testdata/sf0.1"],
    "docs": [sys.executable, "tools/replica_gate.py", "12", "--family", "docs"],
    "tpch": [sys.executable, "tools/replica_gate.py", "12", "--family", "tpch"],
    "events": [sys.executable, "tools/replica_gate.py", "12", "--family", "events"],
    "emb": [sys.executable, "tools/replica_gate.py", "12", "--family", "emb"],
    "audit": [
        sys.executable,
        "tools/plan_audit.py",
        "/root/testdata/sf0.001",
        "--write",
        "PLAN_AUDIT.md",
    ],
}

SUMMARY_RE = re.compile(r"(\d+) pass, (\d+) fail, (\d+) rows-only")
AUDIT_RE = re.compile(r"(\d+) flagged")


def run_step(name: str, cmd: list[str], logdir: Path) -> tuple[bool, str]:
    log = logdir / f"certify_{name.replace('.', '')}.log"
    t0 = time.time()
    with open(log, "w") as fh:
        rc = subprocess.run(cmd, cwd=REPO, stdout=fh, stderr=subprocess.STDOUT).returncode
    text = log.read_text()
    dt = time.time() - t0
    # LAST regex match in the log: a step that restarts or echoes an
    # earlier summary must be judged by its final line, not the first
    # string that happens to match (r11 ADVICE item).
    summaries = list(SUMMARY_RE.finditer(text))
    if name == "audit":
        # the audit emits "N flagged", never the compare summary; its
        # PASS requires BOTH rc==0 AND an explicit "0 flagged" line —
        # a format change or truncated log is a FAIL, not a pass.
        audits = list(AUDIT_RE.finditer(text))
        if audits:
            a = audits[-1]
            detail = f"{a.group(1)} flagged"
            ok = rc == 0 and a.group(1) == "0"
        else:
            detail = f"rc={rc}, no '<n> flagged' summary line"
            ok = False
    elif summaries:
        m = summaries[-1]
        detail = f"{m.group(1)} pass / {m.group(2)} fail / {m.group(3)} rows-only"
        ok = rc == 0 and m.group(2) == "0"
    else:
        detail = f"rc={rc}, no summary line"
        ok = False
    return ok, f"{detail} ({dt / 60:.1f} min, log {log})"


def main() -> int:
    args = sys.argv[1:]
    logdir = Path("/tmp/rds_certify")
    if "--logdir" in args:
        i = args.index("--logdir")
        logdir = Path(args[i + 1])
        del args[i : i + 2]
    selected = list(STEPS)
    if "--skip" in args:
        i = args.index("--skip")
        skip = set(args[i + 1].split(","))
        selected = [s for s in selected if s not in skip]
        del args[i : i + 2]
    if "--only" in args:
        i = args.index("--only")
        only = set(args[i + 1].split(","))
        selected = [s for s in selected if s in only]
        del args[i : i + 2]
    logdir.mkdir(parents=True, exist_ok=True)

    results: dict[str, tuple[bool, str]] = {}
    for name in selected:
        print(f"certify: running {name} ...", flush=True)
        results[name] = run_step(name, STEPS[name], logdir)
        ok, detail = results[name]
        print(f"  {'PASS' if ok else 'FAIL'} {name}: {detail}", flush=True)

    print("\n--- paste into ROADMAP state ---")
    for name, (ok, detail) in results.items():
        print(f"- certify {name}: {'PASS' if ok else 'FAIL'} — {detail.split(' (log')[0]}")
    return 0 if all(ok for ok, _ in results.values()) else 1


if __name__ == "__main__":
    sys.exit(main())
