"""Plan-identity drift adjudicator (r15 verdict item 6).

The standard move when a bench/sweep reading "regresses" on unchanged
code (this host swings 1.5-5x on identical checkouts — see SCALING.md's
dd13/pipe1 adjudication): dump the OPTIMIZED LOGICAL PLAN of the query
from both checkouts, normalize expression IDs, and diff. Byte-identical
plans mean any wall-clock delta is environment by construction — far
stronger evidence than any timing sample, and it costs minutes instead
of a timing A/B session. Only if plans DIFFER is a timing A/B
(each checkout's `tools/query_profile.py NAME --reps 5`) worth running.

Usage:
  python tools/plan_identity.py REF_A REF_B NAME [NAME...] [--sf DIR]
  python tools/plan_identity.py --dump NAME [--sf DIR]   # internal

REF_A/REF_B are git refs (a detached worktree is created under /tmp and
removed afterwards) or paths to existing checkouts; `.` means this
working tree as-is. Exit code 0 = all plans byte-identical after
normalization; 1 = at least one differs (a unified diff head is
printed per differing name).
"""

from __future__ import annotations

import argparse
import difflib
import re
import subprocess
import sys
import tempfile
from pathlib import Path

DEFAULT_SF = "/root/testdata/sf0.1"

# expression IDs (#123) and codegen/exchange ids ([id=#45], plan_id=7)
# are allocation-order artifacts, not plan structure: renumber each by
# first appearance so two structurally identical plans compare equal.
_ID_PATTERNS = (re.compile(r"#(\d+)"), re.compile(r"plan_id=(\d+)"))


def normalize(plan: str) -> str:
    for pat in _ID_PATTERNS:
        mapping: dict[str, str] = {}

        def sub(m: re.Match) -> str:
            k = m.group(1)
            if k not in mapping:
                mapping[k] = str(len(mapping))
            return m.group(0).replace(k, mapping[k], 1)

        plan = pat.sub(sub, plan)
    return plan


def dump(name: str, sf_dir: str) -> None:
    """Run inside a checkout: print the normalized optimized plan."""
    sys.path.insert(0, str(Path.cwd()))
    from pyspark.sql import SparkSession

    from reduction_dask_spark.registry import REGISTRY, load_all_operators

    spark = (
        SparkSession.builder.master("local[4]")
        .appName(f"plan_identity_{name}")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        # metadata strings (file locations, pushed filters) are cut at
        # 100 chars by default, before normalize() renumbers their ids,
        # so the same plan can be cut at different points
        .config("spark.sql.maxMetadataStringLength", "1000000")
        .getOrCreate()
    )
    load_all_operators()
    df = REGISTRY[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    print(normalize(plan))
    spark.stop()


def checkout(ref: str, tmp: Path) -> Path:
    """Materialize `ref` as a directory; '.' or an existing dir is
    used in place."""
    if ref == "." or Path(ref).is_dir():
        return Path(ref).resolve()
    wt = tmp / f"wt_{re.sub(r'[^A-Za-z0-9]', '_', ref)}"
    subprocess.run(
        ["git", "worktree", "add", "--detach", str(wt), ref],
        check=True, capture_output=True, text=True,
    )
    return wt


def plan_of(co: Path, name: str, sf_dir: str) -> str:
    # the dump runs with cwd = the checkout so ITS tools/plan_identity.py
    # and ITS registry are loaded — an old checkout without this tool
    # falls back to the caller's copy via an explicit path.
    script = co / "tools" / "plan_identity.py"
    if not script.exists():
        script = Path(__file__).resolve()
    r = subprocess.run(
        [sys.executable, str(script), "--dump", name, "--sf", sf_dir],
        cwd=co, capture_output=True, text=True, timeout=600,
    )
    if r.returncode != 0:
        raise RuntimeError(f"dump failed in {co}:\n{r.stderr[-2000:]}")
    return r.stdout


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("refs_and_names", nargs="*")
    ap.add_argument("--dump", metavar="NAME")
    ap.add_argument("--sf", default=DEFAULT_SF)
    args = ap.parse_args()

    if args.dump:
        dump(args.dump, args.sf)
        return 0

    if len(args.refs_and_names) < 3:
        print(__doc__)
        return 2
    ref_a, ref_b, *names = args.refs_and_names
    rc = 0
    with tempfile.TemporaryDirectory(prefix="plan_id_") as td:
        tmp = Path(td)
        worktrees = []
        try:
            co_a = checkout(ref_a, tmp)
            co_b = checkout(ref_b, tmp)
            worktrees = [p for p in (co_a, co_b) if str(p).startswith(td)]
            for name in names:
                pa, pb = plan_of(co_a, name, args.sf), plan_of(co_b, name, args.sf)
                if pa == pb:
                    print(f"IDENTICAL {name} ({len(pa)} chars normalized) — "
                          "wall-clock deltas are environment by construction")
                else:
                    rc = 1
                    print(f"DIFFERS {name} ({len(pa)} vs {len(pb)} chars) — "
                          "plans changed; a timing A/B (tools/query_profile.py "
                          "--reps 5 from each checkout) is "
                          "warranted. Diff head:")
                    diff = difflib.unified_diff(
                        pa.splitlines(), pb.splitlines(),
                        fromfile=f"{ref_a}:{name}", tofile=f"{ref_b}:{name}",
                        lineterm="",
                    )
                    for i, ln in enumerate(diff):
                        if i >= 60:
                            print("  ... (diff truncated)")
                            break
                        print(ln)
        finally:
            for wt in worktrees:
                subprocess.run(
                    ["git", "worktree", "remove", "--force", str(wt)],
                    capture_output=True,
                )
    return rc


if __name__ == "__main__":
    sys.exit(main())
