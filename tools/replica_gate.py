"""×N-replica VALUE-equality gate.

Clones the base-scale tables of one family N times under shifted keys
with tools/scale_probe.py's ``replicate`` (replica k adds k·OFFSET to
every entity key; every other table is a symlink to the base; the
replica is reused while its marker matches the base), then runs
tools/compare.py's exact Spark↔DuckDB comparison over every
registered oracle query in the selected family:

- ``docs``  — queries whose oracle reads ONLY the documents table.
  Duplication multiplies every shingle's document frequency by N, so
  the DF_CAP truncation path demonstrably binds (max base df is 9 at
  sf0.001, so N ≥ 12 crosses the cap of 100). r10: 68 pass / 0 fail
  at N=12; tests/test_cap_binding.py keeps a fast core in pytest.
- ``tpch``  — queries whose oracle reads only TPC-H tables and
  touches at least one replicated fact/dim (customer/orders/
  lineitem): the FK-linked family the r10 verdict asked to put under
  duplication stress (every customer gets N× the orders, every order
  key appears once — join fan-outs and group sizes scale by N).
- ``events`` — queries whose oracle reads ONLY the events table (the
  window/sessionization/temporal/streaming/analytics family, ~100
  queries): replica k is a disjoint population of users with
  identical histories under shifted event/user ids — per-user group
  sizes and session shapes stay constant while volume, per-window
  row counts and distinct-user counts scale by N.
- ``emb``   — queries whose oracle reads the embeddings table (plus
  optionally documents — rrf1's hybrid retrieval): the ANN/similarity
  family (r12, closing the r11 verdict's 249/249 accounting item).
  BOTH embeddings and documents replicate under the same OFFSET so
  the doc_id↔vec_id link is preserved; OFFSET % 20 == 0 preserves
  era = vec_id % 20 and the vec_id%1000 noise term, so replica rows
  carry identical supervised targets. The fixed probe/anchor batch
  (vec_id < QUERY_CAP) stays base-only by construction — the gate
  stresses exactly the 100 TB shape: bounded query set, ×N searched
  corpus, ×N LSH/IVF bucket occupancy.

Family membership is derived from the oracle SQL with alias/CTE-aware
matching (a CTE or column alias named like a table no longer
misclassifies, the r10 ADVICE item) and then asserted against a floor
count so a parser regression that silently drops queries fails loudly.

Usage: python tools/replica_gate.py [N] [workdir] [--family docs|tpch|events|emb]
                                    [--base SF_DIR]
       (defaults: N=12, workdir=/tmp/rds_replica_{family}{N},
        base=/root/testdata/sf0.001)
"""

from __future__ import annotations

import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from reduction_dask_spark.sources import TABLES  # noqa: E402
from tools.scale_probe import replicate  # noqa: E402

TPCH_TABLES = frozenset("region nation customer supplier part orders lineitem".split())
TPCH_REPLICATED = frozenset("customer orders lineitem".split())

# floor counts: if alias-aware classification ever yields fewer
# queries than the last audited membership, refuse to certify —
# a silent drop is exactly the failure mode the r10 advice flagged
FAMILY_FLOOR = {"docs": 68, "tpch": 25, "events": 90, "emb": 22}


def referenced_tables(sql: str) -> set[str]:
    """Tables a DuckDB oracle actually reads, by word-matching known
    table names against comment-, string-literal- and alias-stripped
    SQL, excluding names the query itself defines as CTEs."""
    s = re.sub(r"--[^\n]*", "", sql)
    s = re.sub(r"'(?:[^']|'')*'", "''", s)  # string literals can't name tables
    # CTE definitions: `name AS (` — drop those names from candidates
    ctes = {m.group(1).lower() for m in re.finditer(r"\b(\w+)\s+AS\s*\(", s)}
    # column aliases: `expr AS name` (not followed by `(`) — remove the
    # alias token so `... AS part` can't read as a scan of `part`
    s = re.sub(r"\bAS\s+(\w+)\b(?!\s*\()", " AS _alias_", s, flags=re.IGNORECASE)
    return {
        t for t in TABLES if t not in ctes and re.search(rf"\b{t}\b", s, re.IGNORECASE)
    }


def family_queries(family: str) -> list[str]:
    from reduction_dask_spark.registry import REGISTRY, load_all_operators

    load_all_operators()
    out = []
    for n, q in REGISTRY.items():
        if not q.oracle:
            continue
        tabs = referenced_tables(q.oracle)
        if family == "docs":
            keep = tabs == {"documents"}
        elif family == "events":
            keep = tabs == {"events"}
        elif family == "tpch":
            keep = bool(tabs) and tabs <= TPCH_TABLES and bool(tabs & TPCH_REPLICATED)
        elif family == "emb":
            keep = "embeddings" in tabs and tabs <= {"embeddings", "documents"}
        else:
            raise ValueError(f"unknown family: {family}")
        if keep:
            out.append(n)
    out = sorted(out)
    floor = FAMILY_FLOOR[family]
    assert len(out) >= floor, (
        f"{family} family classified only {len(out)} queries (< audited floor "
        f"{floor}) — the SQL table classifier regressed; fix referenced_tables "
        f"or re-audit and update FAMILY_FLOOR"
    )
    return out


def main() -> None:
    argv = list(sys.argv[1:])
    family, base = "docs", "/root/testdata/sf0.001"
    if "--family" in argv:
        i = argv.index("--family")
        family = argv[i + 1]
        del argv[i : i + 2]
    if "--base" in argv:
        i = argv.index("--base")
        base = argv[i + 1]
        del argv[i : i + 2]
    n = int(argv[0]) if argv else 12
    assert 1 <= n <= 16
    workdir = argv[1] if len(argv) > 1 else f"/tmp/rds_replica_{family}{n}"
    replicated = (
        {"documents"} if family == "docs"
        else {"events"} if family == "events"
        else {"embeddings", "documents"} if family == "emb"
        else set(TPCH_REPLICATED)
    )
    replicate(base, workdir, n, replicated)
    names = family_queries(family)
    print(f"replica gate: family={family}, N={n}, base={base}, {len(names)} oracle queries")
    # full classified membership into the log so a single query
    # silently falling out of a family (while the count stays above
    # FAMILY_FLOOR) is reviewable as a diff (r11 ADVICE item)
    print(f"replica gate members ({family}): {' '.join(names)}")
    from tools.compare import main as compare_main  # type: ignore

    sys.argv = ["compare.py", workdir, *names]
    sys.exit(compare_main())


if __name__ == "__main__":
    main()
