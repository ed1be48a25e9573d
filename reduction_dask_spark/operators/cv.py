"""CV-split / sampling operators (SURVEY.md §2.9) — the reference's
signature group-aware machinery, re-expressed relationally.

C1 ``kfold_era`` (/root/reference/utils.py:11-48): shuffle the distinct
eras with a fixed seed, split into k near-equal groups, and assign every
row of an era to that era's fold — eras never straddle folds. Here the
"shuffle" is an ordering by a portable seeded hash and the near-equal
split is ``ntile(k)``; fully relational, no driver materialization, and
identical in Spark and DuckDB (the reference's np.random.shuffle order
is not reproducible cross-engine, the *invariants* are what we keep).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..functions import ERA_EVENTS_SQL, era_events, md5i_sql, phash, phash_sql
from ..registry import query
from ..session import local_frame
from ..sources import load_table


def kfold_era(
    df: DataFrame, era_col: str, k: int, seed: int = 42, eras: list | None = None
) -> DataFrame:
    """C1: add a ``fold`` column (0..k-1) constant within each era.

    Invariants (utils.py:23-48): each era in exactly one fold; folds
    near-equal in era count; deterministic under retries (seeded hash
    ordering, not F.rand — SURVEY.md §4 determinism rule).

    The era→fold map is bounded METADATA (time buckets — thousands at
    most however large the corpus), so it is computed driver-side:
    collect the distinct eras, order by the portable md5 hash (same
    bytes as functions.md5i / the DuckDB oracle), split ntile-style,
    broadcast-join the map back. No global window anywhere — the only
    distributed work is the distinct and the broadcast hash join.

    When the caller KNOWS the era domain by construction (e.g. the
    supervised frame's ``era = vec_id % 20``), pass ``eras=`` and even
    the distinct scan disappears — the fold map is pure driver-side
    metadata and the query plan is a single broadcast join. Eras
    absent from ``df`` are harmless (the inner join drops them).
    """
    import hashlib

    from pyspark.sql import types as T

    if eras is None:
        eras = [r[0] for r in df.select(era_col).distinct().collect()]

    def h(e) -> int:
        return int(hashlib.md5(f"{seed}:{e}".encode()).hexdigest()[:8], 16)

    ordered = sorted(eras, key=lambda e: (h(e), e))
    n, base, rem = len(ordered), len(ordered) // k, len(ordered) % k
    rows, i = [], 0
    for fold in range(k):
        size = base + (1 if fold < rem else 0)
        rows += [(e, fold) for e in ordered[i : i + size]]
        i += size
    schema = T.StructType(
        [df.schema[era_col], T.StructField("fold", T.IntegerType(), False)]
    )
    folds = local_frame(df.sparkSession, rows, schema)
    return df.join(F.broadcast(folds), era_col)


def _fold_sql(k: int, seed: int = 42) -> str:
    h = md5i_sql(f"'{seed}:' || CAST(era AS VARCHAR)")
    return f"""
        WITH eras AS (SELECT DISTINCT {ERA_EVENTS_SQL} AS era FROM events),
        folds AS (
            SELECT era,
                   CAST(ntile({k}) OVER (ORDER BY {h}, era) - 1 AS INTEGER) AS fold
            FROM eras
        )
    """


@query(
    "c1_kfold_era_assignment",
    oracle=_fold_sql(5) + "SELECT era, fold FROM folds",
    doc="C1 kfold_era fold map: distinct eras → seeded-shuffle ntile(k) "
        "(utils.py:23-33).",
    tags=("cv",),
)
def c1_kfold_era_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(era_events().alias("era"))
    return kfold_era(ev, "era", k=5).select("era", "fold").distinct()


@query(
    "c1_kfold_era_counts",
    oracle=_fold_sql(5)
    + f"""
        SELECT f.fold, CAST(count(*) AS BIGINT) AS n_test
        FROM (SELECT {ERA_EVENTS_SQL} AS era FROM events) e
        JOIN folds f ON e.era = f.era
        GROUP BY f.fold
    """,
    doc="C1 row-level fold sizes: every row lands in exactly one test "
        "fold (utils.py:34-41 invariant).",
    tags=("cv",),
)
def c1_kfold_era_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(era_events().alias("era"))
    return kfold_era(ev, "era", k=5).groupBy("fold").agg(F.count("*").alias("n_test"))


@query(
    "c3_fraction_resource",
    oracle=f"""
        SELECT event_id, value FROM events
        WHERE {phash_sql('event_id', 100)} < 25
    """,
    doc="C3 data-fraction resource — Hyperband's resource knob "
        "(tuners.py:437-440 `x_train[:ceil(ratio*len/100)]`). The "
        "reference's positional head slice is an in-memory-array "
        "artifact; the distributed equivalent is a deterministic hash "
        "fraction (phash(event_id) % 100 < 25), the same selection the "
        "hyperband rungs use (tuning.py). Pure scan+filter: no global "
        "window, no shuffle, no single-partition sort — the plan is "
        "identical at any corpus size.",
    tags=("cv", "sample"),
)
def c3_fraction_resource(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(phash("event_id", 100) < 25).select("event_id", "value")


# ------------------------------------------------------------- C2: LHS

def lhs_param_table(spark: SparkSession, grid: dict[str, list], num_samples: int, seed: int = 42) -> DataFrame:
    """C2 Latin-hypercube-style sampler over a discrete hyperparameter
    grid (utils.py:89-129, which wraps lhsmdu over sklearn
    ParameterGrid). Driver-side pure Python producing a small params
    DataFrame — cluster work starts when the table is joined to folds.

    Determinism: a portable multiplicative-hash stream (no numpy RNG)
    picks one cell per stratified axis slice, one slice per sample —
    each parameter axis is covered evenly, the LHS property.
    """
    names = sorted(grid)
    rows = []
    for i in range(num_samples):
        row = {}
        for j, name in enumerate(names):
            levels = grid[name]
            n = len(levels)
            # stratify: sample i draws from slice (i mod n), jittered by
            # a seeded hash so different axes decorrelate
            h = ((i * 2654435761 + (j + 1) * 40503 + seed) % 1000003)
            idx = (i + h) % n
            row[name] = levels[idx]
        row["param_id"] = i
        rows.append(row)
    cols = ["param_id", *names]
    data = [tuple(r[c] for c in cols) for r in rows]
    return local_frame(spark, data, cols)


_DEFAULT_GRID = {
    "n_estimators": [100, 250, 500, 1000],
    "max_depth": [3, 5, 8, 13],
    "min_samples_leaf": [1, 5, 10],
}


@query(
    "c2_lhs_param_table",
    # r15 rows-only→oracle conversion: the sampler is PURE INTEGER
    # arithmetic (multiplicative-hash stream over the sorted-axis
    # grid), so DuckDB reproduces it exactly — the literals mirror
    # lhs_param_table's h = (i*2654435761 + (j+1)*40503 + seed) with
    # seed 42 and j indexing sorted(_DEFAULT_GRID) = [max_depth,
    # min_samples_leaf, n_estimators]
    oracle="""
        SELECT CAST(i AS BIGINT) AS param_id,
               CAST(([3,5,8,13])[CAST((i + (i*2654435761 + 1*40503 + 42) % 1000003) % 4 AS INTEGER) + 1] AS BIGINT) AS max_depth,
               CAST(([1,5,10])[CAST((i + (i*2654435761 + 2*40503 + 42) % 1000003) % 3 AS INTEGER) + 1] AS BIGINT) AS min_samples_leaf,
               CAST(([100,250,500,1000])[CAST((i + (i*2654435761 + 3*40503 + 42) % 1000003) % 4 AS INTEGER) + 1] AS BIGINT) AS n_estimators
        FROM range(12) t(i)
    """,
    doc="C2 LHS_RandomizedSearch param table (utils.py:89-129).",
    tags=("cv", "tuning"),
)
def c2_lhs_param_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    return lhs_param_table(spark, _DEFAULT_GRID, num_samples=12)


def cross_folds(params: DataFrame, k: int) -> DataFrame:
    """J3 zip-join replacement: explicit (param_id × fold_id) task table
    (tuners.py:88-94 pairs futures positionally; we use keys)."""
    spark = params.sparkSession
    folds = local_frame(spark, [(i,) for i in range(k)], "fold int")
    return params.crossJoin(folds)
