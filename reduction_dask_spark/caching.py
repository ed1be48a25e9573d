"""Scoped cache pinning — bounded lifecycle for operator persist()s.

Several operators MUST materialize an intermediate exactly once and
have every consumer branch read that one materialization:

- global_prefix_agg (global_rank through it) pins the pid-stamped range exchange
  (the pid-consistency contract — see operators/relational.py);
- the dedup/graph family pins the shingle index and its exact-dup-
  representative slice, which feed both candidate generation and the
  verify/expand stages.

Those relations feed the LAZY result DataFrame the operator returns,
so the operator itself cannot unpersist them (a cache-miss recompute
after unpersist would re-sample range boundaries and break the
pid contract, or re-run the shingle explode per branch). The cache is
therefore CALLER-owned, with this module as the one lifecycle seam:

- operators register long-lived persists through :func:`pin`;
- batch runners (tools/sweep.py, tools/compare.py, bench.py) already
  clearCache() between queries, which drops pinned SQL caches too;
- in-session API users call :func:`release_pinned` after materializing
  a query's result to return executor storage to baseline without
  touching unrelated caches or localCheckpoint storage (which must
  never be unpersisted — checkpoint lineage is truncated and cannot
  recompute).

Iterative operators whose intermediates are fully materialized before
return (min_label_components' edge relation) unpersist directly at
exit instead and never appear here.
"""

from __future__ import annotations

import os
import sys
import threading

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []
_BARRIERED: list[DataFrame] = []
_LOCK = threading.Lock()

# barrier() routing, read PER CALL so tools can flip it without a
# re-import:
#   local    (default) eager localCheckpoint — fastest, but blocks are
#            executor-local and do not survive executor loss;
#   reliable eager checkpoint() to SPARK_GRAFT_CHECKPOINT_DIR (default
#            /tmp/rds_checkpoints) — the 100 TB fault-tolerant mode: a
#            lost executor recomputes from the checkpoint files instead
#            of failing the job. Same call-site contract (eager
#            materialization + lineage truncation), higher write cost.
#   noop     return df unchanged — NO materialization and NO lineage
#            truncation. Used by tools/plan_audit.py so the physical-
#            plan red-flag scan sees the FULL plan upstream of every
#            barrier hub (the r11 ADVICE item: a LogicalRDD leaf hid
#            the funnel interiors) and so "building" plans never
#            executes them.
_BARRIER_ENV = "SPARK_GRAFT_BARRIER"
# the thread-local property Spark names a job's call site from
_CALL_SITE = "callSite.short"


def barrier_mode() -> str:
    mode = os.environ.get(_BARRIER_ENV, "local")
    if mode not in ("local", "reliable", "noop"):
        raise ValueError(f"{_BARRIER_ENV} must be local|reliable|noop, got {mode!r}")
    return mode


def pin(df: DataFrame) -> DataFrame:
    """persist() a DataFrame and register it for release_pinned()."""
    df.persist()
    with _LOCK:
        _PINNED.append(df)
    return df


def barrier(df: DataFrame) -> DataFrame:
    """Eager ``localCheckpoint``: materialize ``df`` NOW and return a
    DataFrame whose logical plan is a leaf over the stored blocks.

    Use this instead of :func:`pin` at the reuse hubs of DEEP
    compositions (the curation funnels). pin() dedupes *execution*
    but leaves the full lineage in every downstream plan, and the
    cost of that is driver-side: Spark re-analyzes the whole tree on
    every DataFrame op and canonicalizes it against the cache
    registry, so a funnel composition spends seconds in plan
    construction before a single task runs — the r11 profile of
    pipe3 measured 6-9 s of build + a 10 s no-stage-running gap at
    the head of a ~20 s query, FLAT across sf because plan size
    doesn't scale with data. Truncating lineage at the hub collapsed
    pipe3 to ~7 s at sf0.1 (build 0.6 s). A second effect: pinned-
    but-not-yet-materialized caches RACE under AQE's concurrent
    stage execution (both branches miss and both compute the
    subtree); an eager barrier cannot race.

    Tradeoffs, deliberately accepted and bounded:
    - storage is executor-local. :func:`release_pinned` DOES free it
      (via the LogicalRDD handle) so barrier blocks cannot pile up
      across a multi-hundred-query sweep and evict later queries'
      caches — but unlike a pin, a RELEASED barrier cannot
      recompute: re-executing a result plan that references it
      fails. Batch runners release only after full materialization;
      in-session users who keep result DataFrames across
      release_pinned() must re-run the operator, same as the
      documented pin contract but fail-loud instead of
      silent-recompute. Barrier only narrow, bounded relations
      (id lists, flag relations, anchor indexes).
    - on a real cluster, localCheckpoint does not survive executor
      loss; a 100 TB job that needs fault tolerance flips every
      barrier site at once with ``SPARK_GRAFT_BARRIER=reliable``
      (checkpoint() files under SPARK_GRAFT_CHECKPOINT_DIR) — the
      call-site contract (eager materialization + lineage
      truncation) is identical, verified by
      tests/test_caching.py::test_barrier_reliable_mode_value_equality.
    """
    mode = barrier_mode()
    if mode == "noop":
        return df
    # Name the jobs after the caller: PySpark leaves localCheckpoint's
    # call site at "NativeMethodAccessorImpl.java:0", so every barrier
    # of a funnel would otherwise read alike in the status store.
    sc = df.sparkSession.sparkContext
    caller = sys._getframe(1)
    op = "checkpoint" if mode == "reliable" else "localCheckpoint"
    prev = sc.getLocalProperty(_CALL_SITE)
    sc.setLocalProperty(
        _CALL_SITE,
        f"{op} at {os.path.basename(caller.f_code.co_filename)}:{caller.f_lineno}",
    )
    try:
        if mode == "reliable":
            if sc._jsc.sc().getCheckpointDir().isEmpty():
                sc.setCheckpointDir(
                    os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR", "/tmp/rds_checkpoints")
                )
            df = df.checkpoint()
        else:
            df = df.localCheckpoint()
    finally:
        sc.setLocalProperty(_CALL_SITE, prev)
    with _LOCK:
        _BARRIERED.append(df)
    return df


def _barrier_rdd(df: DataFrame):
    """The checkpointed JVM RDD behind a barrier()ed DataFrame (its
    analyzed plan is a LogicalRDD leaf). Returns None if the plan
    shape is unexpected — caller skips, ContextCleaner reclaims."""
    try:
        return df._jdf.queryExecution().analyzed().rdd()
    except Exception:
        return None


def release_pinned() -> int:
    """Unpersist every pinned relation AND free every barrier()
    checkpoint block; returns how many were released. Results already
    materialized (collected/written) stay valid either way, but the
    two families differ on RE-EXECUTION after release: a PINNED
    result re-executed silently recomputes (cache miss), while a
    BARRIERED result re-executed FAILS LOUDLY — its lineage was
    truncated at the checkpoint, so the freed blocks cannot be
    recomputed. Batch runners (bench/compare/sweep) call this between
    queries and never re-execute released results; in-session callers
    holding a barriered result DataFrame across this call must re-run
    the operator (same contract as pins, fail-loud instead of
    silent-recompute). Keeps the registry (and the JVM logical plans
    it references) bounded across a multi-hundred-query sweep."""
    with _LOCK:
        drained = list(_PINNED)
        _PINNED.clear()
        barriered = list(_BARRIERED)
        _BARRIERED.clear()
    for df in drained:
        df.unpersist()
    # ALSO free barrier() checkpoint blocks: at a query boundary the
    # query's result has been materialized, so the storage can go.
    # Contract difference vs pins, documented in barrier(): a pinned
    # result re-executed after release silently recomputes; a
    # barriered result re-executed after release FAILS (truncated
    # lineage cannot recompute) — batch runners (bench/compare/sweep)
    # never re-execute released results, and r11's bench showed why
    # freeing matters: six funnel queries' barrier blocks otherwise
    # accumulate and evict the NEXT query's caches (dd3's min-of-5
    # read 3.25 s in-bench vs 1.95 s fresh-session before this).
    for df in barriered:
        rdd = _barrier_rdd(df)
        if rdd is not None:
            try:
                rdd.unpersist(False)
            except Exception:
                pass  # session already stopped — nothing to free
            # reliable-mode barriers write checkpoint FILES that
            # unpersist does not touch; the ContextCleaner conf that
            # would reap them (cleanCheckpoints) is only set when the
            # SESSION was built in reliable mode, but barrier_mode()
            # is read per call — a mid-session flip to reliable would
            # otherwise leak files under SPARK_GRAFT_CHECKPOINT_DIR
            # for the rest of a multi-hundred-query sweep (r12 ADVICE
            # item). Delete the file directory directly; local
            # checkpoints have no file (getCheckpointFile is empty)
            # and skip this branch.
            try:
                opt = rdd.getCheckpointFile()
                if opt is not None and opt.isDefined():
                    jvm = df.sparkSession._jvm
                    hpath = jvm.org.apache.hadoop.fs.Path(opt.get())
                    fs = hpath.getFileSystem(
                        df.sparkSession.sparkContext._jsc.hadoopConfiguration()
                    )
                    fs.delete(hpath, True)
            except Exception as exc:  # noqa: BLE001 - best-effort cleanup
                # Best-effort: cleaner conf still covers built-reliable
                # sessions, but a silent swallow on a LIVE session hides
                # a file leak (r13 ADVICE). Warn once per failure unless
                # the session is already stopped (teardown races there
                # are expected and harmless).
                try:
                    stopped = df.sparkSession.sparkContext._jsc is None
                except Exception:  # noqa: BLE001
                    stopped = True
                if not stopped:
                    import warnings

                    warnings.warn(
                        f"reliable-checkpoint file cleanup failed ({exc!r}); "
                        "files may linger under SPARK_GRAFT_CHECKPOINT_DIR",
                        RuntimeWarning,
                        stacklevel=2,
                    )
    return len(drained) + len(barriered)

