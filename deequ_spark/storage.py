"""Executor storage: one owner for every cached or checkpointed frame.

Every materialization in this package goes through a ``scope()``::

    with storage.scope() as s:
        table = s.persist(df)          # owned; an already cached df is not
        ck = s.checkpoint(plan)        # localCheckpoint, owned
        s.release(table)               # superseded: free it now
        return s.keep(ck)              # outlives the block

A scope owns the frames its ``persist`` and ``checkpoint`` create and
frees them on exit, whether the block succeeded or raised. ``keep``
hands an owned frame to the enclosing scope, which frees it when it
exits, or — with none open — to the caller, who releases it with
``release_checkpoint``. ``nested`` tells whether a kept frame has such
an owner; the analysis runner keeps saved frequency tables cached
exactly then. The open scopes form a stack in a ``ContextVar``; pool
threads do not inherit it, so the runner submits each task under
``contextvars.copy_context()`` and the task's scopes nest in the
caller's.

A checkpoint's rows are RDD blocks of the ``LogicalRDD`` at its plan
root, not CacheManager entries: ``unpersist()`` cannot free them and
they otherwise wait for the ContextCleaner. ``release_checkpoint``
reaches the RDD and frees them now (tests/test_r13_storage.py).
"""

from __future__ import annotations

from contextvars import ContextVar
from typing import Dict, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.storagelevel import StorageLevel


def checkpoint_materialized(df: DataFrame) -> bool:
    """True iff ``df`` is a localCheckpoint-ed frame whose RDD has
    actually MATERIALIZED (a job ran over it and the lineage was
    truncated). A lazy (eager=False) checkpoint that no action has
    touched yet returns False — releasing its PREDECESSOR then would
    destroy the only copy of the data its first materialization still
    needs. Best effort: unknown shapes report False (never released
    early)."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            return bool(plan.rdd().isCheckpointed())
    except Exception:  # noqa: BLE001 — best effort only
        pass
    return False


def release_checkpoint(df: DataFrame) -> None:
    """Free a superseded DataFrame's storage NOW, best effort: a
    ``localCheckpoint``-ed frame (plan root is a ``LogicalRDD``) through
    the underlying RDD's blocks, any other frame through ``unpersist()``
    (which also drops a ``persist()``-ed frame's CacheManager entry).
    Nothing may read the frame again. A JVM-shape mismatch degrades to
    ``unpersist()``, never an error."""
    released = False
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            released = True
    except Exception:  # noqa: BLE001 — best effort only
        pass
    if not released:
        try:
            df.unpersist()
        except Exception:  # noqa: BLE001 — best effort only
            pass


_CURRENT: ContextVar[Optional["Scope"]] = ContextVar(
    "deequ_spark_storage_scope", default=None)


class Scope:
    """The frames one ``with scope()`` block owns (see the module doc)."""

    def __init__(self):
        self._parent: Optional[Scope] = None
        # id(frame) -> (frame, persisted)
        self._owned: Dict[int, Tuple[DataFrame, bool]] = {}

    @property
    def nested(self) -> bool:
        return self._parent is not None

    def persist(self, df: DataFrame,
                level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER
                ) -> DataFrame:
        current = df.storageLevel
        if current.useMemory or current.useDisk:
            return df
        df = df.persist(level)
        self._owned[id(df)] = (df, True)
        return df

    def checkpoint(self, df: DataFrame, eager: bool = True) -> DataFrame:
        df = df.localCheckpoint(eager=eager)
        self._owned[id(df)] = (df, False)
        return df

    def release(self, df: DataFrame) -> None:
        _, persisted = self._owned.pop(id(df), (df, False))
        _free(df, persisted)

    def keep(self, df: DataFrame) -> DataFrame:
        entry = self._owned.pop(id(df), None)
        if entry is not None and self._parent is not None:
            self._parent._owned[id(df)] = entry
        return df

    def __enter__(self) -> "Scope":
        self._parent = _CURRENT.get()
        self._token = _CURRENT.set(self)
        return self

    def __exit__(self, *exc) -> None:
        _CURRENT.reset(self._token)
        for df, persisted in reversed(list(self._owned.values())):
            _free(df, persisted)
        self._owned = {}


scope = Scope


def _free(df: DataFrame, persisted: bool) -> None:
    if not persisted:
        release_checkpoint(df)
        return
    # unpersist(), not release_checkpoint: a cached checkpoint (e.g. a
    # streaming state's) shares the checkpoint's LogicalRDD root, whose
    # blocks must survive the cache
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001 — best effort only
        pass
