"""Invocation scope: the scratch dirs, caches, conf and stats of a run.

Several catalog entries are REAL jobs by design (streaming landing
dirs, checkpoints, the compaction rewrite's store pair): they create
scratch directories, cache frames, register temp views and set
session conf, and the frames they return stay lazy over some of
them, so none of it can be released inside the query builder.  It is
released when the run that built the frame ends, the way each ETL
pass of the reference is one job whose settings and scratch space end
with it.

A scope is one record on a module-level stack.  It holds the dirs
made by ``tracked_mkdtemp``, the zero-arg cleanups given to
``register_cleanup`` (``pin``'s unpersist, ``apply_conf``'s restore,
memory-sink view drops), and a ``stats`` dict that operators write
their wall splits and progress summaries into.  ``scope()`` pushes a
record and releases it on exit, error included; ``plans.catalog.run``
is the per-query form.  The bottom record is the process scope:
whatever is made outside any run lands there and is released by
``gc_now()`` (tests call it between invocations to prove net-zero
/tmp growth) and by the ``atexit`` hook.

The stack is module-global, not thread-local: backfill's pool threads
and foreachBatch callbacks run on other threads and must record into
the caller's scope.  Scopes nest; they are not meant to run
concurrently.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial


@dataclass
class Scope:
    name: str
    dirs: list[str] = field(default_factory=list)
    cleanups: list = field(default_factory=list)
    stats: dict = field(default_factory=dict)
    #: the run's DataFrame (set by ``plans.catalog.run``)
    frame: object = None

    def release(self) -> int:
        """Run every cleanup (newest first), then remove every dir;
        returns how many DIRS were removed (callers assert on dir
        counts)."""
        while self.cleanups:
            fn = self.cleanups.pop()
            try:
                fn()
            except Exception:  # noqa: BLE001 — release is best effort
                pass
        n = 0
        while self.dirs:
            shutil.rmtree(self.dirs.pop(), ignore_errors=True)
            n += 1
        return n


_STACK: list[Scope] = [Scope("process")]


def current() -> Scope:
    """The innermost open scope (the process scope outside any run)."""
    return _STACK[-1]


@contextmanager
def scope(name: str):
    """Push a scope for the block; release it when the block exits."""
    rec = Scope(name)
    _STACK.append(rec)
    try:
        yield rec
    finally:
        _STACK.remove(rec)
        rec.release()


def tracked_mkdtemp(prefix: str) -> str:
    """``tempfile.mkdtemp`` whose dir is removed with the current scope."""
    d = tempfile.mkdtemp(prefix=prefix)
    current().dirs.append(d)
    return d


def register_cleanup(fn) -> None:
    """Run a zero-arg cleanup when the current scope is released (e.g.
    a DataFrame's ``unpersist`` — Spark's CacheManager entries are
    plan-keyed and never GC'd, so an unreleased persist accumulates
    across invocations exactly like an untracked tempdir)."""
    current().cleanups.append(fn)


def registered() -> list[str]:
    """Dirs of the current scope not yet removed (a copy)."""
    return list(current().dirs)


def add_split(key: str, sec: float) -> None:
    """Add ``sec`` to the current scope's ``stats["split"][key]``: the
    per-phase wall split an operator records, summed across its calls
    (backfill blocks, micro-batches) so the run says where its time
    went."""
    split = current().stats.setdefault("split", {})
    split[key] = round(split.get(key, 0) + sec, 3)


def apply_conf(spark, conf: dict[str, str]) -> None:
    """Set each session conf in ``conf`` until the current scope is
    released.  A key that was unset before is unset again, not written
    back as its default."""
    for key, value in conf.items():
        register_cleanup(partial(_restore_conf, spark, key,
                                 spark.conf.get(key, None)))
        spark.conf.set(key, value)


def _restore_conf(spark, key: str, prev: str | None) -> None:
    if prev is None:
        spark.conf.unset(key)
    else:
        spark.conf.set(key, prev)


def pin(frame, level=None):
    """Invocation-scoped DataFrame persist: nonce + scope cleanup.

    Spark's CacheManager matches persisted plans STRUCTURALLY, so a
    deterministic plan persisted by one invocation is silently read
    by the next invocation's identical plan — an untimed warm-up run
    then pre-warms every timed run (the r16 bench-contamination
    defect).  The per-invocation uuid literal makes each invocation's
    persisted plan unique: reuse stays WITHIN one invocation (all
    downstream consumers share one materialization) and every fresh
    invocation computes cold from the inputs.  The nonce column is a
    constant, so the columnar cache RLE-compresses it to one
    dictionary entry — no per-row storage cost.  Released with the
    current scope, exactly like a tracked tempdir.  The column is
    named from the nonce too, so no user column can share its name."""
    import uuid

    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    nonce = uuid.uuid4().hex
    col = f"_pin_{nonce}"
    pinned = frame.withColumn(col, F.lit(nonce)).persist(
        level if level is not None else StorageLevel.MEMORY_AND_DISK
    )
    register_cleanup(pinned.unpersist)
    return pinned.drop(col)


def gc_now() -> int:
    """Release the process scope now: everything made outside any
    run.  Returns how many dirs were removed."""
    return _STACK[0].release()


atexit.register(gc_now)
