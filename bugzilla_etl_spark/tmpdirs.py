"""Session-scoped tempdir registry for lifecycle/streaming queries.

Several catalog entries are REAL jobs by design (streaming landing
dirs, checkpoints, the compaction rewrite's store pair): they must
create scratch directories, and the frames they return stay lazy
over some of them, so the dirs cannot be deleted inside the query
builder.  Before this registry every gate/bench run leaked full
parquet copies of the test tables into /tmp (round-7 advice).

``tracked_mkdtemp`` is a drop-in for ``tempfile.mkdtemp`` that
records the dir for cleanup; ``gc_now`` removes everything created
so far (tests call it between invocations to prove net-zero /tmp
growth), and an ``atexit`` hook makes every normal process exit —
pytest, bench.py, the driver gate — clean up after itself.  Scratch
space on a real cluster is the same contract: job-scoped dirs
removed at application end, never accreted across runs.
"""

from __future__ import annotations

import atexit
import shutil
import tempfile

_CREATED: list[str] = []
_CLEANUPS: list = []


def tracked_mkdtemp(prefix: str) -> str:
    d = tempfile.mkdtemp(prefix=prefix)
    _CREATED.append(d)
    return d


def register_cleanup(fn) -> None:
    """Register an arbitrary zero-arg cleanup (e.g. a DataFrame's
    ``unpersist`` for a knob-requested cache — Spark's CacheManager
    entries are plan-keyed and never GC'd, so an unreleased persist
    accumulates across invocations exactly like an untracked
    tempdir).  Runs at the next ``gc_now`` / process exit."""
    _CLEANUPS.append(fn)


def registered() -> list[str]:
    """Dirs created and not yet collected (a copy)."""
    return list(_CREATED)


def pin(frame, level=None):
    """Invocation-scoped DataFrame persist: nonce + cleanup registry.

    Spark's CacheManager matches persisted plans STRUCTURALLY, so a
    deterministic plan persisted by one invocation is silently read
    by the next invocation's identical plan — an untimed warm-up run
    then pre-warms every timed run (the r16 bench-contamination
    defect).  The per-invocation uuid literal makes each invocation's
    persisted plan unique: reuse stays WITHIN one invocation (all
    downstream consumers share one materialization) and every fresh
    invocation computes cold from the inputs.  The nonce column is a
    constant, so the columnar cache RLE-compresses it to one
    dictionary entry — no per-row storage cost.  Released via the
    cleanup registry at the next ``gc_now``/process exit, exactly
    like a tracked tempdir.  The column is named from the nonce too,
    so no user column can share its name."""
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


def scoped_conf(spark, key: str, value: str) -> None:
    """Set a session conf for the CURRENT INVOCATION and register its
    restoration with the cleanup registry (runs at the next
    ``gc_now``/process exit — i.e. after the bench's timed runs of
    this query, before the next query).

    Exists for the AQE small-partition knob: a handful of queries are
    dominated by BOUNDED intermediate frames (vocab-, label-,
    dim-grain) whose shuffles default to core-count partitions —
    per-round task waves then scale with cores instead of data (the
    r16 anti-scaler diagnosis).  ``parallelismFirst=false`` lets AQE
    size those partitions from bytes, which is the 100 TB-correct
    rule for bounded frames; it stays a PER-QUERY scope because
    compute-dense small-byte shuffles (the inverted-index pair
    counts) genuinely want core-count parallelism at bench scale
    (measured +33% when flipped globally)."""
    try:
        prev = spark.conf.get(key)
    except Exception:  # noqa: BLE001 — unset key
        prev = None

    def _restore() -> None:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)

    spark.conf.set(key, value)
    register_cleanup(_restore)


#: The AQE knob scoped_conf exists for (see its docstring).
PARALLELISM_FIRST = "spark.sql.adaptive.coalescePartitions.parallelismFirst"


def size_partitions_from_data(spark) -> None:
    """Scope ``parallelismFirst=false`` to the current invocation:
    bounded-frame queries call this first so AQE coalesces their
    tiny shuffles to data-sized partitions instead of core-count
    task waves."""
    scoped_conf(spark, PARALLELISM_FIRST, "false")


def gc_now() -> int:
    """Remove every registered dir and run every registered cleanup
    now; returns how many DIRS were removed (cleanups uncounted —
    callers assert on dir counts)."""
    while _CLEANUPS:
        fn = _CLEANUPS.pop()
        try:
            fn()
        except Exception:  # noqa: BLE001 — exit-path best effort
            pass
    n = 0
    while _CREATED:
        shutil.rmtree(_CREATED.pop(), ignore_errors=True)
        n += 1
    return n


atexit.register(gc_now)
