"""Staging and the availableNow runner for the streaming catalog entries.

Every streaming entry is one bounded Structured Streaming run: stage a
source directory, start the query under the availableNow trigger,
await termination, read what the sink holds.  This module owns all of
it, so an entry states only its operator and its sink:

- staging: ``land_parts`` (one parquet file per part, arrival order
  written as mtimes), ``stage_stream_source`` (the events/documents
  file under the ``BES_STREAM_ARRIVAL`` disorder knob),
  ``write_heartbeats``, ``events_stream`` and ``landed_stream`` (one
  landed file per micro-batch);
- the runner: ``drain`` (trigger, state-partition pin, start, await,
  progress summary) and its two sinks, ``to_memory`` and
  ``to_batch_dirs``.

Under ``maxFilesPerTrigger=1`` each landed file becomes one real
micro-batch, which is what makes the streaming == batch oracles
meaningful multi-batch runs instead of single-shot reads.
"""

from __future__ import annotations

import os
import shutil
import uuid
from functools import partial

from pyspark.sql import DataFrame

from bugzilla_etl_spark.sources.tables import normalize_events_ts
from bugzilla_etl_spark.streaming.progress import snapshot
from bugzilla_etl_spark.tmpdirs import (
    apply_conf,
    current,
    register_cleanup,
    tracked_mkdtemp,
)


def land_parts(landing: str, parts: list[tuple[str, DataFrame]]) -> None:
    """Write each (name, frame) as exactly one parquet file named
    ``<name>.parquet`` inside ``landing``, with STRICTLY INCREASING
    mtimes in list order.  Spark's file source dispatches new files
    by modification time (path is only a tiebreak), and two parts
    written back-to-back can land inside one mtime granule — the
    arrival order the caller encoded in names then silently inverts
    (observed: one ORDER_SWEEP_r14 flake where a watermark
    heartbeat overtook the last real part).  The explicit utime
    makes arrival order a written fact, not a write-speed accident;
    callers control micro-batch ARRIVAL ORDER by list position, and
    event-time-ordered parts keep watermark advancement consistent
    with arrival, the contract a watermarked stream assumes of its
    ingest."""
    base = _mtime_base(landing)

    def _write(name_part: tuple[str, DataFrame]) -> str:
        name, part = name_part
        tmp = os.path.join(landing, f"_stage_{name}")
        # repartition(1), NOT coalesce(1): several callers land
        # DRIVER-CREATED frames (the watermark-heartbeat sentinels),
        # and coalesce(1) over a parallelized local collection folds
        # all 32 default slices into ONE task that performs 32
        # sequential Python-worker round-trips — measured ~5-6 s per
        # landing for a 1-ROW frame (vs ~0.5 s via the shuffle).
        # For JVM-backed parts the shuffle costs about the same as
        # the single-task read, so repartition is safe for both.
        part.repartition(1).write.mode("overwrite").parquet(tmp)
        return tmp

    # The part WRITES are independent Spark jobs — overlap them from a
    # small thread pool (guide §2.6) so the second part's tasks
    # back-fill executors freed by the first part's tail.  ARRIVAL
    # ORDER is unaffected: the staged files only become visible to the
    # file source through the rename below, which runs serially in
    # list order, and the explicit utime (not write completion time)
    # is what encodes arrival order.
    if len(parts) > 1:
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=min(3, len(parts))) as pool:
            tmps = list(pool.map(_write, parts))
    else:
        tmps = [_write(p) for p in parts]
    for i, ((name, _part), tmp) in enumerate(zip(parts, tmps)):
        src = next(
            f for f in os.listdir(tmp) if f.endswith(".parquet")
        )
        dst = os.path.join(landing, f"{name}.parquet")
        os.rename(os.path.join(tmp, src), dst)
        t = base + 2 * (i + 1)
        os.utime(dst, (t, t))
        shutil.rmtree(tmp)


def _mtime_base(srcdir: str) -> float:
    """Base epoch for a dir's explicit arrival-order mtimes: 2 s past
    the newest file already inside (so appended files always arrive
    after existing ones), else the current time.

    Known drift (accepted): because each call bases off the previous
    call's stamps, repeated landings on one dir push mtimes
    monotonically AHEAD of wall-clock by ~2 s per file.  The 2 s
    spacing is deliberate — sub-second stamps would reintroduce the
    second-granule tie this module exists to kill on filesystems
    that truncate mtimes — and the drift only matters if a source
    dir were long-lived enough for FileStreamSource's ``maxFileAge``
    (default 7 days) bookkeeping to interact with future stamps.
    Harness landings are hundreds of files at most (~minutes of
    drift); a production long-lived ingest should land files with
    real arrival times and rely on event-time watermarks instead."""
    import time

    newest = 0.0
    for f in os.listdir(srcdir):
        p = os.path.join(srcdir, f)
        if os.path.isfile(p):
            newest = max(newest, os.path.getmtime(p))
    return max(newest + 2.0, time.time())


def _stamp_arrival_order(srcdir: str, names: list[str]) -> None:
    """Assign strictly increasing mtimes (2 s apart) to ``names`` in
    list order — the written form of 'these files arrive in this
    order' for Spark's mtime-dispatched file source."""
    base = _mtime_base(srcdir)
    for i, name in enumerate(names):
        t = base + 2 * (i + 1)
        p = os.path.join(srcdir, name)
        os.utime(p, (t, t))


def read_store_or_empty(spark, path: str, schema: str):
    """Read a foreachBatch-produced parquet store, or return an
    empty frame with the declared schema when the store was never
    created — the no-new-data incremental run: every batch was
    empty, every write was skipped, and the directory simply does
    not exist.  Callers declare the exact schema the stream's
    writer produces so empty-input runs stay schema-stable."""
    if not os.path.exists(path):
        return spark.createDataFrame([], schema=schema)
    return spark.read.parquet(path)


# ---------------------------------------------------------------------
# Arrival-order hostility (``tools/gate.py order``)
#
# Production ingest is never event-time-ordered across partitions: a
# Kafka topic's partitions drain at different rates, a landing bucket
# lists uploads in arrival order, a backfill races the live feed.  The
# BES_STREAM_ARRIVAL env knob lets the order sweep re-run every
# file-source streaming entry over a BOUNDED-DISORDER landing — same
# rows, arrival order scrambled within the 2h watermark contract — so
# the sweep can separate operators whose state is genuinely
# order-insensitive (commutative merges, rebuild-from-archive) from
# those that assume in-order-per-entity delivery (the documented
# contract of _pv_state/_sessionize_state, whose *_ooo forms retire
# the assumption).  Unset (the driver's path), staging is a plain
# symlink and behavior is byte-identical to before the knob existed.

ARRIVAL_ENV = "BES_STREAM_ARRIVAL"


def arrival_mode() -> tuple[int, int] | None:
    """Parse BES_STREAM_ARRIVAL: ``delay[:n_files[:margin_s]]`` ->
    (n_files, margin_s); unset/empty -> None.  margin_s is the
    event-time width of the delayed tail and MUST stay under every
    consumer's watermark delay (2h) minus the in-flight slack — the
    sweep's point is bounded disorder the watermark contract admits,
    not data loss."""
    raw = os.environ.get(ARRIVAL_ENV, "").strip()
    if not raw:
        return None
    parts = raw.split(":")
    assert parts[0] == "delay", f"unknown {ARRIVAL_ENV} mode {raw!r}"
    n_files = int(parts[1]) if len(parts) > 1 else 6
    margin_s = int(parts[2]) if len(parts) > 2 else 5400
    return n_files, margin_s


def stage_stream_source(
    path: str, srcdir: str, copies: int = 1, ts_col: str | None = "ts",
    id_col: str = "event_id",
) -> None:
    """Stage one parquet file (or Spark-written dir) into ``srcdir``
    for a file-source stream.  Default: symlink (one micro-batch per
    copy under availableNow — the historical behavior).  Under
    BES_STREAM_ARRIVAL=delay, rewrite into ``n_files`` time-sliced
    part files where half of each slice's trailing ``margin_s``
    seconds (by id parity) lands one file LATE — arrival interleaves
    old-after-new, but every row stays above the watermark when it
    arrives (margin < delay), so a correct operator must produce the
    identical result.  With ``copies=2`` the duplicate copy of each
    part lands one whole micro-batch later (a delayed replay, zero
    event-time lateness).  Files are written in arrival order and
    named in arrival order, so both mtime- and name-ordered source
    listings agree."""
    mode = arrival_mode()
    if mode is None:
        if copies == 1:
            os.symlink(path, os.path.join(srcdir, "events.parquet"))
        else:
            for c in range(copies):
                os.symlink(
                    path,
                    os.path.join(
                        srcdir, f"events_{'abcdef'[c]}.parquet"
                    ),
                )
        return
    n_files, margin_s = mode
    import numpy as np
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    table = ds.dataset(path, format="parquet").to_table()
    if table.num_rows == 0:
        # empty source (the all-empty sweep): land one empty part so
        # the stream still sees a file and stays schema-stable
        pq.write_table(table, os.path.join(srcdir, "part_0000_a.parquet"))
        return
    ids = table.column(id_col).to_numpy().astype(np.int64)
    if ts_col is None:
        # no event-time semantics (e.g. the documents stream): shard
        # by id into n_files — arbitrary arrival order, which an
        # un-watermarked commutative consumer must tolerate outright
        pos = ids % np.int64(n_files)
        written = []
        for p in range(n_files):
            part = table.filter(pos == p)
            for c in range(copies):
                name = f"part_{p:04d}_{'abcdef'[c]}.parquet"
                pq.write_table(part, os.path.join(srcdir, name))
                written.append(name)
        _stamp_arrival_order(srcdir, written)
        return
    ts = table.column(ts_col).to_numpy()
    # timestamp[ns] -> epoch seconds; integer division, never float
    tsl = ts.astype("datetime64[ns]").astype(np.int64) // 1_000_000_000
    # file boundaries at ts quantiles so every part carries rows
    qs = np.quantile(tsl, np.linspace(0, 1, n_files + 1)[1:-1])
    base = np.searchsorted(qs, tsl, side="right")  # natural file
    upper = np.concatenate([qs, [np.int64(tsl.max()) + 1]])
    in_margin = (upper[base] - tsl) <= margin_s
    delayed = in_margin & (ids % 2 == 1)
    pos = np.where(delayed & (base < n_files - 1), base + 1, base)
    written = []
    for p in range(n_files):
        part = table.filter(pos == p)
        for c in range(copies):
            # copy c of part p arrives c micro-batches later
            name = f"part_{p:04d}_{'abcdef'[c]}.parquet"
            pq.write_table(part, os.path.join(srcdir, name))
            written.append(name)
    # explicit strictly-increasing mtimes in write order: the file
    # source dispatches by mtime, and back-to-back writes can share
    # an mtime granule, silently inverting arrival (the
    # ORDER_SWEEP_r14 stream_previous_values_ooo flake)
    _stamp_arrival_order(srcdir, written)


def write_heartbeats(path: str, srcdir: str, user_col: str = "user_id",
                     ts_col: str = "ts") -> None:
    """Append ONE far-future heartbeat part file (two sentinel rows,
    ``user_col`` = -1) after the staged source files — the
    punctuation pattern of stream_attribution's sentinels: it pushes
    the watermark past every real row, and the engine's trailing
    NO-DATA micro-batch (noDataMicroBatches, on by default — run by
    availableNow whenever the watermark advanced) fires the
    event-time timeouts that flush buffered state.  Until r16 the
    two rows shipped as two FILES, buying the timeout a dedicated
    data batch — measured redundant (the no-data batch fires them
    identically: same 10 000 rows, one fewer micro-batch at
    maxFilesPerTrigger=1 — the r15 verdict's heartbeat-drain
    residual).  Arrival AFTER every staged part is made explicit
    with ``_stamp_arrival_order`` (mtimes strictly past the newest
    existing file — name order alone is only a tiebreak for the
    mtime-dispatched file source).  Consumers filter
    ``user_col >= 0``."""
    import datetime
    import pyarrow as pa
    import pyarrow.dataset as ds_
    import pyarrow.parquet as pq

    dataset = ds_.dataset(path, format="parquet")
    schema = dataset.schema
    tbl = dataset.to_table(columns=[ts_col])
    if tbl.num_rows == 0:
        # nothing to flush on an all-empty source; no heartbeat needed
        return
    mx = tbl.column(ts_col).to_numpy().max()
    mx = pa.array([mx]).cast(pa.timestamp("us"))[0].as_py()
    parts = []
    for i, days in enumerate((30, 31), start=1):
        far = mx + datetime.timedelta(days=days)
        cols = []
        for field in schema:
            if field.name == ts_col:
                cols.append(pa.array([far], type=field.type))
            elif field.name == user_col:
                cols.append(pa.array([-1], type=field.type))
            elif field.name == "event_id":
                cols.append(pa.array([-i], type=field.type))
            else:
                cols.append(pa.array([None], type=field.type))
        parts.append(pa.table(cols, schema=schema))
    pq.write_table(
        pa.concat_tables(parts),
        os.path.join(srcdir, "zz_hb1.parquet"),
    )
    _stamp_arrival_order(srcdir, ["zz_hb1.parquet"])


# ---------------------------------------------------------------------
# The availableNow runner


def events_stream(
    spark, sf_dir: str, copies: int = 1, heartbeats: bool = False
) -> DataFrame:
    """File-source stream over ``{sf_dir}/events.parquet``, staged into
    a tracked dir by ``stage_stream_source`` (``copies`` > 1 lands
    replays) with ``ts`` normalized the way ``load_table`` does it.
    The file source requires a DIRECTORY and the tables are single
    files; in production this is the landing dir the extractor drops
    incremental batches into.
    ``heartbeats`` appends ``write_heartbeats``' far-future part.  The
    stream reads one file per trigger when heartbeats are landed (the
    tail must arrive after every real part) or the arrival knob is on
    (each scrambled part is one real micro-batch), and everything in
    one batch otherwise."""
    # the confs load_table pins (nanos-as-long for the raw schema, UTC
    # for the ntz -> instant cast), released with the current scope
    apply_conf(
        spark,
        {
            "spark.sql.session.timeZone": "UTC",
            "spark.sql.legacy.parquet.nanosAsLong": "true",
        },
    )
    path = f"{sf_dir}/events.parquet"
    srcdir = tracked_mkdtemp(prefix="bes_evs_")
    stage_stream_source(path, srcdir, copies=copies)
    if heartbeats:
        write_heartbeats(path, srcdir)
    schema = spark.read.parquet(path).schema
    if heartbeats or arrival_mode() is not None:
        src = landed_stream(spark, srcdir, schema)
    else:
        src = spark.readStream.schema(schema).parquet(srcdir)
    return normalize_events_ts(src)


def landed_stream(spark, landing: str, schema) -> DataFrame:
    """File-source stream over ``landing`` that reads one file per
    trigger, so each landed part is one micro-batch."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
    )


def drain(spark, writer, state_partitions: int | None = None):
    """Run ``writer``, a stream of ``spark``, to completion under the
    availableNow trigger and return the terminated query.  Its
    ``progress.snapshot`` becomes the current run's
    ``stats["progress"]``.

    ``state_partitions`` sets ``spark.sql.shuffle.partitions`` on
    ``spark`` from start to termination and restores it after, error
    included.  For a stateful stream that conf is the state-store
    count, fixed when the checkpoint is created, and every store loads
    and commits a delta file every micro-batch whether or not it holds
    rows; callers size it to the state rather than to the session
    default.

    Session-scope constraint: the pin is SESSION-GLOBAL conf while the
    stream runs, so a query running concurrently on the same
    SparkSession would silently inherit it.  Fine for one query at a
    time; concurrent use needs a cloned session (``spark.newSession()``)
    so the pin scopes to the stream."""
    writer = writer.trigger(availableNow=True)
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    if state_partitions is not None:
        spark.conf.set(key, str(state_partitions))
    try:
        q = writer.start()
        q.awaitTermination()
    finally:
        spark.conf.set(key, prev)
    current().stats["progress"] = snapshot(q)
    return q


def to_memory(
    frame: DataFrame,
    mode: str,
    view_prefix: str,
    state_partitions: int | None = None,
) -> DataFrame:
    """Drain ``frame`` into a memory sink in output ``mode`` and return
    the sink's table.  The view (``<view_prefix><8 hex>``) and the
    checkpoint are released with the current run, error included."""
    spark = frame.sparkSession
    name = f"{view_prefix}{uuid.uuid4().hex[:8]}"
    register_cleanup(partial(spark.catalog.dropTempView, name))
    drain(
        spark,
        frame.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", tracked_mkdtemp(prefix="bes_memck_")),
        state_partitions,
    )
    return spark.table(name)


def to_batch_dirs(
    spark, landing: str, in_schema, fn, out_schema: str
) -> DataFrame:
    """Drain ``landed_stream(spark, landing, in_schema)`` through
    foreachBatch: each non-empty micro-batch's ``fn(batch)`` overwrites
    ``{out}/batch=<id>`` in a tracked dir, so a checkpoint replay lands
    the same batch in the same dir and is idempotent.  Returns the
    store's ``out_schema`` columns, or an empty ``out_schema`` frame
    when no batch wrote."""
    out = tracked_mkdtemp(prefix="bes_bd_")
    os.rmdir(out)  # absent until a batch writes: read_store_or_empty

    def handle(batch: DataFrame, batch_id: int) -> None:
        if batch.isEmpty():
            return
        fn(batch).write.mode("overwrite").parquet(f"{out}/batch={batch_id}")

    drain(
        spark,
        landed_stream(spark, landing, in_schema)
        .writeStream.foreachBatch(handle)
        .option("checkpointLocation", tracked_mkdtemp(prefix="bes_bdck_")),
    )
    cols = [c.split()[0] for c in out_schema.split(",")]
    return read_store_or_empty(spark, out, out_schema).select(*cols)
