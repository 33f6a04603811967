"""Landing-dir helper for the file-source streaming queries.

One copy of the write-one-file-per-part staging dance (repartition ->
temp dir -> rename into the landing dir) that stream_neardup_ingest,
stream_decontam, and stream_attribution each need: under
``maxFilesPerTrigger=1`` each landed file becomes one real
micro-batch, which is what makes their streaming == batch oracles
meaningful multi-batch runs instead of single-shot reads.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame


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
    import os

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
    import os

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
    import os

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


def stream_reader(spark, schema, srcdir: str):
    """readStream for a staged source dir: one file per trigger when
    the arrival knob is active (each scrambled part = one REAL
    micro-batch), plain single-batch read otherwise."""
    reader = spark.readStream.schema(schema)
    if arrival_mode() is not None:
        reader = reader.option("maxFilesPerTrigger", 1)
    return reader.parquet(srcdir)


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
    import os

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
