"""Structured-Streaming snapshot maintenance.

The reference's incremental loop (bz_etl.py:172 incremental_etl)
polls for changes since last_run_time and re-emits affected bug
versions; ES overwrite-by-id makes it idempotent.  Streaming-first,
that loop IS a Structured Streaming query:

  file/kafka source -> event-time watermark -> stateful
  latest-per-entity -> foreachBatch upsert into the document store.

Two implementations:

* ``stream_current_state`` — applyInPandasWithState: explicit
  per-entity state (latest ts/value), the template for arbitrary
  custom stateful operators (the reference's running bug-state
  object, kept in store-backed state instead of driver memory).
* ``stream_upsert_foreachbatch`` — declarative micro-batch variant:
  per-batch latest + parquet-dir merge, the deploy-simple path.

Scale: state is per-entity-small (one row), partitioned by the same
key as the batch pipelines; watermark bounds state growth for
entities that go quiet.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

STATE_SCHEMA = StructType(
    [
        StructField("last_ts", TimestampType()),
        StructField("last_event_id", LongType()),
        StructField("last_event_type", StringType()),
        StructField("last_value", DoubleType()),
    ]
)

OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("last_ts", TimestampType()),
        StructField("last_event_id", LongType()),
        StructField("last_event_type", StringType()),
        StructField("last_value", DoubleType()),
    ]
)


def _update_state(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Keep the latest event per entity ((ts, event_id) max-merge of
    prior state and this micro-batch).  Vectorized: per Arrow batch,
    one column-wise max over ts and one idxmax over event_id within
    the max-ts rows — no Python row loop."""
    if state.exists:
        ts, eid, etype, val = state.get
    else:
        ts, eid, etype, val = None, None, None, None
    for pdf in pdfs:
        if not len(pdf):
            continue
        top_ts = pdf["ts"].max()
        at_top = pdf[pdf["ts"] == top_ts]
        row = at_top.loc[at_top["event_id"].idxmax()]
        if ts is None or (row["ts"], row["event_id"]) > (ts, eid):
            ts, eid = row["ts"], int(row["event_id"])
            etype, val = row["event_type"], float(row["value"])
    state.update((ts, eid, etype, val))
    yield pd.DataFrame(
        {
            "user_id": [key[0]],
            "last_ts": [ts],
            "last_event_id": [eid],
            "last_event_type": [etype],
            "last_value": [val],
        }
    )


def stream_current_state(events_stream: DataFrame) -> DataFrame:
    """Stateful latest-per-entity over an event stream."""
    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            _update_state,
            outputStructType=OUTPUT_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def stream_dedup_events(events_stream: DataFrame) -> DataFrame:
    """Exactly-once ingestion: drop replayed/duplicate events by id
    within the watermark horizon.  The reference gets idempotency from
    ES overwrite-by-_id at the sink; Spark-native pipelines dedup
    BEFORE downstream aggregations so replays never double-count.

    ``dropDuplicatesWithinWatermark`` — NOT ``dropDuplicates``: with
    plain dropDuplicates the watermark only evicts state when the
    event-time column is part of the key subset, so keying on
    event_id alone would grow seen-id state forever.  The
    within-watermark variant expires each id once it is older than
    the watermark delay, keeping state bounded at
    (arrival rate x 2h) regardless of stream lifetime."""
    return events_stream.withWatermark(
        "ts", "2 hours"
    ).dropDuplicatesWithinWatermark(["event_id"])


def stream_time_rollup(events_stream: DataFrame) -> DataFrame:
    """Watermarked hourly rollup — the continuous-aggregate form of
    the batch ``time_rollup`` query.  The 2h watermark bounds state:
    hour buckets older than the watermark are finalized and evicted,
    which is what keeps a forever-running aggregation's memory flat.
    """
    return (
        events_stream.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("hour"), "event_type",
            "n_events", "sum_value",
        )
    )


def restore_orphaned_buckets(state_dir: str) -> None:
    """Crash-recovery sweep for the bucketed-swap sink.

    The swap in ``stream_upsert_foreachbatch`` is two renames:
    ``bucket=N -> .old_<batch>_<N>`` then ``.swap/bucket=N ->
    bucket=N``.  A crash between them leaves the bucket dir absent
    and its contents stranded in the dot-prefixed retired dir, which
    Spark's path filter (and the merge's ``os.path.isdir`` probe)
    would never see — every entity in that bucket not present in the
    replayed batch would silently drop from state.  This sweep runs
    at the top of every batch (and may be called at startup): any
    ``.old_*`` dir whose bucket is missing is renamed back; any whose
    bucket exists is a completed swap's leftover and is removed.
    ``.del_*`` dirs (a bucket intentionally emptied by swap_buckets
    whose rmtree died) are re-removed, never restored — renaming one
    back would resurrect documents a delete-style rebuild removed.
    Stale ``.swap_*`` staging dirs from crashed batches are also
    garbage-collected — they are dot-invisible to readers but would
    otherwise leak disk forever (the replaying batch rewrites its
    staging dir from scratch with mode=overwrite, so removal is
    always safe)."""
    import os
    import re
    import shutil

    if not os.path.isdir(state_dir):
        return
    for name in os.listdir(state_dir):
        m = re.fullmatch(r"\.old_\d+_(\d+)", name)
        if m:
            retired = f"{state_dir}/{name}"
            dst = f"{state_dir}/bucket={m.group(1)}"
            if os.path.isdir(dst):
                shutil.rmtree(retired, ignore_errors=True)
            else:
                os.rename(retired, dst)
        elif re.fullmatch(r"\.swap_\d+", name) or re.fullmatch(
            r"\.del_\d+_\d+", name
        ):
            shutil.rmtree(f"{state_dir}/{name}", ignore_errors=True)


def swap_buckets(
    state_dir: str, tmp: str, touched: list, batch_id: int
) -> None:
    """Rename each touched ``bucket=N`` dir from ``tmp`` into
    ``state_dir``: retire old -> ``.old_<batch>_<N>``, rename new in,
    remove retired.  Crash anywhere leaves each bucket old-or-new
    (never partial); a crash between the two renames is healed by
    ``restore_orphaned_buckets`` at the top of the next batch.

    A touched bucket with NO ``bucket=N`` dir under ``tmp`` means the
    writer emitted zero rows for it — its new state is EMPTY, so the
    old dir is retired and removed rather than skipped (skipping
    would leave stale docs in place for delete-style build_fns).
    The empty-state retirement uses the ``.del_`` prefix, NOT
    ``.old_``: a ``.old_`` orphan means "bucket content stranded
    mid-swap, restore it", but restoring an intentionally-emptied
    bucket would permanently resurrect the deleted docs if the
    post-retire rmtree fails (NFS EBUSY, permissions) — a ``.del_``
    orphan is instead re-removed by the recovery sweep.  Crash-safe
    either way: if the process dies after the retire rename, the
    checkpoint replays the batch, which recomputes the same empty
    bucket against the already-empty state."""
    import os
    import shutil

    for b in touched:
        src, dst = f"{tmp}/bucket={b}", f"{state_dir}/bucket={b}"
        retired = f"{state_dir}/.old_{batch_id}_{b}"
        if not os.path.isdir(src):
            if os.path.isdir(dst):
                deleted = f"{state_dir}/.del_{batch_id}_{b}"
                os.rename(dst, deleted)
                shutil.rmtree(deleted, ignore_errors=True)
            continue
        if os.path.isdir(dst):
            os.rename(dst, retired)
        os.rename(src, dst)
        shutil.rmtree(retired, ignore_errors=True)
    shutil.rmtree(tmp, ignore_errors=True)


def stream_upsert_foreachbatch(
    events_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 16,
):
    """Micro-batch upsert into entity-bucketed parquet state —
    partition-pruned, never a full-state rewrite.

    State layout: ``state_dir/bucket=N/`` where
    ``bucket = pmod(hash(entity), n_buckets)``.  Each batch:

      1. bucket the batch rows; collect the (<= n_buckets) touched
         bucket ids — a tiny driver-side list, not data collect;
      2. read ONLY the touched bucket directories (partition pruning
         by path: untouched state is never read);
      3. merge + latest-per-entity within those buckets;
      4. write to a dot-prefixed temp dir (invisible to concurrent
         readers — Spark's path filter skips dot/underscore paths),
         then swap each touched bucket dir into place by rename.

    A crash mid-swap leaves every bucket individually consistent:
    the swap retires the old dir to ``.old_<batch>_<bucket>`` before
    renaming the new one in, and every batch begins by RESTORING any
    orphaned ``.old_*`` dir whose bucket is missing (crash landed
    between the two renames).  The streaming checkpoint then replays
    the interrupted batch, which converges because the merge is
    idempotent — so state is always old-or-new, never partial and
    never silently dropped.  At lakehouse scale the same shape is
    MERGE INTO on a table partitioned/bucketed by entity — only
    matching file groups rewrite.  Untouched bucket files are
    byte-identical across batches (asserted in tests)."""

    def upsert(batch: DataFrame, batch_id: int) -> None:
        import os

        from pyspark.sql import Window

        restore_orphaned_buckets(state_dir)
        spark = batch.sparkSession
        batch = batch.withColumn(
            "bucket", F.pmod(F.hash("user_id"), F.lit(n_buckets))
        )
        touched = sorted(
            r.bucket for r in batch.select("bucket").distinct().collect()
        )
        if not touched:
            return
        existing = [
            b for b in touched if os.path.isdir(f"{state_dir}/bucket={b}")
        ]
        prev = (
            spark.read.option("basePath", state_dir).parquet(
                *[f"{state_dir}/bucket={b}" for b in existing]
            )
            if existing
            else None
        )
        merged = batch if prev is None else batch.unionByName(prev)
        w = Window.partitionBy("user_id").orderBy(
            F.col("ts").desc(), F.col("event_id").desc()
        )
        latest = (
            merged.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        tmp = f"{state_dir}/.swap_{batch_id}"
        latest.write.mode("overwrite").partitionBy("bucket").parquet(tmp)
        swap_buckets(state_dir, tmp, touched, batch_id)

    return (
        events_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
        .trigger(availableNow=True)
    )


SESSION_STATE_SCHEMA = StructType(
    [
        StructField("n_closed", LongType()),
        StructField("open_start", LongType()),
        StructField("open_end", LongType()),
        StructField("open_n", LongType()),
    ]
)

SESSION_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_id", LongType()),
        StructField("n_events", LongType()),
        StructField("session_start", LongType()),
        StructField("session_end", LongType()),
    ]
)

SESSION_GAP_S = 1800


def _sessionize_state(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Gap-based session windows as explicit state: per entity, the
    state is (sessions closed so far, the one open session); each
    micro-batch merges its events (vectorized gap/cumsum over the
    sorted batch — loops only over the handful of SESSIONS, never
    rows) and re-emits every session it touched.  Update-mode
    semantics: an open session is re-emitted with a grown extent
    under its STABLE ordinal until a later event closes it, so the
    sink's latest row per (entity, session_id) is always the final
    extent.  State is one tuple per entity — bounded by entity
    cardinality like stream_current_state, not by stream length."""
    import numpy as np

    frames = [pdf[["tsl", "event_id"]] for pdf in pdfs if len(pdf)]
    if not frames:
        return
    df = pd.concat(frames).sort_values(["tsl", "event_id"])
    tsl = df["tsl"].to_numpy(dtype=np.int64)

    if state.exists:
        n_closed, o_start, o_end, o_n = state.get
    else:
        n_closed, o_start, o_end, o_n = 0, None, None, 0

    cont = o_end is not None and (tsl[0] - o_end) <= SESSION_GAP_S
    if o_end is not None and not cont:
        n_closed += 1  # idle open session closes with its last extent

    prev = np.empty_like(tsl)
    prev[0] = tsl[0]
    prev[1:] = tsl[:-1]
    sid = np.cumsum((tsl - prev) > SESSION_GAP_S)
    counts = np.bincount(sid).astype(np.int64)
    starts = tsl[np.unique(sid, return_index=True)[1]]
    bounds = np.concatenate((np.nonzero(np.diff(sid))[0], [len(sid) - 1]))
    ends = tsl[bounds]
    if cont:
        counts[0] += o_n
        # min/max merges, not overwrites: a late-arriving batch whose
        # events predate the stored open-session extent must widen the
        # session, never regress it.  (Exact gap semantics under
        # arbitrary reordering would require re-splitting history; the
        # contract here is in-order-per-entity delivery with graceful
        # extent-merge degradation for stragglers inside the open
        # session's horizon.)
        starts[0] = min(int(o_start), int(starts[0]))
        ends[0] = max(int(o_end), int(ends[0]))

    ordinals = n_closed + 1 + np.arange(len(counts), dtype=np.int64)
    state.update(
        (int(n_closed + len(counts) - 1), int(starts[-1]), int(ends[-1]),
         int(counts[-1]))
    )
    yield pd.DataFrame(
        {
            "user_id": np.full(len(counts), key[0], dtype=np.int64),
            "session_id": ordinals,
            "n_events": counts,
            "session_start": starts,
            "session_end": ends,
        }
    )


def stream_sessionize(events_stream: DataFrame) -> DataFrame:
    """Stateful gap sessionization (30 min) — the custom-stateful-
    operator template for semantics Spark's built-in session window
    can't express (stable per-entity ordinals, update-mode re-emit
    of growing sessions).  Input needs columns user_id, tsl (epoch
    seconds), event_id."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _sessionize_state,
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


PV_FIELDS = ("click", "error", "purchase", "signup", "view")

# per field: (cur_value, prev_value, change_to, change_away); plus the
# entity creation ts.  Flattened into one tuple for GroupState.
PV_STATE_SCHEMA = StructType(
    [StructField("created_l", LongType())]
    + [
        StructField(f"{f}_{part}", t())
        for f in PV_FIELDS
        for part, t in (
            ("cur", DoubleType),
            ("pv", DoubleType),
            ("ct", LongType),
            ("ca", LongType),
        )
    ]
)

PV_OUTPUT_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("event_id", LongType()),
        StructField("version_tsl", LongType()),
    ]
    + [
        StructField(f"{f}_{part}", t())
        for f in PV_FIELDS
        for part, t in (
            ("prev_value", DoubleType),
            ("change_to_l", LongType),
            ("change_away_l", LongType),
            ("duration_days", LongType),
        )
    ]
)


def _pv_state(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Streaming ``previous_values``: per entity, the state carries
    each tracked field's (current value, previous-value record); each
    micro-batch replays its events through the setPrevious rules
    (change_to chains the prior change-away; creation ts seeds a
    field's first change; no-op values don't emit) and emits one
    OUTPUT ROW PER EVENT with the carried records — each event's row
    is final when emitted (it depends only on earlier events), so the
    sink's union over batches IS the batch operator's output.

    Vectorized per field: change detection is one shifted comparison,
    the change_to chain is one shift of the change-away array, and
    the per-event carry is a maximum.accumulate forward fill — loops
    only over the five FIELDS, never rows.  Contract: in-order
    delivery per entity (same as _sessionize_state)."""
    import numpy as np

    frames = [
        pdf[["event_id", "tsl", "event_type", "value"]]
        for pdf in pdfs
        if len(pdf)
    ]
    if not frames:
        return
    df = pd.concat(frames).sort_values(["tsl", "event_id"])

    if state.exists:
        st = list(state.get)
    else:
        st = [None] * (1 + 4 * len(PV_FIELDS))
        st[0] = int(df["tsl"].iloc[0])

    res, st = _pv_replay(key[0], st, df)
    state.update(tuple(st))
    yield res


def _pv_replay(uid, st, df):
    """The setPrevious replay core over one SORTED event frame:
    given the carried state tuple ``st`` (created_l +
    (cur, pv, ct, ca) per field; created_l already seeded), emit one
    output row per event and roll the state forward.  Shared by the
    in-order ``_pv_state`` (whole batch) and the watermark-buffered
    ``_pv_state_ooo`` (finalized prefix only) — ONE replay
    implementation, so the two delivery contracts can never drift."""
    import numpy as np

    n = len(df)
    tsl = df["tsl"].to_numpy(dtype=np.int64)
    etype = df["event_type"].to_numpy()
    vals = df["value"].to_numpy(dtype=np.float64)
    created = st[0]

    out = {
        "user_id": np.full(n, uid, dtype=np.int64),
        "event_id": df["event_id"].to_numpy(dtype=np.int64),
        "version_tsl": tsl,
    }
    for fi, f in enumerate(PV_FIELDS):
        base = 1 + 4 * fi
        cur, pv, ct, ca = st[base : base + 4]
        rows = np.nonzero(etype == f)[0]
        fv = vals[rows]
        # value before each in-batch event of f — the batch
        # operator's ignorenulls carry (snapshot.previous_values
        # pass 1): a null value emits a change record but never
        # becomes the carried prior, so the chain forward-fills over
        # NaNs from the stored cur
        prev_vals = np.empty(len(rows), dtype=np.float64)
        if len(rows):
            chain = np.concatenate(
                ([np.nan if cur is None else cur], fv[:-1])
            )
            prev_vals = pd.Series(chain).ffill().to_numpy(
                dtype=np.float64
            )
        vnan = np.isnan(fv)
        pnan = np.isnan(prev_vals)
        # null-safe inequality (the batch ~eqNullSafe): both-null is
        # no change; null vs value is a change either direction
        chg = (vnan != pnan) | (~vnan & ~pnan & (fv != prev_vals))
        cidx = rows[chg]  # batch row index of each REAL change
        c_away = tsl[cidx]
        # change_to chains the previous change's away ts
        c_to = np.empty(len(cidx), dtype=np.int64)
        if len(cidx):
            c_to[0] = ca if ca is not None else created
            c_to[1:] = c_away[:-1]
        c_prev = prev_vals[chg]

        # forward-fill the latest change onto every batch row
        mark = np.full(n, -1, dtype=np.int64)
        mark[cidx] = np.arange(len(cidx))
        filled = np.maximum.accumulate(
            np.where(mark >= 0, mark, -1)
            if len(cidx)
            else np.full(n, -1, dtype=np.int64)
        )
        has = filled >= 0
        f_pv = np.full(n, np.nan)
        f_ct = np.full(n, np.nan)
        f_ca = np.full(n, np.nan)
        if len(cidx):
            f_pv[has] = c_prev[filled[has]]
            f_ct[has] = c_to[filled[has]]
            f_ca[has] = c_away[filled[has]]
        # rows before any in-batch change carry the stored record
        if ca is not None:
            f_pv[~has] = np.nan if pv is None else pv
            f_ct[~has] = ct
            f_ca[~has] = ca
        dur = np.floor((f_ca - f_ct) / 86400.0)
        out[f"{f}_prev_value"] = f_pv
        out[f"{f}_change_to_l"] = f_ct
        out[f"{f}_change_away_l"] = f_ca
        out[f"{f}_duration_days"] = dur

        # roll state forward (cur = last NON-null value, the same
        # ignorenulls contract as the in-batch chain)
        if len(rows):
            nz = fv[~vnan]
            if len(nz):
                cur = float(nz[-1])
        if len(cidx):
            pv = None if np.isnan(c_prev[-1]) else float(c_prev[-1])
            ct, ca = int(c_to[-1]), int(c_away[-1])
        st[base : base + 4] = [cur, pv, ct, ca]

    res = pd.DataFrame(out)
    # Long columns ride as nullable floats until here; hand Arrow
    # proper nullable ints
    for c in res.columns:
        if c.endswith(("_l", "_days")) and res[c].dtype == np.float64:
            res[c] = res[c].astype("Int64")
    return res, st


def stream_previous_values(events_stream: DataFrame) -> DataFrame:
    """Stateful per-field previous-value tracking over an event
    stream — the streaming form of operators/snapshot.previous_values
    (reference setPrevious, parse_bug_history.py:783).  Input needs
    columns user_id, event_id, tsl (epoch seconds), event_type,
    value."""
    return events_stream.groupBy("user_id").applyInPandasWithState(
        _pv_state,
        outputStructType=PV_OUTPUT_SCHEMA,
        stateStructType=PV_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


# ---------------------------------------------------------------------
# Out-of-order-tolerant stateful forms: buffer within the watermark,
# finalize on watermark passage.
#
# _pv_state/_sessionize_state document an IN-ORDER-per-entity delivery
# contract — reasonable for a single ordered topic, false for real
# multi-partition ingest (``tools/gate.py order`` shows both diverging
# the moment bounded disorder appears).  The *_ooo forms retire the
# assumption the way a production watermarked pipeline does: each
# entity's state additionally carries a BUFFER of events newer than
# the watermark; on every invocation the buffer's watermark-passed
# prefix is finalized IN EVENT-TIME ORDER through the identical
# replay core, and an event-time timeout flushes the tail when the
# watermark passes it (the entry's two heartbeat sentinels bound the
# flush for availableNow runs — the punctuation pattern
# stream_attribution already uses).  State is bounded by
# (per-entity arrival rate x watermark delay), not stream length;
# emitted rows are FINAL, so the sink needs no dedup pass.

from pyspark.sql.types import ArrayType  # noqa: E402

PV_OOO_STATE_SCHEMA = StructType(
    list(PV_STATE_SCHEMA.fields)
    + [
        StructField("buf_eid", ArrayType(LongType())),
        StructField("buf_tsl", ArrayType(LongType())),
        StructField("buf_et", ArrayType(StringType())),
        StructField("buf_val", ArrayType(DoubleType())),
    ]
)

_N_CARRY = 1 + 4 * len(PV_FIELDS)


def _pv_state_ooo(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Watermark-buffered ``previous_values`` state: tolerates ANY
    within-watermark arrival disorder.  Finalize-then-replay: events
    strictly older than the current watermark can never be preceded
    by a future arrival (later rows are dropped by the watermark
    filter before reaching this function), so replaying exactly that
    prefix in (tsl, event_id) order reproduces the batch operator
    row for row."""
    import numpy as np

    wm_ms = state.getCurrentWatermarkMs()

    if state.exists:
        st = list(state.get)
        carry, buf = st[:_N_CARRY], st[_N_CARRY:]
        parts = [
            pd.DataFrame(
                {
                    "event_id": np.asarray(buf[0], dtype=np.int64),
                    "tsl": np.asarray(buf[1], dtype=np.int64),
                    "event_type": buf[2],
                    "value": np.asarray(buf[3], dtype=np.float64),
                }
            )
        ]
    else:
        carry = [None] * _N_CARRY
        parts = []
    for pdf in pdfs:
        if len(pdf):
            parts.append(
                pdf[["event_id", "tsl", "event_type", "value"]]
            )
    if not parts:
        return
    df = pd.concat(parts, ignore_index=True)

    if state.hasTimedOut:
        # watermark passed the timeout we set at max buffered tsl:
        # everything left is final
        final = df.sort_values(["tsl", "event_id"])
        rest = df.iloc[0:0]
    else:
        # finalize only FULLY-passed seconds: tsl is the
        # second-floored event time but the watermark (and Spark's
        # late-row filter) keep full ts precision, so when the
        # watermark lands mid-second an event in floored second X
        # with ts >= watermark can still legally arrive; finalizing
        # X at that point would replay out of (tsl, event_id) order
        # against such a late same-second sibling
        mask = (df["tsl"] + 1) * 1000 <= wm_ms
        final = df[mask].sort_values(["tsl", "event_id"])
        rest = df[~mask]

    if len(final):
        if carry[0] is None:
            # first finalized row IS the entity's first event:
            # finalization is watermark-ordered, so nothing earlier
            # can ever arrive
            carry[0] = int(final["tsl"].iloc[0])
        res, carry = _pv_replay(key[0], carry, final)
    else:
        res = None

    if len(rest):
        state.update(
            tuple(
                carry
                + [
                    rest["event_id"].astype("int64").tolist(),
                    rest["tsl"].astype("int64").tolist(),
                    rest["event_type"].tolist(),
                    rest["value"].astype("float64").tolist(),
                ]
            )
        )
        # flush when the watermark fully passes the newest buffered
        # event's SECOND ((tsl+1)*1000, not tsl*1000+1): tsl is
        # floored, so a mid-second timeout could flush second X
        # while an X-second sibling with ts >= watermark is still
        # legal — the same boundary the finalize mask guards
        state.setTimeoutTimestamp(
            max((int(rest["tsl"].max()) + 1) * 1000, wm_ms + 1)
        )
    else:
        # keep the carry (a quiet entity may speak again) but drop
        # the drained buffer; no pending timeout
        state.update(tuple(carry + [[], [], [], []]))
    if res is not None:
        yield res


def stream_previous_values_ooo(events_stream: DataFrame) -> DataFrame:
    """``stream_previous_values`` without the in-order-delivery
    assumption: input must carry an event-time ``ts`` TimestampType
    column; a 2h watermark bounds both lateness and buffer state.
    Emitted rows are final (append mode, no sink-side dedup).

    Heartbeat sentinels (user_id = -1) flow THROUGH the stateful
    operator as their own group and are filtered by the caller on
    the materialized result — filtering them here would push the
    predicate into the scan, below the watermark node, and the
    sentinel could never advance the watermark (the exact trap
    stream_attribution's sentinel comment documents)."""
    return (
        events_stream.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _pv_state_ooo,
            outputStructType=PV_OUTPUT_SCHEMA,
            stateStructType=PV_OOO_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


SESSION_OOO_STATE_SCHEMA = StructType(
    list(SESSION_STATE_SCHEMA.fields)
    + [
        StructField("buf_tsl", ArrayType(LongType())),
        StructField("buf_eid", ArrayType(LongType())),
    ]
)


def _sessionize_state_ooo(
    key: tuple,
    pdfs: Iterable[pd.DataFrame],
    state: GroupState,
):
    """Watermark-buffered gap sessionization: tolerates ANY
    within-watermark arrival disorder and emits each session EXACTLY
    ONCE, closed and final (append mode — no update-mode re-emit, no
    sink-side latest-per-session pass).

    Finalize-then-sessionize: events strictly older than the
    watermark are complete and in final event-time order (finalized
    sets are watermark-monotone, so the carried open session always
    precedes every newly finalized event); a session is CLOSED the
    moment the watermark passes its end by more than the gap — no
    future arrival can extend it, because any such arrival's ts
    exceeds the watermark and hence opens a gap.  The event-time
    timeout (set past the newest buffered event and past the open
    session's gap horizon) closes the tail when the stream drains."""
    import numpy as np

    wm_ms = state.getCurrentWatermarkMs()
    wm_s = wm_ms // 1000

    if state.exists:
        st = state.get
        n_closed, o_start, o_end, o_n = st[0], st[1], st[2], st[3]
        buf_tsl = list(st[4]) if st[4] is not None else []
        buf_eid = list(st[5]) if st[5] is not None else []
    else:
        n_closed, o_start, o_end, o_n = 0, None, None, 0
        buf_tsl, buf_eid = [], []

    for pdf in pdfs:
        if len(pdf):
            buf_tsl.extend(pdf["tsl"].astype("int64").tolist())
            buf_eid.extend(pdf["event_id"].astype("int64").tolist())

    tsl = np.asarray(buf_tsl, dtype=np.int64)
    eid = np.asarray(buf_eid, dtype=np.int64)
    # fully-passed seconds only — tsl is second-floored while the
    # watermark keeps full ts precision (same boundary as
    # _pv_state_ooo; here the output is tie-insensitive but the
    # masks should agree).  The SAME mask applies on a timeout
    # invocation: a timeout only certifies the watermark passed the
    # armed timestamp, and every close decision below re-derives
    # from the CURRENT watermark — the pre-r16 all-ones timeout mask
    # was equivalent when the arm point covered all buffered rows,
    # and wrong in no case this one isn't.
    fmask = (tsl + 1) * 1000 <= wm_ms
    order = np.lexsort((eid[fmask], tsl[fmask]))
    ftsl = tsl[fmask][order]
    rest_tsl, rest_eid = tsl[~fmask], eid[~fmask]

    closed = []  # (ordinal, n, start, end)
    if len(ftsl):
        cont = o_end is not None and (ftsl[0] - o_end) <= SESSION_GAP_S
        if o_end is not None and not cont:
            n_closed += 1
            closed.append((n_closed, o_n, o_start, o_end))
            o_start = o_end = None
            o_n = 0
        prev = np.empty_like(ftsl)
        prev[0] = ftsl[0]
        prev[1:] = ftsl[:-1]
        sid = np.cumsum((ftsl - prev) > SESSION_GAP_S)
        counts = np.bincount(sid).astype(np.int64)
        starts = ftsl[np.unique(sid, return_index=True)[1]]
        bounds = np.concatenate(
            (np.nonzero(np.diff(sid))[0], [len(sid) - 1])
        )
        ends = ftsl[bounds]
        if cont:
            counts[0] += o_n
            starts[0] = min(int(o_start), int(starts[0]))
            ends[0] = max(int(o_end), int(ends[0]))
        # all but the last finalized session close now; the last
        # becomes (or stays) the open session
        for i in range(len(counts) - 1):
            n_closed += 1
            closed.append(
                (n_closed, int(counts[i]), int(starts[i]), int(ends[i]))
            )
        o_start, o_end, o_n = (
            int(starts[-1]),
            int(ends[-1]),
            int(counts[-1]),
        )

    # Close the open session ONLY when the CURRENT watermark has
    # passed its gap horizon (and no buffered future row could still
    # extend it).  A fired timeout is NOT that certificate: the
    # timeout arms at the buffered-rows horizon so the key wakes to
    # FINALIZE them, and mid-stream the watermark at that moment can
    # sit far short of o_end + gap — the pre-r16 unconditional
    # hasTimedOut close split such sessions in two (caught by the
    # r16 hypothesis run: an idle key, a small watermark advance, a
    # timeout firing, then an in-gap event arriving).  When the
    # session survives a timeout, the re-arm below (no longer gated
    # on hasTimedOut) books the next wake-up at its gap horizon; the
    # end-of-stream heartbeat watermark passes every horizon, so the
    # tail still drains.
    flush_open = (
        o_end is not None
        and len(rest_tsl) == 0
        and o_end + SESSION_GAP_S < wm_s
    )
    if flush_open:
        n_closed += 1
        closed.append((n_closed, o_n, o_start, o_end))
        o_start = o_end = None
        o_n = 0

    state.update(
        (
            int(n_closed),
            o_start,
            o_end,
            int(o_n),
            rest_tsl.tolist(),
            rest_eid.tolist(),
        )
    )
    if len(rest_tsl) or o_end is not None:
        horizon = 0
        if len(rest_tsl):
            horizon = int(rest_tsl.max())
        if o_end is not None:
            horizon = max(horizon, int(o_end) + SESSION_GAP_S)
        # (horizon+1)*1000: the horizon is in floored seconds, so
        # the timeout must wait out the horizon second's full span
        # before a flush is safe (mirrors the finalize mask)
        state.setTimeoutTimestamp(max((horizon + 1) * 1000, wm_ms + 1))

    if closed:
        yield pd.DataFrame(
            {
                "user_id": np.full(len(closed), key[0], dtype=np.int64),
                "session_id": np.array(
                    [c[0] for c in closed], dtype=np.int64
                ),
                "n_events": np.array(
                    [c[1] for c in closed], dtype=np.int64
                ),
                "session_start": np.array(
                    [c[2] for c in closed], dtype=np.int64
                ),
                "session_end": np.array(
                    [c[3] for c in closed], dtype=np.int64
                ),
            }
        )


def stream_sessionize_ooo(events_stream: DataFrame) -> DataFrame:
    """``stream_sessionize`` without the in-order-delivery
    assumption: input needs user_id, event_id, tsl AND an event-time
    ``ts`` TimestampType column; the 2h watermark bounds lateness
    and buffer state.  Sessions emit exactly once, final, in append
    mode.  Heartbeat sentinels (user_id = -1) must ride through to
    the sink — see stream_previous_values_ooo on why filtering them
    in-stream would break watermark advancement."""
    return (
        events_stream.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_state_ooo,
            outputStructType=SESSION_OUTPUT_SCHEMA,
            stateStructType=SESSION_OOO_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
