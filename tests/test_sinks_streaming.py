"""Sink, streaming, and diff-chain tests — the reference-parity pieces
outside the SQL-oracle gate (file formats, stateful streams, text
patching).  Mirrors the reference's test strategy: golden output
shapes + incremental-vs-full equivalence (tests/test_etl.py in the
reference compares incremental ES docs against a full rebuild)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from bugzilla_etl_spark.operators.diffs import apply_diff_chain, apply_unified_diff
from bugzilla_etl_spark.operators.snapshot import dedup_latest
from bugzilla_etl_spark.sinks import es as es_sink
from bugzilla_etl_spark.sources import load_table


def test_es_bulk_lines_shape(spark, sf_dir, tmp_path):
    ev = load_table(spark, sf_dir, "events").limit(100)
    out = str(tmp_path / "bulk")
    es_sink.write_bulk(
        ev, out, entity="user_id", ts="ts", payload=["event_type", "value"]
    )
    import glob

    files = glob.glob(out + "/part-*")
    assert files
    lines = []
    for f in files:
        with open(f) as fh:
            lines.extend(ln for ln in fh.read().splitlines() if ln)
    assert lines and len(lines) % 2 == 0
    # alternating action/doc pairs — a valid _bulk request body
    for action, doc in zip(lines[0::2], lines[1::2]):
        a = json.loads(action)
        assert "_id" in a["index"] and "_" in a["index"]["_id"]
        d = json.loads(doc)
        assert "event_type" in d


def test_es_doc_id_overwrite_idempotent(spark, sf_dir, tmp_path):
    """Same input twice -> identical doc set (retry safety)."""
    ev = load_table(spark, sf_dir, "events").limit(200)
    p1, p2 = str(tmp_path / "d1"), str(tmp_path / "d2")
    for p in (p1, p2):
        es_sink.write_docs_parquet(
            ev, p, entity="user_id", ts="ts", payload=["event_type"]
        )
    a = sorted((r._id, r.doc) for r in spark.read.parquet(p1).collect())
    b = sorted((r._id, r.doc) for r in spark.read.parquet(p2).collect())
    assert a == b


def test_apply_unified_diff_basics():
    base = "line1\nline2\nline3"
    diff = "@@ -2,1 +2,1 @@\n-line2\n+LINE2"
    assert apply_unified_diff(base, diff) == "line1\nLINE2\nline3"
    add = "@@ -4,0 +4,1 @@\n+line4"
    assert apply_unified_diff(base, add) == "line1\nline2\nline3\nline4"
    assert apply_unified_diff("", "@@ -1,1 +1,1 @@\n-\n+x") == "x"


def test_apply_diff_chain_distributed(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, "v1\nstory", None),
        (1, t0 + dt.timedelta(days=1), None, "@@ -1,1 +1,1 @@\n-v1\n+v2"),
        (1, t0 + dt.timedelta(days=2), None, "@@ -1,1 +1,1 @@\n-v2\n+v3"),
        (2, t0, "other", None),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, base string, diff string"
    )
    out = {
        (r.user_id, r.ts): r.value_text
        for r in apply_diff_chain(df).collect()
    }
    assert out[(1, t0)] == "v1\nstory"
    assert out[(1, t0 + dt.timedelta(days=1))] == "v2\nstory"
    assert out[(1, t0 + dt.timedelta(days=2))] == "v3\nstory"
    assert out[(2, t0)] == "other"


def _write_event_slices(spark, sf_dir, out_dir, n_slices=3):
    """Split sf0.001 events into time-ordered parquet slices (the
    'arriving files' of a streaming source)."""
    ev = load_table(spark, sf_dir, "events")
    bounds = ev.approxQuantile(
        "event_id", [i / n_slices for i in range(1, n_slices)], 0.0
    )
    lo = None
    for i, hi in enumerate(list(bounds) + [None]):
        sl = ev
        if lo is not None:
            sl = sl.where(F.col("event_id") > lo)
        if hi is not None:
            sl = sl.where(F.col("event_id") <= hi)
        sl.coalesce(1).write.mode("overwrite").parquet(f"{out_dir}/slice={i}")
        lo = hi
    return ev.schema


def test_stream_incremental_equals_full(spark, sf_dir, tmp_path):
    """Incremental (micro-batch upsert) == full batch rebuild — the
    reference's core ETL invariant (incremental_etl vs full_etl must
    converge to the same ES state)."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_upsert_foreachbatch,
    )

    src = str(tmp_path / "src")
    schema = _write_event_slices(spark, sf_dir, src)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = stream_upsert_foreachbatch(
        stream, str(tmp_path / "state"), str(tmp_path / "ckpt")
    ).start()
    q.awaitTermination(120)

    got = {
        r.user_id: (r.ts, r.event_id)
        for r in spark.read.parquet(str(tmp_path / "state")).collect()
    }
    want = {
        r.user_id: (r.ts, r.event_id)
        for r in dedup_latest(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


def test_stream_upsert_prunes_untouched_buckets(spark, tmp_path):
    """A micro-batch touching one entity must leave every bucket
    partition it didn't touch byte-identical on disk — the
    partition-pruned MERGE shape, not a full-state rewrite."""
    import datetime as dt
    import glob
    import hashlib
    import os

    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_upsert_foreachbatch,
    )

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    )
    t0 = dt.datetime(2024, 1, 1)
    wide = [
        (i, t0, i, "signup", float(i)) for i in range(64)
    ]  # many buckets
    spark.createDataFrame(wide, schema).coalesce(1).write.parquet(
        f"{src}/slice=0"
    )

    def run(ckpt):
        stream = (
            spark.readStream.schema(
                spark.read.parquet(f"{src}/slice=0").schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_upsert_foreachbatch(
            stream, state, str(tmp_path / ckpt)
        ).start()
        q.awaitTermination(120)

    run("ckpt1")

    def digest():
        out = {}
        for f in glob.glob(f"{state}/bucket=*/*.parquet"):
            with open(f, "rb") as fh:
                out[os.path.relpath(f, state)] = hashlib.md5(
                    fh.read()
                ).hexdigest()
        return out

    before = digest()
    assert len({p.split("/")[0] for p in before}) > 4  # spread over buckets

    # second batch: ONE entity updated
    spark.createDataFrame(
        [(1000, t0 + dt.timedelta(days=1), 7, "purchase", 1.0)], schema
    ).coalesce(1).write.parquet(f"{src}/slice=1")
    run("ckpt1")

    after = digest()
    from pyspark.sql import functions as F

    # compute the touched bucket the same way the operator does
    tb = (
        spark.createDataFrame([(7,)], "user_id long")
        .select(F.pmod(F.hash("user_id"), F.lit(16)).alias("b"))
        .collect()[0]
        .b
    )
    untouched_before = {
        p: h for p, h in before.items() if not p.startswith(f"bucket={tb}/")
    }
    untouched_after = {
        p: h for p, h in after.items() if not p.startswith(f"bucket={tb}/")
    }
    assert untouched_before == untouched_after
    # and the touched bucket did change
    assert any(
        before.get(p) != after.get(p)
        for p in set(before) | set(after)
        if p.startswith(f"bucket={tb}/")
    )
    # merged state is correct: entity 7 now has the new event
    got = {
        r.user_id: r.event_id
        for r in spark.read.parquet(state).collect()
    }
    assert got[7] == 1000 and got[0] == 0 and len(got) == 64


def test_stream_upsert_recovers_from_crash_between_renames(
    spark, tmp_path
):
    """Kill-between-the-two-renames simulation: a bucket retired to
    ``.old_*`` but never replaced must be restored by the next batch,
    not silently dropped from state."""
    import datetime as dt
    import os
    import shutil

    from pyspark.sql import functions as F

    from bugzilla_etl_spark.streaming.snapshot_stream import (
        restore_orphaned_buckets,
        stream_upsert_foreachbatch,
    )

    src, state = str(tmp_path / "src"), str(tmp_path / "state")
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double"
    )
    t0 = dt.datetime(2024, 1, 1)
    spark.createDataFrame(
        [(i, t0, i, "signup", float(i)) for i in range(64)], schema
    ).coalesce(1).write.parquet(f"{src}/slice=0")

    def run(ckpt):
        stream = (
            spark.readStream.schema(
                spark.read.parquet(f"{src}/slice=0").schema
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_upsert_foreachbatch(
            stream, state, str(tmp_path / ckpt)
        ).start()
        q.awaitTermination(120)

    run("ckpt1")
    assert spark.read.parquet(state).count() == 64

    # Simulate the crash window: bucket retired, replacement never
    # landed.  Pick the bucket of entity 7 (same arithmetic as the
    # operator).
    tb = (
        spark.createDataFrame([(7,)], "user_id long")
        .select(F.pmod(F.hash("user_id"), F.lit(16)).alias("b"))
        .collect()[0]
        .b
    )
    os.rename(f"{state}/bucket={tb}", f"{state}/.old_99_{tb}")

    # Next batch touches a DIFFERENT entity (different bucket): the
    # merge must still see the crashed bucket's entities afterwards.
    other = next(
        u
        for u in range(64)
        if spark.createDataFrame([(u,)], "user_id long")
        .select(F.pmod(F.hash("user_id"), F.lit(16)).alias("b"))
        .collect()[0]
        .b
        != tb
    )
    spark.createDataFrame(
        [(1000, t0 + dt.timedelta(days=1), other, "purchase", 1.0)],
        schema,
    ).coalesce(1).write.parquet(f"{src}/slice=1")
    run("ckpt1")

    got = {r.user_id for r in spark.read.parquet(state).collect()}
    assert got == set(range(64))  # no entity lost
    assert not any(
        n.startswith(".old_") for n in os.listdir(state)
    )  # orphan cleaned up

    # completed-swap leftover (.old_* alongside a live bucket) is
    # garbage-collected, not restored over the newer state
    shutil.copytree(f"{state}/bucket={tb}", f"{state}/.old_42_{tb}")
    # and a crashed batch's staging dir is garbage-collected
    os.makedirs(f"{state}/.swap_42/bucket=0")
    restore_orphaned_buckets(state)
    assert os.path.isdir(f"{state}/bucket={tb}")
    assert not os.path.isdir(f"{state}/.old_42_{tb}")
    assert not os.path.isdir(f"{state}/.swap_42")


def test_stream_dedup_state_uses_within_watermark():
    """Regression: dropDuplicates keyed on event_id alone never evicts
    state (the watermark applies only when the event-time column is in
    the key).  The plan must use dropDuplicatesWithinWatermark."""
    import inspect

    from bugzilla_etl_spark.streaming import snapshot_stream

    src = inspect.getsource(snapshot_stream.stream_dedup_events)
    assert "dropDuplicatesWithinWatermark" in src


def test_stream_stateful_current_state(spark, sf_dir, tmp_path):
    """applyInPandasWithState keeps the latest event per entity across
    micro-batches."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        stream_current_state,
    )

    src = str(tmp_path / "src")
    schema = _write_event_slices(spark, sf_dir, src)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src + "/*")
    )
    q = (
        stream_current_state(stream)
        .writeStream.format("memory")
        .queryName("cur_state")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    # last update per user across all micro-batch emissions
    mem = spark.sql(
        """SELECT user_id, last_ts, last_event_id FROM (
               SELECT *, row_number() OVER (
                   PARTITION BY user_id ORDER BY last_ts DESC,
                   last_event_id DESC) rn
               FROM cur_state) WHERE rn = 1"""
    )
    got = {r.user_id: (r.last_ts, r.last_event_id) for r in mem.collect()}
    want = {
        r.user_id: (r.ts, r.event_id)
        for r in dedup_latest(load_table(spark, sf_dir, "events")).collect()
    }
    assert got == want


class _FakeState:
    """Minimal GroupState stand-in for driving the handler directly."""

    def __init__(self, value=None):
        self._v = value

    @property
    def exists(self):
        return self._v is not None

    @property
    def get(self):
        return self._v

    def update(self, v):
        self._v = v


def _run_sessionize(batches, state):
    import pandas as pd

    from bugzilla_etl_spark.streaming.snapshot_stream import (
        _sessionize_state,
    )

    out = []
    for rows in batches:
        pdf = pd.DataFrame(rows, columns=["tsl", "event_id"])
        out.extend(
            pd.concat(list(_sessionize_state((1,), [pdf], state)))
            .to_dict("records")
        )
    return out


def test_stream_sessionize_continuation_across_batches():
    """An open session must keep its ordinal and extend when the next
    batch continues it within the gap."""
    state = _FakeState()
    out = _run_sessionize(
        [[(100, 1), (200, 2)], [(1900, 3), (5000, 4)]], state
    )
    # batch 1: one open session (#1); batch 2: event at 1900 continues
    # it (gap 1700 <= 1800), event at 5000 opens session #2
    final = {}
    for r in out:
        final[r["session_id"]] = r
    assert final[1]["session_start"] == 100
    assert final[1]["session_end"] == 1900
    assert final[1]["n_events"] == 3
    assert final[2]["session_start"] == 5000
    assert final[2]["n_events"] == 1
    assert state.get[0] == 1  # one closed session


def test_stream_sessionize_idle_open_session_closes_silently():
    """A batch starting beyond the gap closes the prior open session
    at its last-emitted extent (no re-emit needed) and numbers new
    sessions after it."""
    state = _FakeState()
    out1 = _run_sessionize([[(100, 1)]], state)
    assert out1[0]["session_id"] == 1
    out2 = _run_sessionize([[(10_000, 2), (20_000, 3)]], state)
    ids = sorted(r["session_id"] for r in out2)
    assert ids == [2, 3]
    assert state.get[0] == 2  # sessions 1 and 2 closed, 3 open


def test_stream_sessionize_late_arrival_widens_not_regresses():
    """A straggler older than the stored open-session extent must
    widen the session (min start / max end), never shrink it or
    regress the stored end."""
    state = _FakeState((0, 1000, 2000, 2))  # open session [1000, 2000]
    out = _run_sessionize([[(500, 9)]], state)
    # 500 is within the gap horizon of end=2000 -> continues the open
    # session; start merges to min(1000, 500), end stays max(2000, 500)
    assert len(out) == 1
    assert out[0]["session_id"] == 1
    assert out[0]["session_start"] == 500
    assert out[0]["session_end"] == 2000
    assert out[0]["n_events"] == 3
    n_closed, o_start, o_end, o_n = state.get
    assert (n_closed, o_start, o_end, o_n) == (0, 500, 2000, 3)


def test_stream_sessionize_matches_batch_sessionize(spark, sf_dir):
    """The streaming run's final (latest-per-session) rows must equal
    the batch sessionize query exactly."""
    from bugzilla_etl_spark.plans import catalog

    catalog.load_all()
    got = sorted(
        map(tuple, catalog.QUERIES["stream_sessionize"](
            spark, sf_dir).collect())
    )
    want = sorted(
        map(tuple, catalog.QUERIES["events_sessionize"](
            spark, sf_dir).collect())
    )
    assert got == want


def test_stream_full_rebuild_replay_converges(spark, sf_dir, tmp_path):
    """Incremental full-document rebuild == batch build, and a FULL
    REPLAY of every delivery (fresh checkpoint, duplicate archive
    appends) converges to the identical store — the dedup-on-read +
    overwrite-by-entity idempotency the reference gets from ES
    overwrite-by-_id."""
    from bugzilla_etl_spark.plans.queries_history import build_full_docs
    from bugzilla_etl_spark.streaming.incremental_versions import (
        stream_full_rebuild,
    )

    src = str(tmp_path / "src")
    schema = _write_event_slices(spark, sf_dir, src)

    def run(ckpt):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src + "/*")
        )
        q = stream_full_rebuild(
            stream,
            archive_dir=str(tmp_path / "archive"),
            docs_dir=str(tmp_path / "docs"),
            checkpoint_dir=str(tmp_path / ckpt),
            build_fn=build_full_docs,
        ).start()
        q.awaitTermination(300)

    run("ckpt1")
    want = sorted(
        map(tuple, build_full_docs(load_table(spark, sf_dir, "events"))
            .collect())
    )
    got = sorted(
        map(
            tuple,
            spark.read.parquet(str(tmp_path / "docs"))
            .drop("bucket").collect(),
        )
    )
    assert got == want

    # replay everything: fresh checkpoint re-delivers all slices;
    # the archive now holds every event twice
    run("ckpt2")
    got2 = sorted(
        map(
            tuple,
            spark.read.parquet(str(tmp_path / "docs"))
            .drop("bucket").collect(),
        )
    )
    assert got2 == want


def test_stream_previous_values_continues_across_batches():
    """The pv record must chain across micro-batches: a change in
    batch 2 takes its change_to from batch 1's change-away, and a
    no-op straddling the boundary neither emits nor disturbs state."""
    import pandas as pd

    from bugzilla_etl_spark.streaming.snapshot_stream import _pv_state

    cols = ["event_id", "tsl", "event_type", "value"]

    def run(rows, state):
        pdf = pd.DataFrame(rows, columns=cols)
        return pd.concat(list(_pv_state((1,), [pdf], state)))

    state = _FakeState()
    out1 = run([(1, 0, "click", 1.0)], state)
    r1 = out1.iloc[0]
    assert r1["click_prev_value"] is None or pd.isna(r1["click_prev_value"])
    assert r1["click_change_to_l"] == 0 and r1["click_change_away_l"] == 0

    # batch 2: no-op (same value), then a real change
    out2 = run(
        [(2, 100_000, "click", 1.0), (3, 200_000, "click", 2.0)], state
    )
    noop, chg = out2.iloc[0], out2.iloc[1]
    # no-op row still carries batch-1's record
    assert noop["click_change_away_l"] == 0
    # the real change chains change_to from the PRIOR change's away ts
    assert chg["click_prev_value"] == 1.0
    assert chg["click_change_to_l"] == 0
    assert chg["click_change_away_l"] == 200_000
    assert chg["click_duration_days"] == 200_000 // 86400
    # untouched field stays empty
    assert pd.isna(chg["view_change_away_l"]) or chg["view_change_away_l"] is None


def test_swap_buckets_empty_touched_bucket_removes_stale(tmp_path):
    """A touched bucket with no staging dir means the writer emitted
    zero rows for it: its new state is EMPTY, so the old bucket dir
    must be retired/removed, not skipped — skipping would leave stale
    docs in place for delete-style build_fns."""
    from bugzilla_etl_spark.streaming.snapshot_stream import swap_buckets

    state = tmp_path / "state"
    (state / "bucket=3").mkdir(parents=True)
    (state / "bucket=3" / "part-0.parquet").write_bytes(b"old")
    (state / "bucket=7").mkdir()
    (state / "bucket=7" / "part-0.parquet").write_bytes(b"keep")
    staging = tmp_path / ".swap_1"
    (staging / "bucket=5").mkdir(parents=True)
    (staging / "bucket=5" / "part-0.parquet").write_bytes(b"new")

    swap_buckets(str(state), str(staging), [3, 5], 1)

    assert not (state / "bucket=3").exists()  # emptied, not stale
    assert (state / "bucket=5" / "part-0.parquet").read_bytes() == b"new"
    assert (state / "bucket=7" / "part-0.parquet").read_bytes() == b"keep"
    assert not any(p.name.startswith(".old_") for p in state.iterdir())
    assert not staging.exists()


def test_recovery_never_resurrects_intentionally_emptied_bucket(tmp_path):
    """The empty-state retirement marker (.del_) must be RE-REMOVED
    by the recovery sweep, never restored: if the post-retire rmtree
    died (NFS EBUSY), renaming the orphan back would permanently
    resurrect documents a delete-style rebuild removed.  A stranded
    mid-swap .old_ orphan must still be restored."""
    from bugzilla_etl_spark.streaming.snapshot_stream import (
        restore_orphaned_buckets,
    )

    state = tmp_path / "state"
    # simulate: swap_buckets retired bucket=3 as intentionally empty
    # but its rmtree failed, leaving the .del_ orphan behind
    (state / ".del_4_3").mkdir(parents=True)
    (state / ".del_4_3" / "part-0.parquet").write_bytes(b"deleted")
    # and a genuine mid-swap crash stranded bucket=9's content
    (state / ".old_4_9").mkdir()
    (state / ".old_4_9" / "part-0.parquet").write_bytes(b"stranded")

    restore_orphaned_buckets(str(state))

    assert not (state / "bucket=3").exists()      # stays deleted
    assert not (state / ".del_4_3").exists()      # orphan reclaimed
    assert (state / "bucket=9" / "part-0.parquet").read_bytes() == b"stranded"
    assert not (state / ".old_4_9").exists()


def test_neardup_ingest_multibatch_and_replay(spark, sf_dir, tmp_path):
    """The ingest run must execute as REAL multiple micro-batches
    (one per landed file), each batch-keyed output dir must be
    replay-idempotent (re-running the same landing dir with a fresh
    checkpoint produces identical screening), and batch results must
    equal the batch-computed screen of the same docs."""
    import os
    import re

    from pyspark.sql import functions as F

    from bugzilla_etl_spark import tmpdirs
    from bugzilla_etl_spark.sources import load_table
    from bugzilla_etl_spark.streaming.landing import to_batch_dirs
    from bugzilla_etl_spark.streaming.neardup_stream import (
        band_index,
        screen_batch,
    )

    docs = load_table(spark, sf_dir, "documents")
    static = docs.where(F.col("doc_id") % 5 != 0)
    incoming = docs.where(F.col("doc_id") % 5 == 0)
    landing = str(tmp_path / "landing")
    os.makedirs(landing)
    for tag, part in (
        ("a", incoming.where(F.col("doc_id") % 10 == 0)),
        ("b", incoming.where(F.col("doc_id") % 10 == 5)),
    ):
        stage = str(tmp_path / f"stage_{tag}")
        part.coalesce(1).write.mode("overwrite").parquet(stage)
        src = next(
            f for f in os.listdir(stage) if f.endswith(".parquet")
        )
        os.rename(
            os.path.join(stage, src),
            os.path.join(landing, f"in_{tag}.parquet"),
        )
    index = band_index(static).persist()

    def ingest():
        # a fresh stream and sink per call: a fresh checkpoint
        return to_batch_dirs(
            spark,
            landing,
            docs.schema,
            lambda batch: screen_batch(batch, index),
            "doc_id long, n_hits long, is_neardup int",
        )

    with tmpdirs.scope("neardup_ingest"):
        out1 = ingest()
        batches = {
            re.search(r"/batch=(\d+)/", f).group(1)
            for f in out1.inputFiles()
        }
        assert len(batches) == 2, batches  # maxFilesPerTrigger=1 honored
        got = {
            (r.doc_id, r.n_hits, r.is_neardup) for r in out1.collect()
        }
        want = {
            (r.doc_id, r.n_hits, r.is_neardup)
            for r in screen_batch(incoming, index).collect()
        }
        assert got == want
        # replay with a fresh checkpoint: identical output
        got2 = {
            (r.doc_id, r.n_hits, r.is_neardup) for r in ingest().collect()
        }
    index.unpersist()
    assert got2 == got
