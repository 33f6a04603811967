"""The benchmark's workloads.

Each workload generates its inputs from the seed, sets up, and then
runs ops: one full ETL pass (``full_history``), one incremental cycle
(``incremental_cycles``) or one dedup pass (``corpus_dedup``). Every
op checks its own output with cheap invariants computed from the
generated input; the checks read the output files with pyarrow, so
they add no Spark work.

Layer calls go through ``Ctx.tracer`` spans named after the package
modules. In the untraced run the spans are no-ops and the op is the
plain call sequence a user would write. The traced run materializes
each dedup layer's output inside its span, so that layer's Spark work
is attributed to it, and adds one noop-sink pass of the full document
build after each full_history op.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.dataset as ds
import pyarrow.parquet as pq

import gen
from spans import Tracer

ALIAS = "operators.alias"
BACKFILL = "operators.backfill"
BUILD = "plans.queries_history.build_full_docs"
STREAM = "streaming.incremental_versions"
EXACT = "operators.dedup.exact_groups"
PAIRS = "operators.dedup.jaccard_pairs_invindex"
COMPONENTS = "operators.dedup.neardup_components"


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    tracer: Tracer


@dataclass
class OpResult:
    rows_in: int  # change events or documents consumed
    docs: int  # documents the op had to produce
    bytes_written: int  # bytes the op wrote to its output store
    files_written: int
    problems: list[str]


# ---- file accounting ----------------------------------------------------


def data_files(root: str) -> dict[str, int]:
    """Parquet data files under ``root`` (path -> size), skipping
    hidden and underscore names as Spark does."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs[:] = [x for x in dirs if not x.startswith((".", "_"))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith((".", "_")):
                p = os.path.join(d, f)
                out[p] = os.path.getsize(p)
    return out


def read_parquet_dir(root: str, columns: list[str]) -> pa.Table:
    files = sorted(data_files(root))
    if not files:
        return pa.table({c: pa.array([], pa.int64()) for c in columns})
    return ds.dataset(
        files, format="parquet", partitioning="hive", partition_base_dir=root
    ).to_table(columns=columns)


def write_parquet(table: pa.Table, path: str) -> None:
    """Write ``table`` to ``path`` atomically: a file source that lists
    the directory never sees a partial file."""
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path))
    pq.write_table(table, tmp)
    os.rename(tmp, path)


# ---- document checks ----------------------------------------------------


def check_docs(docs: pa.Table, log: gen.ChangeLog, bugs: np.ndarray) -> list[str]:
    """Per bug in ``bugs``: one doc per change, unique ``_id``s that
    start with the bug id, versions 1..n, and an ``expires_on`` chain
    in which each version expires when the next starts (so the gaps
    sum to last - first, and exactly one version is open)."""
    problems = []
    docs = docs.filter(pc.is_in(docs["user_id"], pa.array(bugs)))
    ids = docs["_id"].to_pylist()
    if len(ids) != len(set(ids)):
        problems.append("duplicate _id")
    if any(not i.startswith(f"{u}_")
           for i, u in zip(ids, docs["user_id"].to_pylist())):
        problems.append("_id does not start with its bug id")
    gap = pc.subtract(docs["expires_on"], docs["version_ts"])
    t = pa.table({
        "b": docs["user_id"], "v": docs["version"], "g": gap,
        "open": pc.cast(pc.is_null(docs["expires_on"]), pa.int64()),
    })
    agg = t.group_by("b").aggregate(
        [("v", "count"), ("v", "min"), ("v", "max"), ("g", "sum"),
         ("open", "sum")]
    )
    got = {r["b"]: r for r in agg.to_pylist()}
    for b in bugs.tolist():
        r = got.get(b)
        n = int(log.versions[b])
        span = int(log.last_ts_us[b] - log.first_ts_us[b])
        if r is None:
            problems.append(f"bug {b}: no documents")
        elif (r["v_count"], r["v_min"], r["v_max"]) != (n, 1, n):
            problems.append(
                f"bug {b}: versions {r['v_count']} [{r['v_min']}, "
                f"{r['v_max']}], expected {n}"
            )
        elif r["open_sum"] != 1 or (r["g_sum"] or 0) != span:
            problems.append(f"bug {b}: broken expires_on chain")
        if len(problems) > 5:
            break
    return problems


DOC_COLUMNS = ["_id", "user_id", "version", "version_ts", "expires_on"]


# ---- full_history -------------------------------------------------------


class FullHistory:
    """The full ETL: alias mapping, then the five-block backfill of
    ``full_backfill_resume`` landing every bug-version document, then
    a check of the landed store."""

    def __init__(self, ctx: Ctx, n_bugs: int, n_events: int,
                 max_changes: int):
        self.ctx = ctx
        self.sizes = (n_bugs, n_events, max_changes)
        self.in_dir = os.path.join(ctx.work, "in")

    def setup(self) -> dict:
        self.log = gen.change_log(self.ctx.seed, *self.sizes)
        os.makedirs(self.in_dir)
        write_parquet(self.log.table,
                      os.path.join(self.in_dir, "events.parquet"))
        return self.log.props()

    def _store(self, i: int) -> str:
        return os.path.join(self.ctx.work, f"store_{i}")

    def op(self, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from bugzilla_etl_spark.operators.alias import derived_alias_mapping
        from bugzilla_etl_spark.operators.backfill import run_backfill
        from bugzilla_etl_spark.plans.queries_history import build_full_docs
        from bugzilla_etl_spark.sources.tables import load_table

        spark, tr = self.ctx.spark, self.ctx.tracer
        ev = load_table(spark, self.in_dir, "events")
        with tr.span(ALIAS) as sp:
            mapping = tr.wrap_builder(ALIAS, derived_alias_mapping)(ev)
            if sp is not None:
                sp.counts["rows_out"] = mapping.count()
        self.mapping = mapping
        end = ev.agg(F.max("user_id")).collect()[0][0] + 1
        store = self._store(i)
        build = tr.wrap_builder(BUILD, lambda e: build_full_docs(e, mapping))
        with tr.span(BACKFILL) as sp:
            run_backfill(spark, ev, store, -(-end // 5), build, end=end)
        docs = read_parquet_dir(store, DOC_COLUMNS)
        if sp is not None:
            sp.counts["rows_out"] = docs.num_rows
        problems = check_docs(docs, self.log, np.arange(self.log.n_bugs))
        files = data_files(store)
        return OpResult(self.log.table.num_rows, int(self.log.versions.sum()),
                        sum(files.values()), len(files), problems)

    def traced_extras(self, i: int) -> None:
        """Build execution apart from the write: one noop-sink pass of
        the full document build over the whole log."""
        from bugzilla_etl_spark.plans.queries_history import build_full_docs
        from bugzilla_etl_spark.sources.tables import load_table

        ev = load_table(self.ctx.spark, self.in_dir, "events")
        with self.ctx.tracer.span(BUILD) as sp:
            build_full_docs(ev, self.mapping).write.format("noop").mode(
                "overwrite"
            ).save()
            sp.counts["rows_out"] = int(self.log.versions.sum())

    def after_op(self, i: int) -> None:
        shutil.rmtree(self._store(i), ignore_errors=True)

    def final_check(self) -> list[str]:
        return []


# ---- incremental_cycles -------------------------------------------------


class IncrementalCycles:
    """The incremental loop: the history is landed once through
    ``stream_full_rebuild``; each op lands one delivery and runs the
    same writer again (availableNow, resuming from its checkpoint)."""

    def __init__(self, ctx: Ctx, n_bugs: int, n_events: int,
                 max_changes: int, share: float):
        self.ctx = ctx
        self.sizes = (n_bugs, n_events, max_changes)
        self.share = share
        w = ctx.work
        self.src = os.path.join(w, "src")
        self.archive = os.path.join(w, "archive")
        self.docs_dir = os.path.join(w, "docs")
        self.ckpt = os.path.join(w, "ckpt")

    def setup(self) -> dict:
        from bugzilla_etl_spark.plans.queries_history import build_full_docs
        from bugzilla_etl_spark.sources.tables import normalize_events_ts
        from bugzilla_etl_spark.streaming.incremental_versions import (
            stream_full_rebuild,
        )

        spark, tr = self.ctx.spark, self.ctx.tracer
        self.log = gen.change_log(self.ctx.seed, *self.sizes)
        self.feed = gen.Deliveries(self.log, self.ctx.seed, self.share)
        self.tables = [self.log.table]
        os.makedirs(self.src)
        first = self._land(self.log.table)
        schema = spark.read.parquet(first).schema
        stream = normalize_events_ts(
            spark.readStream.schema(schema).parquet(self.src)
        )
        self.writer = stream_full_rebuild(
            stream, self.archive, self.docs_dir, self.ckpt,
            tr.wrap_builder(BUILD, build_full_docs),
        )
        self._run_writer()
        problems = check_docs(
            read_parquet_dir(self.docs_dir, DOC_COLUMNS), self.log,
            np.arange(self.log.n_bugs),
        )
        if problems:
            raise RuntimeError(f"initial landing: {problems}")
        props = self.log.props()
        props["touched_share_per_delivery"] = self.share
        return props

    def _land(self, table: pa.Table) -> str:
        n = len(os.listdir(self.src))
        path = os.path.join(self.src, f"delivery_{n:05d}.parquet")
        write_parquet(table, path)
        return path

    def _run_writer(self):
        """Run the writer until it has processed every landed delivery;
        returns its span (None when tracing is off)."""
        with self.ctx.tracer.span(STREAM) as sp:
            t0 = time.perf_counter()
            q = self.writer.start()
            q.awaitTermination()
            wall = time.perf_counter() - t0
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            self.ctx.tracer.add_job_group(sp, str(q.runId))
            if sp is not None:
                dur = [p["durationMs"] for p in q.recentProgress]
                trig = sum(d.get("triggerExecution", 0) for d in dur) / 1e3
                sp.counts["query_start_s"] = wall - trig
                sp.counts["add_batch_s"] = sum(
                    d.get("addBatch", 0) for d in dur) / 1e3
                sp.counts["commit_overhead_s"] = sum(
                    d.get(k, 0) for d in dur
                    for k in ("latestOffset", "walCommit", "commitOffsets")
                ) / 1e3
        return sp

    def op(self, i: int) -> OpResult:
        table, touched = self.feed.next()
        self.tables.append(table)
        before = data_files(self.docs_dir)
        archive_before = data_files(self.archive)
        self._land(table)
        sp = self._run_writer()
        docs = read_parquet_dir(self.docs_dir, DOC_COLUMNS + ["bucket"])
        problems = check_docs(docs, self.log, touched)
        after = data_files(self.docs_dir)
        new = {p: s for p, s in after.items() if p not in before}
        # the docs that change: one new version per event, plus each
        # touched bug's open version, which now expires
        needed = table.num_rows + len(touched)

        def bucket(p: str) -> str:
            return os.path.basename(os.path.dirname(p))

        rewritten = {bucket(p) for p in new}
        in_rewritten = pc.sum(pc.is_in(
            docs["bucket"],
            pa.array([int(b.split("=")[1]) for b in rewritten], pa.int32()),
        )).as_py() or 0
        read = sum(s for p, s in before.items() if bucket(p) in rewritten)
        read += sum(s for p, s in archive_before.items()
                    if bucket(p) in rewritten)
        if sp is not None:
            sp.counts.update(
                buckets_rewritten=len(rewritten),
                store_bytes_read=read,
                docs_rewritten_per_touched=needed / max(in_rewritten, 1),
                rows_out=in_rewritten,
            )
        return OpResult(table.num_rows, needed, sum(new.values()), len(new),
                        problems)

    def traced_extras(self, i: int) -> None:
        pass

    def after_op(self, i: int) -> None:
        pass

    def final_check(self) -> list[str]:
        """The store after the last cycle equals a full rebuild of the
        whole log."""
        from bugzilla_etl_spark.plans.queries_history import build_full_docs
        from bugzilla_etl_spark.sources.tables import load_table

        spark = self.ctx.spark
        full_dir = os.path.join(self.ctx.work, "full")
        os.makedirs(full_dir)
        write_parquet(pa.concat_tables(self.tables),
                      os.path.join(full_dir, "events.parquet"))
        full = build_full_docs(load_table(spark, full_dir, "events"))
        store = spark.read.parquet(self.docs_dir).drop("bucket")
        store = store.select(*full.columns)
        extra = store.exceptAll(full).count()
        missing = full.exceptAll(store).count()
        if extra or missing:
            return [f"incremental != full rebuild: {extra} extra, "
                    f"{missing} missing docs"]
        return []


# ---- corpus_dedup -------------------------------------------------------


class CorpusDedup:
    """The curation dedup pass: exact groups, inverted-index Jaccard
    pairs over one doc per exact group, near-dup components, and the
    kept docs (one per component) written out."""

    def __init__(self, ctx: Ctx, n_docs: int):
        self.ctx = ctx
        self.n_docs = n_docs
        self.in_dir = os.path.join(ctx.work, "in")

    def setup(self) -> dict:
        self.corpus = gen.corpus(self.ctx.seed, self.n_docs)
        os.makedirs(self.in_dir)
        write_parquet(self.corpus.table,
                      os.path.join(self.in_dir, "documents.parquet"))
        return self.corpus.props()

    def _out(self, i: int) -> str:
        return os.path.join(self.ctx.work, f"kept_{i}")

    def op(self, i: int) -> OpResult:
        from pyspark.sql import functions as F

        from bugzilla_etl_spark.operators import dedup as D
        from bugzilla_etl_spark.sources.tables import load_table

        spark, tr = self.ctx.spark, self.ctx.tracer
        docs = load_table(spark, self.in_dir, "documents")

        def materialize(frame, sp):
            # traced run only: run the layer's work inside its span
            if sp is None:
                return frame
            frame = frame.localCheckpoint(eager=True)
            sp.counts["rows_out"] = frame.count()
            return frame

        with tr.span(EXACT) as sp:
            groups = materialize(tr.wrap_builder(EXACT, D.exact_groups)(docs),
                                 sp)
        uniq = docs.join(
            groups.where(F.col("doc_id") == F.col("canonical_id"))
            .select("doc_id"),
            "doc_id", "left_semi",
        )
        with tr.span(PAIRS) as sp:
            pairs = materialize(
                tr.wrap_builder(PAIRS, D.jaccard_pairs_invindex)(
                    uniq, threshold=0.5, max_df=64),
                sp,
            )
        with tr.span(COMPONENTS) as sp:
            comps = materialize(
                tr.wrap_builder(COMPONENTS, D.neardup_components)(
                    pairs, members=uniq.select("doc_id")),
                sp,
            )
        kept = uniq.join(
            comps.where(F.col("doc_id") == F.col("component"))
            .select("doc_id"),
            "doc_id", "left_semi",
        )
        out = self._out(i)
        kept.write.mode("overwrite").parquet(out)
        files = data_files(out)
        kept_ids = read_parquet_dir(out, ["doc_id"])["doc_id"].to_numpy()
        return OpResult(self.n_docs, len(kept_ids), sum(files.values()),
                        len(files), self._check(kept_ids))

    def _check(self, kept: np.ndarray) -> list[str]:
        """Kept ids are unique, no exact duplicate survives, and at
        most one doc of every planted near-duplicate pair survives
        (both are in one component, which keeps its lowest id)."""
        c = self.corpus
        problems = []
        keep = set(kept.tolist())
        if len(keep) != len(kept):
            problems.append("kept doc ids are not unique")
        dup = [i for i in c.exact_canonical if i in keep]
        if dup:
            problems.append(f"{len(dup)} exact duplicates kept, e.g. {dup[:3]}")
        both = [p for p in c.near_pairs if p[0] in keep and p[1] in keep]
        if both:
            problems.append(f"{len(both)} planted near-dup pairs both kept, "
                            f"e.g. {both[:3]}")
        if not keep or len(keep) > self.n_docs - len(c.exact_canonical):
            problems.append(f"{len(keep)} docs kept")
        return problems

    def traced_extras(self, i: int) -> None:
        pass

    def after_op(self, i: int) -> None:
        from bugzilla_etl_spark.tmpdirs import gc_now

        gc_now()  # release the postings cache this op pinned
        shutil.rmtree(self._out(i), ignore_errors=True)

    def final_check(self) -> list[str]:
        return []
