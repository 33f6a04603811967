"""Range-batched, crash-resumable FULL backfill.

The reference's full ETL does not stream the whole corpus through
one job: it walks explicit entity-id range blocks in REVERSE order,
landing each block into the doc store, and a crashed run restarts
from the last landed block instead of from scratch (reference:
bz_etl.py:281-352 ``full_etl`` — ``jx.reverse(jx.intervals(start,
end, increment))``; :287 resume ``end = ceiling(get_min_bug_id(esq),
increment)``; :440 ``get_min_bug_id``).  This is the day-one
"backfill 100 TB and the job dies at 80%" path: without it the only
recovery is a complete re-run.

Spark-first shape:

- A BLOCK is a half-open entity-id range ``[lo, hi)``.  Each block
  runs the IDENTICAL document pipeline as the one-shot batch build
  (``build_full_docs``) over the block's entities only — valid
  because every window/aggregate in the build partitions by the
  entity, so a block's docs equal the full build restricted to the
  block (the same per-entity-decomposability the incremental
  rebuild relies on).
- Blocks land as ``block=K`` parquet directories.  Landing is
  crash-atomic at the block level: the FileOutputCommitter writes
  ``_SUCCESS`` last, so a dir without it is an incomplete landing
  and is never counted as done.
- Resume mirrors the reference exactly: the minimum landed entity
  id, rounded UP to the block increment, is the new end — blocks
  ABOVE it are kept (the walk is descending, so they finished),
  the block CONTAINING it is re-processed (it may be the one that
  was interrupted), and the walk continues downward.  Re-landing a
  block is idempotent (``mode=overwrite`` on the block dir).

At 100 TB the per-block ``WHERE lo <= id < hi`` predicate should be
a partition-pruned read, not a filtered full scan: ``land_clustered``
below lands the events table partitioned by entity block so a block
read is pure directory pruning (``run_backfill(clustered_dir=)``);
the reference gets the same effect from the MySQL primary-key index
on ``bug_id``.  The filter-scan form still pushes the range predicate
into every parquet scan (plan-tested) — correct either way, the
layout only changes how much the scan skips.
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# The operators record a wall-clock split into the current run's
# stats (tmpdirs.add_split), summed across the calls an entry makes:
# landing write vs layout validation vs block walk.  bench.py embeds
# the split of each query's winning pass in its JSON line, so the
# recorded BENCH artifact itself says WHERE the time went — the
# round-12 driver-lane alert on full_backfill_clustered (27.9 s vs
# a 9.2 s pin, builder quiet-host 7.5 s on identical code) could
# only be attributed to "probably the partitionBy landing under IO
# contention"; with the split recorded, the next crossing is a
# diagnosis, not a hypothesis.
from bugzilla_etl_spark.tmpdirs import add_split


def block_plan(end: int, increment: int) -> list[tuple[int, int]]:
    """Descending half-open blocks covering [0, end) — the
    reference's ``jx.reverse(jx.intervals(0, end, increment))``."""
    blocks = []
    lo = 0
    while lo < end:
        blocks.append((lo, min(lo + increment, end)))
        lo += increment
    return list(reversed(blocks))


def landed_block_dirs(store_dir: str) -> list[str]:
    """Block dirs whose landing COMMITTED (``_SUCCESS`` present).
    An interrupted write leaves a dir without the marker: invisible
    to resume, overwritten when its block re-runs."""
    if not os.path.isdir(store_dir):
        return []
    return sorted(
        os.path.join(store_dir, d)
        for d in os.listdir(store_dir)
        if d.startswith("block=")
        and os.path.exists(os.path.join(store_dir, d, "_SUCCESS"))
    )


def get_min_entity_id(
    spark: SparkSession, store_dir: str, entity: str = "user_id"
) -> int | None:
    """The reference's ``get_min_bug_id`` against OUR store: min
    entity id across committed blocks (a 1-row agg answered from
    parquet column stats, not a data scan)."""
    dirs = landed_block_dirs(store_dir)
    if not dirs:
        return None
    row = (
        spark.read.option("basePath", store_dir)
        .parquet(*dirs)
        .agg(F.min(entity).alias("m"))
        .collect()[0]
    )
    return row["m"]


def land_clustered(
    ev: DataFrame, out_dir: str, increment: int,
    entity: str = "user_id",
    files_per_block: int = 4,
) -> None:
    """Land the events table partitioned by ENTITY BLOCK
    (``entity_block = (id div increment) * increment`` — each
    partition dir is exactly one backfill block).  This is the
    layout half of the backfill contract: with it, a block read is
    directory pruning (zero rows of other blocks touched — the
    Spark analogue of the reference's MySQL primary-key range walk,
    bz_etl.py:305 ``{{min}} <= b.bug_id AND b.bug_id < {{max}}``);
    without it, each block is a pushed-filter full scan.  Paid once
    — the zorder_layout/bucketed_join write-time-layout discipline
    applied to the backfill source.  A ``_layout.json`` marker
    records the increment and entity so a later walk can fail-fast
    on a mismatched layout instead of silently reading empty
    blocks.

    File-count discipline: a bare ``partitionBy`` write emits up to
    tasks x blocks files (32 x 5 = 160 small files at the demo SF —
    the round-12 driver-lane alert traced to exactly this commit
    storm on a contended disk), so the landing repartitions on
    ``(entity_block, hash(entity) % files_per_block)`` first: file
    count is bounded at blocks x files_per_block regardless of task
    count, while the salt keeps ``files_per_block``-way write
    parallelism inside each block.  At 100 TB the one added shuffle
    is the standard price of a bounded-file layout (the same trade
    ``compact_store`` prices); size ``files_per_block`` so each file
    lands near ``spark.sql.files.maxPartitionBytes``."""
    import json

    t0 = time.perf_counter()
    blocked = ev.withColumn(
        "entity_block",
        (F.col(entity) - F.col(entity) % increment).cast("long"),
    )
    (
        blocked.repartition(
            F.col("entity_block"),
            F.pmod(F.hash(F.col(entity)), F.lit(files_per_block)),
        )
        .write.mode("overwrite")
        .partitionBy("entity_block")
        .parquet(out_dir)
    )
    with open(os.path.join(out_dir, "_layout.json"), "w") as f:
        json.dump({"increment": increment, "entity": entity}, f)
    add_split("landing_write_sec", time.perf_counter() - t0)


def read_block(
    spark: SparkSession, clustered_dir: str, lo: int
) -> DataFrame:
    """One block = one partition directory.  No filter needed: the
    path IS the predicate."""
    return (
        spark.read.option("basePath", clustered_dir)
        .parquet(f"{clustered_dir}/entity_block={lo}")
        .drop("entity_block")
    )


def validate_clustered_layout(
    clustered_dir: str,
    increment: int,
    entity: str = "user_id",
    spark: SparkSession | None = None,
) -> set[int]:
    """Fail-fast check that ``clustered_dir`` really is a
    ``land_clustered`` layout for THIS walk's increment and entity.

    A missing single ``entity_block=K`` dir is legitimate (a block
    with no events lands no partition dir — and on a resumed walk,
    dirs ABOVE the truncated end are legitimately outside the plan),
    but a layout written with a DIFFERENT increment or entity, or a
    wrong/stale path, must not be silently read as all-empty blocks
    — that would land empty doc blocks with ``_SUCCESS`` markers:
    a "successful" run that dropped all data.  Asserted:

    - at least one ``entity_block=`` partition dir exists (a path
      with zero is not a clustered landing at all);
    - the ``_layout.json`` marker ``land_clustered`` writes matches
      this walk's (increment, entity) exactly;
    - without a marker (a layout landed by other tooling), every
      partition dir's lo must be block-ALIGNED (lo % increment ==
      0), which catches a finer-grained layout — and, when
      ``spark`` is given, every dir's actual [min, max] entity span
      must sit inside [lo, lo + increment), which catches a
      COARSER layout (its increment an exact multiple of the
      walk's: every dir is still aligned, but a dir holds several
      walk blocks' rows, so ``read_block`` would bleed rows into
      the wrong block's build AND rows of the missing-dir blocks
      would silently vanish — a defensive read-side filter alone
      would fix the bleed but not the vanish, which is why the
      check rejects instead).  The span probe reads one column of
      the layout once, at validation time only — answered from
      parquet footer stats under aggregate pushdown, and never run
      when the exact ``_layout.json`` metadata is present.

    Returns the set of block-los present, so the walk can read only
    dirs that exist."""
    import json

    if not os.path.isdir(clustered_dir):
        raise FileNotFoundError(
            f"clustered_dir {clustered_dir!r} does not exist"
        )
    present: set[int] = set()
    for d in os.listdir(clustered_dir):
        if not d.startswith("entity_block="):
            continue
        val = d.split("=", 1)[1]
        if val == "__HIVE_DEFAULT_PARTITION__":
            # land_clustered writes this dir when entity ids are
            # NULL; no block ever reads it, so proceeding would
            # silently drop those rows from the backfill
            raise ValueError(
                f"clustered_dir {clustered_dir!r} contains a NULL-id "
                "partition (entity_block=__HIVE_DEFAULT_PARTITION__)"
                " — scrub or assign null entity ids before landing;"
                " the block walk would silently drop these rows"
            )
        present.add(int(val))
    if not present:
        raise ValueError(
            f"clustered_dir {clustered_dir!r} has no entity_block="
            "partition dirs — not a land_clustered layout"
        )
    marker = os.path.join(clustered_dir, "_layout.json")
    if os.path.exists(marker):
        with open(marker) as f:
            layout = json.load(f)
        if layout.get("increment") != increment or (
            layout.get("entity") != entity
        ):
            raise ValueError(
                f"clustered_dir {clustered_dir!r} was landed with "
                f"(increment={layout.get('increment')}, "
                f"entity={layout.get('entity')!r}) but this walk uses "
                f"(increment={increment}, entity={entity!r}) — a "
                "mismatched layout would make planned blocks read "
                "empty or bleed across block boundaries"
            )
    else:
        misaligned = {lo for lo in present if lo % increment != 0}
        if misaligned:
            raise ValueError(
                f"clustered_dir {clustered_dir!r} was written with a "
                f"different increment: partition dirs at los "
                f"{sorted(misaligned)[:5]} are not aligned to "
                f"increment {increment}"
            )
        if spark is not None:
            spans = (
                spark.read.option("basePath", clustered_dir)
                .parquet(clustered_dir)
                .groupBy("entity_block")
                .agg(F.min(entity).alias("lo_id"),
                     F.max(entity).alias("hi_id"))
                .collect()
            )
            overwide = sorted(
                int(r["entity_block"])
                for r in spans
                if r["lo_id"] is not None
                and (
                    r["lo_id"] < r["entity_block"]
                    or r["hi_id"] >= r["entity_block"] + increment
                )
            )
            if overwide:
                raise ValueError(
                    f"clustered_dir {clustered_dir!r} was written "
                    f"with a COARSER increment: partition dirs at "
                    f"los {overwide[:5]} hold entity ids outside "
                    f"[lo, lo + {increment}) — reading them as "
                    f"increment-{increment} blocks would bleed rows "
                    "across block boundaries and drop rows of "
                    "blocks whose finer dir is missing"
                )
    return present


def run_backfill(
    spark: SparkSession,
    ev: DataFrame,
    store_dir: str,
    increment: int,
    build_fn: Callable[[DataFrame], DataFrame],
    entity: str = "user_id",
    end: int | None = None,
    crash_after: int | None = None,
    clustered_dir: str | None = None,
) -> list[tuple[int, int]]:
    """Walk the block plan descending, landing each block's full
    docs; resume from the store if blocks are already landed.
    Returns the blocks PROCESSED by this run (the resume test's
    witness).  ``crash_after=N`` aborts after N landings — the
    test hook for the crash-between-blocks scenario.  With
    ``clustered_dir`` (a ``land_clustered`` layout), each block
    reads ONLY its partition directory; empty blocks read an empty
    frame through the same path."""
    if end is None:
        end = ev.agg(F.max(entity)).collect()[0][0]
        end = 0 if end is None else end + 1
    resume_min = get_min_entity_id(spark, store_dir, entity)
    if resume_min is not None:
        # ceiling(min_landed, increment): keep finished blocks above,
        # re-do the boundary block, continue downward (bz_etl.py:287)
        end = min(end, -(-resume_min // increment) * increment)
    plan = block_plan(end, increment)
    clustered_los: set[int] | None = None
    if clustered_dir is not None and plan:
        # fail-fast: a wrong path or a mismatched layout must error
        # here, not silently land all-empty blocks
        t0 = time.perf_counter()
        clustered_los = validate_clustered_layout(
            clustered_dir, increment, entity, spark=spark
        )
        add_split("validate_sec", time.perf_counter() - t0)
    done: list[tuple[int, int]] = []
    t_walk = time.perf_counter()

    def _block_frame(lo: int, hi: int) -> DataFrame:
        if clustered_dir is not None:
            if clustered_los is not None and lo in clustered_los:
                return read_block(spark, clustered_dir, lo)
            # a genuinely empty block lands no partition dir;
            # layout-level errors were rejected above
            return ev.where(F.lit(False))
        return ev.where((F.col(entity) >= lo) & (F.col(entity) < hi))

    if crash_after is None and len(plan) > 1:
        # Overlap the independent block jobs: each block's doc build
        # is a multi-stage pipeline whose stage tails leave most of
        # the fleet idle, so a strictly serial walk pays every
        # straggler tail back-to-back — submitting a few blocks at
        # once lets the next block's tasks back-fill freed executors
        # (the thread-pool overlap pattern; scheduler stays FIFO so
        # earlier blocks keep priority).  The reference's RESUME
        # contract — committed blocks form a contiguous prefix of
        # the DESCENDING walk, so min-landed-id rounds up to a
        # correct restart point — is preserved by splitting land
        # from commit: each block writes to a ``_staging`` dir
        # (invisible to landed_block_dirs / read_store, which match
        # ``block=`` only) and is COMMITTED by an atomic directory
        # rename in exact walk order.  A crash mid-run leaves only
        # staging dirs past the rename frontier: never counted, and
        # overwritten when their block re-runs.  (The sequential arm
        # below remains for crash_after — the injected-crash test
        # hook is defined in terms of the serial walk.)
        import shutil
        from concurrent.futures import ThreadPoolExecutor

        os.makedirs(store_dir, exist_ok=True)

        def _land(lo: int, hi: int) -> str:
            staging = f"{store_dir}/_staging_block_{lo}"
            build_fn(_block_frame(lo, hi)).write.mode(
                "overwrite"
            ).parquet(staging)
            return staging

        # 5 in flight (r16 verdict item 6: the 3-deep pool left the
        # walk at 5.96 s of the 6.64 s pass — the tail blocks ran
        # serially after the pool drained; at 5 the whole 5-block
        # plan's reads+builds+writes overlap and the walk approaches
        # max(block) instead of sum(tail blocks)).  Memory stays
        # bounded: each block's build is the same doc pipeline, and
        # FIFO scheduling keeps earlier blocks' commit order.
        with ThreadPoolExecutor(max_workers=min(5, len(plan))) as pool:
            futs = [pool.submit(_land, lo, hi) for lo, hi in plan]
            for (lo, hi), fut in zip(plan, futs):
                staging = fut.result()
                final = f"{store_dir}/block={lo}"
                if os.path.exists(final):
                    shutil.rmtree(final)
                os.rename(staging, final)
                done.append((lo, hi))
    else:
        for lo, hi in plan:
            docs = build_fn(_block_frame(lo, hi))
            docs.write.mode("overwrite").parquet(
                f"{store_dir}/block={lo}"
            )
            done.append((lo, hi))
            if crash_after is not None and len(done) >= crash_after:
                break
    add_split("walk_sec", time.perf_counter() - t_walk)
    add_split("blocks_walked", float(len(done)))
    return done


def read_store(spark: SparkSession, store_dir: str) -> DataFrame:
    """The landed doc set (committed blocks only)."""
    dirs = landed_block_dirs(store_dir)
    if not dirs:
        raise FileNotFoundError(store_dir)
    return spark.read.option("basePath", store_dir).parquet(*dirs)
