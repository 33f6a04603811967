"""StreamingQueryProgress capture for the bench/diagnosis lane.

The round-12 BASELINE re-pin of the stream-stream interval joins
(stream_attribution 12.8 -> 17.8 s, the outer form 19.2 -> 25.7 s,
query code untouched since r9) was justified only by hypothesis
("plausibly testdata/stat drift").  Round-13 evidence killed that
hypothesis — the sf0.1 gate row counts for every streaming entry are
IDENTICAL across the r10/r11/r12 artifacts — which leaves the
runtime itself: to localize where a streaming second goes, the run
must record its own ``StreamingQueryProgress``.

``snapshot(q)`` turns a finished query's ``recentProgress`` into a
compact dict: micro-batch count, input rows, state rows/memory, and
the summed ``durationMs`` components (``addBatch`` = data work;
``walCommit``/``commitOffsets``/state commit = checkpoint IO — the
component that moves under host commit-latency contention while
data work stands still).  Entry runners store it as the current
run's ``stats["progress"]`` (see ``tmpdirs``); tools/streambench.py
embeds the winning pass's snapshot in its JSON line, so
STREAMBENCH_r13 onward a step change carries its own attribution.
"""

from __future__ import annotations


def snapshot(q) -> dict:
    """Summarize a (terminated) StreamingQuery's recentProgress."""
    out: dict = {
        "batches": 0,
        "input_rows": 0,
        "state_rows_max": 0,
        "state_mem_bytes_max": 0,
        "duration_ms": {},
    }
    for p in q.recentProgress or []:
        out["batches"] += 1
        out["input_rows"] += int(p.get("numInputRows") or 0)
        for so in p.get("stateOperators") or []:
            out["state_rows_max"] = max(
                out["state_rows_max"], int(so.get("numRowsTotal") or 0)
            )
            out["state_mem_bytes_max"] = max(
                out["state_mem_bytes_max"],
                int(so.get("memoryUsedBytes") or 0),
            )
            # state-store TIME lives inside addBatch, invisible to
            # durationMs: commitTimeMs is the per-partition provider
            # snapshot/delta write (the IO-latency component),
            # allUpdatesTimeMs/allRemovalsTimeMs the in-memory work
            for k in (
                "commitTimeMs",
                "allUpdatesTimeMs",
                "allRemovalsTimeMs",
            ):
                out["duration_ms"]["state_" + k] = out[
                    "duration_ms"
                ].get("state_" + k, 0) + int(so.get(k) or 0)
        for k, v in (p.get("durationMs") or {}).items():
            out["duration_ms"][k] = out["duration_ms"].get(k, 0) + int(v)
    return out
