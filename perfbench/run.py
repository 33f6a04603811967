"""Benchmark runner for bugzilla_etl_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload full_history --seed 1 \
        --seconds 10 --trace 0

Workloads: full_history, incremental_cycles, corpus_dedup (see
BENCHMARK.json for why each exists). One run is one fresh process with
one Spark session on ``local[nproc]``: it generates the inputs from
the seed, sets up and warms up, then runs ops back to back (one
closed-loop client) until at least ``MIN_OPS`` ops have run and
``--seconds`` have passed, checking each op's output. With
``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` it carries the per-layer metrics, and the run also
prints the per-layer table and the tracing overhead against an
untraced run of the same workload and seed, when one has been made in
this checkout. The traced full_history run ends with a streaming
phase (``STREAM_PHASE``) that measures the incremental writer.

All files go under ``.perfbench/`` in the checkout: scratch data
(removed at the end of the run), and ``results/`` with one JSON
record per run (host, settings, seed, input properties, metrics and
op times) plus the trace spans of traced runs.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

from spans import Tracer

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
RESULTS = os.path.join(OUT, "results")
DEADLINE_S = 170  # a run must end within 180 s

# workload -> (class, constructor sizes, warm-up ops). The first
# warm-up op is the cold one; the one after it can still run slower
# (see steadiness.py's first-op ratio). BENCHMARK.json lists full_history
# and corpus_dedup; incremental_cycles runs the same way but is not in
# the benchmark's timed set: its per-layer metrics come from the
# streaming phase of the traced full_history run (STREAM_PHASE).
HISTORY = dict(n_bugs=200, n_events=8_000, max_changes=2000)
WORKLOADS = {
    "full_history": ("FullHistory", HISTORY, 2),
    "corpus_dedup": ("CorpusDedup", dict(n_docs=160), 2),
    "incremental_cycles": (
        "IncrementalCycles", dict(HISTORY, share=0.01), 2,
    ),
}
# every run times at least this many ops, however short --seconds is
MIN_OPS = 3
# workload -> (class, sizes, warm-up ops) of the streaming phase that
# follows its traced run: a smaller change log landed through the
# streaming writer, then incremental cycles timed like ops
STREAM_PHASE = {
    "full_history": (
        "IncrementalCycles",
        dict(n_bugs=200, n_events=5000, max_changes=1000, share=0.01), 1,
    ),
}

STREAM = "streaming.incremental_versions"
PAIRS = "operators.dedup.jaccard_pairs_invindex"
# the per-layer metrics of BENCHMARK.json: per layer, the call
# metrics that are measured on its workload and not always zero there
CALLS = ("wall_s", "self_s", "builder_s", "jobs", "tasks", "executor_run_s",
         "busy_frac", "shuffle_write_bytes", "shuffle_records", "rows_out")
LAYER_METRICS = {
    "session": ("wall_s",),
    "operators.alias": CALLS,
    "operators.backfill": tuple(m for m in CALLS if m != "builder_s"),
    "plans.queries_history.build_full_docs": CALLS,
    STREAM: tuple(m for m in CALLS if m != "builder_s") + (
        "query_start_s", "add_batch_s", "commit_overhead_s",
        "buckets_rewritten", "store_bytes_read",
        "docs_rewritten_per_touched"),
    "operators.dedup.exact_groups": CALLS,
    PAIRS: CALLS + ("pairs_per_shuffle_record",),
    "operators.dedup.neardup_components": CALLS,
    "sinks": ("bytes_written", "files_written"),
}
UNITS = {
    "wall_s": "s", "self_s": "s", "builder_s": "s", "jobs": "count",
    "tasks": "count", "executor_run_s": "s", "busy_frac": "ratio",
    "shuffle_write_bytes": "B", "shuffle_records": "count",
    "spill_bytes": "B", "rows_out": "rows",
    "query_start_s": "s", "add_batch_s": "s", "commit_overhead_s": "s",
    "buckets_rewritten": "count", "store_bytes_read": "B",
    "docs_rewritten_per_touched": "ratio",
    "pairs_per_shuffle_record": "ratio",
    "bytes_written": "B", "files_written": "count",
}


def per_layer_names() -> list[tuple[str, str]]:
    """The per-layer metrics of BENCHMARK.json, with their units."""
    return [(f"{layer}.{m}", UNITS[m])
            for layer, ms in LAYER_METRICS.items() for m in ms]


END_TO_END = (
    ("setup_s", "s"),
    ("rows_per_s", "rows/s"),
    ("op_p50_s", "s"),
    ("bytes_written_per_doc", "B/doc"),
)


def process_age_s() -> float:
    """Seconds since this process started, interpreter start included."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# The JVM compiles with C1 only. Under the default tiered compilation,
# C2 keeps recompiling for ten ops and more: full_history ops measured
# 9.4, 8.3, 7.5, 6.9 ... 5.6 s on a 4-core host, a slope no run can
# wait out. C1 code is somewhat slower at steady state, which the
# benchmark accepts: it compares commits with each other. C1 alone
# needs more code cache than its 48 MB default.
# The heap starts at its full size with every page touched: a heap
# that grows during the first ops made them slower (corpus_dedup after
# the cold op: 8.8, 7.3, 6.4, 6.2, 5.9 s; with -Xms and pre-touch:
# 6.6, 6.5, 6.7, 6.4 s). The size matches SPARK_DRIVER_MEM below.
# -UsePerfData keeps the JVM from writing /tmp/hsperfdata_<user>.
JVM_OPTS = ("-XX:TieredStopAtLevel=1 -XX:ReservedCodeCacheSize=512m "
            "-Xms3g -XX:+AlwaysPreTouch -XX:-UsePerfData")


def prepare_env(work: str) -> None:
    """Keep every file Spark and the package write inside ``work`` and
    size the session to this host (``get_spark`` would default to
    ``local[32]``)."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(cpus()),
        SPARK_DRIVER_MEM="3g",
        SPARK_WAREHOUSE_DIR=os.path.join(work, "warehouse"),
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        PYSPARK_SUBMIT_ARGS=(
            "--conf spark.ui.showConsoleProgress=false --driver-java-options"
            f' "-Djava.io.tmpdir={tmp} {JVM_OPTS}" pyspark-shell'
        ),
    )


def host_info(spark, seed: int, work: str) -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    fs, best = "?", ""
    with open("/proc/mounts") as f:
        for line in f:
            _, mnt, fstype = line.split()[:3]
            if work.startswith(mnt) and len(mnt) > len(best):
                best, fs = mnt, f"{fstype} at {mnt}"
    sc = spark.sparkContext
    return {
        "nproc": cpus(),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": sc._jvm.System.getProperty("java.version"),
        "master": sc.master,
        "shuffle_partitions": spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_memory": sc.getConf().get("spark.driver.memory"),
        "jvm_opts": JVM_OPTS,
        "scratch_fs": fs,
        "seed": seed,
    }


def cpu_ticks() -> tuple[int, int]:
    """Host-wide (steal, total) CPU ticks from /proc/stat. Steal is
    time the hypervisor gave this machine's CPUs to someone else: a
    run that sees much of it was slowed by the host, not the program."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    return t[7], sum(t)


def percentile_tail(walls: list[float]) -> tuple[int, float] | None:
    """The highest whole percentile with at least ten ops above it,
    and its value; None when the run has too few ops."""
    n = len(walls)
    if n < 11:
        return None
    p = (100 * (n - 10)) // n
    return p, statistics.quantiles(walls, n=100)[p - 1]


def stop_spark(spark) -> None:
    """Stop the session and its JVM, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def timed_ops(wl, tracer, prefix: str, n_warm: int, seconds: float,
              trace: bool) -> dict:
    """Warm up with ``n_warm`` ops, then run ops back to back until at
    least MIN_OPS have been attempted and ``seconds`` have passed.
    Every op's output is checked; an op that raises or fails its check
    counts as failed."""
    problems: list[str] = []
    warm: list[float] = []
    for k in range(n_warm):
        tracer.op = f"{prefix}warmup{k}"
        t0 = time.perf_counter()
        res = wl.op(-1 - k)
        warm.append(time.perf_counter() - t0)
        wl.after_op(-1 - k)
        problems += [f"{prefix}warm-up: {p}" for p in res.problems]
    t_setup = process_age_s()
    ops: list[dict] = []
    attempted = failed = 0
    ticks = cpu_ticks()
    t_start = time.perf_counter()
    while attempted < MIN_OPS or time.perf_counter() - t_start < seconds:
        tracer.op = f"{prefix}op{attempted}"
        attempted += 1
        t0 = time.perf_counter()
        try:
            res = wl.op(attempted)
            wall = time.perf_counter() - t0
        except Exception as e:  # noqa: BLE001 — a failed op is counted
            failed += 1
            problems.append(f"{prefix}op {attempted}: {type(e).__name__}: {e}")
            continue
        if res.problems:
            failed += 1
            problems += [f"{prefix}op {attempted}: {p}" for p in res.problems]
        ops.append(dict(id=tracer.op, wall=wall, **vars(res)))
        if trace:
            wl.traced_extras(attempted)
        wl.after_op(attempted)
    steal, total = (b - a for a, b in zip(ticks, cpu_ticks()))
    if not ops:
        raise RuntimeError(f"every op failed: {problems}")
    problems += [f"{prefix}final: {p}" for p in wl.final_check()]
    return dict(ops=ops, warm=warm, attempted=attempted, failed=failed,
                problems=problems, setup_s=t_setup,
                steal_frac=steal / max(1, total))


def layer_medians(tracer, ops: list[dict], layers=None) -> dict:
    """Per layer and metric, the median over ``ops`` of each op's sum
    (``layers``: only these)."""
    per_op = [tracer.layer_metrics(o["id"]) for o in ops]
    for o, m in zip(ops, per_op):
        if PAIRS in m:
            m[PAIRS]["pairs_per_shuffle_record"] = m[PAIRS]["rows_out"] / max(
                1, m[PAIRS]["shuffle_records"])
        m["sinks"] = {k: o[k] for k in ("bytes_written", "files_written")}
    names = {(layer, k) for m in per_op for layer in m for k in m[layer]
             if layers is None or layer in layers}
    return {f"{layer}.{k}": statistics.median(
        m.get(layer, {}).get(k, 0.0) for m in per_op)
        for layer, k in sorted(names)}


def run(workload: str, seed: int, seconds: float, trace: bool) -> dict:
    work = os.path.join(OUT, f"run-{workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    prepare_env(work)
    sys.path.insert(0, ROOT)
    import workloads as W

    tracer = Tracer(trace)
    from bugzilla_etl_spark.session import get_spark

    with tracer.span("session"):
        spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    tracer.bind(spark, cpus())
    try:
        cls, sizes, n_warm = WORKLOADS[workload]
        ctx = W.Ctx(spark, work, seed, tracer)
        wl = getattr(W, cls)(ctx, **sizes)
        props = wl.setup()
        main = timed_ops(wl, tracer, "", n_warm, seconds, trace)
        ops = main["ops"]
        session = tracer.layer_metrics("setup").get("session", {})
        per_layer = {"session.wall_s": session.get("wall_s", 0.0)}
        per_layer.update(layer_medians(tracer, ops))
        stream = None
        if trace and workload in STREAM_PHASE:
            cls, sizes, n_warm = STREAM_PHASE[workload]
            tracer.op = "stream-setup"
            inc = getattr(W, cls)(ctx, **sizes)
            inc.setup()
            stream = timed_ops(inc, tracer, "stream-", n_warm, 0, trace)
            per_layer.update(layer_medians(tracer, stream["ops"], {STREAM}))
        host = host_info(spark, seed, work)
        if trace:
            os.makedirs(RESULTS, exist_ok=True)
            tracer.dump(os.path.join(
                RESULTS, f"spans-{workload}-seed{seed}.jsonl"))
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    walls = [o["wall"] for o in ops]
    e2e = {
        "setup_s": main["setup_s"],
        "rows_per_s": statistics.median(o["rows_in"] / o["wall"] for o in ops),
        "op_p50_s": statistics.median(walls),
        "bytes_written_per_doc": (
            sum(o["bytes_written"] for o in ops)
            / max(1, sum(o["docs"] for o in ops))
        ),
    }
    problems, attempted, failed = (
        main["problems"], main["attempted"], main["failed"])
    if stream:
        problems += stream["problems"]
        attempted += stream["attempted"]
        failed += stream["failed"]
    return dict(
        workload=workload, seed=seed, seconds=seconds, trace=int(trace),
        host=host, inputs=props, warmup_op_s=main["warm"], op_s=walls,
        stream_op_s=[o["wall"] for o in stream["ops"]] if stream else None,
        steal_frac=main["steal_frac"], attempted=attempted, failed=failed,
        problems=problems[:20], end_to_end=e2e, per_layer=per_layer,
        op_tail=percentile_tail(walls),
    )


def report(r: dict) -> None:
    """Human-readable lines; the caller prints the JSON line last."""
    print(f"# {r['workload']} seed={r['seed']} trace={r['trace']}")
    print(f"# host {json.dumps(r['host'])}")
    print(f"# inputs {json.dumps(r['inputs'])}")
    print("# warm-up op s: " + " ".join(f"{w:.2f}" for w in r["warmup_op_s"]))
    print("# timed op s:   " + " ".join(f"{w:.2f}" for w in r["op_s"]))
    if r["stream_op_s"]:
        print("# streaming phase, timed cycle s: "
              + " ".join(f"{w:.2f}" for w in r["stream_op_s"]))
    print(f"# host CPU steal during the timed ops: {r['steal_frac']:.3f}")
    ops = r["op_s"]
    if len(ops) > 1:
        print(f"# first timed op / median of the rest: "
              f"{ops[0] / statistics.median(ops[1:]):.3f}")
    for name, unit in END_TO_END:
        print(f"{name:24s} {r['end_to_end'][name]:14.4f} {unit}"
              + (f"  (median of {len(ops)} ops)" if name == "op_p50_s" else ""))
    tail = r["op_tail"]
    print(f"{'op_tail_s':24s} " + (
        f"{tail[1]:14.4f} s  (p{tail[0]} of {len(ops)} ops)" if tail
        else f"{'n/a':>14s}    ({len(ops)} ops; needs 11)"))
    print(f"{'failed_frac':24s} {r['failed'] / r['attempted']:14.4f} "
          f"ratio  ({r['failed']} of {r['attempted']} ops)")
    for p in r["problems"]:
        print(f"# problem: {p}")
    if not r["trace"]:
        return
    print(f"# per-layer, median over {len(ops)} timed ops (session: its "
          f"one call; {STREAM}: the streaming phase's timed cycles); "
          "zeros left out")
    for name, v in r["per_layer"].items():
        if v:
            unit = UNITS[name.rsplit(".", 1)[1]]
            print(f"{name:66s} {v:16.4f} {unit}")
    base = os.path.join(
        RESULTS, f"{r['workload']}-seed{r['seed']}-trace0.json")
    untraced = None
    if os.path.exists(base):
        with open(base) as f:
            untraced = json.load(f)
    if untraced and untraced["inputs"] == r["inputs"]:
        untraced = untraced["end_to_end"]
        print("# tracing overhead (traced - untraced, same seed):")
        for name, unit in END_TO_END:
            d = r["end_to_end"][name] - untraced[name]
            print(f"overhead.{name:15s} {d:+14.4f} {unit}")
    else:
        print("# tracing overhead: no untraced run of this workload and "
              "seed yet; run with --trace 0 first")


def abort() -> None:
    """Kill the JVM and exit: the run is past its deadline."""
    print(f"perfbench: run exceeded {DEADLINE_S} s", file=sys.stderr)
    gateway = sys.modules.get("pyspark") and __import__(
        "pyspark").SparkContext._gateway
    if gateway is not None and getattr(gateway, "proc", None) is not None:
        gateway.proc.kill()
        gateway.proc.wait()
    os._exit(3)


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "bugzilla_etl_spark",
                                       "__init__.py")):
        print(f"perfbench: no bugzilla_etl_spark package in {ROOT}; run "
              "from a checkout of the repository", file=sys.stderr)
        return 2
    watchdog = threading.Timer(DEADLINE_S, abort)
    watchdog.daemon = True
    watchdog.start()
    r = run(a.workload, a.seed, a.seconds, bool(a.trace))
    watchdog.cancel()
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(
            RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
            "w") as f:
        json.dump(r, f, indent=1)
    report(r)
    chosen = per_layer_names() if a.trace else END_TO_END
    values = r["per_layer"] if a.trace else r["end_to_end"]
    print(json.dumps({
        "correct": not r["problems"],
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": {n: {"value": values.get(n, 0.0), "unit": u}
                    for n, u in chosen},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
