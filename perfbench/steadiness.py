"""Steadiness report: independent sets of benchmark runs per workload.

Run from the root of a checkout:

    python3 perfbench/steadiness.py --sets 2 --runs 5

Each run is a fresh process with its own seed. For every workload and
end-to-end metric the report gives each set's median and quartiles,
the spread (interquartile range over median) of all runs together,
and how far the second set's median moved from the first, both next
to the metric's bound in BENCHMARK.json. To show that no timed op
sits on the JIT warm-up slope it gives, per run, the first timed op
over the median of the later ones, and the median of that ratio over
all runs (above 1: the first timed op is still slower), and it ends
with one longer run per workload (``--probe`` seconds) with the same
ratio. The report is written to
``.perfbench/results/steadiness.json`` as well.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULTS = os.path.join(ROOT, ".perfbench", "results")


def quartiles(v: list[float]) -> tuple[float, float, float]:
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def first_op_ratio(op_s: list[float]) -> float:
    return op_s[0] / statistics.median(op_s[1:])


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"),
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=300)
    if out.returncode != 0:
        raise RuntimeError(f"{cmd} exited {out.returncode}: "
                           f"{out.stderr[-2000:]}")
    line = json.loads(out.stdout.strip().splitlines()[-1])
    with open(os.path.join(
            RESULTS, f"{workload}-seed{seed}-trace0.json")) as f:
        record = json.load(f)
    return dict(seed=seed, correct=line["correct"], failed=line["failed"],
                metrics={k: v["value"] for k, v in line["metrics"].items()},
                warmup_op_s=record["warmup_op_s"], op_s=record["op_s"],
                steal_frac=record["steal_frac"])


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--probe", type=int, default=45)
    a = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = a.workloads.split(",") if a.workloads else [
        w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    higher = {m["name"] for m in bench["end_to_end"]
              if m["better"] == "higher"}
    report = {}
    for w in names:
        sets = []
        for s in range(1, a.sets + 1):
            runs = []
            for i in range(1, a.runs + 1):
                r = one_run(w, 1000 * s + i, bench["run_seconds"])
                print(f"{w} set {s} seed {r['seed']}: "
                      + " ".join(f"{k}={v:.4g}"
                                 for k, v in r["metrics"].items())
                      + "  ops " + " ".join(f"{t:.2f}" for t in r["op_s"])
                      + f"  steal {r['steal_frac']:.3f}",
                      flush=True)
                runs.append(r)
            sets.append(runs)
        everything = [r for runs in sets for r in runs]
        ratios = [first_op_ratio(r["op_s"]) for r in everything]
        rep_ok = all(r["correct"] and not r["failed"] for r in everything)
        rep = {"runs": sets, "metrics": {},
               "first_op_ratio": statistics.median(ratios)}
        for m, bound in bounds.items():
            per_set = [quartiles([r["metrics"][m] for r in runs])
                       for runs in sets]
            q1, med, q3 = quartiles([r["metrics"][m] for r in everything])
            worse = (per_set[-1][1] - per_set[0][1]) / per_set[0][1]
            if m in higher:
                worse = -worse
            rep["metrics"][m] = dict(
                bound=bound, per_set=per_set, spread=(q3 - q1) / med,
                second_vs_first=worse,
            )
        probe = one_run(w, 999, a.probe)
        rep["probe"] = probe
        ops = probe["op_s"]
        rep["all_correct"] = rep_ok and probe["correct"]
        report[w] = rep
        print(f"\n== {w}: {len(everything)} runs, "
              f"all correct: {rep['all_correct']}")
        print(f"{'metric':24s} {'set medians [q1, q3]':48s} "
              f"{'spread':>7s} {'2nd-1st':>8s} {'bound':>6s}")
        for m, d in rep["metrics"].items():
            sets_txt = "  ".join(f"{q2:.4g} [{q1:.4g}, {q3:.4g}]"
                                 for q1, q2, q3 in d["per_set"])
            print(f"{m:24s} {sets_txt:48s} {d['spread']:7.3f} "
                  f"{d['second_vs_first']:+8.3f} {d['bound']:6.2f}")
        print("first timed op / median of the rest, median over runs: "
              f"{rep['first_op_ratio']:.3f} (runs: "
              + " ".join(f"{x:.2f}" for x in ratios) + ")")
        print(f"probe run of {a.probe} s: warm-up op "
              f"{probe['warmup_op_s'][-1]:.2f} s, timed ops "
              + " ".join(f"{t:.2f}" for t in ops))
        print("probe's first timed op / median of the rest: "
              f"{first_op_ratio(ops):.3f}")
    with open(os.path.join(RESULTS, "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
