"""Bench regression check against the same-host baseline lanes.

    python tools/bench_alert.py BENCH.json [STREAMBENCH.json]

BENCH.json is the line `python bench.py` prints, STREAMBENCH.json the
line `python tools/streambench.py` prints.  Each is compared with its
baseline lane in the repo root, BASELINE_bench.json or
BASELINE_streambench.json (BASELINE.md says how they were recorded).
The exit status is non-zero when:

- a query's min is more than 2x its baseline min;
- the batch total over the baseline's batch queries is more than 1.5x
  the baseline's total;
- a baseline query of a given lane has no measurement (fail closed:
  OK means every baseline query was checked);
- a lane's `host` or scale factor differs from its baseline's (no
  verdict: walls from different hosts or scales do not compare).

Queries the baseline lacks are listed as information only.  A
streaming lane that is not given is not checked, and the summary says
so.
"""

from __future__ import annotations

import json
import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
QUERY_RATIO = 2.0
TOTAL_RATIO = 1.5


def load(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def baseline(lane: str) -> dict:
    """The committed baseline lane, `lane` being bench or streambench."""
    return load(os.path.join(REPO, f"BASELINE_{lane}.json"))


def compare(cur: dict, base: dict, report: dict) -> None:
    """Add `cur`'s per-query crossings, unmeasured baseline queries,
    unpinned queries and largest ratio to `report`."""
    if cur.get("host") is None or cur["host"] != base.get("host"):
        sys.exit("no verdict: lane and baseline are from different hosts")
    if cur.get("sf") != base.get("sf"):
        sys.exit("no verdict: lane and baseline are at different scale factors")
    queries, pins = cur["queries"], base["queries"]
    for name, t in sorted(queries.items()):
        pin = pins.get(name)
        if pin is None:
            report["unpinned"].append(name)
            continue
        ratio = t / pin
        if ratio > report["max_ratio"][1]:
            report["max_ratio"] = (name, round(ratio, 3))
        if ratio > QUERY_RATIO:
            report["alerts"].append(
                {"query": name, "sec": t, "baseline": pin, "ratio": round(ratio, 3)}
            )
    report["missing"] += sorted(set(pins) - set(queries))
    report["checked"] += len(set(pins) & set(queries))


def check(bench_path: str, stream_path: str | None = None) -> dict:
    """Compare the lanes at the given paths with their baselines."""
    report: dict = {
        "alerts": [],
        "missing": [],
        "unpinned": [],
        "max_ratio": (None, 0.0),
        "checked": 0,
    }
    cur, base = load(bench_path), baseline("bench")
    compare(cur, base, report)

    total = round(sum(cur["queries"].get(n, 0.0) for n in base["queries"]), 3)
    report["total"] = {"sec": total, "baseline": base["value"]}
    if total > TOTAL_RATIO * base["value"]:
        report["alerts"].append(
            {
                "query": "<batch total>",
                "sec": total,
                "baseline": base["value"],
                "ratio": round(total / base["value"], 3),
            }
        )

    if stream_path is not None:
        compare(load(stream_path), baseline("streambench"), report)
    report["streaming_checked"] = stream_path is not None
    report["ok"] = not report["alerts"] and not report["missing"]
    return report


def main() -> None:
    args = sys.argv[1:]
    if len(args) not in (1, 2):
        sys.exit(__doc__)
    report = check(*args)

    for a in report["alerts"]:
        print(
            f"ALERT {a['query']}: {a['sec']} s is {a['ratio']}x"
            f" its baseline {a['baseline']} s"
        )
    if report["unpinned"]:
        print(
            f"unpinned ({len(report['unpinned'])}, not checked):"
            f" {', '.join(report['unpinned'])}"
        )
    if report["missing"]:
        print(
            f"MISSING {len(report['missing'])} baseline queries with no"
            f" measurement: {', '.join(report['missing'])}"
        )
    name, ratio = report["max_ratio"]
    t = report["total"]
    print(
        f"largest per-query ratio {ratio}x ({name}); batch total"
        f" {t['sec']} s vs baseline {t['baseline']} s"
        f" ({t['sec'] / t['baseline']:.3f}x)"
    )
    if not report["streaming_checked"]:
        print("streaming lane not given: streaming queries not checked")
    if not report["ok"]:
        sys.exit(
            f"{len(report['alerts'])} alert(s),"
            f" {len(report['missing'])} unmeasured baseline queries"
        )
    print(f"OK: all {report['checked']} baseline queries checked")


if __name__ == "__main__":
    main()
