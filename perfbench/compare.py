"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE_DIR NEW_DIR

Each directory holds the captured standard output of runs of
``perfbench/run.py`` (one file per run, any name; the ``report:`` line
and the final JSON line are read from it). For every workload and
end-to-end metric the table shows each side's median and quartiles, the
change of the median, and a verdict against the metric's ``bound`` in
``BENCHMARK.json``:

- ``worse``: the new median is worse than the base median by more
  than the bound;
- ``unresolved``: either side's spread (quartile distance over median)
  is wider than the bound, and not every new run beats every base run;
- ``ok`` otherwise.

For traced runs (``--trace 1``) it then prints each span's self time per
call on both sides, largest change first, and, when a side holds both
traced and untraced runs of a workload, the tracing overhead (traced
``wall_s`` minus untraced ``wall_s``).
"""

from __future__ import annotations

import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load_runs(path: str) -> list[dict]:
    """One dict per run: workload, traced flag, metrics, report."""
    files = (
        [os.path.join(path, f) for f in sorted(os.listdir(path))]
        if os.path.isdir(path) else [path]
    )
    runs = []
    for f in files:
        with open(f) as fh:
            lines = [ln for ln in fh.read().splitlines() if ln.strip()]
        if len(lines) < 2 or not lines[-2].startswith("report: "):
            continue
        report = json.loads(lines[-2][len("report: "):])
        result = json.loads(lines[-1])
        runs.append({
            "workload": report["workload"],
            "traced": "spans" in report,
            "metrics": {k: v["value"] for k, v in result["metrics"].items()},
            "report": report,
            "failed": result["failed"],
        })
    return runs


def quartiles(vals: list[float]) -> tuple[float, float, float]:
    if len(vals) == 1:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def spread(vals: list[float]) -> float:
    q1, med, q3 = quartiles(vals)
    return (q3 - q1) / med if med else 0.0


def verdict(base: list[float], new: list[float], better: str, bound: float) -> str:
    mb, mn = statistics.median(base), statistics.median(new)
    worse_by = (mn - mb) / mb if better == "lower" else (mb - mn) / mb
    if worse_by > bound:
        return "worse"
    all_better = (max(new) < min(base)) if better == "lower" else (min(new) > max(base))
    if max(spread(base), spread(new)) > bound and not all_better:
        return "unresolved"
    return "ok"


def self_per_call(run: dict) -> dict[str, float]:
    return {name: r["self_s"] / r["calls"]
            for name, r in run["report"]["spans"].items() if r["calls"]}


def main(argv=None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    base, new = load_runs(argv[0]), load_runs(argv[1])
    workloads = [w["name"] for w in spec["workloads"]]
    fmt = "{:<14} {:<22} {:>30} {:>30} {:>8} {}"
    print(fmt.format("workload", "metric", "base q1/median/q3",
                     "new q1/median/q3", "change", "verdict"))
    for wl in workloads:
        b = [r for r in base if r["workload"] == wl and not r["traced"]]
        n = [r for r in new if r["workload"] == wl and not r["traced"]]
        if not b or not n:
            continue
        for m in spec["end_to_end"]:
            bv = [r["metrics"][m["name"]] for r in b]
            nv = [r["metrics"][m["name"]] for r in n]
            qb, qn = quartiles(bv), quartiles(nv)
            change = (qn[1] - qb[1]) / qb[1] if qb[1] else 0.0
            print(fmt.format(
                wl, m["name"],
                "{:.4g}/{:.4g}/{:.4g}".format(*qb),
                "{:.4g}/{:.4g}/{:.4g}".format(*qn),
                f"{change:+.1%}", verdict(bv, nv, m["better"], m["bound"])))
        failed = sum(r["failed"] for r in n) - sum(r["failed"] for r in b)
        if failed:
            print(f"{wl}: new side has {failed:+d} failed ops")
    for wl in workloads:
        bt = [r for r in base if r["workload"] == wl and r["traced"]]
        nt = [r for r in new if r["workload"] == wl and r["traced"]]
        if bt and nt:
            print(f"\n{wl}: self time per call (median over traced runs)")
            names = set().union(*(self_per_call(r) for r in bt + nt))
            rows = []
            for name in names:
                sb = statistics.median(self_per_call(r).get(name, 0.0) for r in bt)
                sn = statistics.median(self_per_call(r).get(name, 0.0) for r in nt)
                rows.append((abs(sn - sb), name, sb, sn))
            for _, name, sb, sn in sorted(rows, reverse=True):
                print(f"  {name:<58} {sb:9.4f}s {sn:9.4f}s {sn - sb:+9.4f}s")
        for side, runs in (("base", base), ("new", new)):
            t = [r["metrics"]["trace.wall_s"] for r in runs
                 if r["workload"] == wl and r["traced"]]
            u = [r["metrics"]["wall_s"] for r in runs
                 if r["workload"] == wl and not r["traced"]]
            if t and u:
                print(f"{wl} {side}: tracing overhead "
                      f"{statistics.median(t) - statistics.median(u):+.4f}s "
                      f"(traced wall_s {statistics.median(t):.4f}s, "
                      f"untraced {statistics.median(u):.4f}s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
