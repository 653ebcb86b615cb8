#!/usr/bin/env python3
"""Compare two sets of benchmark runs.

    python3 perfbench/compare.py BASE.jsonl NEW.jsonl

Each file holds the records `run.py --save FILE` appends, one run per line.
For every workload and end-to-end metric in BENCHMARK.json it prints both
sets' median and quartiles, the change of the medians, and whether the two
agree within the metric's bound (a change in the better direction always
agrees). For traced runs it prints the per-layer metrics side by side, counts
(jobs, stages, tasks, exchanges, shuffle and scan bytes) first: these repeat
exactly between runs of the same code, so any difference is a real change.
When one set holds both untraced and traced runs of a workload, it also
prints the tracing overhead: the traced runs' end-to-end medians against
the untraced ones.

Exits 1 when any end-to-end metric is worse than its bound allows.
"""
import collections
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
COUNT_UNITS = {"count", "B", "rows"}


def load(path):
    runs = collections.defaultdict(lambda: {"e2e": [], "layers": [], "traced_e2e": []})
    with open(path) as f:
        for line in f:
            if not line.strip():
                continue
            r = json.loads(line)
            values = {k: v["value"] for k, v in r["result"]["metrics"].items()}
            w = runs[r["workload"]]
            if r["trace"]:
                w["layers"].append(values)
                if "end_to_end_traced" in r:
                    w["traced_e2e"].append(
                        {k: v["value"] for k, v in r["end_to_end_traced"].items()})
            else:
                w["e2e"].append(values)
    return runs


def load_spec():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def summary(xs):
    """(median, q1, q3) as statistics.quantiles gives them."""
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, med, q3 = statistics.quantiles(xs, n=4)
    return statistics.median(xs), q1, q3


def column(rows, name):
    return [r[name] for r in rows if r.get(name) is not None]


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    spec = load_spec()
    layers = json.load(open(os.path.join(BENCH, "layers.json")))
    base, new = load(sys.argv[1]), load(sys.argv[2])
    worse = 0
    for w in [x["name"] for x in spec["workloads"]]:
        a, b = base.get(w), new.get(w)
        if not a or not b:
            print(f"== {w}: missing from {'base' if not a else 'new'} set")
            continue
        print(f"== {w}: {len(a['e2e'])} base / {len(b['e2e'])} new untraced runs")
        print(f"  {'metric':28s} {'base median [q1, q3]':>30s} {'new median [q1, q3]':>30s} {'change':>8s}")
        for m in spec["end_to_end"]:
            xa, xb = column(a["e2e"], m["name"]), column(b["e2e"], m["name"])
            if not xa or not xb:
                continue
            ma, qa1, qa3 = summary(xa)
            mb, qb1, qb3 = summary(xb)
            change = (mb - ma) / ma
            loss = change if m["better"] == "lower" else -change
            verdict = "ok" if loss <= m["bound"] else "WORSE"
            worse += verdict != "ok"
            print(f"  {m['name']:28s} {ma:12.5g} [{qa1:.5g}, {qa3:.5g}]".ljust(61)
                  + f" {mb:12.5g} [{qb1:.5g}, {qb3:.5g}]".ljust(31)
                  + f" {change:+8.1%}  {verdict} (bound {m['bound']:.0%}, {m['unit']})")
        if a["layers"] and b["layers"]:
            print(f"  per layer, {len(a['layers'])} base / {len(b['layers'])} new traced runs:")
            ordered = sorted(spec["per_layer"], key=lambda m: m["unit"] not in COUNT_UNITS)
            for m in ordered:
                xa, xb = column(a["layers"], m["name"]), column(b["layers"], m["name"])
                if not xa or not xb:
                    continue
                ma, mb = statistics.median(xa), statistics.median(xb)
                diff = "same" if ma == mb else f"{mb - ma:+.5g}"
                moves = ", ".join(layers.get(m["name"], {}).get("moves", []))
                print(f"    {m['name']:28s} {ma:12.5g} {mb:12.5g}  {diff:>10s} {m['unit']:6s} -> {moves}")
        for label, s in (("base", a), ("new", b)):
            if s["e2e"] and s["traced_e2e"]:
                print(f"  tracing overhead ({label}): "
                      + tracing_overhead(spec, s["e2e"], s["traced_e2e"]))
    return 1 if worse else 0


def tracing_overhead(spec, untraced, traced):
    """Change of each end-to-end median when the same workload runs traced."""
    parts = []
    for m in spec["end_to_end"]:
        xu, xt = column(untraced, m["name"]), column(traced, m["name"])
        if xu and xt:
            mu = statistics.median(xu)
            parts.append(f"{m['name']} {(statistics.median(xt) - mu) / mu:+.1%}")
    return ", ".join(parts)


if __name__ == "__main__":
    sys.exit(main())
