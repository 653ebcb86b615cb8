#!/usr/bin/env python3
"""Alternating A/B pairs of the benchmark: a parent revision against the working tree.

    python3 tools/ab_pairs.py <parent-rev> --workload W --pairs N --seed0 S
        [--out bench/NAME_ab.jsonl]

Run from anywhere inside the repository. The parent revision is extracted
(`git archive`) into a temporary directory; the change side is the working
tree. Pair i runs `perfbench/run.py --workload W --seed S+i --seconds T
--trace 0` once on each side, T being BENCHMARK.json's `run_seconds`, the
parent first on even pairs and the change first on odd ones. Each run is
appended to --out as one JSON line tagged `side` (`parent` or `change`),
`workload` and `seed`, the format of the other `bench/*_ab.jsonl` files.

It then takes every record of the workload in --out whose seed has both
sides, runs `perfbench/compare.py` on the parent's runs against the
change's (each end-to-end metric's median [q1, q3] per side, the change of
the medians, WORSE past the metric's bound), and prints the pairs the
change won per metric and the failed operations per side. `--pairs 0` only
prints that summary. Exits 1 on a WORSE metric or a failed run.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

RUN_TIMEOUT_S = 1500  # one run, the first of a side building graft too


def git(root, *args):
    return subprocess.run(("git", "-C", root) + args, check=True,
                          capture_output=True, text=True).stdout


def perfbench(root, script, *args, **kw):
    """Run perfbench/`script` of checkout `root`, writing no bytecode
    cache under perfbench/ for the modules it imports."""
    env = dict(os.environ, PYTHONDONTWRITEBYTECODE="1")
    return subprocess.run([sys.executable, os.path.join(root, "perfbench", script)]
                          + list(args), cwd=root, env=env, stdin=subprocess.DEVNULL,
                          text=True, **kw)


def bench_run(root, workload, seed, seconds):
    """One untraced benchmark run in checkout `root`; its result dict."""
    p = perfbench(
        root, "run.py", "--workload", workload, "--seed", str(seed),
        "--seconds", str(seconds), "--trace", "0",
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, timeout=RUN_TIMEOUT_S)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        result = None
    if p.returncode != 0 or not isinstance(result, dict) or "metrics" not in result:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"ab_pairs: run failed in {root} (exit {p.returncode})")
    return result


def report(root, spec, out, workload):
    """Print the pair summary of `workload` in `out`; True when no metric
    is worse than its bound and no run failed."""
    by_seed = {}
    with open(out) as f:
        for line in f:
            if line.strip():
                r = json.loads(line)
                if r.get("workload") == workload and not r.get("trace"):
                    by_seed.setdefault(r["seed"], {})[r["side"]] = r
    pairs = [(s, v["parent"], v["change"]) for s, v in sorted(by_seed.items())
             if "parent" in v and "change" in v]
    if not pairs:
        print(f"== {workload}: no complete pair in {out}")
        return False
    print(f"{len(pairs)} {workload} pairs, seeds {pairs[0][0]}-{pairs[-1][0]} ({out}); "
          "base = parent, new = change", flush=True)
    with tempfile.TemporaryDirectory(prefix="ab_pairs_") as tmp:
        sides = []
        for i, side in ((1, "parent"), (2, "change")):
            sides.append(os.path.join(tmp, side + ".jsonl"))
            with open(sides[-1], "w") as f:
                f.writelines(json.dumps(p[i]) + "\n" for p in pairs)
        ok = perfbench(root, "compare.py", *sides).returncode == 0
    print("  pairs the change won:")
    for m in spec["end_to_end"]:
        name, lower = m["name"], m["better"] == "lower"
        rows = [(a["result"]["metrics"][name]["value"], b["result"]["metrics"][name]["value"])
                for _, a, b in pairs
                if name in a["result"]["metrics"] and name in b["result"]["metrics"]]
        if rows:
            won = sum(1 for a, b in rows if (b < a if lower else b > a))
            print(f"    {name:28s} {won:3d}/{len(rows)}")
    for side, i in (("parent", 1), ("change", 2)):
        attempted = sum(p[i]["result"].get("attempted", 0) for p in pairs)
        failed = sum(p[i]["result"].get("failed", 0) for p in pairs)
        wrong = sum(1 for p in pairs if not p[i]["result"].get("correct", False))
        print(f"  {side}: {failed}/{attempted} operations failed, "
              f"{wrong} incorrect runs")
        ok = ok and failed == 0 and wrong == 0
    return ok


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("parent_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", type=int, required=True)
    ap.add_argument("--seed0", type=int, required=True)
    ap.add_argument("--out", default="bench/pairs_ab.jsonl")
    args = ap.parse_args()

    root = git(os.getcwd(), "rev-parse", "--show-toplevel").strip()
    out = os.path.join(root, args.out) if not os.path.isabs(args.out) else args.out
    if os.path.commonpath([out, os.path.join(root, "perfbench")]) == \
            os.path.join(root, "perfbench"):
        raise SystemExit("ab_pairs: --out must not be under perfbench/")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        raise SystemExit(f"ab_pairs: unknown workload {args.workload}")
    seconds = spec["run_seconds"]

    if args.pairs > 0:
        rev = git(root, "rev-parse", "--verify", args.parent_rev + "^{commit}").strip()
        tmp = tempfile.mkdtemp(prefix="ab_pairs_")
        try:
            parent = os.path.join(tmp, "parent")
            os.makedirs(parent)
            archive = subprocess.Popen(["git", "-C", root, "archive", rev],
                                       stdout=subprocess.PIPE)
            subprocess.run(["tar", "-x", "-C", parent], stdin=archive.stdout,
                           check=True)
            if archive.wait() != 0:
                raise SystemExit(f"ab_pairs: git archive {rev} failed")
            sides = {"parent": parent, "change": root}
            for i in range(args.pairs):
                seed = args.seed0 + i
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    print(f"ab_pairs: pair {i + 1}/{args.pairs} seed {seed} {side}",
                          file=sys.stderr, flush=True)
                    result = bench_run(sides[side], args.workload, seed, seconds)
                    rec = {"side": side, "workload": args.workload, "seed": seed,
                           "trace": 0, "seconds": seconds, "result": result}
                    with open(out, "a") as f:
                        f.write(json.dumps(rec) + "\n")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    return 0 if report(root, spec, out, args.workload) else 1


if __name__ == "__main__":
    sys.exit(main())
