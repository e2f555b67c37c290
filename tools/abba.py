#!/usr/bin/env python3
"""Interleaved A/B comparison of two checkouts on the perfbench benchmark.

    python3 tools/abba.py PARENT_DIR CHANGE_DIR --workload serve \
        --seeds 51-60 [--out runs.jsonl]
    python3 tools/abba.py --report runs.jsonl

Each directory is a clean checkout (`git archive <rev> | tar -x -C <dir>`,
not a worktree). Both are built first (`perfbench/build.py`), then every
seed is one pair: `python3 perfbench/run.py --trace 0` runs once in each
checkout for the parent's BENCHMARK.json `run_seconds`, parent first on even
pairs and change first on odd ones, so host drift hits both sides alike. Each run's result line is appended to `--out` as it
arrives; `--report` re-reads such a file.

The report gives, per `end_to_end` metric of BENCHMARK.json: each side's median and
quartiles, the median change, the pairs the change won (ties count for
neither side), and a verdict. For a metric with a bound: "worse" when the
change's median is worse than the parent's by more than the bound,
"unresolved" when the parent's own interquartile range exceeds the bound
(unless every change run beats every parent run), else "within bound";
"gain" marks a change that won at least 9 in 10 pairs by a median gap
larger than the parent's interquartile range. Failed operations are
summed per side; when the change's share of failed operations over
attempted ones is above the parent's, every metric's verdict is "more
failed ops", whatever the metric shows, because a benchmark run with more
failures does not count. A run that exits non-zero is recorded and
reported.
"""

import argparse
import json
import os
import subprocess
import sys


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return float("nan")
    pos = (len(s) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (pos - lo)


def parse_seeds(text):
    seeds = []
    for part in text.split(","):
        if "-" in part:
            a, b = part.split("-")
            seeds += range(int(a), int(b) + 1)
        else:
            seeds.append(int(part))
    return seeds


def run_one(checkout, workload, seed, seconds):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE,
                       stderr=subprocess.PIPE, text=True)
    lines = [ln for ln in p.stdout.splitlines() if ln.startswith('{"correct"')]
    if p.returncode != 0 or not lines:
        return {"error": "exit %d: %s" % (p.returncode, p.stderr[-500:])}
    return json.loads(lines[-1])


def measure(a, spec):
    for d in (a.parent, a.change):
        subprocess.run([sys.executable, "perfbench/build.py"], cwd=d,
                       check=True, stdout=subprocess.DEVNULL)
    records = []
    with open(a.out, "a") as out:
        for i, seed in enumerate(parse_seeds(a.seeds)):
            sides = [("parent", a.parent), ("change", a.change)]
            for side, d in (sides if i % 2 == 0 else sides[::-1]):
                res = run_one(d, a.workload, seed, spec["run_seconds"])
                rec = {"workload": a.workload, "seed": seed, "side": side,
                       "result": res}
                out.write(json.dumps(rec) + "\n")
                out.flush()
                records.append(rec)
                print("pair %d seed %d %s: %s" % (
                    i, seed, side, "failed run" if "error" in res
                    else "failed=%d" % res["failed"]), flush=True)
    return records


def load_spec(checkout):
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        return json.load(f)


def report(records, metrics):
    by = {}
    for r in records:
        by.setdefault(r["workload"], {}).setdefault(r["seed"], {})[r["side"]] = r["result"]
    for workload, seeds in sorted(by.items()):
        pairs = {s: v for s, v in seeds.items()
                 if all(k in v and "error" not in v[k] for k in ("parent", "change"))}
        broken = sum("error" in v for s in seeds.values() for v in s.values())
        failed = {side: sum(v[side]["failed"] for v in pairs.values())
                  for side in ("parent", "change")}
        attempted = {side: sum(v[side].get("attempted", 0) for v in pairs.values())
                     for side in ("parent", "change")}
        share = {side: failed[side] / attempted[side] if attempted[side] else 0.0
                 for side in ("parent", "change")}
        more_failed = share["change"] > share["parent"]
        print("\n%s: %d pairs (seeds %s), failed ops parent %d/%d change %d/%d, "
              "runs that did not finish %d" % (
                  workload, len(pairs), ",".join(map(str, sorted(pairs))),
                  failed["parent"], attempted["parent"],
                  failed["change"], attempted["change"], broken))
        print("| metric | parent median [q1, q3] | change median [q1, q3] "
              "| median change | change wins | verdict |")
        print("|---|---|---|---|---|---|")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            vals = {side: [v[side]["metrics"][name]["value"] for v in pairs.values()
                           if name in v[side]["metrics"]]
                    for side in ("parent", "change")}
            p, c = vals["parent"], vals["change"]
            if not p or not c:
                continue
            pm, cm = quantile(p, 0.5), quantile(c, 0.5)
            piqr = quantile(p, 0.75) - quantile(p, 0.25)
            wins = sum((v["change"]["metrics"][name]["value"] <
                        v["parent"]["metrics"][name]["value"]) == lower and
                       v["change"]["metrics"][name]["value"] !=
                       v["parent"]["metrics"][name]["value"]
                       for v in pairs.values())
            rel = (cm - pm) / pm if pm else 0.0
            worse = rel if lower else -rel
            verdict = ""
            if more_failed:
                verdict = "more failed ops (%.2f%% vs %.2f%%)" % (
                    100 * share["change"], 100 * share["parent"])
            elif wins >= 0.9 * len(pairs) and abs(cm - pm) > piqr:
                verdict = "gain"
            elif "bound" in m:
                spread = piqr / abs(pm) if pm else 0.0
                all_better = (max(c) < min(p)) if lower else (min(c) > max(p))
                if spread > m["bound"] and not all_better:
                    verdict = "unresolved (parent IQR %.0f%% > bound %.0f%%)" % (
                        100 * spread, 100 * m["bound"])
                elif worse > m["bound"]:
                    verdict = "worse (bound %.0f%%)" % (100 * m["bound"])
                else:
                    verdict = "within bound"
            print("| `%s` | %.4g [%.4g, %.4g] | %.4g [%.4g, %.4g] | %+.1f%% | %d/%d | %s |" % (
                name, pm, quantile(p, 0.25), quantile(p, 0.75),
                cm, quantile(c, 0.25), quantile(c, 0.75),
                100 * rel, wins, len(pairs), verdict))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--seeds", help="e.g. 51-60 or 51,53,55")
    ap.add_argument("--out", default="abba-runs.jsonl")
    ap.add_argument("--report", metavar="RUNS_JSONL",
                    help="report saved runs instead of measuring")
    a = ap.parse_args()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if a.report:
        with open(a.report) as f:
            records = [json.loads(ln) for ln in f if ln.strip()]
        report(records, load_spec(root)["end_to_end"])
        return
    if not (a.parent and a.change and a.workload and a.seeds):
        ap.error("PARENT_DIR, CHANGE_DIR, --workload and --seeds are required")
    spec = load_spec(a.parent)
    records = measure(a, spec)
    report(records, spec["end_to_end"])


if __name__ == "__main__":
    main()
