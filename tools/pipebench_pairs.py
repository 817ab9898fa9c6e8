#!/usr/bin/env python3
"""Paired parent/change runs of the pipeline benchmark.

    python3 tools/pipebench_pairs.py --parent <dir> --change <dir> \
        --workload backfill [--workload deep_daily] --pairs 10 --seed 600 \
        [--seconds 10] [--log runs.jsonl]
    python3 tools/pipebench_pairs.py --summarize runs.jsonl

Each pair runs `python3 pipebench/run.py` once in the parent checkout and
once in the change checkout, on the same seed, alternating which side goes
first. Every run is appended to the log as one JSON line. The summary prints,
per workload and end-to-end metric (the `end_to_end` list of the change's
BENCHMARK.json): each side's median and quartiles, the pairs the change won,
and whether two rules hold:

  - nine of ten: the change is better on at least 90 % of the pairs;
  - parent IQR: the medians differ, in the better direction, by more than
    the interquartile range of the parent's runs.

Runs that are not `correct` or report failed operations are listed and left
out of the statistics. Standard library only.
"""
import argparse
import json
import math
import os
import statistics
import subprocess
import sys


def run_once(checkout, workload, seed, seconds):
    """One untraced run; its result JSON, or a failure record."""
    cmd = [sys.executable, os.path.join("pipebench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, stdin=subprocess.DEVNULL,
                       stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or not lines[-1].startswith("{"):
        return {"correct": False, "failed": None, "metrics": {},
                "error": (p.stderr.strip().splitlines() or ["no output"])[-1]}
    return json.loads(lines[-1])


def end_to_end(checkout):
    """(name, better) of the end-to-end metrics BENCHMARK.json declares."""
    with open(os.path.join(checkout, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return [(m["name"], m.get("better", "lower")) for m in spec["end_to_end"]]


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def summarize(records, metrics):
    """Prints the per-workload, per-metric table and the two rules."""
    bad = [r for r in records if not r["result"].get("correct") or r["result"].get("failed")]
    for r in bad:
        print(f"NOT CORRECT: {r['side']} {r['workload']} seed {r['seed']}: "
              f"{r['result'].get('error', 'failed ' + str(r['result'].get('failed')))}")
    ok = [r for r in records if r not in bad]
    for workload in sorted({r["workload"] for r in records}):
        pairs = {}
        for r in ok:
            if r["workload"] == workload:
                pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]["metrics"]
        full = [p for _, p in sorted(pairs.items()) if len(p) == 2]
        print(f"\n{workload}: {len(full)} complete pairs")
        for name, better in metrics:
            got = [(p["parent"][name]["value"], p["change"][name]["value"]) for p in full
                   if name in p["parent"] and name in p["change"]]
            if not got:
                continue
            par = [a for a, _ in got]
            chg = [b for _, b in got]
            sign = 1 if better == "lower" else -1
            wins = sum(1 for a, b in got if sign * (a - b) > 0)
            pm, cm = statistics.median(par), statistics.median(chg)
            (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
            nine = wins >= math.ceil(0.9 * len(got))
            iqr = sign * (pm - cm) > (p3 - p1)
            print(f"  {name} ({better} is better): parent median {pm:.4g} "
                  f"[q1 {p1:.4g}, q3 {p3:.4g}] -> change median {cm:.4g} "
                  f"[q1 {c1:.4g}, q3 {c3:.4g}]; change won {wins}/{len(got)}; "
                  f"nine-of-ten {'holds' if nine else 'fails'}; "
                  f"parent-IQR ({p3 - p1:.4g}) {'holds' if iqr else 'fails'}")
            print("    pairs: " + ", ".join(f"{a:.4g}/{b:.4g}" for a, b in got))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", action="append", default=[])
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=600, help="seed of the first pair")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--log", default="pipebench_pairs.jsonl")
    ap.add_argument("--summarize", metavar="LOG", help="only summarize a log")
    a = ap.parse_args()

    if a.summarize:
        with open(a.summarize) as f:
            records = [json.loads(l) for l in f if l.strip()]
        metrics = records[0].get("metrics_spec") if records else []
        summarize(records, [tuple(m) for m in metrics])
        return
    if not (a.parent and a.change and a.workload):
        ap.error("--parent, --change and --workload are required")
    metrics = end_to_end(a.change)
    records = []
    seed = a.seed
    for workload in a.workload:
        for i in range(a.pairs):
            sides = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in sides:
                result = run_once(getattr(a, side), workload, seed, a.seconds)
                rec = {"workload": workload, "seed": seed, "pair": i, "side": side,
                       "result": result, "metrics_spec": metrics}
                records.append(rec)
                with open(a.log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                op = result.get("metrics", {}).get("op_s_p50", {}).get("value")
                print(f"{workload} pair {i} seed {seed} {side}: op_s_p50 {op} "
                      f"correct {result.get('correct')}", flush=True)
            seed += 1
    summarize(records, metrics)


if __name__ == "__main__":
    main()
