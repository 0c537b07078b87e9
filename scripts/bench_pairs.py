#!/usr/bin/env python3
"""Run alternating pairs of perfbench/run.py in two graft checkouts.

Usage:
  bench_pairs.py --base <checkout> --change <checkout> --workload <name>
                 --pairs <n> --out <dir> [--seed 1] [--seconds 6] [--trace 0]

Each pair runs the benchmark once in each checkout, with the same workload,
seed and seconds; even pairs run the base first, odd pairs the change first,
so drift over the session falls on both sides alike. Runs are sequential.

Everything goes to --out (never under a checkout's perfbench/):
  runs.jsonl           one line per run: pair, side, position in the pair,
                       exit code, the result object and per-op best times
  logs/pair<i>-<side>.log  that run's .bench_run/harness.log, copied right
                       after the run (the next run in the checkout wipes it)
  summary.txt          what is printed at the end

The summary gives, per metric, each side's median and quartiles, the
relative median change and the change's win count over the pairs where both
sides succeeded (the metric's direction comes from the change's
BENCHMARK.json; unlisted metrics count lower as better). Per op it gives the
median over runs of the op's best time across the measured passes (pass
index >= 0; the warm pass is -1), parsed from harness.log.
"""
import argparse
import json
import os
import re
import shutil
import statistics
import subprocess
import sys

OP_LINE = re.compile(r"^\[perfbench\] op p(-?\d+)\.\d+\.(\S+)\s+([\d.]+) s")


def op_bests(log_path):
    """Best time per op name over the measured passes of one run."""
    best = {}
    with open(log_path) as fh:
        for line in fh:
            m = OP_LINE.match(line)
            if m and int(m.group(1)) >= 0:
                name, t = m.group(2), float(m.group(3))
                best[name] = min(t, best.get(name, t))
    return best


def run_once(checkout, a):
    cmd = [sys.executable, "perfbench/run.py", "--workload", a.workload,
           "--seed", str(a.seed), "--seconds", str(a.seconds), "--trace", str(a.trace)]
    p = subprocess.run(cmd, cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                       stdin=subprocess.DEVNULL, text=True)
    lines = p.stdout.strip().splitlines()
    result = None
    if p.returncode == 0 and lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            pass
    return p.returncode, result, p.stderr


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(checkout):
    path = os.path.join(checkout, "BENCHMARK.json")
    if not os.path.exists(path):
        return {}
    with open(path) as fh:
        spec = json.load(fh)
    return {m["name"]: m.get("better", "lower")
            for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def summarize(records, better):
    out = []
    ok = [r for r in records if r["result"] is not None]
    failed = [r for r in records if r["result"] is None]
    out.append(f"runs: {len(records)}, failed: {len(failed)}"
               + "".join(f"\n  failed: pair {r['pair']} {r['side']} exit {r['exit']}" for r in failed))
    out.append("correct: " + ", ".join(
        f"{s} {sum(r['result']['correct'] for r in ok if r['side'] == s)}/"
        f"{sum(1 for r in ok if r['side'] == s)}" for s in ("base", "change")))
    out.append("failed ops: " + ", ".join(
        f"{s} {sum(r['result']['failed'] for r in ok if r['side'] == s)}/"
        f"{sum(r['result']['attempted'] for r in ok if r['side'] == s)}"
        for s in ("base", "change")))
    by_pair = {}
    for r in ok:
        by_pair.setdefault(r["pair"], {})[r["side"]] = r
    pairs = [p for p in sorted(by_pair) if len(by_pair[p]) == 2]
    metrics = sorted({m for r in ok for m in r["result"]["metrics"]})
    out.append(f"\n{'metric':24} {'base median [q1, q3]':30} {'change median [q1, q3]':30} "
               f"{'delta':>8} {'wins':>7}")
    per_run = []
    for m in metrics:
        val = {s: [by_pair[p][s]["result"]["metrics"][m]["value"] for p in pairs
                   if m in by_pair[p][s]["result"]["metrics"]] for s in ("base", "change")}
        if not val["base"] or len(val["base"]) != len(val["change"]):
            continue
        (b1, bm, b3), (c1, cm, c3) = quartiles(val["base"]), quartiles(val["change"])
        lower = better.get(m, "lower") == "lower"
        wins = sum((c < b) if lower else (c > b) for b, c in zip(val["base"], val["change"]))
        delta = f"{(cm - bm) / bm * 100:+.1f}%" if bm else "n/a"
        out.append(f"{m:24} {f'{bm:.4g} [{b1:.4g}, {b3:.4g}]':30} "
                   f"{f'{cm:.4g} [{c1:.4g}, {c3:.4g}]':30} {delta:>8} {wins:>4}/{len(pairs)}")
        per_run.append(f"{m}: base {[round(v, 4) for v in val['base']]}\n"
                       f"{'':{len(m) + 2}}change {[round(v, 4) for v in val['change']]}")
    out.append("\nper run, in pair order:\n" + "\n".join(per_run))
    ops = sorted({o for r in ok for o in r["op_best_s"]})
    if ops:
        out.append(f"\n{'op (median of per-run best)':30} {'base':>10} {'change':>10} {'delta':>8}")
        for o in ops:
            med = {s: statistics.median([r["op_best_s"][o] for r in ok
                                         if r["side"] == s and o in r["op_best_s"]] or [0.0])
                   for s in ("base", "change")}
            delta = f"{(med['change'] - med['base']) / med['base'] * 100:+.1f}%" if med["base"] else "n/a"
            out.append(f"{o:30} {med['base']:10.3f} {med['change']:10.3f} {delta:>8}")
    return "\n".join(out)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--base", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--pairs", required=True, type=int)
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--trace", choices=("0", "1"), default="0")
    a = ap.parse_args()

    sides = {"base": os.path.abspath(a.base), "change": os.path.abspath(a.change)}
    out = os.path.abspath(a.out)
    for c in sides.values():
        if not os.path.exists(os.path.join(c, "perfbench", "run.py")):
            sys.exit(f"no perfbench/run.py in {c}")
        if os.path.commonpath([out, os.path.join(c, "perfbench")]) == os.path.join(c, "perfbench"):
            sys.exit("--out must not lie under a checkout's perfbench/")
    if os.path.exists(os.path.join(out, "runs.jsonl")):
        sys.exit(f"{out} already holds runs.jsonl: give a fresh --out")
    os.makedirs(os.path.join(out, "logs"), exist_ok=True)

    records = []
    with open(os.path.join(out, "runs.jsonl"), "w") as runs:
        for i in range(a.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for pos, side in enumerate(order):
                rc, result, err = run_once(sides[side], a)
                log = os.path.join(sides[side], ".bench_run", "harness.log")
                kept = os.path.join(out, "logs", f"pair{i}-{side}.log")
                bests = {}
                if os.path.exists(log):
                    shutil.copyfile(log, kept)
                    bests = op_bests(kept)
                rec = {"pair": i, "side": side, "first": pos == 0, "workload": a.workload,
                       "seed": a.seed, "seconds": a.seconds, "trace": int(a.trace),
                       "exit": rc, "result": result, "op_best_s": bests}
                if result is None:
                    rec["stderr_tail"] = err[-2000:]
                records.append(rec)
                runs.write(json.dumps(rec) + "\n")
                runs.flush()
                m = (result or {}).get("metrics", {})
                shown = " ".join(f"{k}={m[k]['value']:.4g}" for k in
                                 ("wall_s", "op_geomean_s", "op_p50_s", "setup_s") if k in m)
                print(f"[pairs] pair {i} {side}: exit {rc} {shown}", file=sys.stderr, flush=True)

    text = summarize(records, directions(sides["change"]))
    with open(os.path.join(out, "summary.txt"), "w") as fh:
        fh.write(text + "\n")
    print(text)


if __name__ == "__main__":
    main()
