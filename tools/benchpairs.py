#!/usr/bin/env python3
"""Alternating parent/change pairs of the benchmark, with a verdict.

    python3 tools/benchpairs.py --parent DIR --change DIR --workload merge \\
        [--pairs 10] [--seeds 9001,2,3,...] [--out runs.jsonl]
    python3 tools/benchpairs.py --report runs.jsonl

Each pair runs `python3 perfbench/run.py --workload W --seed N --seconds S
--trace 0` once in each checkout, from that checkout's root and with its
own CARGO_TARGET_DIR (`<checkout>/.bench_build`), alternating which side
runs first. S is the change's BENCHMARK.json `run_seconds`, so both sides
run as long as the benchmark does. Every run's result line is appended to --out as it lands, so
a cut session keeps what it measured, and --report summarises such a
file again; a later run with the same --out adds pairs after the ones
already there.

For each end-to-end metric in the change's BENCHMARK.json it prints both
sides' median and quartiles, the pairs the change won (ties count for
neither) and three verdicts:
  gain   - the change won at least 9 in 10 pairs and its median is better
           than the parent's by more than the parent's quartile spread;
  bound  - the change's median is no worse than the parent's by more than
           the metric's bound (a fraction of the parent's median);
  spread - the parent's quartile spread is inside that bound, so "no
           worse" is resolved rather than lost in noise.
It only invokes the benchmark; it changes nothing under perfbench/.
"""
import argparse
import json
import os
import subprocess
import sys


def quartiles(xs):
    """(q1, median, q3) by linear interpolation, as perfbench/run.py."""
    xs = sorted(xs)

    def q(p):
        k = (len(xs) - 1) * p
        lo = int(k)
        return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (k - lo)
    return q(0.25), q(0.5), q(0.75)


def run_once(checkout, workload, seed, seconds):
    env = dict(os.environ, CARGO_TARGET_DIR=os.path.join(checkout, ".bench_build"))
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, env=env, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        raise SystemExit(f"benchpairs: {checkout} seed {seed} exited {p.returncode}")
    return json.loads(lines[-1])


def report(runs, end_to_end):
    pairs = {}
    for r in runs:
        pairs.setdefault((r["workload"], r["pair"]), {})[r["side"]] = r
    for workload in sorted({w for w, _ in pairs}):
        done = [v for (w, _), v in sorted(pairs.items()) if w == workload and len(v) == 2]
        print(f"== {workload}: {len(done)} pairs, seeds "
              f"{','.join(str(v['parent']['seed']) for v in done)}")
        for side in ("parent", "change"):
            bad = [v[side]["seed"] for v in done
                   if not v[side]["result"]["correct"] or v[side]["result"]["failed"]]
            print(f"   {side}: {sum(v[side]['result']['failed'] for v in done)} failed ops, "
                  f"incorrect or failing seeds {bad or 'none'}")
        for m in end_to_end:
            name, lower = m["name"], m["better"] == "lower"
            got = [(v["parent"]["result"]["metrics"].get(name, {}).get("value"),
                    v["change"]["result"]["metrics"].get(name, {}).get("value")) for v in done]
            got = [(a, b) for a, b in got if a is not None and b is not None]
            if not got:
                continue
            pq, cq = quartiles([a for a, _ in got]), quartiles([b for _, b in got])
            wins = sum(1 for a, b in got if (b < a if lower else b > a))
            gap = (pq[1] - cq[1]) if lower else (cq[1] - pq[1])
            spread = pq[2] - pq[0]
            gain = wins >= 0.9 * len(got) and gap > spread
            within = -gap <= m["bound"] * pq[1]
            print(f"   {name:9s} parent {pq[1]:.3f} [{pq[0]:.3f}-{pq[2]:.3f}]  change {cq[1]:.3f} "
                  f"[{cq[0]:.3f}-{cq[2]:.3f}]  {100 * -gap / pq[1]:+.1f}%  wins {wins}/{len(got)}  "
                  f"gain {'yes' if gain else 'no'}  bound {'ok' if within else 'WORSE'}  "
                  f"spread {'ok' if spread <= m['bound'] * pq[1] else 'WIDE'}")


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default="9001,2,3,4,5,6,7,8,10,11")
    ap.add_argument("--out")
    ap.add_argument("--report")
    a = ap.parse_args(argv)
    here = os.path.dirname(os.path.abspath(__file__))
    bench_json = os.path.join(a.change or os.path.join(here, os.pardir), "BENCHMARK.json")
    with open(bench_json) as f:
        bench = json.load(f)
    if a.report:
        with open(a.report) as f:
            report([json.loads(l) for l in f if l.strip()], bench["end_to_end"])
        return 0
    if not (a.parent and a.change and a.workload):
        ap.error("--parent, --change and --workload are required unless --report is given")
    seeds = [int(s) for s in a.seeds.split(",")]
    seconds = bench["run_seconds"]
    runs = []
    if a.out and os.path.exists(a.out):
        with open(a.out) as f:
            runs = [r for r in map(json.loads, filter(str.strip, f)) if r["workload"] == a.workload]
    start = max((r["pair"] + 1 for r in runs), default=0)
    for i in range(start, start + a.pairs):
        seed = seeds[i % len(seeds)]
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for side in order:
            res = run_once(os.path.abspath(getattr(a, side)), a.workload, seed, seconds)
            run = {"workload": a.workload, "pair": i, "seed": seed, "side": side, "result": res}
            runs.append(run)
            if a.out:
                with open(a.out, "a") as f:
                    f.write(json.dumps(run) + "\n")
    report(runs, bench["end_to_end"])
    return 0


if __name__ == "__main__":
    sys.exit(main())
