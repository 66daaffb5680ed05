#!/usr/bin/env python3
"""Self-enforcing bench gate: diff a bench JSON (BENCH_FULL.json or a
driver BENCH_r{N}.json) against BASELINE.md's per-query best-knowns and
print every query breaching the 1.5x per-query policy.

Usage: tools/benchcheck.py [bench.json] [--ratio 1.5]

Exit code 1 if any regression is found, so it can gate a round record.
Queries without an explicit baseline row fall under BASELINE.md's
"everything else < 2 s" rule: > 3 s (1.5x the 2 s ceiling) is a
regression, 2-3 s a warning (their true best-known is unknown).

BASELINE.md documents >=50% box-load variance on totals — per-query
ratios are the only meaningful signal, and even those flap under load;
treat this as a triage list, not a verdict (re-measure steady-state
local[8] before acting on any single row)."""
import json, re, sys, os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_table(path, header):
    """Gate values from EVERY `| <header> | ... |` table in the file:
    header "query" gives the per-query best-knowns (the headline table
    plus per-round gate-row additions), header "artifact" the per-FAMILY
    gates of the `_artifacts` warm-up phase (a 3x regression in one
    family must not hide inside the phase's wall-clock noise). A later
    row for the same name overrides an earlier one."""
    best = {}
    in_table = False
    for line in open(path):
        if re.match(r"\|\s*" + header + r"\s*\|", line):
            in_table = True
            continue
        if in_table:
            m = re.match(r"\|\s*`?([a-z0-9_]+)`?\s*\|\s*([0-9.]+)\s*\|", line)
            if m:
                best[m.group(1)] = float(m.group(2))
            elif line.startswith("| ---"):
                continue
            elif not line.startswith("|"):
                in_table = False
    return best


def main():
    argv = sys.argv[1:]
    ratio = 1.5
    args = []
    i = 0
    while i < len(argv):
        a = argv[i]
        if a.startswith("--ratio"):
            if "=" in a:
                ratio = float(a.split("=", 1)[1])
            else:
                ratio = float(argv[i + 1])
                i += 1  # consume the value so it can't become the bench path
        else:
            args.append(a)
        i += 1
    bench_path = args[0] if args else os.path.join(ROOT, "BENCH_FULL.json")
    bench = json.load(open(bench_path))
    # driver BENCH_r{N}.json wraps the metric line under "parsed"; when
    # the driver's output clipping truncated the line, parsed is null
    # and the per-query pairs live inside the raw "tail" text — scrape
    # them with a regex (pairs are flat "name":sec)
    if "parsed" in bench:
        if isinstance(bench["parsed"], dict):
            bench = bench["parsed"]
        else:
            pairs = re.findall(r'\\?"([a-z][a-z0-9_]+)\\?":(-?[0-9.]+)',
                               bench.get("tail", ""))
            bench = {"queries": {k: float(v) for k, v in pairs
                                 if k not in ("metric", "value", "sf", "dropped")}}
    best = parse_table(os.path.join(ROOT, "BASELINE.md"), "query")
    abest = parse_table(os.path.join(ROOT, "BASELINE.md"), "artifact")
    queries = bench.get("queries", {})

    regressions, warnings = [], []
    # per-family artifact gates (the _artifacts wall total stays a
    # query-table row; families are multi-second builds, so the noise
    # floor is 0.5 s). A part `family/part` is covered by its family's
    # row, which gates the whole family's wall (m13_run's time runs to
    # the end of its last m13_run/<table> step). A family with no gate
    # row yet is a warning — add its clean-run value to BASELINE.md's
    # artifact table.
    for name, sec in sorted(bench.get("artifacts", {}).items()):
        if "/" in name and name.split("/", 1)[0] in abest:
            continue
        if name in abest:
            if sec > abest[name] * ratio and sec - abest[name] > 0.5:
                regressions.append((f"_artifacts/{name}", sec, abest[name],
                                    f"{sec / abest[name]:.1f}x family gate {abest[name]}s"))
        else:
            warnings.append((f"_artifacts/{name}", sec, None,
                             "no artifact-family gate in BASELINE.md"))
    for name, sec in sorted(queries.items()):
        if sec < 0:
            regressions.append((name, sec, None, "FAILED in bench run"))
            continue
        if name in best:
            # the ratio alone over-triggers on sub-second queries where
            # scheduler jitter is a large FRACTION of a tiny number
            # (0.2 s -> 0.31 s is 1.6x but pure noise); require the
            # absolute excess to clear a 0.2 s noise floor too
            if sec > best[name] * ratio and sec - best[name] > 0.2:
                regressions.append((name, sec, best[name],
                                    f"{sec / best[name]:.1f}x best-known {best[name]}s"))
        elif name != "_artifacts":
            if sec > 2.0 * ratio:
                regressions.append((name, sec, 2.0,
                                    "no explicit baseline; above the 'everything else < 2 s' ceiling x1.5"))
            elif sec > 2.0:
                warnings.append((name, sec, 2.0, "no explicit baseline; above the 2 s ceiling"))

    for name, sec, b, why in warnings:
        print(f"WARN  {name}: {sec:.2f}s — {why}")
    for name, sec, b, why in regressions:
        print(f"REGR  {name}: {sec:.2f}s — {why}")
    n = len(regressions)
    print(f"RESULT: {'PASS' if n == 0 else f'{n} REGRESSIONS'} "
          f"({len(queries)} queries checked against {len(best)} baselines, ratio {ratio}x)")
    sys.exit(1 if n else 0)


if __name__ == "__main__":
    main()
