#!/usr/bin/env python3
"""graft's benchmark. Run from the repository root:

    python3 perfbench/run.py --workload merge|catalog|catalog_cold \\
        --seed N --seconds S --trace 0|1

It builds graft and the harness (perfbench/build.py), writes the
workload's inputs from the seed (perfbench/gen.py), runs the harness JVM
for the whole cycles that fit in S measured seconds (at least the
workload's min_cycles) in a closed loop with one client, checks every
output (perfbench/checks.py) and prints one JSON line as the last line
of stdout: the end-to-end metrics untraced (--trace 0), the per-layer
metrics from a traced run (--trace 1). The line before it carries the
sample count behind each metric. Everything it writes goes under
$CARGO_TARGET_DIR (default .bench_build); the run's directory there is
removed at the end. Settings, mixes and the layer map are in
perfbench/spec.json.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402
import trace  # noqa: E402

# JVM launch, first session, staging and the first warm-up cycle's extra
# cost: a rough figure that, with each workload's cycle_s_estimate in
# spec.json, only sizes the harness's time limit
SETUP_ESTIMATE_S = 40
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def load_json(path: str) -> dict:
    with open(path) as f:
        return json.load(f)


def heap() -> str:
    """Half of MemTotal in GiB, clamped to [2, 8] — the sizing the
    repository's tier-1 verify uses."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def cores() -> int:
    """Spark's task threads: half the CPUs this process may use, so the
    driver thread, the JIT compiler and the GC keep the other half
    instead of preempting tasks."""
    return max(1, len(os.sched_getaffinity(0)) // 2)


def percentile(xs, q):
    xs = sorted(xs)
    if len(xs) == 1:
        return xs[0]
    k = (len(xs) - 1) * q
    lo = int(k)
    return xs[lo] + (xs[min(lo + 1, len(xs) - 1)] - xs[lo]) * (k - lo)


def harness_timeout(seconds: float, cycles: int, cycle_estimate: float) -> float:
    """Seconds the harness may take: set-up, the warm-up and measured
    cycles, the cycle that overruns the window, and half again as much
    for a loaded box."""
    return 1.5 * (SETUP_ESTIMATE_S + seconds + (cycles + 1) * cycle_estimate)


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The contract line: one JSON object, starting at column 0."""
    return json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                       "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}})


def make_inputs(spec: dict, workload: str, seed: int, data: str) -> tuple:
    """Writes the inputs; returns (seconds, tables to stage, summary)."""
    w = spec["workloads"][workload]
    t0 = time.time()
    if workload == "merge":
        info = gen.merge_instances(data, seed, w["sf"])
        tables = sorted(info["files"])
        files = info.pop("files")
        info["input_rows"] = sum(r for r, _ in files.values())
        info["input_bytes"] = sum(b for _, b in files.values())
    else:
        files = gen.catalog_inputs(data, seed, w["sf"])
        tables = sorted(files)
        info = {"input_rows": sum(r for r, _ in files.values()),
                "input_bytes": sum(b for _, b in files.values())}
    return time.time() - t0, [f"{t}.parquet" for t in tables], info


def run_harness(root, classes, params, work, timeout) -> dict:
    jars = os.path.join(build.spark_jars(root), "*")
    # the call-site stacks trace.py reads layers from must reach graft's
    # frames below Spark's
    cmd = (["java", f"-Xmx{heap()}", "-Xss8m", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.callstack.depth=200"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{classes}{os.pathsep}{jars}", "perfbench.Harness",
              os.path.join(work, "params.json")])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    params["spawn_ms"] = time.time() * 1000.0
    with open(os.path.join(work, "params.json"), "w") as f:
        json.dump(params, f)
    log_path = os.path.join(work, "harness.log")
    with open(log_path, "w") as log:
        # the harness stops when its stdin closes, so it cannot outlive us
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.PIPE, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
        proc.stdin.close()
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write(f.read()[-4000:])
        raise SystemExit("perfbench: harness " + (f"timed out after {timeout:.0f} s" if code is None
                                                   else f"exited with {code}"))
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


def check_outputs(workload, res, data, work) -> dict:
    """{(cycle, op): [failure, ...]} for every op whose output is wrong."""
    bad = {}
    if workload == "merge":
        with open(os.path.join(data, "config.json")) as f:
            cfg = json.load(f)
        con = checks.duckdb.connect()
        for i, c in enumerate(res["cycles"]):
            ops = {o["name"]: o for o in c["ops"]}
            dry, mrg = ops.get("dry_run", {}), ops.get("merge", {})
            if dry.get("failed") or mrg.get("failed"):
                continue
            errs = checks.merge_output(con, cfg, mrg["output"], dry["report"], mrg["report"])
            if errs:
                # a would_insert mismatch indicts the dry run, the rest the merge
                bad[(i, "dry_run")] = [e for e in errs if "would_insert" in e]
                bad[(i, "merge")] = [e for e in errs if "would_insert" not in e]
    else:
        con = checks.catalog_connection(data)
        first = {o["name"]: o for o in res["cycles"][0]["ops"]}
        for name, o in first.items():
            if o.get("failed"):
                continue
            errs = checks.catalog_result(con, name, os.path.join(work, "results", name),
                                         res["oracle"].get(name))
            if o["rows"] == 0:
                errs.append(f"{name}: empty result")
            for i, c in enumerate(res["cycles"]):
                for p in c["ops"]:
                    if p["name"] != name or p.get("failed"):
                        continue
                    # later samples must return exactly the first sample's rows
                    drift = [] if p["fingerprint"] == o["fingerprint"] else [f"{name}: result changed in cycle {i}"]
                    if errs or drift:
                        bad[(i, name)] = errs + drift
    return {k: v for k, v in bad.items() if v}


def end_to_end(workload, res, gen_s) -> tuple:
    cycles = res["cycles"]
    ops = [o for c in cycles for o in c["ops"] if not o.get("failed")
           and (workload != "merge" or o["name"] == "merge")]
    lat = [o["s"] for o in ops]
    metrics = {
        "setup_s": (gen_s + res["setup_s"] + res["warmup_s"], "s"),
        "cycle_s": (statistics.median(c["wall_s"] for c in cycles), "s"),
        "op_p50_s": (percentile(lat, 0.5), "s"),
        "op_p90_s": (percentile(lat, 0.9), "s"),
    }
    samples = {"setup_s": 1, "cycle_s": len(cycles),
               "op_p50_s": len(lat), "op_p90_s": len(lat)}
    return metrics, samples


def per_layer(spec, workload, res, work, root, info) -> tuple:
    spans, jobs = trace.load(os.path.join(work, "trace"))
    rules = dict(spec["trace_rules"])
    for metric, rx in trace.line_rules(root, spec["trace_anchors"]).items():
        rules[metric] = f"{rules[metric]}|{rx}" if metric in rules else rx
    families = {q: f for q, f in spec["workloads"][workload].get("mix", [])}
    cyc = trace.per_cycle(spans, jobs, rules, families, res["cores"])
    m = trace.summarize(cyc)
    units = {x["name"]: x["unit"] for x in spec["per_layer"]}
    cycles = res["cycles"]
    # cycle_s with tracing on: trace.cycle_s / cycle_s - 1 is the overhead
    m["trace.cycle_s"] = statistics.median(c["wall_s"] for c in cycles)
    m["operators.cached_mb"] = statistics.median(c["cached_mb"] for c in cycles)
    if workload == "merge":
        written = [_tree_bytes(o["output"]) for c in cycles for o in c["ops"] if o["name"] == "merge"]
        m["sources.write_amp"] = statistics.median(written) / info["input_bytes"]
    else:
        m["sources.write_amp"] = 0.0
    metrics = {k: (m[k], u) for k, u in units.items()}
    samples = {k: len(cycles) for k in metrics}
    return metrics, samples


def op_medians(res) -> dict:
    """Median latency of each operation over the run's cycles."""
    lat = {}
    for c in res["cycles"]:
        for o in c["ops"]:
            lat.setdefault(o["name"], []).append(o["s"])
    return {k: round(statistics.median(v), 4) for k, v in lat.items()}


def _tree_bytes(path):
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path)
               for f in fs if f.endswith(".parquet"))


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    spec = load_json(os.path.join(HERE, "spec.json"))
    # the metric lists and units are BENCHMARK.json's, beside perfbench/
    spec["per_layer"] = load_json(os.path.join(HERE, os.pardir, "BENCHMARK.json"))["per_layer"]
    if a.workload not in spec["workloads"]:
        raise SystemExit(f"perfbench: unknown workload {a.workload!r}")
    root = os.getcwd()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    classes = build.build(root, build_dir)

    work = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    try:
        gen_s, tables, info = make_inputs(spec, a.workload, a.seed, data)
        w = spec["workloads"][a.workload]
        params = {"workload": a.workload, "data": data, "work": work, "seconds": a.seconds,
                  "trace": bool(a.trace), "cores": cores(), "session": spec["session"],
                  "tables": tables, "min_cycles": w["min_cycles"],
                  "warmup_cycles": w["warmup_cycles"],
                  "mix": [q for q, _ in w.get("mix", [])]}
        res = run_harness(root, classes, params, work,
                          harness_timeout(a.seconds, w["warmup_cycles"] + w["min_cycles"],
                                          w["cycle_s_estimate"]))
        bad = check_outputs(a.workload, res, data, work)
        measured = [(i, o) for i, c in enumerate(res["cycles"]) for o in c["ops"]]
        failed = sum(1 for i, o in measured if o.get("failed") or (i, o["name"]) in bad)
        for f in res["failures"]:
            sys.stderr.write(f"perfbench: {f['op']} failed in cycle {f['cycle']}: {f['error']}\n")
        for (i, name), errs in sorted(bad.items()):
            sys.stderr.write(f"perfbench: cycle {i} {name}: {'; '.join(errs)}\n")
        if a.trace:
            metrics, samples = per_layer(spec, a.workload, res, work, root, info)
        else:
            metrics, samples = end_to_end(a.workload, res, gen_s)
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "samples": samples,
                  "cycles": len(res["cycles"]),
                  "cycle_walls_s": [round(c["wall_s"], 3) for c in res["cycles"]],
                  "harness_setup_s": res["setup_s"], "warmup_s": res["warmup_s"],
                  "generate_s": gen_s, "op_median_s": op_medians(res), **info}
        print(json.dumps(detail))
        print(result_line(not bad and not res["failures"], len(measured), failed, metrics))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
