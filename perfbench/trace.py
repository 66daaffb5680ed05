"""Per-layer metrics from a traced run.

The JVM side writes two files when a run is traced:

* ``spans.jsonl``: one span per call the benchmark made into graft
  (name, start, end, parent), plus the number of persisted frames that
  appeared while it ran;
* ``jobs.jsonl``: one record per completed Spark job: the span it was
  submitted under, submit/end time, its call site (short name and stack)
  and the task metrics summed over its stages.

A job belongs to its tagged span, or else to the innermost span whose
interval holds its submit time. A job's layer comes from its call-site
stack (``rules`` in spec.json). Every metric is computed per traced cycle
and reported as the median over those cycles.
"""
import json
import re
import statistics

MB = 1048576.0

# the query families the mixes exercise (spec.json names each query's family)
FAMILIES = ["queries", "multimodal", "streaming"]


def load(trace_dir: str):
    def rows(name):
        with open(f"{trace_dir}/{name}") as f:
            return [json.loads(line) for line in f if line.strip()]
    return rows("spans.jsonl"), rows("jobs.jsonl")


def line_rules(source_root: str, anchors: dict) -> dict:
    """{metric: regex} matching stack frames on the source lines named by
    an anchor: the first line of ``file`` containing ``text``, and the
    ``lines - 1`` lines after it."""
    out = {}
    for metric, a in anchors.items():
        path = f"{source_root}/{a['file']}"
        with open(path) as f:
            hits = [i + 1 for i, line in enumerate(f) if a["text"] in line]
        if not hits:
            raise ValueError(f"anchor for {metric} not found in {path}: {a['text']!r}")
        name = a["file"].rsplit("/", 1)[-1]
        nums = "|".join(str(hits[0] + k) for k in range(a["lines"]))
        out[metric] = rf"\({re.escape(name)}:(?:{nums})\)"
    return out


def _busy(intervals) -> float:
    """Seconds covered by the union of [start, end] intervals (ms)."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def _first_graft_frame(stack: str) -> str:
    for line in stack.splitlines():
        if line.startswith("graft."):
            return line
    return ""


def per_cycle(spans, jobs, rules: dict, families: dict, cores: int) -> list:
    """One {metric: value} dict per traced cycle."""
    by_id = {s["id"]: s for s in spans}

    def owner(job):
        sid = job.get("span")
        if sid is not None and int(sid) in by_id:
            return by_id[int(sid)]
        inside = [s for s in spans if s["start_ms"] <= job["submit_ms"] <= s["end_ms"]]
        return min(inside, key=lambda s: s["end_ms"] - s["start_ms"]) if inside else None

    def ancestors(span):
        while span is not None:
            yield span
            span = by_id.get(span["parent"])

    cycles = [s for s in spans if s["name"] == "cycle"]
    out = []
    for cyc in cycles:
        mine = [s for s in spans if any(a["id"] == cyc["id"] for a in ancestors(s))]
        mine_ids = {s["id"] for s in mine}
        cjobs = []
        for j in jobs:
            o = owner(j)
            if o is not None and o["id"] in mine_ids:
                chain = list(ancestors(o))
                cjobs.append((j, o, chain))

        def jobs_where(pred):
            return [j for j, o, chain in cjobs if pred(j, o, chain)]

        def under(name_pred):
            return lambda j, o, chain: any(name_pred(s["name"]) for s in chain)

        def matches(metric):
            rx = re.compile(rules[metric])
            return lambda j, o, chain: bool(rx.search(j["stack"]))

        def spans_named(pred):
            return [s for s in mine if pred(s["name"])]

        def total_s(pred):
            return sum(s["end_ms"] - s["start_ms"] for s in spans_named(pred)) / 1000.0

        def iv(js):
            return [(j["submit_ms"], j["end_ms"]) for j in js]

        def query_family(chain):
            for s in chain:
                if s["name"].startswith("query:"):
                    return families.get(s["name"][6:])
            return None

        def family(j, chain):
            top = _first_graft_frame(j["stack"])
            for f in FAMILIES:
                if top.startswith(f"graft.{f}."):
                    return f
            return query_family(chain)

        wall = (cyc["end_ms"] - cyc["start_ms"]) / 1000.0
        construct = under(lambda n: n == "query.construct")
        execs = under(lambda n: n == "query.exec")
        in_query = under(lambda n: n.startswith("query:"))
        merge_exec = under(lambda n: n == "merge.execute")
        publish = matches("sources.publish_s")
        sources_read = lambda j, o, chain: (_first_graft_frame(j["stack"]).startswith("graft.sources.")
                                            and not publish(j, o, chain))
        qjobs = jobs_where(in_query)
        mjobs = jobs_where(merge_exec)
        alljobs = [j for j, _, _ in cjobs]
        m = {
            "sources.read_jobs": len(jobs_where(sources_read)),
            "sources.publish_s": _busy(iv(jobs_where(publish))),
            "sources.bytes_written": sum(j["bytes_written"] for j in jobs_where(publish)),
            "merge.integrity_s": _busy(iv(jobs_where(matches("merge.integrity_s")))),
            "merge.skew_audit_s": _busy(iv(jobs_where(matches("merge.skew_audit_s")))),
            "merge.maxid_s": _busy(iv(jobs_where(matches("merge.maxid_s")))),
            "merge.idmap_s": _busy(iv(jobs_where(matches("merge.idmap_s")))),
            "merge.uuid_s": _busy(iv(jobs_where(matches("merge.uuid_s")))),
            "merge.jobs": len(mjobs),
            "merge.shuffle_mb": sum(j["shuffle_write"] for j in mjobs) / MB,
            "merge.spill_mb": sum(j["spill"] for j in mjobs) / MB,
            "merge.dryrun_s": total_s(lambda n: n == "merge.dryrun"),
            "query.construct_s": total_s(lambda n: n == "query.construct"),
            "query.construct_jobs": len(jobs_where(construct)),
            "query.plan_s": total_s(lambda n: n == "query.plan"),
            "query.exec_s": total_s(lambda n: n == "query.exec"),
            "query.exec_jobs": len(jobs_where(execs)),
            "query.stages": sum(j["stages"] for j in qjobs),
            "query.tasks": sum(j["tasks"] for j in qjobs),
            "operators.memo_builds": sum(s["persisted_delta"] for s in spans_named(lambda n: n.startswith("query:"))),
            "operators.cut_jobs": len(jobs_where(matches("operators.cut_jobs"))),
            "spark.task_cpu_s": sum(j["cpu_ns"] for j in alljobs) / 1e9,
            "spark.gc_s": sum(j["gc_ms"] for j in alljobs) / 1000.0,
            "spark.shuffle_read_mb": sum(j["shuffle_read"] for j in alljobs) / MB,
            "spark.shuffle_write_mb": sum(j["shuffle_write"] for j in alljobs) / MB,
            "spark.spill_mb": sum(j["spill"] for j in alljobs) / MB,
            "spark.core_busy_share": sum(j["run_ms"] for j in alljobs) / 1000.0 / (cores * wall),
        }
        for f in FAMILIES:
            m[f"{f}.job_s"] = _busy(iv([j for j, o, chain in cjobs if family(j, chain) == f]))
        out.append(m)
    return out


def summarize(cycles: list) -> dict:
    """Median of each metric over the traced cycles."""
    return {k: statistics.median(c[k] for c in cycles) for k in cycles[0]} if cycles else {}
