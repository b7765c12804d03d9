"""Pure aggregation logic: statistics, job-interval union, call-site to
module attribution, the per-layer metrics of a traced pass, and the span
tree. Everything here works on the raw JSON the harness writes and is
covered by ``test_layers.py``.
"""
import math
import re
import statistics

# graft packages / top-level objects -> module name
MODULES = ("graph", "operators", "sources", "streaming", "multimodal", "plans",
           "Pipeline", "CurationPipeline", "SparkEntry")
_PACKAGE_MODULE = {"graph": "graph", "operators": "operators", "sources": "sources",
                   "streaming": "streaming", "multimodal": "multimodal",
                   "plans": "plans", "Pipeline": "Pipeline",
                   "CurationPipeline": "CurationPipeline", "SparkEntry": "SparkEntry",
                   "Tables": "sources"}
_FRAME = re.compile(r"(?:^|\s)(?:at\s+)?([A-Za-z_$][\w$]*(?:\.[A-Za-z_$][\w$]*)+)\(")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quartile_spread(xs):
    """(Q3 - Q1) / median, quartiles as ``statistics.quantiles(n=4)``."""
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return (q3 - q1) / statistics.median(xs)


def geomean(xs):
    xs = [x for x in xs if x > 0]
    return math.exp(sum(math.log(x) for x in xs) / len(xs)) if xs else float("nan")


def union(intervals, lo=None, hi=None):
    """Merge [start, end] intervals (optionally clipped to [lo, hi]).

    Returns the merged, sorted, disjoint list.
    """
    clipped = []
    for s, e in intervals:
        if lo is not None:
            s = max(s, lo)
        if hi is not None:
            e = min(e, hi)
        if e > s:
            clipped.append((s, e))
    merged = []
    for s, e in sorted(clipped):
        if merged and s <= merged[-1][1]:
            merged[-1] = (merged[-1][0], max(merged[-1][1], e))
        else:
            merged.append((s, e))
    return merged


def covered(intervals, lo, hi):
    """Total time in [lo, hi] covered by at least one interval."""
    return sum(e - s for s, e in union(intervals, lo, hi))


def gaps(intervals, lo, hi):
    """Total time in [lo, hi] covered by no interval (walks the gaps)."""
    t, total = lo, 0
    for s, e in union(intervals, lo, hi):
        total += s - t
        t = e
    return total + (hi - t)


def module_of(stack):
    """Module of the innermost ``graft.*`` frame of a call-site stack.

    Spark's long call-site form lists frames innermost first. Frames of
    graft packages outside MODULES (e.g. ``graft.functions``) are skipped;
    with no graft frame at all the work was triggered by the benchmark's
    own action, reported as ``action``.
    """
    for m in _FRAME.finditer(stack or ""):
        parts = m.group(1).split(".")
        if parts[0] != "graft" or len(parts) < 3:
            continue
        head = parts[1].split("$")[0]
        if head in _PACKAGE_MODULE:
            return _PACKAGE_MODULE[head]
    return "action"


def _in(t, lo, hi):
    return t is not None and lo <= t <= hi


def pass_layers(pas, events, cores):
    """Per-layer metrics of one traced pass, from the raw event lists."""
    lo, hi = pas["start"], pas["end"]
    wall = hi - lo
    jobs = [j for j in events["jobs"] if _in(j["start"], lo, hi)]
    execs = [x for x in events["executions"] if _in(x["start"], lo, hi)]
    # a stream's micro-batch jobs (and their executions) belong to
    # streaming, whatever their call-site stack shows
    stream_execs = {j["execution"] for j in events["jobs"] if j.get("stream") and "execution" in j}
    exec_mod = {x["id"]: "streaming" if x["id"] in stream_execs else module_of(x.get("stack"))
                for x in events["executions"]}
    stages = {s["id"]: s for s in events["stages"]}
    job_intervals = [(j["start"], j.get("end", hi)) for j in jobs]
    m = {}
    m["scheduler.jobs"] = len(jobs)
    m["scheduler.job_ms"] = covered(job_intervals, lo, hi)
    m["driver.gap_ms"] = gaps(job_intervals, lo, hi)
    m["pass.wall_ms"] = wall

    run_stages = {}
    job_module = {}
    for j in jobs:
        mod = exec_mod.get(j["execution"]) if "execution" in j else None
        if j.get("stream"):
            mod = "streaming"
        job_module[j["id"]] = mod or module_of(j.get("stack"))
        for sid in j["stages"]:
            if sid in stages:
                run_stages[sid] = (stages[sid], job_module[j["id"]])
    tot = lambda k: sum(s[k] for s, _ in run_stages.values())
    m["scheduler.stages"] = len(run_stages)
    m["scheduler.tasks"] = tot("tasks")
    m["executor.run_ms"] = tot("run_ms")
    m["executor.cpu_ms"] = tot("cpu_ns") / 1e6
    m["executor.gc_ms"] = tot("gc_ms")
    m["executor.deserialize_ms"] = tot("deserialize_ms")
    m["executor.cpu_util"] = m["executor.cpu_ms"] / (wall * cores) if wall else 0.0
    m["shuffle.write_bytes"] = tot("shuffle_write_bytes")
    m["shuffle.read_bytes"] = tot("shuffle_read_bytes")
    m["shuffle.write_ms"] = tot("shuffle_write_ns") / 1e6
    m["shuffle.fetch_wait_ms"] = tot("fetch_wait_ms")
    m["shuffle.spill_memory_bytes"] = tot("spill_memory_bytes")
    m["shuffle.spill_disk_bytes"] = tot("spill_disk_bytes")
    m["shuffle.scratch_peak_mb"] = pas.get("scratch_peak_bytes", 0) / 2**20
    m["io.input_bytes"] = tot("input_bytes")
    m["io.input_records"] = tot("input_records")
    m["io.output_bytes"] = tot("output_bytes")
    m["io.output_records"] = tot("output_records")

    blocks = [b for b in events["blocks"] if _in(b["t"], lo, hi)]
    m["storage.blocks_put"] = len(blocks)
    m["storage.bytes_put"] = sum(b["bytes"] for b in blocks)
    progress = [p for p in events["progress"] if _in(p["t"], lo, hi)]
    m["streaming.batches"] = len(progress)
    m["streaming.batch_ms"] = sum(p["batch_ms"] for p in progress)

    qes = [q for q in events["queries"] if _in(q["t"], lo, hi)]
    m["catalyst.executions"] = len(execs)
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_ms"] = sum(q.get(f"{phase}_ms", 0) for q in qes)
    m["catalyst.codegen_compile_ms"] = sum(o["codegen_ms"] for o in pas["ops"])
    m["call.build_ms"] = sum(o["build_end"] - o["build_start"] for o in pas["ops"])
    m["call.action_ms"] = sum(o["action_end"] - o["action_start"] for o in pas["ops"])

    for mod in MODULES + ("action",):
        m[f"module.{mod}.exec_ms"] = 0
        m[f"module.{mod}.jobs"] = 0
        m[f"module.{mod}.task_ms"] = 0
    for x in execs:
        mod = exec_mod[x["id"]]
        m[f"module.{mod}.exec_ms"] += x.get("end", hi) - x["start"]
    for j in jobs:
        m[f"module.{job_module[j['id']]}.jobs"] += 1
    for s, mod in run_stages.values():
        m[f"module.{mod}.task_ms"] += s["run_ms"]
    return m


def hot_callsites(jobs, stages, executions=(), limit=8):
    """Jobs grouped by short call site, heaviest summed task time first,
    with the number of SQL executions behind them.

    A job run for a SQL execution takes the execution's call site: jobs
    submitted from broadcast or subquery threads carry only a thread-pool
    frame of their own. Only the first line counts (a streaming batch's
    description goes on with run ids).
    """
    by_id = {s["id"]: s for s in stages}
    exec_site = {x["id"]: x.get("callsite", "") for x in executions}
    groups = {}
    for j in jobs:
        site = (exec_site.get(j.get("execution")) or j.get("callsite") or "").split("\n")[0]
        g = groups.setdefault(site, {"executions": set(), "jobs": 0, "task_ms": 0,
                                     "job_ms": 0})
        if "execution" in j:
            g["executions"].add(j["execution"])
        g["jobs"] += 1
        g["job_ms"] += j.get("end", j["start"]) - j["start"]
        g["task_ms"] += sum(by_id[s]["run_ms"] for s in j["stages"] if s in by_id)
    ranked = sorted(groups.items(), key=lambda kv: -kv[1]["task_ms"])[:limit]
    return [dict(v, callsite=k, executions=len(v["executions"])) for k, v in ranked]


def spans(workload, passes, events):
    """Span tree workload > pass > op > build/action > execution > job.

    Executions hang under the call span whose window holds their start;
    jobs under their SQL execution, else under the call span by time.
    Each span carries its self time.
    """
    out = []

    def add(kind, name, start, end, parent):
        out.append({"id": len(out), "parent": parent, "kind": kind,
                    "name": name, "start": start, "end": end})
        return len(out) - 1

    first = passes[0]["start"] if passes else 0
    last = passes[-1]["end"] if passes else 0
    root = add("workload", workload, first, last, None)
    calls = []
    for p in passes:
        pid = add("pass", str(p["index"]), p["start"], p["end"], root)
        for o in p["ops"]:
            oid = add("op", o["name"], o["build_start"], o["action_end"], pid)
            calls.append((o["build_start"], o["build_end"],
                          add("build", o["name"], o["build_start"], o["build_end"], oid)))
            if o["action_end"] > o["action_start"]:
                calls.append((o["action_start"], o["action_end"],
                              add("action", o["name"], o["action_start"], o["action_end"], oid)))

    def call_at(t):
        for s, e, cid in calls:
            if s <= t <= e:
                return cid
        return None

    exec_span = {}
    for x in events.get("executions", []):
        parent = call_at(x["start"])
        if parent is not None:
            exec_span[x["id"]] = add("execution", str(x["id"]), x["start"],
                                     x.get("end", x["start"]), parent)
    for j in events.get("jobs", []):
        parent = exec_span.get(j.get("execution"), call_at(j["start"]))
        if parent is not None:
            add("job", j.get("callsite", ""), j["start"], j.get("end", j["start"]), parent)
    # self time: a span's duration minus what its children cover
    children = {}
    for sp in out:
        if sp["parent"] is not None:
            children.setdefault(sp["parent"], []).append((sp["start"], sp["end"]))
    for sp in out:
        sp["self_ms"] = (sp["end"] - sp["start"]) - covered(
            children.get(sp["id"], []), sp["start"], sp["end"])
    return out
