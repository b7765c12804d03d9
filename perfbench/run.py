#!/usr/bin/env python3
"""graft benchmark: run one workload at one seed and print its metrics.

    python3 perfbench/run.py --workload road_pipeline --seed 1 --seconds 15 --trace 0

Run it from the root of a graft checkout. The first run builds the engine
and the harness with sbt (``perfbench/harness``); later runs reuse the
build while the sources are unchanged. Inputs are generated into
``.bench_work/`` from the seed. The harness JVM runs the workload's passes
for ``--seconds``; the checks then run on its outputs, and the last line of
stdout is one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics`` (end-to-end metrics untraced, per-layer metrics traced). The
full artifact, with per-pass and per-op figures and, when traced, the
span tree, is written to ``.bench_work/results/``. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402

QUERY_OPS = ["q1_agg", "q8_percentile", "q16_haversine", "qe9_stream_dedup",
             "qg12_label_prop"]
# the road network: 36 ways (so ~370 scenario tasks per pass) drawn as
# polylines through 250 shape nodes each (~9k graph nodes), so the
# shortest-path searches inside those tasks, not task overhead, take the
# largest share of executor time
ROAD_WAYS = 40
ROAD_SHAPE_NODES = 250
CURATION_BATCHES = 3

# the engine's JDK-17 module opens (the list build.sbt forks with)
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# the Spark driver heap build.sbt forks the engine's mains with
HEAP = os.environ.get("SPARK_DRIVER_MEM", "8g")
# passes per run: a cold pass plus warm passes (more while --seconds lasts),
# and the wall-time limit on the run. `curation` is not in
# BENCHMARK.json: one CurationPipeline.run takes about two minutes.
MIN_PASSES = {"query_mix": 5, "road_pipeline": 5, "curation": 2}
RUN_LIMIT_S = {"query_mix": 170, "road_pipeline": 170, "curation": 900}
# unit of a per-layer metric by the last part of its name; "count" otherwise
UNITS = {"build_ms": "ms", "warmup_ms": "ms", "analysis_ms": "ms", "optimization_ms": "ms",
         "planning_ms": "ms", "codegen_compile_ms": "ms", "gap_ms": "ms", "action_ms": "ms",
         "job_ms": "ms", "run_ms": "ms", "cpu_ms": "ms", "gc_ms": "ms", "deserialize_ms": "ms",
         "cpu_util": "ratio", "write_bytes": "bytes", "read_bytes": "bytes", "write_ms": "ms",
         "fetch_wait_ms": "ms", "spill_memory_bytes": "bytes", "spill_disk_bytes": "bytes",
         "scratch_peak_mb": "MB", "bytes_put": "bytes", "input_bytes": "bytes",
         "output_bytes": "bytes", "batch_ms": "ms", "exec_ms": "ms", "task_ms": "ms",
         "peak_rss_mb": "MB"}
# per-layer metrics that read 0 on both kept workloads (modules they never
# call, spills, and fetch waits, which local mode never has): kept in the
# artifact, not reported
UNREACHED = ("module.CurationPipeline.", "module.multimodal.", "module.plans.",
             "shuffle.spill_", "shuffle.fetch_wait_ms")
# the gated end-to-end metrics; peak_rss_mb is printed and stored too, and
# reported per layer as jvm.peak_rss_mb, but too unsteady to gate
E2E = [("setup_s", "s"), ("cold_s", "s"), ("warm_s", "s"), ("geomean_s", "s")]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def die(msg, code=2):
    log(f"perfbench: {msg}")
    sys.exit(code)


def source_hash(root):
    h = hashlib.sha256()
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties")]
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "harness")]
    files = [f for f in tops if os.path.exists(f)]
    for tree in trees:
        for d, dirs, fs in os.walk(tree):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project", ".bsp"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    files.append(os.path.join(HERE, "harness", "build.sbt"))
    for f in files:
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build(root, build_dir):
    """Compile engine + harness with sbt unless this source tree was
    already built; return (classpath, source hash)."""
    src = source_hash(root)
    cp_file = os.path.join(build_dir, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            built_src, cp = f.read().split("\n")[:2]
        if built_src == src and all(os.path.exists(p) for p in cp.split(":")):
            return cp, src
    os.makedirs(build_dir, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g "
                           f"-Dsbt.server.autostart=false -Dsbt.repository.config={repos}")
    log("perfbench: building engine and harness with sbt ...")
    with open(os.path.join(build_dir, "sbt.log"), "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                            "export Runtime/fullClasspath"],
                           cwd=os.path.join(HERE, "harness"), env=env, stdout=subprocess.PIPE,
                           stderr=out, text=True, timeout=840)
    lines = [l for l in r.stdout.splitlines() if "scala-2.13/classes" in l and "[" not in l[:1]]
    if r.returncode != 0 or not lines:
        with open(os.path.join(build_dir, "sbt.log"), "a") as out:
            out.write(r.stdout)
        die(f"sbt build failed (exit {r.returncode}); see {build_dir}/sbt.log")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(f"{src}\n{cp}\n")
    return cp, src


def workload_ops(name, seed, work, tables):
    """(ops, per-pass order, extra facts the checks need)."""
    facts = {}
    if name == "query_mix":
        ops = [{"name": n, "kind": "query", "args": {"dir": tables}} for n in QUERY_OPS]
        return ops, inputs.pass_orders(QUERY_OPS, seed, 64), facts
    if name == "road_pipeline":
        path = os.path.join(work, "inputs", f"road-{seed}", "net.osm")
        inputs.road_network(path, ROAD_WAYS, seed, ROAD_SHAPE_NODES)
        facts["net"] = checks.criticality_oracle(*checks.read_osm(path))
        ops = [{"name": "net", "kind": "pipeline", "args": {"osm": os.path.dirname(path)}}]
        return ops, [["net"]] * 64, facts
    if name == "curation":
        import pyarrow.parquet as pq
        docs = pq.read_table(os.path.join(tables, "documents.parquet"))
        ids = docs.column("doc_id").to_pylist()
        ops = [{"name": "run", "kind": "curation_run", "args": {"sf": tables}}]
        for i, part in enumerate(inputs.batch_split(ids, CURATION_BATCHES, seed)):
            path = os.path.join(work, "inputs", f"curation-{seed}", f"batch{i}.parquet")
            os.makedirs(os.path.dirname(path), exist_ok=True)
            keep = set(part)
            pq.write_table(docs.filter([d in keep for d in ids]), path)
            ops.append({"name": f"batch{i}", "kind": "curation_batch",
                        "args": {"batch": path, "table": "corpus"}})
        return ops, [[o["name"] for o in ops]] * 64, facts
    die(f"unknown workload {name}")


def java_cmd(cp, work, spec_path):
    opens = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    # the flags build.sbt forks the engine's mains with, so VmHWM follows
    # the program's own heap sizing
    return (["java"] + opens +
            [f"-Xmx{HEAP}", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={work}/tmp", f"-Dspark.local.dir={work}/spark-local",
             f"-Dspark.sql.warehouse.dir={work}/warehouse", f"-Dderby.system.home={work}/derby",
             "-cp", cp, "perfbench.Harness", spec_path])


def run_jvm(cp, work, spec, tag, deadline):
    spec_path = os.path.join(work, f"spec-{tag}.json")
    spec["result"] = os.path.join(work, f"result-{tag}.json")
    with open(spec_path, "w") as f:
        json.dump(spec, f)
    t0 = time.time()
    with open(os.path.join(work, f"jvm-{tag}.log"), "w") as out:
        proc = subprocess.Popen(java_cmd(cp, work, spec_path), stdout=out, stderr=out)
        try:
            proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            die(f"harness JVM ({tag}) overran the run limit; see {work}/jvm-{tag}.log")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if proc.returncode != 0 or not os.path.exists(spec["result"]):
        die(f"harness JVM ({tag}) exited {proc.returncode}; see {work}/jvm-{tag}.log")
    with open(spec["result"]) as f:
        res = json.load(f)
    res["setup"]["total_s"] = (res["setup"]["ready"] - t0 * 1000) / 1000
    return res


def check(args, root, res, ops, facts, work, tables):
    """Returns {op: [problems]} over all passes (op-level) and the failed
    op-executions count."""
    passes = res["passes"]
    bad = {}
    failed = 0
    digests = [{} for _ in passes]
    kinds = {o["name"]: o["kind"] for o in ops}
    if args.workload == "query_mix":
        for name, probs in checks.oracle(root, tables, f"{work}/dump", res["oracle_sql"],
                                         [o["name"] for o in ops]).items():
            bad.setdefault(name, []).extend(probs)
        for d, p in zip(digests, passes):
            d.update({o["name"]: o.get("digest") for o in p["ops"]})
    for i, p in enumerate(passes):
        batches = []
        for o in p["ops"]:
            if not o["ok"]:
                continue
            if kinds[o["name"]] == "pipeline":
                probs, dig = checks.road(f"{work}/pass{i}/{o['name']}", facts[o["name"]])
                digests[i][o["name"]] = dig
                if probs:
                    bad.setdefault(o["name"], []).extend(f"pass {i}: {x}" for x in probs)
            elif kinds[o["name"]] == "curation_run":
                digests[i][o["name"]] = json.dumps(o["result"], sort_keys=True)
                for x in checks.curation_run(o["result"]):
                    bad.setdefault(o["name"], []).append(f"pass {i}: {x}")
            elif kinds[o["name"]] == "curation_batch":
                digests[i][o["name"]] = json.dumps(o["result"], sort_keys=True)
                batches.append(o["result"])
        if batches:
            for x in checks.curation_batches(batches):
                bad.setdefault("batches", []).append(f"pass {i}: {x}")
    for name, probs in checks.stable_digests(digests).items():
        bad.setdefault(name, []).extend(probs)
    last = {k: v for k, v in digests[0].items() if v is not None}
    # keyed by the inputs alone, so a changed engine is compared with the
    # digests an earlier build recorded for the same seed
    ident = hashlib.sha256(json.dumps([ops, facts], sort_keys=True).encode())
    key = f"{args.workload}-{args.seed}-{ident.hexdigest()[:16]}.json"
    for name, probs in checks.same_as_before(os.path.join(work, "..", "digests", key),
                                             last).items():
        bad.setdefault(name, []).extend(probs)
    for p in passes:
        for o in p["ops"]:
            if not o["ok"] or o["name"] in bad or (
                    "batches" in bad and kinds[o["name"]] == "curation_batch"):
                failed += 1
    return bad, failed


def end_to_end(res):
    walls = [(p["end"] - p["start"]) / 1000 for p in res["passes"]]
    warm = res["passes"][1:]
    per_op = {}
    for p in warm:
        for o in p["ops"]:
            if o["ok"]:
                per_op.setdefault(o["name"], []).append((o["action_end"] - o["build_start"]) / 1000)
    return {
        "setup_s": res["setup"]["total_s"],
        "cold_s": walls[0],
        "warm_s": layers.median(walls[1:]),
        "geomean_s": layers.geomean([layers.median(v) for v in per_op.values()]),
        "peak_rss_mb": res["vm_hwm_kb"] / 1024,
    }


def per_layer(res, cores):
    """Median over warm passes of each traced per-pass layer metric."""
    per_pass = [layers.pass_layers(p, res["events"], cores) for p in res["passes"]]
    warm = per_pass[1:]
    out = {k: layers.median([m[k] for m in warm]) for k in warm[0]}
    out["session.build_ms"] = res["setup"]["build_ms"]
    out["session.warmup_ms"] = res["setup"]["warmup_ms"]
    out["jvm.peak_rss_mb"] = res["vm_hwm_kb"] / 1024
    return out, per_pass


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return fields[7] if len(fields) > 7 else 0, sum(fields)


def header(args, root, res, cores, src, steal):
    # a checkout without git history is identified by its source hash alone
    commit = None
    if os.path.isdir(os.path.join(root, ".git")):
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root, capture_output=True, text=True)
        commit = r.stdout.strip() or None
    env = res["env"]
    return {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "commit": commit, "source_hash": src, "cores": cores,
            "heap_max_mb": env["heap_max_mb"], "spark": env["spark"], "java": env["java"],
            "master": env["master"], "local_dir": env["local_dir"],
            "local_dir_free_mb": env["local_dir_free_mb"],
            # CPU time the hypervisor gave to other guests while the JVM ran;
            # a high share inflates every wall time of the run
            "host_steal_share": steal}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["query_mix", "road_pipeline", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    # turn SIGTERM into SystemExit so a running JVM is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    if not (os.path.exists(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala", "graft"))):
        die("run from the root of a graft checkout (build.sbt and src/main/scala/graft)")
    cores = len(os.sched_getaffinity(0))
    cp, src = build(root, os.path.join(root, ".bench_build"))

    start = time.time()
    deadline = start + RUN_LIMIT_S[args.workload]
    base = os.path.join(root, ".bench_work")
    work = os.path.join(base, "run")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local", "warehouse", "derby"):
        os.makedirs(os.path.join(work, d))
    tables = os.path.join(base, "tables")
    inputs.tables(tables)
    ops, orders, facts = workload_ops(args.workload, args.seed, base, tables)

    spec = {"workload": args.workload, "cores": cores, "seconds": args.seconds,
            "trace": bool(args.trace), "work": work, "ops": ops, "passes": orders,
            "min_passes": MIN_PASSES[args.workload]}
    steal0, total0 = cpu_ticks()
    res = run_jvm(cp, work, spec, "main", deadline)
    steal1, total1 = cpu_ticks()
    steal = (steal1 - steal0) / max(1, total1 - total0)

    bad, failed = check(args, root, res, ops, facts, work, tables)
    attempted = sum(len(p["ops"]) for p in res["passes"])
    errors = {o["name"]: f"{o['error_class']}: {o['error']}"
              for p in res["passes"] for o in p["ops"] if not o["ok"]}
    e2e = end_to_end(res)
    warm_walls = [(p["end"] - p["start"]) / 1000 for p in res["passes"][1:]]
    artifact = {"header": header(args, root, res, cores, src, steal),
                "end_to_end": dict(e2e, fail_ratio=failed / attempted),
                "warm_pass_spread": (layers.quartile_spread(warm_walls)
                                     if len(warm_walls) > 1 else None),
                "passes": [{"index": p["index"], "wall_s": (p["end"] - p["start"]) / 1000,
                            "ops": p["ops"]} for p in res["passes"]],
                "errors": errors, "check_failures": bad}
    if args.trace:
        metrics, per_pass = per_layer(res, cores)
        artifact["per_layer"] = metrics
        artifact["per_pass_layers"] = per_pass
        # the first warm pass, op by op: layer split and heaviest call sites
        artifact["per_op_layers"], artifact["hot_callsites"] = {}, {}
        for o in res["passes"][1]["ops"]:
            window = {"start": o["build_start"], "end": o["action_end"], "ops": [o]}
            artifact["per_op_layers"][o["name"]] = layers.pass_layers(
                window, res["events"], cores)
            jobs = [j for j in res["events"]["jobs"]
                    if o["build_start"] <= j["start"] <= o["action_end"]]
            artifact["hot_callsites"][o["name"]] = layers.hot_callsites(
                jobs, res["events"]["stages"], res["events"]["executions"])
        untraced = os.path.join(base, "results", f"{args.workload}-seed{args.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                before = json.load(f)["end_to_end"]["warm_s"]
            traced = layers.median(warm_walls)
            artifact["trace_overhead_s"] = traced - before
        artifact["spans"] = layers.spans(args.workload, res["passes"], res["events"])
        shown = {k: (v, UNITS.get(k.split(".")[-1], "count")) for k, v in sorted(metrics.items())
                 if k != "pass.wall_ms" and not k.startswith(UNREACHED)}
    else:
        shown = {k: (e2e[k], u) for k, u in E2E}
    os.makedirs(os.path.join(base, "results"), exist_ok=True)
    path = os.path.join(base, "results", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(path, "w") as f:
        json.dump(artifact, f, indent=1)

    for name, msg in errors.items():
        print(f"FAILED {name}: {msg}")
    for name, probs in bad.items():
        print(f"CHECK {name}: {'; '.join(probs[:3])}")
    for k, (v, u) in shown.items():
        print(f"{k:40s} {v:14.4f} {u}")
    if not args.trace:
        print(f"{'peak_rss_mb':40s} {e2e['peak_rss_mb']:14.4f} MB")
    print(f"{'fail_ratio':40s} {failed / attempted:14.4f} -")
    print(f"correct={not bad and not errors} attempted={attempted} failed={failed} artifact={path}")
    print(json.dumps({"correct": not bad and not errors, "attempted": attempted,
                      "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))




if __name__ == "__main__":
    main()
