"""Correctness checks, run after the JVM has exited (outside every timed
region). Each returns ``{op_name: [problem, ...]}`` for the operations
that failed a check; an empty dict means everything passed.
"""
import glob
import hashlib
import heapq
import importlib.util
import json
import math
import os
import xml.etree.ElementTree as ET

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def _oracle_module(root):
    """``tools/oracle_check.py`` of the checkout: its ``canon`` is the
    order-insensitive compare the correctness gate uses."""
    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def oracle(root, table_dir, dump_dir, oracle_sql, names):
    """Compare each query's dumped first-pass output with its DuckDB
    oracle SQL, the way ``tools/oracle_check.py`` does."""
    canon = _oracle_module(root).canon
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
    bad = {}
    for name in names:
        sql = oracle_sql.get(name)
        files = glob.glob(f"{dump_dir}/{name}/*.parquet")
        if sql is None or not files:
            bad[name] = ["no oracle SQL" if sql is None else "no output dump"]
            continue
        try:
            expect = canon(con.sql(sql).df())
            got = canon(duckdb.sql(f"SELECT * FROM '{dump_dir}/{name}/*.parquet'").df())
        except Exception as e:  # noqa: BLE001 - any oracle error fails the op
            bad[name] = [f"oracle error: {type(e).__name__}: {str(e).splitlines()[0]}"]
            continue
        if list(expect.columns) != list(got.columns):
            bad[name] = [f"columns {list(got.columns)} != {list(expect.columns)}"]
        elif [str(t) for t in expect.dtypes] != [str(t) for t in got.dtypes]:
            bad[name] = ["dtypes differ from the oracle"]
        elif len(expect) != len(got):
            bad[name] = [f"rows {len(got)} != oracle {len(expect)}"]
        elif not expect.astype(str).equals(got.astype(str)):
            bad[name] = ["values differ from the oracle"]
    return bad


def _rows(pattern, reader):
    files = sorted(glob.glob(pattern))
    if not files:
        return None
    return duckdb.sql(f"SELECT * FROM {reader}({files!r})").fetchall()


def _digest(rows):
    h = hashlib.sha256()
    for r in sorted(repr(r) for r in rows):
        h.update(r.encode())
    return h.hexdigest()[:24]


EARTH_RADIUS_KM = 6371.0088
UPGRADES = ("upgrade-rehab-asphalt", "upgrade-rehab-gravel", "rehab-earth")


def _haversine_km(lon1, lat1, lon2, lat2):
    d_lat = math.radians(lat2 - lat1)
    d_lon = math.radians(lon2 - lon1)
    a = (math.sin(d_lat / 2) ** 2
         + math.cos(math.radians(lat1)) * math.cos(math.radians(lat2))
         * math.sin(d_lon / 2) ** 2)
    return 2 * EARTH_RADIUS_KM * math.asin(min(1.0, math.sqrt(a)))


def read_osm(path):
    """Nodes as [(lon, lat)] in file order, ways as [(name, ruc, [node index])]."""
    root = ET.parse(path).getroot()
    index, nodes, ways = {}, [], []
    for n in root.iter("node"):
        index[n.get("id")] = len(nodes)
        nodes.append((float(n.get("lon")), float(n.get("lat"))))
    for w in root.iter("way"):
        tags = {t.get("k"): t.get("v") for t in w.iter("tag")}
        refs = [index[nd.get("ref")] for nd in w.iter("nd")]
        ways.append((tags.get("NAME", w.get("id")), float(tags.get("RUC", 1.0)), refs))
    return nodes, ways


def _dijkstra(adj, source, removed):
    dist = [math.inf] * len(adj)
    dist[source] = 0.0
    heap = [(0.0, source)]
    while heap:
        d, u = heapq.heappop(heap)
        if d > dist[u]:
            continue
        for v, cost, way in adj[u]:
            if way != removed:
                nd = d + cost
                if nd < dist[v]:
                    dist[v] = nd
                    heapq.heappush(heap, (nd, v))
    return dist


def criticality_oracle(nodes, ways):
    """Criticality score per way name, recomputed from the OSM input.

    The same model as ``Pipeline.run``: edge cost RUC x haversine km; OD
    points are the first and last node and the node nearest the mean
    coordinate; for each way, remove it, route the OD pairs again and
    score the change against the full network (leave-one-out
    criticality). Scores are unrounded.
    """
    adj = [[] for _ in nodes]
    for w, (_, ruc, refs) in enumerate(ways):
        for a, b in zip(refs, refs[1:]):
            if a != b:
                cost = ruc * _haversine_km(*nodes[a], *nodes[b])
                adj[a].append((b, cost, w))
                adj[b].append((a, cost, w))
    n = len(nodes)
    mlon = sum(x for x, _ in nodes) / n
    mlat = sum(y for _, y in nodes) / n
    center = min(range(n), key=lambda i: ((nodes[i][0] - mlon) ** 2
                                          + (nodes[i][1] - mlat) ** 2, i))
    od = [0, n - 1, center]

    def matrix(removed):
        dists = [_dijkstra(adj, s, removed) for s in od]
        out = []
        for i in range(len(od)):
            for j in range(i + 1, len(od)):
                ab, ba = dists[i][od[j]], dists[j][od[i]]
                out.append(None if math.isinf(ab) or math.isinf(ba) else max(ab, ba))
        return out

    bench = matrix(None)
    stats = []
    for w in range(len(ways)):
        unroutable = impacted = 0
        deltas = []
        for o, b in zip(matrix(w), bench):
            if o is None:
                unroutable += 1
                continue
            delta = o - (b if b is not None else 0.0)
            if delta >= 0:
                deltas.append(delta)
            if delta > 0:
                impacted += 1
            if delta < 0:
                unroutable += 1
        nonzero = sum(1 for d in deltas if d != 0.0)
        stats.append((unroutable, impacted, sum(deltas) / nonzero if nonzero else 0.0))
    max_time = max((u + i) * a for u, i, a in stats)
    max_unroutable = max(u for u, _, _ in stats)
    scores = {}
    for (name, _, _), (u, i, a) in zip(ways, stats):
        time_score = (u + i) * a / max_time if max_time else 0.0
        unroutable_score = u / max_unroutable if max_unroutable else 0.0
        scores[name] = (0.4 * time_score + 0.6 * unroutable_score) * 100
    return scores


def road(out_dir, expected):
    """One pipeline output against ``expected``, the criticality oracle's
    scores by way name: one indicator row per way with its score (rounded
    to 2 dp by the pipeline), and one EAUL row per (way, upgrade) plus the
    baseline, all 0 (the pipeline runs without flood statistics, so no way
    is ever impassable). Returns (problems, digest)."""
    problems = []
    ind = _rows(f"{out_dir}/indicators/*.csv", "read_csv_auto")
    eaul = _rows(f"{out_dir}/eaul/*.json", "read_json_auto")
    if ind is None or eaul is None:
        return ["missing pipeline output"], None
    n_ways = len(expected)
    names = [r[0] for r in ind]
    if len(ind) != n_ways or set(names) != set(expected):
        problems.append(f"criticality rows {len(ind)} (distinct {len(set(names))}) "
                        f"!= ways {n_ways}")
    wrong = [r[0] for r in ind if r[0] in expected
             and (r[2] is None or abs(r[2] - expected[r[0]]) > 0.011)]
    if wrong:
        problems.append(f"criticality score differs from the oracle for {len(wrong)} "
                        f"ways, e.g. {wrong[0]}")
    keys = {(w, u) for w in expected for u in UPGRADES} | {("baseline", "baseline")}
    if len(eaul) != 3 * n_ways + 1 or {(r[0], r[1]) for r in eaul} != keys:
        problems.append(f"eaul rows {len(eaul)} != one per (way, upgrade) + baseline "
                        f"({3 * n_ways + 1})")
    if any(r[2] != 0 for r in eaul):
        problems.append("eaul not 0 without flood statistics")
    return problems, _digest(ind) + _digest(eaul)


def curation_run(result):
    order = ["input", "after_quality", "after_repetition", "curated", "after_semantic"]
    counts = [result.get(k) for k in order]
    if None in counts or any(a < b for a, b in zip(counts, counts[1:])):
        return [f"stage counts increase or are missing: {counts}"]
    return []


def curation_batches(results):
    """``results``: appendCuratedBatch counts of one pass, in batch order."""
    problems, total = [], 0
    for i, r in enumerate(results):
        total += r["appended"]
        if not r["batch"] >= r["after_filters"] >= r["appended"]:
            problems.append(f"batch {i}: stage counts increase")
        if r["version"] != i:
            problems.append(f"batch {i}: TxLog version {r['version']} != {i}")
        if r["corpus"] != total:
            problems.append(f"batch {i}: corpus {r['corpus']} != appended total {total}")
    return problems


def stable_digests(digests_by_pass):
    """``[{op: digest}]`` per pass -> ops whose digest changes across passes."""
    bad = {}
    for op in {o for d in digests_by_pass for o in d}:
        seen = {d[op] for d in digests_by_pass if d.get(op) is not None}
        if len(seen) > 1:
            bad[op] = [f"output digest differs across passes ({len(seen)} values)"]
    return bad


def same_as_before(path, digests):
    """Compare with the digests an earlier run of the same seed and build
    recorded at ``path``; record them if there is none yet."""
    if os.path.exists(path):
        with open(path) as f:
            before = json.load(f)
        return {op: ["output digest differs from an earlier run of this seed"]
                for op, d in digests.items() if op in before and before[op] != d}
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(digests, f, indent=1, sort_keys=True)
    return {}
