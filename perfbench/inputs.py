"""Input generation for the benchmark workloads.

Two kinds of input:

* ``tables(dir)`` writes a fixed TPC-H-like star schema plus the ``events``,
  ``documents`` and ``embeddings`` tables, with the same schemas as the
  harness tables of FIXTURES.md section 3, at roughly sf0.01 row
  counts. It always uses the same internal seed: the table workloads vary
  with ``--seed`` only through their operation order, so a seed never
  changes how much work a pass does.
* ``road_network(path, ways_target, seed, shape_nodes)`` writes a seeded
  OSM XML road network: a jittered grid with 10% of its ways dropped,
  polyline ways through jittered shape nodes, and seeded RUC, surface and
  road-class tags.

Seeded choices that the harness needs (operation order per pass, the
curation batch split) live here too, so tests can pin them.
"""
import json
import math
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 20240101
# bump when the generated tables change, so cached copies are rebuilt
TABLE_VERSION = 1

WORDS = ("a the data query table row column key value join agg scan filter "
         "sort merge group window batch stream spark hash part line order "
         "customer small big fast slow vector").split()


def _ts(base, seconds):
    return pa.array((np.datetime64(base, "us")
                     + (np.asarray(seconds) * 1e6).astype("timedelta64[us]")),
                    pa.timestamp("us"))


def tables(out_dir):
    """Write the fixed table set into ``out_dir`` (idempotent)."""
    stamp = os.path.join(out_dir, "_tables.json")
    meta = {"version": TABLE_VERSION}
    if os.path.exists(stamp):
        with open(stamp) as f:
            if json.load(f) == meta:
                return
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part, n_ord, n_line, n_ev = 1500, 100, 2000, 15000, 60000, 10000
    n_docs, n_vecs = 500, 500

    def write(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))

    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    write("region", {"r_regionkey": pa.array(range(5), pa.int32()),
                     "r_name": regions})
    write("nation", {"n_nationkey": pa.array(range(25), pa.int32()),
                     "n_name": [f"NATION_{i}" for i in range(25)],
                     "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
    write("customer", {
        "c_custkey": pa.array(range(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_cust), 2),
        "c_mktsegment": [segs[i] for i in rng.integers(0, 5, n_cust)]})
    write("supplier", {
        "s_suppkey": pa.array(range(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, n_supp), 2)})
    adj = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
    noun = ["bolt", "gear", "rod", "ring", "plate", "anvil", "widget", "gizmo"]
    ptypes = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    write("part", {
        "p_partkey": pa.array(range(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": [ptypes[i] for i in rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1)})
    prio = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
    day = 86400
    write("orders", {
        "o_orderkey": pa.array(range(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000.0, 500000.0, n_ord), 2),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": [prio[i] for i in rng.integers(0, 5, n_ord)]})
    qty = rng.integers(1, 51, n_line).astype(float)
    flags = rng.integers(0, 3, n_line)
    write("lineitem", {
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_line), 2),
        "l_discount": np.round(rng.integers(0, 11, n_line) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) * 0.01, 2),
        "l_returnflag": [("A", "N", "R")[i] for i in flags],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_line)],
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line) * day)})
    etypes = ["click", "error", "purchase", "signup", "view"]
    write("events", {
        "event_id": pa.array(range(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * day, n_ev))),
        "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
        "event_type": [etypes[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(np.minimum(rng.lognormal(3.5, 0.9, n_ev), 490.0) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})
    # documents: random word sequences plus near-duplicates (one word
    # swapped) and a few exact copies, so every dedup stage has work
    texts = []
    for i in range(n_docs):
        if i >= 20 and i % 10 == 3:
            src = texts[int(rng.integers(0, i))].split()
            src[int(rng.integers(0, len(src)))] = "dup"
            texts.append(" ".join(src))
        elif i >= 20 and i % 25 == 7:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            n = int(rng.integers(10, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), n)))
    langs = ["en"] * 44 + ["de"] * 14 + ["es"] * 14 + ["fr"] * 13 + ["zh"] * 15
    write("documents", {
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": [langs[i] for i in rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0.0, 0.12, (10, 64))
    vecs = np.clip(centers[labels] + rng.normal(0.0, 0.08, (n_vecs, 64)), -0.52, 0.52)
    write("embeddings", {
        "vec_id": pa.array(range(n_vecs), pa.int64()),
        "embedding": pa.array([v.astype(np.float32).tolist() for v in vecs],
                              pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})
    with open(stamp, "w") as f:
        json.dump(meta, f)


def road_network(path, ways_target, seed, shape_nodes=0):
    """Write a seeded OSM XML road network; return its way count.

    A k x k grid of jittered junctions joined to their right and upper
    neighbours gives 2k(k-1) candidate ways, of which a seeded 10% are
    dropped. Each way is a polyline through ``shape_nodes`` jittered shape
    nodes between its two junctions, as OSM ways are: the shape nodes grow
    the graph every shortest-path search walks without adding ways, and so
    without adding scenario tasks. Junctions no way touches are left out.
    """
    rng = random.Random(seed)
    k = max(3, round((1 + math.sqrt(1 + 2 * ways_target / 0.9)) / 2))
    step = 0.01  # degrees, ~1.1 km
    coords = {}
    for r in range(k):
        for c in range(k):
            coords[r * k + c] = (32.5 + c * step + rng.uniform(-0.3, 0.3) * step,
                                 -25.9 + r * step + rng.uniform(-0.3, 0.3) * step)
    pairs = [(r * k + c, r * k + c + 1) for r in range(k) for c in range(k - 1)]
    pairs += [(r * k + c, (r + 1) * k + c) for r in range(k - 1) for c in range(k)]
    dropped = set(rng.sample(range(len(pairs)), round(0.1 * len(pairs))))
    kept = [p for i, p in enumerate(pairs) if i not in dropped]
    used = sorted({n for p in kept for n in p})
    classes = ["primary", "secondary", "tertiary"]
    node_lines, way_lines = [], []
    for n in used:
        lon, lat = coords[n]
        node_lines.append(f'<node id="{n + 1}" lat="{lat:.7f}" lon="{lon:.7f}"/>')
    next_id = k * k + 1
    for i, (a, b) in enumerate(kept):
        (lon1, lat1), (lon2, lat2) = coords[a], coords[b]
        refs = [a + 1]
        for s in range(1, shape_nodes + 1):
            f = s / (shape_nodes + 1)
            lon = lon1 + f * (lon2 - lon1) + rng.uniform(-0.02, 0.02) * step
            lat = lat1 + f * (lat2 - lat1) + rng.uniform(-0.02, 0.02) * step
            node_lines.append(f'<node id="{next_id}" lat="{lat:.7f}" lon="{lon:.7f}"/>')
            refs.append(next_id)
            next_id += 1
        refs.append(b + 1)
        length = 111_000 * math.hypot((lon2 - lon1) * math.cos(math.radians(lat1)),
                                      lat2 - lat1)
        tags = {"NAME": f"W{i + 1}", "RUC": f"{rng.uniform(0.8, 2.5):.3f}",
                "length": f"{length:.1f}",
                "SURF_TYPE": "paved" if rng.random() < 0.6 else "unpaved",
                "ROAD_CLASS": rng.choice(classes)}
        tag_xml = "".join(f'<tag k="{t}" v="{v}"/>' for t, v in sorted(tags.items()))
        nd_xml = "".join(f'<nd ref="{r}"/>' for r in refs)
        way_lines.append(f'<way id="{i + 1}">{nd_xml}{tag_xml}</way>')
    lines = (['<?xml version="1.0"?>', '<osm version="0.6" generator="perfbench">']
             + node_lines + way_lines + ["</osm>"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return len(kept)


def pass_orders(ops, seed, passes):
    """Per-pass operation order: a seeded permutation for every pass."""
    rng = random.Random(seed)
    orders = []
    for _ in range(passes):
        order = list(ops)
        rng.shuffle(order)
        orders.append(order)
    return orders


def batch_split(doc_ids, batches, seed):
    """Seeded assignment of documents to ``batches`` ingest batches.

    Every batch gets at least one document; the split is a seeded shuffle
    cut at seeded points.
    """
    rng = random.Random(seed)
    ids = sorted(doc_ids)
    rng.shuffle(ids)
    cuts = sorted(rng.sample(range(1, len(ids)), batches - 1))
    bounds = [0] + cuts + [len(ids)]
    return [sorted(ids[bounds[i]:bounds[i + 1]]) for i in range(batches)]
