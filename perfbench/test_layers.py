"""Tests for the benchmark's own logic. Run: python3 perfbench/test_layers.py"""
import os
import statistics
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import inputs  # noqa: E402
import layers  # noqa: E402


def stack(*frames):
    """A Spark long-form call site: one frame per line, innermost first."""
    return "\n".join(frames)


class Stats(unittest.TestCase):
    def test_median_odd_even(self):
        self.assertEqual(layers.median([3, 1, 2]), 2)
        self.assertEqual(layers.median([4, 1, 3, 2]), 2.5)

    def test_quartile_spread_matches_statistics(self):
        xs = [10.0, 11.0, 9.5, 10.2, 10.8, 9.9, 10.1, 10.4, 10.0, 12.0]
        q1, _, q3 = statistics.quantiles(xs, n=4)
        self.assertAlmostEqual(layers.quartile_spread(xs), (q3 - q1) / statistics.median(xs))

    def test_geomean(self):
        self.assertAlmostEqual(layers.geomean([1.0, 4.0, 16.0]), 4.0)
        self.assertAlmostEqual(layers.geomean([2.0]), 2.0)


class Intervals(unittest.TestCase):
    def test_union_merges_overlaps_and_clips(self):
        iv = [(5, 8), (0, 3), (2, 4), (7, 12)]
        self.assertEqual(layers.union(iv), [(0, 4), (5, 12)])
        self.assertEqual(layers.union(iv, 1, 10), [(1, 4), (5, 10)])

    def test_covered_plus_gaps_is_the_window(self):
        iv = [(105, 130), (120, 150), (170, 180), (195, 260)]
        lo, hi = 100, 200
        self.assertEqual(layers.covered(iv, lo, hi), 45 + 10 + 5)
        self.assertEqual(layers.gaps(iv, lo, hi), 5 + 20 + 15)
        self.assertEqual(layers.covered(iv, lo, hi) + layers.gaps(iv, lo, hi), hi - lo)

    def test_no_jobs_is_all_gap(self):
        self.assertEqual(layers.gaps([], 0, 50), 50)
        self.assertEqual(layers.covered([], 0, 50), 0)


class Attribution(unittest.TestCase):
    def test_kmeans_init_collect_goes_to_operators(self):
        # `collect at Similarity.scala:606`, reached from CurationPipeline
        s = stack("org.apache.spark.sql.Dataset.collect(Dataset.scala:3512)",
                  "graft.operators.Similarity$.kmeansInit(Similarity.scala:606)",
                  "graft.operators.Dedup$.semDedupKmeans(Dedup.scala:1201)",
                  "graft.CurationPipeline$.run(CurationPipeline.scala:68)",
                  "perfbench.Harness$.runOp(Harness.scala:70)")
        self.assertEqual(layers.module_of(s), "operators")

    def test_pipeline_egress_goes_to_pipeline(self):
        # `json at Pipeline.scala:51` (EAUL egress) and the recount at :53
        for line in (51, 53):
            s = stack("org.apache.spark.sql.DataFrameWriter.json(DataFrameWriter.scala:400)",
                      f"graft.Pipeline$.run(Pipeline.scala:{line})",
                      "perfbench.Harness$.runOp(Harness.scala:64)")
            self.assertEqual(layers.module_of(s), "Pipeline")

    def test_innermost_listed_frame_wins_and_functions_are_skipped(self):
        s = stack("graft.functions.GeoFunctions$.haversineKm(GeoFunctions.scala:10)",
                  "graft.graph.Bfs$.$anonfun$sssp$3(Bfs.scala:77)",
                  "graft.SparkEntry$.qg30Sssp(SparkEntry.scala:3000)")
        self.assertEqual(layers.module_of(s), "graph")

    def test_tables_count_as_sources(self):
        s = stack("graft.Tables$.load(Tables.scala:15)",
                  "graft.SparkEntry$.q1Agg(SparkEntry.scala:36)")
        self.assertEqual(layers.module_of(s), "sources")

    def test_benchmark_action_is_action(self):
        s = stack("org.apache.spark.sql.Dataset.collect(Dataset.scala:3512)",
                  "perfbench.Harness$.runOp(Harness.scala:59)",
                  "scala.collection.immutable.List.foreach(List.scala:334)")
        self.assertEqual(layers.module_of(s), "action")
        self.assertEqual(layers.module_of(""), "action")
        self.assertEqual(layers.module_of(None), "action")


class Seeds(unittest.TestCase):
    def test_pass_orders_reproducible_and_permutations(self):
        ops = [f"q{i}" for i in range(12)]
        a = inputs.pass_orders(ops, 7, 5)
        self.assertEqual(a, inputs.pass_orders(ops, 7, 5))
        self.assertNotEqual(a, inputs.pass_orders(ops, 8, 5))
        for order in a:
            self.assertEqual(sorted(order), sorted(ops))

    def test_batch_split_reproducible_and_partitions(self):
        ids = list(range(500))
        a = inputs.batch_split(ids, 3, 11)
        self.assertEqual(a, inputs.batch_split(ids, 3, 11))
        self.assertNotEqual(a, inputs.batch_split(ids, 3, 12))
        self.assertEqual(len(a), 3)
        self.assertTrue(all(a))
        self.assertEqual(sorted(x for b in a for x in b), ids)

    def test_road_network_reproducible(self):
        with tempfile.TemporaryDirectory() as d:
            n1 = inputs.road_network(os.path.join(d, "a", "net.osm"), 200, 5, 3)
            n2 = inputs.road_network(os.path.join(d, "b", "net.osm"), 200, 5, 3)
            with open(os.path.join(d, "a", "net.osm")) as f1, \
                    open(os.path.join(d, "b", "net.osm")) as f2:
                self.assertEqual(f1.read(), f2.read())
            self.assertEqual(n1, n2)
            self.assertTrue(150 <= n1 <= 250, n1)
            inputs.road_network(os.path.join(d, "c", "net.osm"), 200, 6, 3)
            with open(os.path.join(d, "a", "net.osm")) as f1, \
                    open(os.path.join(d, "c", "net.osm")) as f3:
                self.assertNotEqual(f1.read(), f3.read())

    def test_shape_nodes_make_polylines(self):
        with tempfile.TemporaryDirectory() as d:
            path = os.path.join(d, "net.osm")
            n = inputs.road_network(path, 40, 1, 5)
            nodes, ways = checks.read_osm(path)
            self.assertEqual(len(ways), n)
            self.assertTrue(all(len(refs) == 7 for _, _, refs in ways))
            # every node is used, shape nodes by exactly one way
            used = [r for _, _, refs in ways for r in refs]
            self.assertEqual(set(used), set(range(len(nodes))))
            self.assertEqual(len(nodes) - len({r for _, _, refs in ways for r in refs[1:-1]}),
                             len({r for _, _, refs in ways for r in (refs[0], refs[-1])}))


class RoadOracle(unittest.TestCase):
    """Criticality by hand on a path 0-1-2 (ways A, B, cost 1 each) plus
    a detour 0-3-2 (ways C, D, cost 2 each), every cost RUC x km.

    OD nodes are 0, the last node 3 and the node nearest the mean
    coordinate, 1. Pairs: (0,3) cost 2, (0,1) cost 1, (3,1) cost 3.
    Removing A: (0,1) goes round to 5 (+4), (3,1) stays 3 -> impacted 1,
    mean non-zero 4. B: (3,1) goes 0-1 -> 1+2 = 3, unchanged. C: (0,3)
    goes 0-1-2-3 = 4 (+2), (3,1) goes 3-2-1 = 3, unchanged. D: (3,1)
    via 0 is 3 either way; (0,3) unchanged. So A scores 0.4*100, C
    0.4*100*2/4 = 20, B and D 0; nothing is ever unroutable.
    """

    def network(self):
        km = checks._haversine_km(0.0, 0.0, 0.01, 0.0)
        nodes = [(0.0, 0.0), (0.01, 0.0), (0.02, 0.0), (0.01, -0.02)]
        d03 = checks._haversine_km(*nodes[0], *nodes[3])
        d32 = checks._haversine_km(*nodes[3], *nodes[2])
        ways = [("A", 1 / km, [0, 1]), ("B", 1 / km, [1, 2]),
                ("C", 2 / d03, [0, 3]), ("D", 2 / d32, [3, 2])]
        return nodes, ways

    def test_hand_scores(self):
        scores = checks.criticality_oracle(*self.network())
        self.assertAlmostEqual(scores["A"], 40.0, places=6)
        self.assertAlmostEqual(scores["C"], 20.0, places=6)
        self.assertAlmostEqual(scores["B"], 0.0, places=6)
        self.assertAlmostEqual(scores["D"], 0.0, places=6)

    def test_bridge_is_unroutable(self):
        # a dead end 2-4 (way E, cost 1): node 4 is now the last node, so
        # OD is 0, 4 and 1 with pairs (0,4) 3, (0,1) 1, (4,1) 2. Removing
        # A: +2 and +4; B: +2 and +4; E cuts 4 off (2 pairs unroutable);
        # C and D change nothing. Time scores 6, 6, 0 of max 6.
        nodes, ways = self.network()
        nodes = nodes + [(0.03, 0.0)]
        ways = ways + [("E", 1 / checks._haversine_km(*nodes[2], *nodes[4]), [2, 4])]
        scores = checks.criticality_oracle(nodes, ways)
        for name, want in (("A", 40.0), ("B", 40.0), ("C", 0.0), ("D", 0.0), ("E", 60.0)):
            self.assertAlmostEqual(scores[name], want, places=6, msg=name)


def _events():
    exec_stack = stack("graft.graph.Bfs$.sssp(Bfs.scala:80)")
    return {
        "jobs": [
            {"id": 0, "start": 1010, "end": 1040, "execution": 0, "stages": [0, 1],
             "callsite": "count at Bfs.scala:80", "stack": exec_stack},
            {"id": 1, "start": 1030, "end": 1060, "stages": [2],
             "callsite": "collect at Harness.scala:59",
             "stack": stack("perfbench.Harness$.runOp(Harness.scala:59)")},
            {"id": 2, "start": 1080, "end": 1090, "stages": [3],
             "callsite": "x", "stack": ""},
            {"id": 3, "start": 2000, "end": 2010, "stages": [4], "stack": ""},
        ],
        "executions": [{"id": 0, "start": 1005, "end": 1045, "stack": exec_stack}],
        "stages": [dict({k: 1 for k in (
            "tasks", "run_ms", "cpu_ns", "gc_ms", "deserialize_ms", "shuffle_write_bytes",
            "shuffle_write_ns", "shuffle_read_bytes", "fetch_wait_ms", "spill_memory_bytes",
            "spill_disk_bytes", "input_bytes", "input_records", "output_bytes",
            "output_records")}, id=i) for i in range(5)],
        "queries": [{"t": 1046, "analysis_ms": 3, "optimization_ms": 2, "planning_ms": 1}],
        "blocks": [{"t": 1020, "bytes": 100}, {"t": 3000, "bytes": 5}],
        "progress": [],
    }


class PassLayers(unittest.TestCase):
    pas = {"index": 1, "start": 1000, "end": 1100, "scratch_peak_bytes": 2**20,
           "ops": [{"name": "q", "build_start": 1000, "build_end": 1050,
                    "action_start": 1050, "action_end": 1100, "codegen_ms": 4.0}]}

    def test_job_time_plus_gap_is_pass_wall(self):
        m = layers.pass_layers(self.pas, _events(), cores=4)
        self.assertEqual(m["scheduler.jobs"], 3)
        self.assertEqual(m["scheduler.job_ms"], 50 + 10)
        self.assertEqual(m["scheduler.job_ms"] + m["driver.gap_ms"], 100)

    def test_modules_stages_and_storage(self):
        m = layers.pass_layers(self.pas, _events(), cores=4)
        self.assertEqual(m["module.graph.jobs"], 1)
        self.assertEqual(m["module.graph.task_ms"], 2)
        self.assertEqual(m["module.graph.exec_ms"], 40)
        self.assertEqual(m["module.action.jobs"], 2)
        self.assertEqual(m["scheduler.stages"], 4)
        self.assertEqual(m["storage.blocks_put"], 1)
        self.assertEqual(m["catalyst.analysis_ms"], 3)
        self.assertEqual(m["shuffle.scratch_peak_mb"], 1.0)
        self.assertEqual(m["call.build_ms"] + m["call.action_ms"], 100)

    def test_span_tree_parents(self):
        sp = layers.spans("w", [self.pas], _events())
        by = {(s["kind"], s["name"]): s for s in sp}
        kinds = {s["id"]: s["kind"] for s in sp}
        self.assertEqual(kinds[by[("pass", "1")]["parent"]], "workload")
        self.assertEqual(kinds[by[("op", "q")]["parent"]], "pass")
        self.assertEqual(kinds[by[("execution", "0")]["parent"]], "build")
        self.assertEqual(kinds[by[("job", "count at Bfs.scala:80")]["parent"]], "execution")
        self.assertEqual(kinds[by[("job", "x")]["parent"]], "action")
        self.assertEqual(sum(1 for s in sp if s["kind"] == "job"), 3)
        # build 1000-1050 holds execution 1005-1045 and job 1 (started at
        # 1030, clipped at 1050); action 1050-1100 holds job 2, 1080-1090
        self.assertEqual(by[("build", "q")]["self_ms"], 5)
        self.assertEqual(by[("action", "q")]["self_ms"], 40)

    def test_stream_jobs_go_to_streaming(self):
        # a micro-batch job carries the stream's query id and only
        # stream-thread frames; its execution goes with it
        ev = _events()
        ev["jobs"][2].update(stream="q-1", execution=1)
        ev["executions"].append({"id": 1, "start": 1078, "end": 1092, "stack": stack(
            "org.apache.spark.sql.execution.streaming.runtime.MicroBatchExecution.runBatch("
            "MicroBatchExecution.scala:900)")})
        m = layers.pass_layers(self.pas, ev, cores=4)
        self.assertEqual(m["module.streaming.jobs"], 1)
        self.assertEqual(m["module.streaming.exec_ms"], 14)
        self.assertEqual(m["module.streaming.task_ms"], 1)
        self.assertEqual(m["module.action.jobs"], 1)

    def test_hot_callsites_ranked_by_task_time(self):
        ev = _events()
        ev["stages"][2]["run_ms"] = 50
        ev["executions"][0]["callsite"] = "json at Pipeline.scala:51"
        hot = layers.hot_callsites(ev["jobs"][:3], ev["stages"], ev["executions"])
        self.assertEqual(hot[0]["callsite"], "collect at Harness.scala:59")
        self.assertEqual(hot[0]["task_ms"], 50)
        # a job of a SQL execution is filed under the execution's call site
        self.assertEqual(hot[1]["callsite"], "json at Pipeline.scala:51")
        self.assertEqual(hot[1]["task_ms"], 2)
        self.assertEqual((hot[1]["executions"], hot[0]["executions"]), (1, 0))


if __name__ == "__main__":
    unittest.main()
