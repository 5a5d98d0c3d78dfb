"""Tests of the benchmark's metric arithmetic.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import report  # noqa: E402


def span(start, end, layer, name="x", **attrs):
    return dict(attrs, name=name, start=start, end=end, layer=layer)


class MedianRuleTest(unittest.TestCase):
    """latency_p50_s: the median op wall, interpolated for even counts."""
    def ops(self, walls):
        return [{"start_us": 0, "end_us": int(w * 1e6)} for w in walls]

    def test_odd_count_is_the_middle_wall(self):
        self.assertAlmostEqual(report.client(self.ops([5, 1, 9]))["latency_p50_s"][0], 5)

    def test_even_count_is_the_mean_of_the_middle_two(self):
        self.assertAlmostEqual(report.client(self.ops([1, 2, 4, 10]))["latency_p50_s"][0], 3)

    def test_ties(self):
        self.assertAlmostEqual(report.client(self.ops([1, 1, 1, 3]))["latency_p50_s"][0], 1)

    def test_throughput_is_ops_per_second_of_op_wall(self):
        self.assertAlmostEqual(report.client(self.ops([1, 3]))["throughput_ops_s"][0], 0.5)


class SelfTimeTest(unittest.TestCase):
    ROOT = {"start": 0, "end": 100, "layer": "harness"}

    def test_nested_spans_subtract_children(self):
        spans = [span(10, 90, "queries"), span(20, 50, "tables"),
                 span(60, 80, "operators")]
        st = report.self_times(self.ROOT, spans)
        self.assertEqual(st, {"harness": 20, "queries": 30, "tables": 30,
                              "operators": 20})

    def test_times_sum_to_root_wall(self):
        spans = [span(5, 95, "exec"), span(10, 40, "catalyst"),
                 span(30, 70, "exec"), span(35, 45, "exec")]
        st = report.self_times(self.ROOT, spans)
        self.assertAlmostEqual(sum(st.values()), 100)

    def test_concurrent_siblings_split_evenly(self):
        spans = [span(0, 100, "exec"), span(20, 60, "exec", name="job"),
                 span(40, 80, "lake", name="job")]
        st = report.self_times(self.ROOT, spans)
        # 40-60 is covered by both jobs at the same depth: 10 each
        self.assertAlmostEqual(st["lake"], 30)
        self.assertAlmostEqual(st["exec"], 40 + 20 + 10)

    def test_spans_are_clipped_to_the_root(self):
        st = report.self_times(self.ROOT, [span(-50, 30, "streaming"),
                                           span(90, 150, "exec")])
        self.assertEqual(st, {"streaming": 30, "harness": 60, "exec": 10})

    def test_empty_root(self):
        self.assertEqual(report.self_times(self.ROOT, []), {"harness": 100})

    def test_nest_depths(self):
        spans = [span(0, 100, "a"), span(10, 20, "b"), span(12, 18, "c"),
                 span(50, 60, "d")]
        self.assertEqual(report.nest(self.ROOT, spans), [1, 2, 3, 2])


class AttributionTest(unittest.TestCase):
    def test_innermost_library_frame_wins(self):
        long = ("graft.operators.PageRank$.run(PageRank.scala:77)\n"
                "graft.queries.RelationalQueries$.$anonfun$all$1(RelationalQueries.scala:900)\n"
                "perfbench.Menus$.$anonfun$registry$2(Workload.scala:106)")
        self.assertEqual(report.job_layer(long, "collect at PageRank.scala:77"), "operators")

    def test_tables_frame(self):
        long = "graft.Tables$.apply(Tables.scala:25)\nperfbench.Menus$..."
        self.assertEqual(report.job_layer(long), "tables")

    def test_other_graft_code_is_queries(self):
        self.assertEqual(report.job_layer("graft.queries.PipelineQueries$.x(P.scala:1)"),
                         "queries")
        self.assertEqual(report.job_layer("graft.GraftFunctions$.y(G.scala:3)"), "queries")

    def test_lake_and_streaming_frames(self):
        self.assertEqual(report.job_layer("graft.lake.LakeLog$.commit(LakeLog.scala:5)"), "lake")
        self.assertEqual(report.job_layer("graft.streaming.StreamingOps$.f(S.scala:9)"),
                         "streaming")

    def test_harness_frame_is_exec(self):
        long = "perfbench.FrameOp.run(Workload.scala:78)\nperfbench.Main$.x(Main.scala:1)"
        self.assertEqual(report.job_layer(long, "save at Workload.scala:78"), "exec")

    def test_micro_batch_jobs_are_streaming(self):
        self.assertEqual(report.job_layer("graft.queries.StreamingQueries$.r(S.scala:1)",
                                          stream=True), "streaming")

    def test_short_form_fallback(self):
        self.assertEqual(report.job_layer("", "parquet at Tables.scala:25"), "tables")
        self.assertEqual(report.job_layer("", "collect at Unknown.scala:1"), "exec")


class OverheadTest(unittest.TestCase):
    def op(self, key, wall_s):
        return {"key": key, "start_us": 0, "end_us": int(wall_s * 1e6)}

    def test_pairs_by_key(self):
        traced = [self.op("a", 1.1), self.op("b", 2.2)]
        plain = [self.op("b", 2.0), self.op("a", 1.0), self.op("c", 9.0)]
        over, base = report.tracing_overhead(traced, plain)
        self.assertAlmostEqual(over, 0.15)
        self.assertAlmostEqual(base, 1.5)

    def test_no_common_key(self):
        self.assertEqual(report.tracing_overhead([self.op("a", 1)], [self.op("b", 1)]),
                         (0.0, 0.0))


class MetricsTest(unittest.TestCase):
    def raw(self):
        op = {"key": "q", "kind": "query", "traced": True, "start_us": 0,
              "end_us": 100000, "cpu_s": 0.2, "jit_cpu_s": 0.05, "codegen_ms": 3.0,
              "codegen_classes": 2, "persisted_rdds": 1}
        plain = dict(op, traced=False, start_us=200000, end_us=280000)
        return {
            "ops": [op, plain], "cores": 4, "peak_rss_kb": 2048, "first_op_ms": 5000,
            "spawn_ms": 1000, "stats": {},
            "spans": [
                {"name": "QueryDef.build", "layer": "queries", "start_us": 0, "end_us": 40000},
                {"name": "job", "layer": "", "start_us": 10000, "end_us": 30000,
                 "callsite_long": "graft.Tables$.apply(Tables.scala:25)",
                 "callsite_short": "parquet at Tables.scala:25", "stream": False},
                {"name": "noop_write", "layer": "exec", "start_us": 40000, "end_us": 100000},
                {"name": "job", "layer": "", "start_us": 50000, "end_us": 90000,
                 "callsite_long": "perfbench.FrameOp.run(Workload.scala:78)",
                 "callsite_short": "save at Workload.scala:78", "stream": False,
                 "tasks": 4, "task_ms": 120, "stages": 1},
            ]}

    def test_end_to_end(self):
        m = report.end_to_end(self.raw())
        # the JIT compiler's CPU is left out
        self.assertAlmostEqual(m["cpu_s_per_op"][0], 0.15)
        self.assertAlmostEqual(m["setup_s"][0], 4.0)
        self.assertAlmostEqual(m["peak_rss_mb"][0], 2.0)

    def test_client(self):
        m = report.client(self.raw()["ops"])
        self.assertAlmostEqual(m["latency_p50_s"][0], 0.09)
        self.assertAlmostEqual(m["throughput_ops_s"][0], 2 / 0.18)

    def test_per_layer(self):
        m = report.per_layer(self.raw())
        self.assertEqual(m["tables.schema_jobs"][0], 1)
        self.assertAlmostEqual(m["tables.schema_ms"][0], 20)
        self.assertAlmostEqual(m["queries.build_ms"][0], 20)
        self.assertAlmostEqual(m["exec.task_ms"][0], 120)
        self.assertAlmostEqual(m["jvm.jit_cpu_ms"][0], 50)
        self.assertAlmostEqual(m["exec.busy_ratio"][0], 120 / (60 * 4))
        self.assertAlmostEqual(m["trace.overhead_ms"][0], 20)
        self_ms = [v for k, (v, _) in m.items() if k.startswith("self.")]
        self.assertAlmostEqual(sum(self_ms) + m["queries.build_ms"][0], 100)


if __name__ == "__main__":
    unittest.main()
