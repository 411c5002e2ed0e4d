"""Tests of the benchmark's own arithmetic and failure accounting.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import metrics  # noqa: E402


def span(i, kind, t0, t1, parent=-1, name=None, **attrs):
    return {"id": i, "parent": parent, "kind": kind, "name": name or f"{kind}{i}",
            "t0": t0, "t1": t1, **attrs}


def query_record():
    """Two passes of three queries; in the steady pass `q_throw` threw."""
    spans = [span(0, "run", 0, 10000),
             span(1, "setup", 0, 5500, 0, start_s=2.0, warmup_s=3.5),
             span(10, "pass", 5500, 7500, 0, index=0, traced=False, cpu_s=4.0, jit_cpu_s=3.0, heap_peak_mb=100.0),
             span(11, "query", 5500, 6000, 10, "q_ok", ok=True),
             span(12, "query", 6000, 6500, 10, "q_wrong", ok=True),
             span(13, "query", 6500, 7400, 10, "q_throw", ok=True),
             span(20, "pass", 7500, 9200, 0, index=1, traced=False, cpu_s=3.0, jit_cpu_s=1.0, heap_peak_mb=80.0,
                  heap_read_s=0.2),
             span(21, "query", 7500, 7900, 20, "q_ok", ok=True),
             span(22, "query", 7900, 8300, 20, "q_wrong", ok=True),
             span(23, "query", 8300, 8600, 20, "q_throw", ok=False, error="boom")]
    return {"workload": "index_lifecycle", "cores": 4, "spans": spans}


class Percentiles(unittest.TestCase):
    def test_linear_interpolation(self):
        xs = list(range(1, 11))
        self.assertAlmostEqual(metrics.percentile(xs, 0.5), 5.5)
        self.assertAlmostEqual(metrics.percentile(xs, 0.9), 9.1)
        self.assertEqual(metrics.percentile([7], 0.9), 7)
        self.assertEqual(metrics.beyond(xs, 0.9), 1)

    def test_empty_sample_refused(self):
        with self.assertRaises(ValueError):
            metrics.percentile([], 0.5)


class Failures(unittest.TestCase):
    def test_throwing_and_wrong_operations_are_both_counted(self):
        attempted, failed = metrics.failures(query_record(), mismatched=["q_wrong"])
        self.assertEqual(attempted, 6)
        self.assertEqual(len(failed), 2)
        self.assertTrue(any(f.startswith("q_throw (pass 1): boom") for f in failed))
        self.assertTrue(any(f.startswith("q_wrong: output not confirmed") for f in failed))

    def test_ingest_operations_are_legs_and_probes(self):
        rec = {"workload": "state_ingest", "cores": 4,
               "spans": [span(1, "pass", 0, 100, index=0), span(2, "leg", 0, 50, 1, ok=True),
                         span(3, "probe", 50, 60, 1, ok=False, error="differs"),
                         span(4, "trigger", 10, 20, rows=5)]}
        attempted, failed = metrics.failures(rec)
        self.assertEqual((attempted, len(failed)), (2, 1))


class OracleCheck(unittest.TestCase):
    def test_wrong_result_is_caught_by_the_oracle_tool(self):
        import json
        import tempfile
        import pyarrow as pa
        import pyarrow.parquet as pq
        import gen
        import run
        with tempfile.TemporaryDirectory() as tmp:
            data, out = os.path.join(tmp, "data"), os.path.join(tmp, "out")
            gen.ensure(data, 0.001, 3)
            sql = "SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey"
            os.makedirs(out)
            with open(os.path.join(out, "oracle_sql.json"), "w") as f:
                json.dump({"q_ok": sql, "q_wrong": sql}, f)
            region = pq.read_table(os.path.join(data, "region.parquet"))
            for name, tab in [("q_ok", region),
                              ("q_wrong", region.set_column(1, "r_name", pa.array(["X"] * 5)))]:
                os.makedirs(os.path.join(out, name))
                pq.write_table(tab, os.path.join(out, name, "part-0.parquet"))
            ok, bad, _ = run.oracle_check(data, out)
        self.assertEqual((ok, bad), (["q_ok"], ["q_wrong"]))
        attempted, failed = metrics.failures(query_record(), bad)
        self.assertEqual((attempted, len(failed)), (6, 2))


class EndToEnd(unittest.TestCase):
    def test_metrics_from_steady_passes(self):
        rec = query_record()
        e2e = metrics.end_to_end(rec)
        self.assertAlmostEqual(e2e["setup_s"][0], 5.5)
        # the steady pass's 1.7 s wall less its 0.2 s of live-heap readings
        self.assertAlmostEqual(e2e["pass_s"][0], 1.5)
        self.assertAlmostEqual(e2e["cpu_s"][0], 3.0)
        fig = metrics.run_figures(rec, metrics.steady(rec))
        self.assertAlmostEqual(fig["run.first_pass_s"], 2.0)
        self.assertAlmostEqual(fig["run.op_p50_s"], 0.4)
        self.assertAlmostEqual(fig["run.op_p90_s"], 0.4)
        self.assertAlmostEqual(fig["run.heap_live_peak_mb"], 80.0)
        self.assertAlmostEqual(fig["run.jit_cpu_s"], 1.0)


class Triggers(unittest.TestCase):
    def test_compaction_triggers_are_split_from_publishes(self):
        rec = {"workload": "state_ingest", "cores": 4, "spans": [
            span(1, "pass", 0, 10000, index=1)] + [
            span(10 + b, "trigger", 1000 * b, 1000 * b + (800 if b == 3 else 200), rows=5, batch_id=b)
            for b in range(4)] + [span(20, "trigger", 9000, 9100, rows=0, batch_id=4)]}
        pub, comp = metrics.trigger_split(rec, metrics.passes(rec), compact_every=4)
        self.assertEqual((pub, comp), ([0.2, 0.2, 0.2], [0.8]))


class Feed(unittest.TestCase):
    def test_feed_adds_fresh_documents_and_deletes_live_ones(self):
        import tempfile
        import pyarrow.parquet as pq
        import gen
        with tempfile.TemporaryDirectory() as tmp:
            data, feed = os.path.join(tmp, "data"), os.path.join(tmp, "feed")
            gen.ensure(data, 0.001, 5, docs=200)
            rows, _ = gen.ensure_feed(feed, 5, os.path.join(data, "documents.parquet"), 4, 10, 10, 20)
            self.assertEqual(rows, 80)
            live = set(pq.read_table(os.path.join(data, "documents.parquet")).column("doc_id").to_pylist())
            for k in range(4):
                b = pq.read_table(os.path.join(feed, f"b{k:05d}.parquet")).to_pydict()
                adds = {i for o, i in zip(b["op"], b["doc_id"]) if o == "add"}
                dels = {i for o, i in zip(b["op"], b["doc_id"]) if o == "del"}
                self.assertEqual((len(adds), len(dels)), (10, 10))
                self.assertTrue(dels <= live and not adds & live)
                live = (live - dels) | adds
            self.assertEqual(len(live), 200)
            self.assertEqual(pq.read_table(os.path.join(feed, "probe.parquet")).num_rows, 20)
            # a cached feed is used again only while its row count holds
            self.assertEqual(gen.ensure_feed(feed, 5, os.path.join(data, "documents.parquet"),
                                             4, 10, 10, 20), (80, 0.0))
            last = os.path.join(feed, "b00003.parquet")
            pq.write_table(pq.read_table(last).slice(0, 5), last)
            with self.assertRaises(RuntimeError):
                gen.ensure_feed(feed, 5, os.path.join(data, "documents.parquet"), 4, 10, 10, 20)


class SelfTime(unittest.TestCase):
    def test_union_clips_and_merges_overlaps(self):
        self.assertEqual(metrics.union_length([(0, 4), (2, 6), (8, 9)]), 7)
        self.assertEqual(metrics.union_length([(0, 4), (2, 6)], 1, 3), 2)

    def test_self_time_excludes_overlapping_children(self):
        spans = [span(1, "pass", 0, 10000, index=1),
                 span(2, "query", 0, 10000, 1),
                 span(3, "build", 0, 4000, 2),
                 span(4, "execute", 4000, 10000, 2),
                 # parented by job group to build; a second job overlaps the first
                 span(5, "job", 500, 2500, job_id=0, group="pb-2-build"),
                 span(6, "job", 1500, 3000, job_id=1, group="pb-2-build"),
                 # no group: parented by time containment to execute
                 span(7, "job", 5000, 9000, job_id=2, group=""),
                 span(8, "stage", 5000, 8000, job_id=2, tasks=4)]
        tree = metrics.Tree(spans)
        s = tree.spans
        self.assertEqual(s[5]["parent"], 3)
        self.assertEqual(s[7]["parent"], 4)
        self.assertEqual(s[8]["parent"], 7)
        self.assertAlmostEqual(tree.self_time(s[3]), 1.5)   # 4 s minus 2.5 s of jobs
        self.assertAlmostEqual(tree.self_time(s[4]), 2.0)   # 6 s minus one 4 s job
        self.assertAlmostEqual(tree.self_time(s[7]), 1.0)
        self.assertAlmostEqual(tree.self_time(s[2]), 0.0)
        table = tree.layer_table()
        self.assertEqual(table["job"][0], 3)
        self.assertAlmostEqual(table["job"][2], 2.0 + 1.5 + 1.0)

    def test_plan_is_split_off_execute(self):
        spans = [span(1, "query", 0, 1000), span(2, "execute", 200, 1000, 1),
                 span(3, "qe", 210, 300, analysis_s=0.03, optimization_s=0.02, planning_s=0.04)]
        tree = metrics.Tree(spans)
        plan = [x for x in tree.spans.values() if x["kind"] == "plan"][0]
        self.assertEqual((plan["t0"], plan["t1"], plan["parent"]), (200, 300, 1))
        self.assertEqual(tree.spans[2]["t0"], 300)
        self.assertAlmostEqual(plan["planning_s"], 0.04)


class Amplification(unittest.TestCase):
    def test_write_and_space_amp(self):
        rec = {"workload": "state_ingest", "cores": 4, "spans": [
            span(1, "pass", 0, 10000, index=1), span(2, "leg", 0, 4000, 1, ok=True),
            span(3, "probe", 4000, 5000, 1, ok=True), span(4, "leg", 5000, 9000, 1, ok=True),
            span(5, "probe", 9000, 9500, 1, ok=True)],
            "ingest": [{"pass": 1, "feed_rows": 800, "feed_bytes": 1000, "state_bytes_written": 3500,
                        "stored_bytes": 900, "oneshot_bytes": 300, "delta_bytes": 50,
                        "base_bytes_rewritten": 70}]}
        fig = metrics.ingest_figures(rec, metrics.passes(rec))
        self.assertAlmostEqual(fig["deltastate.write_amp"], 3.5)
        self.assertAlmostEqual(fig["deltastate.space_amp"], 3.0)
        self.assertAlmostEqual(fig["deltastate.ingest_rows_per_s"], 100.0)
        self.assertAlmostEqual(fig["deltastate.probe_p50_s"], 0.75)


class BenchmarkFile(unittest.TestCase):
    def test_metric_names_match_the_report(self):
        import json
        with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                               "BENCHMARK.json")) as f:
            bench = json.load(f)
        e2e = metrics.end_to_end(query_record())
        self.assertEqual({m["name"]: m["unit"] for m in bench["end_to_end"]},
                         {k: u for k, (_, u) in e2e.items()})
        self.assertEqual({m["name"]: m["unit"] for m in bench["per_layer"]}, metrics.LAYER_UNITS)


if __name__ == "__main__":
    unittest.main()
