"""Unit tests of the benchmark's own arithmetic.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import json
import unittest
from pathlib import Path

import metrics
import run

BENCH_JSON = Path(__file__).resolve().parent.parent / "BENCHMARK.json"


def span(i, start, end, parent=-1, name="x", op=0):
    return {"id": i, "name": name, "op": op, "parent": parent, "start": start, "end": end}


class SelfTime(unittest.TestCase):
    def test_no_children(self):
        self.assertAlmostEqual(metrics.self_time(span(0, 0, 5), []), 5)

    def test_overlapping_children_count_once(self):
        # journal append [1, 4] and lake merge [2, 6] overlap on [2, 4]
        kids = [span(1, 1, 4), span(2, 2, 6)]
        self.assertAlmostEqual(metrics.self_time(span(0, 0, 10), kids), 10 - 5)

    def test_nested_and_disjoint_children(self):
        kids = [span(1, 1, 2), span(2, 1.5, 1.8), span(3, 7, 9)]
        self.assertAlmostEqual(metrics.self_time(span(0, 0, 10), kids), 10 - 3)

    def test_children_clipped_to_parent(self):
        kids = [span(1, -1, 2), span(2, 9, 12)]
        self.assertAlmostEqual(metrics.self_time(span(0, 0, 10), kids), 10 - 3)

    def test_union_length_touching(self):
        self.assertAlmostEqual(metrics.union_length([(0, 1), (1, 2), (5, 6)]), 3)


class Percentiles(unittest.TestCase):
    def test_tail_needs_ten_samples_beyond(self):
        self.assertIsNone(metrics.tail_percentile(0))
        self.assertIsNone(metrics.tail_percentile(19))
        self.assertEqual(metrics.tail_percentile(20), 50.0)
        self.assertEqual(metrics.tail_percentile(99), 50.0)
        self.assertEqual(metrics.tail_percentile(100), 90.0)
        self.assertEqual(metrics.tail_percentile(999), 90.0)
        self.assertEqual(metrics.tail_percentile(1000), 99.0)
        self.assertEqual(metrics.tail_percentile(10000), 99.9)

    def test_nearest_rank(self):
        xs = list(range(1, 101))
        self.assertEqual(metrics.percentile(xs, 90), 90)
        self.assertEqual(metrics.percentile(xs, 50), 50)
        self.assertEqual(metrics.percentile([3.0], 90), 3.0)
        # ten samples lie beyond the reported p90 of 100
        self.assertEqual(sum(x > metrics.percentile(xs, 90) for x in xs), 10)

    def test_median_of_nothing_is_zero(self):
        self.assertEqual(metrics.median([]), 0.0)
        self.assertEqual(metrics.median([1, 5, 2]), 2.0)


class Ratios(unittest.TestCase):
    def test_zero_base(self):
        self.assertEqual(metrics.ratio(5, 0), 0.0)
        self.assertEqual(metrics.ratio(0, 0), 0.0)
        self.assertEqual(metrics.ratio(3, 4), 0.75)


def raw_ingest(trace):
    ops = [{"op": b, "wall_s": w, "events": 1000, "delivered": 1100,
            "payload_bytes": 300000, "maintenance": b % 3 == 2}
           for b, w in [(2, 1.0), (3, 2.0), (4, 3.0)]]
    spans, records = [], []
    for b in (2, 3, 4):
        i = b * 10
        spans += [span(i, 0, 2, name="pipeline.batch", op=b),
                  span(i + 1, 0, 1.5, i, "lake.merge", b),
                  span(i + 2, 0.1, 1, i, "lake.journal.append", b)]
        records.append({"op": b, "rows_applied": 1000, "rows_appended": 1000,
                        "files_truncated": -1, "vacuum_files_deleted": -1,
                        "merge_phases": {"write": 1.0},
                        "fs": {"lake.rename": 4, "journal.create": 2, "lake.data_files": 3}})
    return {
        "kind": "ingest", "setup_s": 9.5, "peak_rss_mb": 900.0, "attempted": 4, "failed": 0,
        "ops": ops, "read_s": [0.5, 0.4, 0.6], "read_payload_bytes": 1000000,
        "stored": {"lake_bytes": 100, "journal_bytes": 50, "input_payload_bytes": 600},
        "checks": [{"name": "lake_vs_oracle", "ok": True}],
        "stamp": {"trace": trace, "workload": "ingest_bulk"},
        "trace": {"spans": spans if trace else [], "records": records if trace else [],
                  "groups": {"lake.merge#3": {"records_written": 2000, "jobs": 3}},
                  "gc_s": 0.1, "cores": 4},
    }


class Summary(unittest.TestCase):
    def test_end_to_end_line(self):
        result, _ = metrics.summarize(raw_ingest(False))
        self.assertEqual(set(result), {"correct", "attempted", "failed", "metrics"})
        self.assertTrue(result["correct"])
        m = result["metrics"]
        self.assertEqual(list(m), [n for n, _, _ in metrics.END_TO_END])
        self.assertAlmostEqual(m["write_mb_per_s"]["value"], 0.9 / 6)
        self.assertAlmostEqual(m["op_p50_s"]["value"], 2.0)
        self.assertAlmostEqual(m["stored_bytes_per_input_byte"]["value"], 0.25)

    def test_per_layer_line(self):
        result, _ = metrics.summarize(raw_ingest(True))
        m = result["metrics"]
        self.assertEqual(list(m), [n for n, _, _ in metrics.PER_LAYER])
        self.assertAlmostEqual(m["pipeline.batch_self_share"]["value"], 0.25)
        self.assertAlmostEqual(m["traced.read_mb_per_s"]["value"], 2.0)
        self.assertAlmostEqual(m["pipeline.merge_minus_append_s"]["value"], 0.6)
        self.assertEqual(m["lake.meta.ops_per_batch"]["value"], 6)
        self.assertEqual(m["lake.merge.files_written"]["value"], 3)
        self.assertEqual(m["sources.archive.write_s"]["value"], 0.0)
        self.assertEqual(m["pipeline.batch_tail_pct"]["value"], 0.0)

    def test_untraced_ingest_without_lake_scans(self):
        raw = raw_ingest(False)
        raw["read_s"] = []
        result, detail = metrics.summarize(raw)
        self.assertEqual(list(result["metrics"]), [n for n, _, _ in metrics.END_TO_END])
        self.assertNotIn("read_mb_per_s", detail["end_to_end"])

    def test_smoke_report_flags_a_failed_workload(self):
        bad = raw_ingest(True)
        bad["checks"] = [{"name": "lake_vs_oracle", "ok": False, "extra": 3}]
        bad["failed"] = 1
        report, ok = run.smoke_report([raw_ingest(True), bad])
        self.assertFalse(ok)
        self.assertEqual(report.splitlines()[1].split()[:2], ["ingest_bulk", "FAILED"])
        self.assertTrue(run.smoke_report([raw_ingest(True)])[1])

    def test_failed_oracle_is_incorrect(self):
        raw = raw_ingest(False)
        raw["checks"] = [{"name": "lake_vs_oracle", "ok": False}]
        raw["failed"] = 1
        result, _ = metrics.summarize(raw)
        self.assertFalse(result["correct"])


class Declaration(unittest.TestCase):
    def test_benchmark_json_matches_tables(self):
        doc = json.loads(BENCH_JSON.read_text())
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in doc["end_to_end"]],
                         metrics.END_TO_END)
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]],
                         metrics.PER_LAYER)


if __name__ == "__main__":
    unittest.main()
