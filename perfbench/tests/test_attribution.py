"""Call-site -> module map and per-iteration attribution:
python3 -m unittest discover -s perfbench/tests"""
import os
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.join(HERE, ".."))
import attribution  # noqa: E402

REPO = os.path.abspath(os.path.join(HERE, "..", ".."))


class ModuleMapTest(unittest.TestCase):
    def setUp(self):
        self.modules = attribution.module_map(REPO)

    def test_call_sites_map_to_their_module(self):
        cases = {
            "csv at CsvIngest.scala:47": "ingest",
            "parquet at Writers.scala:19": "io",
            "count at PipelineRunner.scala:103": "app",
            "save at Harness.scala:211": "bench",
            "collect at SparkEntry.scala:22": "graft",
            "parquet at Marts.scala:95": "operators",
            "run at ThreadPoolExecutor.java:1136": "other",
            "": "other",
        }
        for callsite, module in cases.items():
            self.assertEqual(attribution.module_of(callsite, self.modules), module, callsite)

    def test_every_pipeline_module_is_known(self):
        for module in ("app", "ingest", "enrich", "marts", "io", "ledger", "fs"):
            self.assertIn(module, set(self.modules.values()))


class IterationTest(unittest.TestCase):
    def test_jobs_spans_and_driver_time(self):
        modules = {"CsvIngest.scala": "ingest", "Writers.scala": "io"}
        events = [
            {"type": "span", "id": 1, "parent": 0, "iter": 0, "kind": "call", "name": "run",
             "start_ms": 1000.0, "end_ms": 2000.0},
            {"type": "span", "id": 2, "parent": 1, "iter": 0, "kind": "ledger",
             "name": "markActive", "start_ms": 1010.0, "end_ms": 1030.0},
            {"type": "job_start", "job": 1, "iter": 0, "span": "1",
             "callsite": "csv at CsvIngest.scala:47", "stages": "1", "start_ms": 1100},
            {"type": "job_end", "job": 1, "ok": True, "end_ms": 1300},
            {"type": "job_start", "job": 2, "iter": 0, "span": "1",
             "callsite": "parquet at Writers.scala:19", "stages": "2,3", "start_ms": 1200},
            {"type": "job_end", "job": 2, "ok": True, "end_ms": 1600},
            {"type": "job_start", "job": 3, "iter": 0, "span": "1", "sql": "7",
             "callsite": "run at CompletableFuture.java:1768", "stages": "4", "start_ms": 1150},
            {"type": "job_end", "job": 3, "ok": True, "end_ms": 1250},
            {"type": "job_start", "job": 4, "iter": 0, "span": "1", "sql": "8",
             "callsite": "run at CompletableFuture.java:1768", "stages": "5", "start_ms": 1250},
            {"type": "job_end", "job": 4, "ok": True, "end_ms": 1300},
            {"type": "sql_start", "sql": "7", "root": "7", "callsite": "parquet at Writers.scala:52"},
            {"type": "sql_start", "sql": "8", "root": "7", "callsite": "run at ThreadPoolExecutor.java:1136"},
            {"type": "stage", "stage": 2, "attempt": 0, "tasks": 4, "cpu_ns": 2_000_000_000,
             "run_ms": 3000, "shuffle_write_bytes": 0, "input_bytes": 1 << 20, "spill_bytes": 0},
            {"type": "task_retry", "stage": 2},
            {"type": "node", "iter": 0, "node": "DataWritingCommandExec", "name": "Execute",
             "metrics": {"numFiles": 3, "numParts": 2, "jobCommitTime": 500}},
            {"type": "node", "iter": 0, "node": "FileSourceScanExec", "name": "Scan csv ",
             "metrics": {"numOutputRows": 42}},
        ]
        it = {"i": 0, "run_s": 1.0, "gc_s": 0.1,
              "detail": {"good": ["a.csv"], "quarantined": ["b.csv:store_id"],
                         "rows_in": 42, "rows_out": 42}}
        m = attribution.iteration_metrics(events, it, modules, [])
        # jobs 3 and 4 name no program file; their SQL executions
        # (directly, or through the root execution) do
        self.assertEqual((m["ingest.jobs"], m["io.jobs"], m["spark.jobs"]), (1, 3, 4))
        self.assertAlmostEqual(m["ingest.job_s"], 0.2)
        self.assertEqual(m["ingest.jobs_per_file"], 0.5)
        self.assertEqual(m["ingest.csv_rows"], 42)
        # jobs cover 1100..1600 of the 1000..2000 run span
        self.assertAlmostEqual(m["app.driver_s"], 0.5)
        self.assertEqual((m["ledger.calls"], m["spark.stages"], m["spark.tasks"]), (1, 1, 4))
        self.assertEqual((m["io.files_written"], m["io.partition_dirs"]), (3, 2))
        self.assertAlmostEqual(m["io.commit_s"], 0.5)
        self.assertEqual((m["spark.task_retries"], m["spark.input_mb"]), (1, 1.0))


if __name__ == "__main__":
    unittest.main()
