"""Tests of the benchmark's own logic: seeded inputs, failure accounting,
the oracle check and the percentile helper. Run from the repository root:

    python3 -m unittest discover -s perfbench/tests
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import inputs  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402
import stats  # noqa: E402


def write_result(results, name, frame):
    os.makedirs(os.path.join(results, name))
    pq.write_table(pa.Table.from_pandas(frame, preserve_index=False),
                   os.path.join(results, name, "part-00000.parquet"))


def unit(t, error=None):
    return {"time_s": t, "build_s": 0.0, "cpu_s": t, "heap_peak_mb": 200.0,
            "heap_retained_mb": 100.0, "error": error}


class InputsTest(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.tmp = tempfile.mkdtemp()
        cls.sig = {s: inputs.make(s, os.path.join(cls.tmp, f"a{s}")) for s in (1, 2)}

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp)

    def test_same_seed_gives_identical_signature(self):
        again = inputs.make(1, os.path.join(self.tmp, "b1"))
        self.assertEqual(again, self.sig[1])

    def test_different_seed_gives_different_signature(self):
        self.assertNotEqual(self.sig[1], self.sig[2])

    def test_stream_late_arrivals_trail_the_watermark(self):
        arr = pq.read_table(os.path.join(self.tmp, "a1", "stream", "arrivals.parquet")).to_pandas()
        with open(os.path.join(self.tmp, "a1", "stream", "meta.json")) as f:
            meta = json.load(f)
        self.assertGreater(meta["late"], 0)
        ts = oracle._us(arr["ts"])
        late = arr["seq"].isin(set(meta["late_seqs"])).to_numpy()
        for b in range(1, inputs.N_BATCHES):
            here = arr["batch"].to_numpy() == b
            before = arr["batch"].to_numpy() < b - 1
            if before.any() and (here & late).any():
                # older of the two watermarks Spark may apply, minus the delay
                wm = ts[before & ~late].max() - inputs.WATERMARK_DELAY_US
                self.assertTrue((ts[here & late] < wm).all())


    def test_inputs_from_other_code_are_rebuilt(self):
        out = os.path.join(self.tmp, "c1")
        _, sig = inputs.ensure(1, out)
        stamp = os.path.join(out, inputs.STAMP)
        with open(stamp) as f:
            fresh = json.load(f)
        with open(stamp, "w") as f:
            json.dump({**fresh, "source": "made by older code"}, f)
        self.assertEqual(inputs.ensure(1, out), (out, sig))
        with open(stamp) as f:
            self.assertEqual(json.load(f), fresh)

    def stream(self, seed):
        root = os.path.join(self.tmp, f"a{seed}", "stream")
        arr = pq.read_table(os.path.join(root, "arrivals.parquet")).to_pandas()
        with open(os.path.join(root, "meta.json")) as f:
            return arr, json.load(f)

    def test_held_back_events_cross_batches_inside_the_watermark(self):
        arr, meta = self.stream(1)
        self.assertGreater(meta["held_back"], 0)
        ts = oracle._us(arr["ts"])
        batch = arr["batch"].to_numpy()
        late = arr["seq"].isin(set(meta["late_seqs"])).to_numpy()
        for i in np.flatnonzero(arr["seq"].isin(set(meta["held_seqs"])).to_numpy()):
            before = batch < batch[i]
            # out of order: an event of an earlier batch is later in event time
            self.assertGreater(ts[before].max(), ts[i])
            # admitted: newer than the newest watermark its batch can see
            wm = ts[before & ~late].max() - inputs.WATERMARK_DELAY_US
            self.assertGreater(ts[i], wm)

    def test_held_back_events_reach_the_sink_and_change_a_session(self):
        arr, meta = self.stream(1)
        late = arr["seq"].isin(set(meta["late_seqs"])).to_numpy()
        held = arr["seq"].isin(set(meta["held_seqs"])).to_numpy()
        admitted = arr[~late]
        # check_stream expects every held-back event in the dedup sink ...
        self.assertEqual(arr[held & ~late]["event_id"].nunique(), meta["held_back"])
        # ... and sessions that an engine losing them would not produce
        end = np.iinfo("int64").max
        sessions = oracle.expected_sessions(admitted, end)
        self.assertNotEqual(sessions, oracle.expected_sessions(arr[~late & ~held], end))
        # some held-back event lands in a session that an earlier batch began
        ms = oracle._us(arr["ts"]) // 1000
        user, batch = arr["user_id"].to_numpy(), arr["batch"].to_numpy()

        def extends_stored(i):
            start, last = next((s[2], s[3]) for s in sessions
                               if s[0] == user[i] and s[2] <= ms[i] <= s[3])
            return bool(((user == user[i]) & (batch < batch[i]) & ~late &
                         (ms >= start) & (ms <= last)).any())
        self.assertTrue(any(extends_stored(i) for i in np.flatnonzero(held)))
        self.assertGreater(meta["held_into_session"], 0)


class AccountingTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.results = os.path.join(self.tmp, "results")
        write_result(self.results, "q_ok", pd.DataFrame({"n": [1, 2]}))
        write_result(self.results, "q_bad", pd.DataFrame({"n": [3]}))

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def record(self, bad_error):
        return {"workload": "sql-analytics", "setup_s": [3.0, 1.0, 1.2], "cores": 4,
                "artifacts_at_start": 0, "oracle_sql": {},
                "verify_errors": {"q_ok": None, "q_bad": None},
                "passes": [{"traced": False, "layers": {},
                            "units": {"q_ok": unit(1.0), "q_bad": unit(2.0, bad_error)}}]}

    def test_throwing_query_counts_as_failed_and_is_not_dropped(self):
        rec = self.record("RuntimeException: boom")
        res = run.checks(rec, "sql-analytics", self.tmp, self.tmp, os.path.join(self.tmp, "o"))
        self.assertIn("boom", res["q_bad"])
        self.assertIsNone(res["q_ok"])
        self.assertEqual(sum(1 for v in res.values() if v), 1)
        values, _ = run.end_to_end(rec, rec["passes"])
        self.assertAlmostEqual(values["total_s"], 3.0)

    def test_artifact_at_start_is_a_failure(self):
        rec = self.record(None)
        rec["artifacts_at_start"] = 2
        res = run.checks(rec, "sql-analytics", self.tmp, self.tmp, os.path.join(self.tmp, "o"))
        self.assertTrue(res["isolation"])

    def test_oracle_mismatch_counts_as_failure(self):
        data = os.path.join(self.tmp, "inputs")
        inputs.make(3, data)
        rec = self.record(None)
        rec["oracle_sql"] = {"q_ok": "SELECT COUNT(*) AS n FROM region",
                             "q_bad": "SELECT COUNT(*) AS n FROM region"}
        shutil.rmtree(os.path.join(self.results, "q_ok"))
        write_result(self.results, "q_ok", pd.DataFrame({"n": [5]}))
        res = run.checks(rec, "sql-analytics", data, self.tmp, os.path.join(self.tmp, "o"))
        self.assertIsNone(res["q_ok"])
        self.assertIn("oracle mismatch", res["q_bad"])

    def test_compare_ignores_row_order_but_not_values(self):
        a = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
        self.assertTrue(oracle.compare(a, a.iloc[::-1])[0])
        self.assertFalse(oracle.compare(a, a.assign(v=[0.5, 1.25]))[0])
        self.assertTrue(oracle.compare(a.assign(v=[1, 2]), a.assign(v=[1.0, 2.0]))[0])


class StatsTest(unittest.TestCase):
    def test_percentile_reports_its_sample_count(self):
        p = stats.percentile(list(range(1, 21)), 90)
        self.assertEqual(p, {"value": 18, "samples": 20, "above": 2})

    def test_stream_latency_pools_every_drain(self):
        def drain(latencies):
            return {"traced": False, "layers": {}, "batch_latency_s": latencies,
                    "units": {"drain": unit(sum(latencies))}}
        rec = {"workload": "event-stream", "setup_s": [1.0],
               "passes": [drain([4.0, 3.0, 3.0]), drain([2.0, 1.0, 1.0])]}
        values, extra = run.end_to_end(rec, rec["passes"])
        self.assertAlmostEqual(values["total_s"], 4.0)  # best drain
        self.assertEqual(values["latency_p50_s"], 2.0)  # median of all six
        self.assertEqual(extra["latency_samples"], 6)


if __name__ == "__main__":
    unittest.main()
