"""Unit tests for the benchmark's own helpers. No Spark session is started.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import unittest
import unittest.mock

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

import eventlog  # noqa: E402
import run as bench  # noqa: E402
import stats  # noqa: E402
from oracle import Bm25Oracle, same_ranking  # noqa: E402


class TailTest(unittest.TestCase):
    def test_too_few_samples_have_no_tail(self):
        self.assertEqual(stats.tail(list(range(19))), (0.0, 0.0))

    def test_twenty_samples_give_the_median(self):
        xs = list(range(1, 21))
        self.assertEqual(stats.tail(xs), (50.0, 10.0))  # 10 samples above 10

    def test_highest_percentile_with_ten_beyond(self):
        xs = list(range(1, 101))
        self.assertEqual(stats.tail(xs), (90.0, 90.0))
        self.assertEqual(stats.tail(list(range(1, 1001)))[0], 99.0)
        self.assertEqual(stats.tail(list(range(1, 10001)))[0], 99.9)
        self.assertEqual(stats.tail(list(range(1, 40)))[0], 50.0)
        self.assertEqual(stats.tail(list(range(1, 41)))[0], 75.0)

    def test_tail_leaves_ten_samples_beyond(self):
        for n in (20, 37, 99, 100, 250, 1999):
            xs = list(range(n))
            _, v = stats.tail(xs)
            self.assertGreaterEqual(sum(1 for x in xs if x > v), 10, n)


class LoopTest(unittest.TestCase):
    def _cycles(self, seconds, cycle_s, min_cycles=1):
        clock = [0.0]
        done = []

        def cycle(i):
            done.append(i)
            clock[0] += cycle_s

        with unittest.mock.patch.object(bench.time, "perf_counter", lambda: clock[0]):
            bench.timed_loop(seconds, cycle, min_cycles)
        return len(done)

    def test_stops_nearest_the_deadline(self):
        self.assertEqual(self._cycles(15, 16), 1)
        self.assertEqual(self._cycles(15, 10), 1)  # a second would end at 20
        self.assertEqual(self._cycles(15, 9), 2)  # 18 is nearer 15 than 9
        self.assertEqual(self._cycles(15, 4), 4)

    def test_min_cycles(self):
        self.assertEqual(self._cycles(15, 10, min_cycles=2), 2)
        self.assertEqual(self._cycles(1, 10, min_cycles=3), 3)

    def test_each_op_runs_both_ways_over_two_cycles(self):
        traced = unittest.mock.Mock(traced=True)
        for n_ops in (4, 5):
            for op in range(n_ops):
                self.assertEqual(
                    {bench.instrumented(traced, c, op) for c in (0, 1)},
                    {False, True},
                )
            # half of a cycle's ops are instrumented, give or take one
            on = sum(bench.instrumented(traced, 0, op) for op in range(n_ops))
            self.assertIn(on, (n_ops // 2, (n_ops + 1) // 2))
        plain = unittest.mock.Mock(traced=False)
        self.assertFalse(any(bench.instrumented(plain, c, 1) for c in range(4)))


class RecallTest(unittest.TestCase):
    def test_recall_at_10(self):
        truth = list(range(10))
        self.assertEqual(stats.recall_at_k(truth, truth), 1.0)
        self.assertEqual(stats.recall_at_k([0, 1, 2, 99, 98], truth), 0.3)
        self.assertEqual(stats.recall_at_k([], truth), 0.0)

    def test_only_first_k_count(self):
        got = [99] * 10 + list(range(10))
        self.assertEqual(stats.recall_at_k(got, list(range(10))), 0.0)


def _job(jid, group, stage_id, name, submit, end):
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": submit,
         "Stage Infos": [{"Stage ID": stage_id, "Stage Name": name}],
         "Stage IDs": [stage_id],
         "Properties": {"spark.jobGroup.id": group} if group else {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": stage_id,
         "Task Metrics": {"Executor Run Time": 50, "Executor CPU Time": 40_000_000,
                          "JVM GC Time": 3, "Memory Bytes Spilled": 0,
                          "Disk Bytes Spilled": 7,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2,
                                                   "Fetch Wait Time": 4}}},
        {"Event": "SparkListenerStageCompleted",
         "Stage Info": {"Stage ID": stage_id, "Stage Name": name, "Accumulables": [
             {"Name": eventlog.PY_SENT, "Value": "1000"},
             {"Name": eventlog.PY_RUN_MS, "Value": "25"},
             {"Name": "number of output rows", "Value": "9"},
         ]}},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": end},
    ]


class EventLogTest(unittest.TestCase):
    EVENTS = (
        _job(0, "read#0", 0, "collect at /x/jvector_spark/index/storage.py:208", 1000, 1100)
        + _job(1, "read#0", 1, "collect at /x/jvector_spark/index/query.py:143", 1100, 1300)
        + _job(2, "read#0", 2, "parquet at <unknown>:0", 1250, 1350)
        + _job(3, "read#0", 3, "collect at /x/perfbench/run.py:509", 1400, 1900)
        + _job(4, None, 4, "collect at /x/perfbench/run.py:509", 2000, 2100)
        + _job(5, "build#1", 5,
               "$anonfun$withThreadLocalCaptured$2 at CompletableFuture.java:1768",
               3000, 3500)
    )

    def _write(self, d, codec):
        path = os.path.join(d, "events_1_local-1" + (".zstd" if codec else ""))
        data = "\n".join(json.dumps(e) for e in self.EVENTS).encode()
        if codec:
            import pyarrow as pa

            with pa.output_stream(path, compression="zstd") as f:
                f.write(data)
        else:
            with open(path, "wb") as f:
                f.write(data)
        return path

    def test_call_site_modules(self):
        m = eventlog.call_site_module
        self.assertEqual(m("collect at /r/jvector_spark/index/storage.py:208"), "index.storage")
        self.assertEqual(m("collect at jvector_spark/operators/doc_ids.py:80"), "operators.doc_ids")
        self.assertEqual(m("collect at /c/perfbench/run.py:1"), "bench")
        self.assertEqual(m("parquet at <unknown>:0"), "parquet")
        self.assertEqual(m("parquet at NativeMethodAccessorImpl.java:0"), "parquet")
        self.assertEqual(m("x at CompletableFuture.java:1768"), "async")
        self.assertEqual(m("collect at /usr/lib/other.py:3"), "other")

    def test_zstd_and_plain_logs_parse_alike(self):
        with tempfile.TemporaryDirectory() as d:
            a = eventlog.read_events(self._write(d, codec=True))
        with tempfile.TemporaryDirectory() as d:
            b = eventlog.read_events(self._write(d, codec=False))
        self.assertEqual(a, b)
        self.assertEqual(len(a), len(self.EVENTS))

    def test_find_rolling_log(self):
        with tempfile.TemporaryDirectory() as d:
            sub = os.path.join(d, "eventlog_v2_local-1")
            os.makedirs(sub)
            for n in (2, 1, 10):
                open(os.path.join(sub, f"events_{n}_local-1.zstd"), "w").close()
            open(os.path.join(sub, "appstatus_local-1"), "w").close()
            os.makedirs(os.path.join(d, "eventlog_v2_local-2"))
            got = [os.path.basename(p) for p in eventlog.find_event_log(d, "local-1")]
        self.assertEqual(got, ["events_1_local-1.zstd", "events_2_local-1.zstd",
                               "events_10_local-1.zstd"])

    def test_groups_counts_and_python_accumulables(self):
        g = eventlog.summarize(self.EVENTS)
        self.assertEqual(sorted(g), ["build#1", "read#0"])  # ungrouped job dropped
        read = g["read#0"]
        self.assertEqual(len(read.jobs), 4)
        self.assertEqual(read.stages, 4)
        self.assertEqual(read.tasks, 4)
        self.assertEqual(read.cpu_ns, 4 * 40_000_000)
        self.assertEqual(read.gc_ms, 12)
        self.assertEqual(read.shuffle_write_bytes, 400)
        self.assertEqual(read.shuffle_read_bytes, 12)
        self.assertEqual(read.fetch_wait_ms, 16)
        self.assertEqual(read.spill_bytes, 28)
        self.assertEqual(read.python[eventlog.PY_SENT], 4000)
        self.assertEqual(read.python[eventlog.PY_RUN_MS], 100)
        self.assertEqual(
            read.totals()["jobs_by_module"],
            {"index.storage": 1, "index.query": 1, "parquet": 1, "bench": 1},
        )
        self.assertEqual([j.module for j in g["build#1"].jobs], ["async"])

    def test_self_times(self):
        jobs = eventlog.summarize(self.EVENTS)["read#0"].jobs
        st = eventlog.self_times_ms(900, 2000, jobs)
        self.assertEqual(st["index.storage"], 100)
        self.assertEqual(st["index.query"], 200)
        self.assertEqual(st["parquet"], 100)
        self.assertEqual(st["bench"], 500)
        # 1100 ms span; jobs cover [1000,1350) and [1400,1900) = 850 ms
        self.assertEqual(st["driver"], 250)

    def test_union(self):
        self.assertEqual(eventlog.union_ms([(0, 10), (5, 20), (30, 40)]), 30)
        self.assertEqual(eventlog.union_ms([]), 0)


class OracleTest(unittest.TestCase):
    TEXTS = ["a b c", "a a d", "b e", "c c c a", "", "d e f a", "f f b"]
    Q = [["a"], ["b", "c"], ["a", "a", "f"], ["zz"], ["e", "d", "b"]]

    def _full(self, texts, ids, k=10):
        from jvector_spark.fixtures import bm25_oracle

        return bm25_oracle(texts, ids, self.Q, k=k)

    def test_matches_fixture_oracle(self):
        o = Bm25Oracle()
        o.add(range(len(self.TEXTS)), self.TEXTS)
        for q, want in zip(self.Q, self._full(self.TEXTS, list(range(7)))):
            self.assertTrue(same_ranking(o.topk(q, 10), want), q)

    def test_extend_ids_follow_n_docs(self):
        o = Bm25Oracle()
        o.add(range(4), self.TEXTS[:4])
        o.add(range(o.n_docs, o.n_docs + 3), self.TEXTS[4:])
        self.assertEqual(o.ids, list(range(7)))
        for q, want in zip(self.Q, self._full(self.TEXTS, list(range(7)))):
            self.assertTrue(same_ranking(o.topk(q, 10), want), q)

    def test_offset_ids(self):
        off = 1 << 50
        o = Bm25Oracle()
        o.add(range(off, off + 7), self.TEXTS)
        want = self._full(self.TEXTS, list(range(off, off + 7)))
        for q, w in zip(self.Q, want):
            self.assertTrue(same_ranking(o.topk(q, 3), w[:3]), q)

    def test_tombstones_hide_docs_but_keep_stats(self):
        o = Bm25Oracle()
        o.add(range(7), self.TEXTS)
        o.delete([0, 3])
        full = self._full(self.TEXTS, list(range(7)))
        for q, want in zip(self.Q, full):
            live = [(d, s) for d, s in want if d not in (0, 3)]
            self.assertTrue(same_ranking(o.topk(q, 10), live), q)
        self.assertEqual(o.n_docs, 7)
        self.assertEqual(o.live_ids(), [1, 2, 4, 5, 6])

    def test_same_ranking(self):
        a = [(1, 2.0), (2, 1.0)]
        self.assertTrue(same_ranking(a, [(1, 2.0000000000001), (2, 1.0)]))
        self.assertFalse(same_ranking(a, [(2, 1.0), (1, 2.0)][::-1][:1]))
        self.assertFalse(same_ranking(a, [(1, 2.0), (3, 1.0)]))
        # a tie within 1e-9 may come back in either order
        self.assertTrue(same_ranking([(5, 1.0), (4, 1.0 + 1e-12)], [(4, 1.0), (5, 1.0)]))


if __name__ == "__main__":
    unittest.main()
