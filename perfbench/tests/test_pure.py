"""Tests of the harness's pure parts.

Run from the root of a checkout:  python3 -m unittest discover -s perfbench/tests
"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))
import gen  # noqa: E402
import metrics as M  # noqa: E402
import run  # noqa: E402


class PercentileRule(unittest.TestCase):
    def test_interpolated_percentile(self):
        self.assertEqual(M.percentile([1, 2, 3, 4, 5], 50), 3)
        self.assertAlmostEqual(M.percentile([0, 10], 90), 9.0)

    def test_highest_level_with_ten_samples_beyond(self):
        self.assertEqual(M.tail_level(1000, 99.0), 99.0)   # 10 beyond p99
        self.assertEqual(M.tail_level(999, 99.0), 95.0)    # 9.99 beyond p99
        self.assertEqual(M.tail_level(100, 99.0), 90.0)
        self.assertEqual(M.tail_level(40, 99.0), 75.0)
        self.assertEqual(M.tail_level(20, 99.0), 50.0)
        self.assertIsNone(M.tail_level(19, 99.0))

    def test_cap_limits_the_level(self):
        self.assertEqual(M.tail_level(100000, 90.0), 90.0)

    def test_tail_reports_level_and_sample_count(self):
        level, value, n = M.tail(list(range(100)), 99.0)
        self.assertEqual((level, n), (90.0, 100))
        self.assertAlmostEqual(value, 89.1)
        level, value, n = M.tail([5, 1, 3], 99.0)   # too few: the median
        self.assertEqual((level, value, n), (50.0, 3, 3))


class BenchmarkFile(unittest.TestCase):
    def test_metric_tables_match_the_harness(self):
        root = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "..")
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            doc = json.load(f)
        self.assertEqual([(m["name"], m["unit"]) for m in doc["end_to_end"]],
                         list(run.END_TO_END))
        self.assertEqual([(m["name"], m["unit"], m["better"]) for m in doc["per_layer"]],
                         list(run.PER_LAYER))
        self.assertEqual([w["name"] for w in doc["workloads"]], list(run.WORKLOADS))


class ServeRounds(unittest.TestCase):
    def test_every_round_issues_every_call_once(self):
        for seed in range(10):
            for rnd in run.serve_rounds(seed):
                self.assertEqual(sorted(rnd), sorted(run.SERVE_CALLS))

    def test_rounds_are_seeded(self):
        self.assertEqual(run.serve_rounds(3), run.serve_rounds(3))
        self.assertNotEqual(run.serve_rounds(3)[0], run.serve_rounds(4)[0])

    def test_traced_round_pairs_the_paired_calls(self):
        steps = run.traced_round(7)
        traced = sorted(s["name"] for s in steps if s["traced"])
        untraced = sorted(s["name"] for s in steps if not s["traced"])
        self.assertEqual(traced, sorted(run.SERVE_CALLS))
        self.assertEqual(untraced, sorted(run.SERVE_PAIRED))
        for name in run.SERVE_PAIRED:   # twins are adjacent
            at = [i for i, s in enumerate(steps) if s["name"] == name]
            self.assertEqual(at[1] - at[0], 1)

    def test_tail_mean_averages_the_slowest_share(self):
        self.assertEqual(M.tail_mean([1, 9, 3, 7, 5, 2, 8, 4], 0.25), (8.5, 2))
        self.assertEqual(M.tail_mean(list(range(22)), 0.25), (sum(range(16, 22)) / 6, 6))

    def test_paired_overhead(self):
        calls = [{"name": "a", "round": -1, "ok": True, "traced": t, "start_ms": 0, "end_ms": e}
                 for t, e in ((True, 12), (False, 10))]
        calls.append({"name": "b", "round": -1, "ok": True, "traced": True,
                      "start_ms": 0, "end_ms": 99})
        calls.append({"name": "a", "round": 0, "ok": True, "traced": False,
                      "start_ms": 0, "end_ms": 50})
        self.assertEqual(run.paired_overhead(calls), 2)


def _write_log(path, entries):
    with open(path, "w") as f:
        f.write("v1\n" + "\n".join(json.dumps(e) for e in entries) + "\n")


class CheckpointMapping(unittest.TestCase):
    """file -> micro-batch -> commit time, on a small checkpoint fixture
    laid out as Spark's file source and commit log write it."""

    def make_ckpt(self, root, log, ends, commits):
        """`log`: source log id -> files; `ends`: query batch -> the source
        log id it ends at; `commits`: query batch -> commit time (ms)."""
        for sub in ("sources/0", "offsets", "commits"):
            os.makedirs(os.path.join(root, sub))
        for lid, files in log.items():
            name = f"{lid}.compact" if lid == 9 else str(lid)
            _write_log(os.path.join(root, "sources", "0", name),
                       [{"path": f"file:///in/{f}", "timestamp": 1, "batchId": lid} for f in files])
        for b, end in ends.items():
            _write_log(os.path.join(root, "offsets", str(b)),
                       [{"batchWatermarkMs": 0}, {"logOffset": end}])
        for b, t_ms in commits.items():
            p = os.path.join(root, "commits", str(b))
            _write_log(p, [{"nextBatchWatermarkMs": 0}])
            os.utime(p, ns=(int(t_ms * 1e6), int(t_ms * 1e6)))
        open(os.path.join(root, "commits", ".1.crc"), "w").close()

    def test_files_map_to_their_batch_commit(self):
        with tempfile.TemporaryDirectory() as d:
            a, b = os.path.join(d, "a"), os.path.join(d, "b")
            # query a: batch 1 is a no-data batch, so log ids and batch ids part
            self.make_ckpt(a, {0: ["f1", "f2"], 1: ["f3"], 9: ["f4"]},
                           {0: 0, 1: 0, 2: 1, 3: 9}, {0: 1000.0, 1: 1500.0, 2: 2000.0, 3: 3000.0})
            # query b took f3 together with f1, f2 and has not committed f4
            self.make_ckpt(b, {0: ["f1", "f2", "f3"], 1: ["f4"]},
                           {0: 0, 1: 1}, {0: 2500.0})
            self.assertEqual(M.file_batches(a), {"f1": 0, "f2": 0, "f3": 2, "f4": 3})
            self.assertEqual(M.commit_times_ms(a), {0: 1000.0, 1: 1500.0, 2: 2000.0, 3: 3000.0})
            both = M.file_commit_ms([a, b])
            self.assertEqual(both, {"f1": 2500.0, "f2": 2500.0, "f3": 2500.0})
            fresh, missing = M.freshness(
                [{"name": "f1", "lo": 0, "hi": 2, "stamps_ms": [900.0, 1000.0]},
                 {"name": "f4", "lo": 2, "hi": 5, "stamps_ms": [0, 0, 0]}], both)
            self.assertEqual((fresh, missing), ([1600.0, 1500.0], 3))

    def test_files_waiting_counts_written_but_not_taken(self):
        written = {"f1": 0.0, "f2": 50.0, "f3": 150.0}
        batch_of = {"f1": 0, "f2": 1, "f3": 1}
        # batch 0 starts at 100 with f2 already written: f2 waits for batch 1
        self.assertEqual(M.files_waiting([(0, 100.0), (1, 200.0)], batch_of, written), [1, 0])


class SelfTimes(unittest.TestCase):
    def test_self_time_subtracts_union_of_children(self):
        spans = [
            {"id": 1, "parent": 0, "name": "call", "start_ms": 0, "end_ms": 100},
            {"id": 2, "parent": 1, "name": "job", "start_ms": 10, "end_ms": 40},
            {"id": 3, "parent": 1, "name": "job", "start_ms": 30, "end_ms": 50},
            {"id": 4, "parent": 2, "name": "stage", "start_ms": 10, "end_ms": 20},
        ]
        st = M.self_times(spans)
        self.assertEqual(st["call"], (60.0, 1))
        self.assertEqual(st["job"], (40.0, 2))
        self.assertEqual(st["stage"], (10.0, 1))


def _tree_digest(root):
    h = hashlib.sha256()
    for d, _, names in sorted(os.walk(root)):
        for n in sorted(names):
            p = os.path.join(d, n)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


class Regeneration(unittest.TestCase):
    def test_events_and_corpus_are_byte_identical_per_seed(self):
        with tempfile.TemporaryDirectory() as d:
            digests = []
            for name, seed in (("a", 5), ("b", 5), ("c", 6)):
                gen.write_events_dir(seed, os.path.join(d, name, "events.parquet"), 3000, 4)
                gen.write_corpus(seed, os.path.join(d, name), 40)
                digests.append(_tree_digest(os.path.join(d, name)))
            self.assertEqual(digests[0], digests[1])
            self.assertNotEqual(digests[0], digests[2])

    def test_live_files_are_byte_identical_for_a_given_clock(self):
        outs = []
        for _ in range(2):
            with tempfile.TemporaryDirectory() as d:
                now = [1_700_000_000.0]
                g = gen.LiveGenerator(7, rate=500, seconds=0.4, src_dir=os.path.join(d, "src"),
                                      stage_dir=os.path.join(d, "stage"), tick_s=0.1,
                                      clock=lambda: now[0],
                                      sleep=lambda s: now.__setitem__(0, now[0] + s))
                g.run()
                outs.append(_tree_digest(os.path.join(d, "src")))
                self.assertEqual(len(os.listdir(os.path.join(d, "src"))), 4)
                self.assertEqual(sum(f["hi"] - f["lo"] for f in g.files), 200)
        self.assertEqual(outs[0], outs[1])

    def test_warm_up_files_precede_the_measured_window(self):
        with tempfile.TemporaryDirectory() as d:
            now = [1_700_000_000.0]
            g = gen.LiveGenerator(7, rate=500, seconds=0.4, src_dir=os.path.join(d, "src"),
                                  stage_dir=os.path.join(d, "stage"), tick_s=0.1,
                                  clock=lambda: now[0],
                                  sleep=lambda s: now.__setitem__(0, now[0] + s), warm_s=0.2)
            g.run()
            self.assertEqual([f["measured"] for f in g.files], [False] * 2 + [True] * 4)
            self.assertAlmostEqual(g.measure_ms, g.t0_ms + 200.0)
            first = next(f for f in g.files if f["measured"])
            self.assertGreater(min(first["stamps_ms"]), g.measure_ms)

    def test_out_of_order_rows_stay_inside_the_watermark(self):
        files = gen.events_table(3, 20000, 8)
        prev_max = None
        for t in files:
            ts = t.column("ts").cast("int64").to_pylist()
            if prev_max is not None:
                self.assertGreater(min(ts), prev_max - 10 * 60 * 1_000_000)
            prev_max = max(ts) if prev_max is None else max(prev_max, max(ts))


if __name__ == "__main__":
    unittest.main()
