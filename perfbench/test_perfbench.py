"""Tests of the benchmark's own code: python3 -m unittest discover perfbench"""
import hashlib
import json
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import analysis  # noqa: E402
import gen  # noqa: E402


def tree_digest(root):
    h = hashlib.sha256()
    for d, _, files in sorted(os.walk(root)):
        for f in sorted(files):
            p = os.path.join(d, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


class GeneratorTest(unittest.TestCase):
    def test_same_seed_gives_identical_files(self):
        for workload in gen.GENERATORS:
            with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
                gen.generate(workload, 7, 400, a)
                gen.generate(workload, 7, 400, b)
                self.assertEqual(tree_digest(a), tree_digest(b), workload)

    def test_other_seed_gives_other_files(self):
        with tempfile.TemporaryDirectory() as a, tempfile.TemporaryDirectory() as b:
            gen.generate("crawl_mixed", 7, 200, a)
            gen.generate("crawl_mixed", 8, 200, b)
            self.assertNotEqual(tree_digest(a), tree_digest(b))

    def test_urls_are_unique_and_groups_are_planted(self):
        for workload, fn in gen.GENERATORS.items():
            rows, truth, corpus = fn(3, 2000)
            urls = [r[0] for r in rows] + [r[0] for r in corpus or []]
            self.assertEqual(len(urls), len(set(urls)), workload)
            self.assertEqual([r[0] for r in rows], [t[0] for t in truth])
            groups = {}
            for t in truth:
                if t[1] is not None:
                    groups.setdefault(t[1], []).append(t[0])
            self.assertTrue(any(len(v) > 1 for v in groups.values()), workload)


class PairRecallTest(unittest.TestCase):
    def test_hand_built_assignment(self):
        # group 1: 4 docs, 3 in component 10, 1 alone -> 3 of 6 pairs joined
        # group 2: 3 docs, all in component 20 -> 3 of 3 pairs
        # group 3: 2 docs, one missing from the run -> 0 of 1 pair
        members = [(1, 10), (1, 10), (1, 10), (1, 11),
                   (2, 20), (2, 20), (2, 20),
                   (3, 30), (3, None)]
        self.assertAlmostEqual(analysis.pair_recall(members), 6 / 10)

    def test_no_planted_pairs_is_full_recall(self):
        self.assertEqual(analysis.pair_recall([(1, 5)]), 1.0)

    def test_shared_component_across_groups_does_not_count(self):
        # docs of two groups merged into one component: only same-group pairs count
        self.assertEqual(analysis.pair_recall([(1, 9), (1, 9), (2, 9)]), 1.0)
        self.assertEqual(analysis.pair_recall([(1, 9), (2, 9)]), 1.0)


class SelfTimeTest(unittest.TestCase):
    def test_hand_built_span_tree(self):
        spans = [
            {"id": 0, "parent": -1, "name": "run", "start_s": 0.0, "end_s": 10.0},
            {"id": 1, "parent": 0, "name": "a", "start_s": 1.0, "end_s": 4.0},
            {"id": 2, "parent": 1, "name": "a1", "start_s": 1.5, "end_s": 2.5},
            {"id": 3, "parent": 1, "name": "a2", "start_s": 2.0, "end_s": 3.0},  # overlaps a1
            {"id": 4, "parent": 0, "name": "b", "start_s": 5.0, "end_s": 9.0},
        ]
        st = analysis.self_times(spans)
        self.assertAlmostEqual(st[0], 10.0 - 3.0 - 4.0)
        self.assertAlmostEqual(st[1], 3.0 - 1.5)  # a1 ∪ a2 covers [1.5, 3.0]
        self.assertAlmostEqual(st[2], 1.0)
        self.assertAlmostEqual(st[4], 4.0)
        # self times of a tree sum to the root's duration when children nest
        self.assertAlmostEqual(sum(st[i] for i in (0, 1, 4)) + 1.5, 10.0)


class EventLogTest(unittest.TestCase):
    def test_counters_follow_the_job_group(self):
        ev = [
            {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
             "Properties": {"spark.jobGroup.id": "bands"}},
            {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
             "Properties": {"spark.jobGroup.id": "candidates"}},
        ]
        for stage, ms, cpu in ((0, 100, 2e9), (1, 300, 1e9), (2, 50, 5e8), (2, 70, 5e8)):
            ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                       "Task Info": {"Launch Time": 1000, "Finish Time": 1000 + ms},
                       "Task Metrics": {"Executor CPU Time": cpu, "JVM GC Time": 10,
                                        "Shuffle Write Metrics": {"Shuffle Bytes Written": 8}}})
        c = analysis.group_counters(json.dumps(e) for e in ev)
        self.assertEqual(c["bands"]["tasks"], 2)  # stage 1 belongs to its first job
        self.assertAlmostEqual(c["bands"]["task_cpu_s"], 3.0)
        self.assertEqual(c["bands"]["max_task_ms"], 300)
        self.assertEqual(c["candidates"]["tasks"], 2)
        self.assertEqual(c["candidates"]["median_task_ms"], 60)
        self.assertEqual(c["candidates"]["shuffle_write_bytes"], 16)
        self.assertEqual(c["candidates"]["jobs"], 1)


if __name__ == "__main__":
    unittest.main()
