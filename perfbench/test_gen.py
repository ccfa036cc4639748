#!/usr/bin/env python3
"""Generator determinism and property checks.

  python3 perfbench/test_gen.py

The same seed must give byte-identical inputs (the live stream also needs
the same start instant, since its event times are wall-clock due times);
another seed must give other inputs. Its files go under
`.bench_build/test-gen/` and are removed afterwards.
"""
import filecmp
import json
import os
import shutil
import sys
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

WORK_DIR = os.path.join(os.path.dirname(HERE), ".bench_build", "test-gen")


def same_tree(a, b, mtimes=False):
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    for n in names:
        pa, pb = os.path.join(a, n), os.path.join(b, n)
        if not filecmp.cmp(pa, pb, shallow=False):
            return False
        if mtimes and os.stat(pa).st_mtime != os.stat(pb).st_mtime:
            return False
    return True


class GeneratorTest(unittest.TestCase):
    def setUp(self):
        shutil.rmtree(WORK_DIR, ignore_errors=True)
        os.makedirs(WORK_DIR)

    def tearDown(self):
        shutil.rmtree(WORK_DIR, ignore_errors=True)

    def path(self, *parts):
        return os.path.join(WORK_DIR, *parts)

    def test_backlog_is_a_function_of_the_seed(self):
        a = gen.run_backlog(7, self.path("a"), self.path("a.json"))
        b = gen.run_backlog(7, self.path("b"), self.path("b.json"))
        gen.run_backlog(8, self.path("c"), self.path("c.json"))
        # the file source orders the backlog by modification time
        self.assertTrue(same_tree(self.path("a"), self.path("b"), mtimes=True))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))
        self.assertEqual(a, b)
        self.assertAlmostEqual(a["hot_key_share"], 0.96, delta=0.01)
        self.assertAlmostEqual(a["malformed_share"], gen.MALFORMED_SHARE, delta=0.001)

    def test_curate_is_a_function_of_the_seed(self):
        a = gen.run_curate(7, self.path("a"), self.path("a.json"))
        b = gen.run_curate(7, self.path("b"), self.path("b.json"))
        gen.run_curate(8, self.path("c"), self.path("c.json"))
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))
        self.assertAlmostEqual(a["neardup_share"], gen.NEARDUP_SHARE, delta=0.03)

    def test_live_is_a_function_of_the_seed_and_start(self):
        t0 = 1700000000000
        a = gen.run_live(7, 4, self.path("a"), t0, self.path("a.json"), realtime=False)
        b = gen.run_live(7, 4, self.path("b"), t0, self.path("b.json"), realtime=False)
        gen.run_live(8, 4, self.path("c"), t0, self.path("c.json"), realtime=False)
        self.assertTrue(same_tree(self.path("a"), self.path("b")))
        self.assertFalse(same_tree(self.path("a"), self.path("c")))
        self.assertEqual(json.load(open(self.path("a.json"))),
                         json.load(open(self.path("b.json"))))
        self.assertAlmostEqual(a["events"] / 4.0, gen.LIVE_RATE, delta=gen.LIVE_RATE * 0.01)
        # every user is one burst: lines per user stay within a burst
        users = {}
        for f in os.listdir(self.path("a")):
            for line in open(self.path("a", f)):
                parts = line.strip().split(",")
                if len(parts) == 4 and all(p.isdigit() for p in parts[1:]):
                    users[parts[1]] = users.get(parts[1], 0) + 1
        users.pop(str(gen.FLUSH_USER))
        self.assertEqual(len(users), a["users"])
        self.assertLessEqual(max(users.values()), 8)


if __name__ == "__main__":
    unittest.main()
