"""Self-tests of the benchmark harness (no JVM, no Spark):

    python3 perfbench/selftest.py
"""
import json
import os
import shutil
import sys
import tempfile
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402


class Determinism(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(build.BUILD, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(dir=build.BUILD, prefix="selftest-")
        cls.serve = {}
        for name, seed in (("a", 7), ("b", 7), ("c", 8)):
            d = os.path.join(cls.tmp, name)
            os.makedirs(d)
            vocab, docs = gen.serve_tables(seed, d)
            cls.serve[name] = (d, vocab, docs, seed)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def stream(self, name):
        _, vocab, docs, seed = self.serve[name]
        return json.dumps(gen.request_stream(seed, vocab, docs, 10, closed_count=300))

    def test_request_stream(self):
        self.assertEqual(self.stream("a"), self.stream("b"))
        self.assertNotEqual(self.stream("a"), self.stream("c"))

    def test_tables(self):
        digest = {k: gen.digest(v[0]) for k, v in self.serve.items()}
        self.assertEqual(digest["a"], digest["b"])
        self.assertNotEqual(digest["a"], digest["c"])

    def test_change_feed(self):
        self.assertEqual(json.dumps(gen.change_feed(7)), json.dumps(gen.change_feed(7)))
        self.assertNotEqual(json.dumps(gen.change_feed(7)), json.dumps(gen.change_feed(8)))

    def test_corpus(self):
        digests = []
        for name, seed in (("ca", 3), ("cb", 3), ("cc", 4)):
            d = os.path.join(self.tmp, name)
            os.makedirs(d)
            gen.curate_corpus(seed, d)
            digests.append(gen.digest(d))
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])


class Checker(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        os.makedirs(build.BUILD, exist_ok=True)
        cls.tmp = tempfile.mkdtemp(dir=build.BUILD, prefix="selftest-")
        vocab, docs = gen.serve_tables(5, cls.tmp)
        cls.reqs = gen.request_stream(5, vocab, docs, 10, closed_count=400)
        cls.orc = oracle.ServeOracle(cls.tmp)

    @classmethod
    def tearDownClass(cls):
        shutil.rmtree(cls.tmp, ignore_errors=True)

    def first(self, template):
        q = next(q for q in self.reqs if q["template"] == template)
        return q, self.orc.expected(q)

    @staticmethod
    def search_reply(exp):
        return {"total": exp["total"], "keys": list(exp["keys"]), "shape_ok": True}

    @staticmethod
    def agg_reply(exp):
        rows = []
        for rec in exp["rows"].values():
            flat = []
            for k, v in rec.items():
                flat += [k, str(v)]
            rows.append(flat)
        return {"n": len(rows), "rows": rows}

    def test_correct_replies_pass(self):
        for t in ("term", "tag", "numeric", "boolean", "knn", "hybrid"):
            q, exp = self.first(t)
            self.assertIsNone(oracle.check_reply(q, self.search_reply(exp), None, exp), t)
        for t in ("agg_lineitem", "agg_events"):
            q, exp = self.first(t)
            self.assertIsNone(oracle.check_reply(q, self.agg_reply(exp), None, exp), t)

    def test_corrupted_replies_fail(self):
        q, exp = self.first("term")
        good = self.search_reply(exp)
        self.assertGreater(exp["total"], 0)
        bad_total = dict(good, total=good["total"] + 1)
        bad_key = dict(good, keys=["doc:999999"] + good["keys"][1:])
        bad_shape = dict(good, shape_ok=False)
        for bad in (bad_total, bad_key, bad_shape, {"error": "ERR boom"},
                    {"unexpected": "OK"}):
            self.assertIsNotNone(oracle.check_reply(q, bad, None, exp), bad)
        self.assertIsNotNone(oracle.check_reply(q, good, "malformed: bad length", exp))
        q, exp = self.first("knn")
        bad = self.search_reply(exp)
        bad["keys"][0] = "emb:-1"
        self.assertIsNotNone(oracle.check_reply(q, bad, None, exp))
        q, exp = self.first("agg_lineitem")
        bad = self.agg_reply(exp)
        i = bad["rows"][0].index("s") + 1
        bad["rows"][0][i] = str(float(bad["rows"][0][i]) * 1.001)
        self.assertIsNotNone(oracle.check_reply(q, bad, None, exp))
        bad = self.agg_reply(exp)
        del bad["rows"][0]
        self.assertIsNotNone(oracle.check_reply(q, bad, None, exp))


class CoreCount(unittest.TestCase):
    def test_parses_integer(self):
        self.assertEqual(run.cpu_count("4\n"), 4)

    def test_rejects_non_integers(self):
        for text in ("", "0", "four", "4 ]", "4; x", "-1", "2.5"):
            with self.assertRaises(ValueError, msg=text):
                run.cpu_count(text)

    def test_nproc(self):
        self.assertGreaterEqual(run.nproc(), 1)


class Percentiles(unittest.TestCase):
    def test_tail_keeps_ten_samples_beyond(self):
        self.assertEqual(run.tail(list(range(1, 201))), (95.0, 190))
        self.assertEqual(run.tail(list(range(1, 101))), (90.0, 90))
        self.assertEqual(run.tail(list(range(1, 11))), (100.0, 10))


if __name__ == "__main__":
    unittest.main()
