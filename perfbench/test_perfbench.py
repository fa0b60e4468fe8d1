"""Tests of the benchmark's own logic (no JVM needed):

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import io
import json
import os
import shutil
import unittest

import pyarrow.parquet as pq

import datagen
import oracle
import stats

BASE = os.path.join(os.path.dirname(os.path.abspath(__file__)), ".work",
                    "test", "base")


def setUpModule():
    if not os.path.exists(os.path.join(BASE, "ok")):
        shutil.rmtree(BASE, ignore_errors=True)
        datagen.base_tables(BASE, 0.001)
        open(os.path.join(BASE, "ok"), "w").close()


def parquet_bytes(table):
    buf = io.BytesIO()
    pq.write_table(table, buf)
    return buf.getvalue()


def corpus_bytes(seed):
    docs, bench, planted, queries = datagen.corpus(seed, BASE)
    return parquet_bytes(docs) + parquet_bytes(bench) + repr((planted, queries)).encode()


def batches_text(seed):
    return repr(datagen.ingest_batches(seed, BASE)).encode()


def requests_text(seed):
    reqs = datagen.read_requests(seed, BASE)
    return (datagen.requests_tsv(reqs) + repr([q["oracle"] for q in reqs])).encode()


class Determinism(unittest.TestCase):
    def check(self, gen):
        self.assertEqual(gen(3), gen(3))
        self.assertNotEqual(gen(3), gen(4))

    def test_requests(self):
        self.check(requests_text)

    def test_rdf_batches(self):
        self.check(batches_text)

    def test_corpus(self):
        self.check(corpus_bytes)

    def test_class_cycle_follows_family_counts(self):
        counts = {c: datagen.CLASS_CYCLE.count(c) for c in datagen.KINDS}
        self.assertEqual(counts, {"search": 7, "graph": 3, "sparql": 6,
                                  "gremlin": 3, "consume": 1})
        n = len(datagen.CLASS_CYCLE)
        total = sum(datagen.FAMILY_PATHS.values())
        for c, k in counts.items():  # within one slot of the exact share
            self.assertLess(abs(k - n * datagen.FAMILY_PATHS[c] / total), 1, c)

    def test_one_cycle_sends_every_kind(self):
        reqs = datagen.read_requests(3, BASE, n=len(datagen.CLASS_CYCLE))
        self.assertEqual({q["kind"] for q in reqs},
                         {k for ks in datagen.KINDS.values() for k in ks})

    def test_class_schedule_is_seed_independent(self):
        a = [(q["cls"], q["kind"]) for q in datagen.read_requests(3, BASE)]
        b = [(q["cls"], q["kind"]) for q in datagen.read_requests(4, BASE)]
        self.assertEqual(a, b)


class PercentileRule(unittest.TestCase):
    def test_p50_needs_20(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(19)), 0.5)
        self.assertEqual(stats.percentile(list(range(1, 21)), 0.5), 10)

    def test_p90_needs_100(self):
        with self.assertRaises(stats.TooFewSamples):
            stats.percentile(list(range(99)), 0.9)
        self.assertEqual(stats.percentile(list(range(1, 101)), 0.9), 90)


class OracleCheck(unittest.TestCase):
    def setUp(self):
        self.oracle = oracle.Oracle(BASE)
        self.reqs = datagen.read_requests(5, BASE, n=200)

    def ops_matching(self, req):
        rows = self.oracle.expected_read(req)
        if req["fmt"] == "json":  # the engine ships JSON rows
            rows = [json.dumps({f"c{i}": v for i, v in enumerate(r.split("|"))})
                    for r in rows]
        return [{"id": "r0", "error": None, "rows": rows,
                 "extra": {"req": req["id"]}}]

    def first(self, kind):
        """The first request of `kind` with a non-empty answer."""
        return next(q for q in self.reqs if q["kind"] == kind
                    and self.oracle.expected_read(q))

    def test_accepts_the_right_answer(self):
        for kind in ("page_c", "xg", "consume", "closure"):
            req = self.first(kind)
            self.assertEqual(oracle.check_read(self.oracle, self.reqs,
                                               self.ops_matching(req)), [], kind)

    def test_rejects_a_perturbed_row(self):
        for kind in ("page_c", "xg", "consume"):
            req = self.first(kind)
            ops = self.ops_matching(req)
            self.assertTrue(ops[0]["rows"], kind)
            ops[0]["rows"][0] += "x"
            self.assertEqual(len(oracle.check_read(self.oracle, self.reqs, ops)),
                             1, kind)

    def test_rejects_a_missing_row(self):
        req = self.first("xg")
        ops = self.ops_matching(req)
        ops[0]["rows"].pop()
        self.assertEqual(len(oracle.check_read(self.oracle, self.reqs, ops)), 1)

    def test_rejects_a_wrong_read_back(self):
        batches = datagen.ingest_batches(5, BASE, n_batches=2)
        op = {"id": "b0", "error": None, "extra": {"batch": 0},
              "rows": list(batches[0]["expected"])}
        self.assertEqual(oracle.check_ingest(batches, [op]), [])
        op["rows"][0] = op["rows"][0].replace("=", "=0", 1)
        self.assertEqual(len(oracle.check_ingest(batches, [op])), 1)


class Canonical(unittest.TestCase):
    def test_numbers_match_the_jvm_rule(self):
        # Render.num: integral → integer text, else 9 significant digits
        self.assertEqual(datagen.num(5.0), "5")
        self.assertEqual(datagen.num(4516.95), "4516.95")
        self.assertEqual(datagen.num(0.1 + 0.2), "0.3")
        self.assertEqual(datagen.num(2 / 3), "0.666666667")
        self.assertEqual(datagen.num(-999.994999), "-999.994999")


if __name__ == "__main__":
    unittest.main()
