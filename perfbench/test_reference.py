"""Tests of the benchmark's own reference computations and generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'

They run on small hand-made inputs, and the generator test uses seed
424242, which no workload was tuned on.
"""
import math
import os
import tempfile
import unittest

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import check
import gen

TEST_SEED = 424242


def _i32(x):
    x &= 0xFFFFFFFF
    return x - (1 << 32) if x & 0x80000000 else x


def _rotl(x, r):
    x &= 0xFFFFFFFF
    return _i32((x << r) | (x >> (32 - r)))


def _mix_last(h, k):
    k = _i32(k * 0xCC9E2D51)
    k = _rotl(k, 15)
    k = _i32(k * 0x1B873593)
    return _i32(h ^ k)


def string_hash(s, seed):
    """MurmurHash3 over UTF-16 char pairs, as Scala's `MurmurHash3.stringHash`."""
    h, i = _i32(seed), 0
    while i + 1 < len(s):
        h = _rotl(_mix_last(h, (ord(s[i]) << 16) + ord(s[i + 1])), 13)
        h = _i32(h * 5 + 0xE6546B64)
        i += 2
    if i < len(s):
        h = _mix_last(h, ord(s[i]))
    h = _i32(h ^ len(s))
    h = _i32(h ^ ((h & 0xFFFFFFFF) >> 16))
    h = _i32(h * 0x85EBCA6B)
    h = _i32(h ^ ((h & 0xFFFFFFFF) >> 13))
    h = _i32(h * 0xC2B2AE35)
    return _i32(h ^ ((h & 0xFFFFFFFF) >> 16))


def hashing_tf(text, dim=768):
    """A hashing-TF embedding of the engine's construction: signed buckets,
    sublinear term frequency, L2 norm."""
    v = np.zeros(dim)
    words = text.lower().split()
    for w in set(words):
        h = string_hash(w, _i32(0x9747B28C))
        v[h % dim] += (1.0 if (h >> 31) & 1 == 0 else -1.0) * (1 + math.log(words.count(w)))
    return v / np.linalg.norm(v)


class TopKTest(unittest.TestCase):
    # six rows; rows 1 and 4 share a vector, so their tie breaks by id
    IDS = np.array([10, 11, 12, 13, 14, 15], dtype=np.int64)
    VECS = np.array([[1, 0, 0], [0.6, 0.8, 0], [0, 1, 0], [0, 0, 1],
                     [0.6, 0.8, 0], [0.9, 0.1, 0.1]], dtype=np.float32)

    def test_ranking_and_ties(self):
        got = check.topk(self.IDS, self.VECS, [0.6, 0.8, 0], 3)
        self.assertEqual([i for i, _ in got], [11, 14, 12])
        self.assertEqual(got[0][1], got[1][1])
        self.assertEqual(check.topk(self.IDS[:0], self.VECS[:0], [1, 0, 0], 3), [])

    def test_scores_fold_in_index_order(self):
        rng = np.random.default_rng(TEST_SEED)
        vecs = rng.standard_normal((4, 97)).astype(np.float32)
        q = rng.standard_normal(97).astype(np.float32)
        for row, s in zip(vecs, check.scores(vecs, q)):
            dot = na = nb = 0.0
            for x, y in zip(row.tolist(), q.tolist()):
                dot += x * y; na += x * x; nb += y * y
            self.assertEqual(s, dot / (math.sqrt(na) * math.sqrt(nb)))


class DuckDbCompareTest(unittest.TestCase):
    def test_match_and_mismatch(self):
        with tempfile.TemporaryDirectory() as d:
            pq.write_table(pa.table({"k": pa.array([1, 2, 2], pa.int64()),
                                     "v": [0.5, 1.5, 2.5]}), os.path.join(d, "t.parquet"))
            exp = check.oracle_table(d, "SELECT k, CAST(SUM(v) AS DOUBLE) AS s FROM t GROUP BY k")
            good = pa.table({"s": [4.0, 0.5], "k": pa.array([2, 1], pa.int64())})
            self.assertIsNone(check.compare_tables(good, exp))
            wrong_value = pa.table({"s": [4.0, 0.25], "k": pa.array([2, 1], pa.int64())})
            self.assertIn("column s", check.compare_tables(wrong_value, exp))
            wrong_type = pa.table({"s": [4.0, 0.5], "k": pa.array([2, 1], pa.int32())})
            self.assertIn("schema", check.compare_tables(wrong_type, exp))
            self.assertIn("rows", check.compare_tables(good.slice(0, 1), exp))


class GeneratorTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        def make():
            rng = np.random.default_rng(TEST_SEED)
            return gen.cache_stream(rng, gen.corpus(rng, 200), 300)
        self.assertEqual(make(), make())

    def test_cache_stream_hit_miss_mix(self):
        rng = np.random.default_rng(TEST_SEED)
        docs = gen.corpus(rng, 2000)
        stream = gen.cache_stream(rng, docs, 600)
        kinds = [r["kind"] for r in stream]
        self.assertAlmostEqual(kinds.count("novel") / len(kinds), 0.5, delta=0.06)
        self.assertAlmostEqual(kinds.count("resend") / len(kinds), 0.1, delta=0.04)
        doc_vecs = np.array([hashing_tf(t) for t in docs["text"]])
        for pos, r in enumerate(stream):
            if r["kind"] == "resend":
                self.assertEqual(stream[r["ref"]]["kind"], "novel")
                self.assertEqual(stream[r["ref"]]["text"], r["text"])
                self.assertTrue(gen.RESEND_GAP[0] <= pos - r["ref"] <= gen.RESEND_GAP[1])
                self.assertGreaterEqual(pos, gen.CACHE_FIRST_RESEND)
            elif r["kind"] == "near":
                self.assertGreater(float(doc_vecs[r["ref"]] @ hashing_tf(r["text"])), 0.75)
            else:
                self.assertLess(float(np.max(doc_vecs @ hashing_tf(r["text"]))), 0.5)


if __name__ == "__main__":
    unittest.main()
