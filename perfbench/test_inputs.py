"""Tests of the seeded input generator.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""

import os
import sys
import tempfile
import unittest

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import inputs  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

SF = inputs.DEFAULT_SF_DIR


def corpus_inputs(seed, days=2):
    """The corpus spec plus the contents of every file it wrote."""
    with tempfile.TemporaryDirectory() as tmp:
        spec = inputs.corpus(SF, seed, days, tmp)
        init = pq.read_table(spec["init"]).to_pylist()
        batches = [pq.read_table(d["path"]).to_pylist()
                   for d in spec["days"]]
    for d in spec["days"]:
        d.pop("path")
    spec.pop("init")
    return spec, init, batches


@unittest.skipUnless(os.path.isdir(SF), f"no source tables at {SF}")
class InputsTest(unittest.TestCase):
    def test_same_seed_same_inputs(self):
        self.assertEqual(inputs.warehouse(SF, 7, 2),
                         inputs.warehouse(SF, 7, 2))
        self.assertEqual(corpus_inputs(7), corpus_inputs(7))
        self.assertEqual(inputs.query_order(7, 3),
                         inputs.query_order(7, 3))

    def test_different_seed_different_inputs(self):
        self.assertNotEqual(inputs.warehouse(SF, 7, 2)["point_keys"],
                            inputs.warehouse(SF, 8, 2)["point_keys"])
        self.assertNotEqual(corpus_inputs(7)[1], corpus_inputs(8)[1])
        self.assertNotEqual(inputs.query_order(7, 3),
                            inputs.query_order(8, 3))

    def test_planted_duplicate_shares_are_exact(self):
        spec, init, batches = corpus_inputs(3)
        landed = {r["text"] for r in init}
        landed_words = [t.split(" ") for t in landed]
        init_ids = {r["doc_id"] for r in init}
        seen_ids = set(init_ids)
        for d, rows in zip(spec["days"], batches):
            by_id = {r["doc_id"]: r for r in rows}
            self.assertEqual(len(by_id), len(rows))
            self.assertEqual(d["docs"], len(rows))
            unit = inputs.UNIT_FRESH + inputs.UNIT_EXACT + inputs.UNIT_NEAR
            self.assertEqual(len(d["exact_ids"]) * unit,
                             inputs.UNIT_EXACT * len(rows))
            self.assertEqual(len(d["near_ids"]) * unit,
                             inputs.UNIT_NEAR * len(rows))
            for i in d["exact_ids"]:
                self.assertIn(by_id[i]["text"], landed)
            for i in d["near_ids"]:
                # at most two words differ from some landed doc
                words = by_id[i]["text"].split(" ")
                self.assertNotIn(by_id[i]["text"], landed)
                self.assertTrue(any(
                    len(s) == len(words) and
                    sum(a != b for a, b in zip(words, s)) <= 2
                    for s in landed_words))
            # ids are new every day: disjoint from the bootstrap and
            # from every earlier batch
            self.assertFalse(seen_ids & by_id.keys())
            seen_ids |= by_id.keys()

    def test_warehouse_reads_hit_landed_rows(self):
        w = inputs.warehouse(SF, 5, 3)
        self.assertEqual(len(w["day_months"]), 3)
        self.assertTrue(all(m >= w["cut"] for m in w["day_months"]))
        self.assertTrue(all(len(k) == inputs.POINT_READS_PER_DAY
                            for k in w["point_keys"]))
        self.assertLess(w["bootstrap_rows"], w["landed_rows"])

    def test_query_order_is_a_permutation_each_round(self):
        for names in inputs.query_order(9, 4):
            self.assertEqual(sorted(names), sorted(inputs.QUERY_MIX))


if __name__ == "__main__":
    unittest.main()
