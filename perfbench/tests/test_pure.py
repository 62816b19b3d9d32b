"""Specs for the benchmark's pure parts.

    python3 -m unittest discover -s perfbench/tests
"""
import os
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))))

import pyarrow as pa  # noqa: E402

import checks  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402


class GeneratorDeterminism(unittest.TestCase):

    def test_same_seed_same_cdc_bytes(self):
        with tempfile.TemporaryDirectory() as a, \
                tempfile.TemporaryDirectory() as b:
            gen.write_cdc(7, a, n_batches=2)
            gen.write_cdc(7, b, n_batches=2)
            for rel in ("history_seed.parquet", "batches/b00000.parquet",
                        "batches/b00001.parquet"):
                with open(os.path.join(a, rel), "rb") as fa, \
                        open(os.path.join(b, rel), "rb") as fb:
                    self.assertEqual(fa.read(), fb.read(), rel)

    def test_other_seed_other_batch(self):
        x, y = gen.cdc_batch(1, 0), gen.cdc_batch(2, 0)
        self.assertFalse((x.item_id[:100] == y.item_id[:100]).all())

    def test_same_seed_same_events_table(self):
        self.assertTrue(gen.events_table(3).equals(gen.events_table(3)))
        self.assertFalse(gen.events_table(3).equals(gen.events_table(4)))

    def test_same_seed_same_embeddings(self):
        a = gen.embeddings_table(3)
        self.assertTrue(a.equals(gen.embeddings_table(3)))
        self.assertFalse(a.equals(gen.embeddings_table(4)))
        self.assertEqual(len(a.column("embedding")[0]), gen.EMB_DIM)

    def test_batch_shape(self):
        ev = gen.cdc_batch(5, 3)
        self.assertGreater(len(ev), gen.BATCH_EVENTS)  # in-batch duplicates
        self.assertEqual(len(set(ev.event_id.tolist())), gen.BATCH_EVENTS)
        dead = ev.dead_mask().mean()
        self.assertTrue(0.01 < dead < 0.04, dead)
        self.assertIn("hook.verify", set(ev.etype.tolist()))
        # one unknown-typed field on every item
        for item in ev.item_id[:50].tolist():
            types = [t for _, _, t in gen.item_fields(item)]
            self.assertEqual(types.count(gen.UNKNOWN_TYPE), 1)

    def test_truth_coalesces_per_batch(self):
        hist = gen.cdc_history(9)
        b = gen.cdc_batch(9, 0)
        t = gen.CdcTruth(hist, [b])
        live = b.live_mask()
        self.assertEqual(t.rejects, len(set(b.item_id[live].tolist())))
        self.assertEqual(t.dead, int(b.dead_mask().sum()))
        self.assertEqual(len(t.history_ids),
                         gen.HISTORY_VERSIONS + t.rejects)


class TailRule(unittest.TestCase):

    def test_ten_beyond(self):
        v, p, n = stats.tail(list(range(100)))
        self.assertEqual((v, n), (89, 10))
        self.assertAlmostEqual(p, 90.0)

    def test_exactly_eleven(self):
        self.assertEqual(stats.tail(list(range(11)))[::2], (0, 10))

    def test_too_few_samples_report_the_maximum(self):
        v, p, n = stats.tail([3.0, 1.0, 2.0])
        self.assertEqual((v, p, n), (3.0, 100.0, 0))
        self.assertEqual(stats.tail(list(range(10)))[::2], (9, 0))

    def test_unsorted_input(self):
        vals = [5, 1, 9, 3, 7] * 4
        self.assertEqual(stats.tail(vals)[0], sorted(vals)[9])


class RecallGate(unittest.TestCase):
    # query 0 is sampled (0 % 5 == 0), query 1 is not
    truth = {0: {1, 2}, 1: {0, 2}}

    def result(self, rows):
        i, j, r = zip(*rows)
        return pa.table({"i": list(i), "j": list(j), "recall": list(r)})

    def test_correct_recall_passes(self):
        got = self.result([(0, 1, 0.5), (0, 3, 0.5), (1, 0, None)])
        self.assertIsNone(checks.check_recall(got, self.truth))

    def test_wrong_recall_fails(self):
        got = self.result([(0, 1, 1.0), (0, 3, 1.0), (1, 0, None)])
        self.assertIn("wrong recall", checks.check_recall(got, self.truth))

    def test_missing_query_fails(self):
        got = self.result([(0, 1, 0.5)])
        self.assertIn("queries", checks.check_recall(got, self.truth))

    def test_brute_topk_excludes_self(self):
        top = gen.brute_topk(gen.embeddings_table(), 5)
        self.assertTrue(all(len(v) == 5 and k not in v
                            for k, v in top.items()))


class SelfTime(unittest.TestCase):

    def span(self, name, parent, a, b, op=0):
        return {"op": op, "name": name, "parent": parent,
                "start_ns": a, "end_ns": b}

    def test_parent_minus_children(self):
        s = [self.span("op0", "", 0, 100), self.span("x", "op0", 10, 30),
             self.span("y", "op0", 40, 90)]
        st = stats.self_times(s)
        self.assertEqual(st[(0, "op0")], 30)
        self.assertEqual(st[(0, "x")], 20)

    def test_overlapping_children_count_once(self):
        s = [self.span("op0", "", 0, 100), self.span("x", "op0", 10, 60),
             self.span("y", "op0", 50, 70)]
        self.assertEqual(stats.self_times(s)[(0, "op0")], 40)

    def test_children_clipped_to_parent(self):
        s = [self.span("op0", "", 10, 20), self.span("x", "op0", 0, 15)]
        self.assertEqual(stats.self_times(s)[(0, "op0")], 5)

    def test_ops_do_not_mix(self):
        s = [self.span("op0", "", 0, 10), self.span("op1", "", 0, 10, op=1),
             self.span("x", "op1", 0, 10, op=1)]
        st = stats.self_times(s)
        self.assertEqual((st[(0, "op0")], st[(1, "op1")]), (10, 0))


class Passes(unittest.TestCase):

    def test_complete_groups_only(self):
        ops = [{"start_ns": i * 1e9, "wall_s": 0.5} for i in range(5)]
        self.assertEqual(stats.passes(ops, 2), [1.5, 1.5])

    def test_paired_overhead_either_order(self):
        ops = [{"traced": t, "wall_s": 1.1 if t else 1.0}
               for t in (False, True, True, False, False, True)]
        self.assertAlmostEqual(stats.paired_overhead(ops), 0.1)


if __name__ == "__main__":
    unittest.main()
