"""Determinism of the seeded inputs. Run: python3 -m unittest discover perfbench/tests"""
import os
import sys
import unittest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import gen  # noqa: E402

SF = 0.01


def updated_keys(batches, entity):
    """Keys re-sent after their first day, per day."""
    seen, out = set(), []
    for b in batches:
        ids = b[entity].column("id").to_pylist()
        out.append(sorted(k for k in ids if k in seen))
        seen.update(ids)
    return out


class SeededInputs(unittest.TestCase):
    def test_same_seed_same_batches(self):
        a = gen.pipeline_batches(SF, 7, 3)
        b = gen.pipeline_batches(SF, 7, 3)
        self.assertEqual(gen.staged_digest(a), gen.staged_digest(b))

    def test_other_seed_updates_other_keys(self):
        a = gen.pipeline_batches(SF, 7, 3)
        b = gen.pipeline_batches(SF, 8, 3)
        for e in gen.ENTITIES:
            ua, ub = updated_keys(a, e), updated_keys(b, e)
            self.assertEqual([len(k) for k in ua], [len(k) for k in ub])
            self.assertNotEqual(ua[1:], ub[1:], e)
        self.assertNotEqual(gen.staged_digest(a), gen.staged_digest(b))

    def test_batch_shape(self):
        batches = gen.pipeline_batches(SF, 7, 3)
        n = int(gen.SF1["orders"] * SF)
        carts = [b["carts"].num_rows for b in batches]
        # a tenth of the key range is new each day, plus a tenth of
        # yesterday's keys as updates
        self.assertEqual(carts, [n // 10, n // 10 + n // 100, n // 10 + n // 100])
        self.assertEqual(updated_keys(batches, "carts")[0], [])

    def test_query_order(self):
        names = ["a", "b", "c", "d", "e", "f"]
        self.assertEqual(gen.query_orders(names, 3, 4), gen.query_orders(names, 3, 4))
        self.assertNotEqual(gen.query_orders(names, 3, 4), gen.query_orders(names, 4, 4))
        for order in gen.query_orders(names, 3, 4):
            self.assertEqual(sorted(order), names)

    def test_base_tables_ignore_seed(self):
        a, b = gen.base_tables(0.001), gen.base_tables(0.001)
        for name in a:
            self.assertTrue(a[name].equals(b[name]), name)

    def test_reference_counts(self):
        batches = gen.pipeline_batches(SF, 7, 4)
        ref = gen.reference(batches, range(0, 2), 2)
        silver = ref["reports"][-1]["silver"]
        self.assertEqual(silver["carts"], 4 * int(gen.SF1["orders"] * SF) // 10)
        self.assertEqual(ref["reports"][-1]["gold"]["finance_mart"], 4)
        staged = [b["users"].num_rows for b in batches]
        self.assertEqual(ref["archived"]["users"], sum(staged[:2]))
        self.assertEqual(ref["bronze_live"]["users"], sum(staged[2:]))


if __name__ == "__main__":
    unittest.main()
