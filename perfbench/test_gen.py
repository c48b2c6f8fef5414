"""Tests of the stream's reference join.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import collections
import unittest

import gen


def customer(k):
    return ("redis-server", "Q3VzdG9tZXI=", gen.redis_value(k, f"Customer#{k:09d}"))


def risk(k, score):
    return ("stedi-events", "stedi-events", gen.risk_value(f"Customer#{k:09d}", score))


class ExpectedJoin(unittest.TestCase):
    def test_pair_is_emitted_when_its_later_side_lands(self):
        slices = [[risk(1, 2.5)], [customer(1), customer(2)], [risk(2, 7.0), risk(1, 3.0)]]
        want = gen.expected_join(slices)
        mail1, mail2 = gen.email("Customer#000000001"), gen.email("Customer#000000002")
        self.assertEqual(want[0], [])
        self.assertEqual(want[1], [(mail1, "2.5", mail1, "1951")])
        self.assertEqual(collections.Counter(want[2]), collections.Counter(
            [(mail2, "7.0", mail2, "1952"), (mail1, "3.0", mail1, "1951")]))

    def test_unmatched_risk_emits_nothing(self):
        self.assertEqual(gen.expected_join([[risk(3, 1.0)], [customer(4)]]), [[], []])

    def test_slices_depend_on_seed_only_through_assignment(self):
        made = {"customer": gen.customer(gen.np.random.default_rng(0)),
                "events": gen.events(gen.np.random.default_rng(1))}
        a, b = gen.slices(made, 3, seed=1), gen.slices(made, 3, seed=2)
        self.assertNotEqual(a, b)
        self.assertEqual([len(s) for s in a], [len(s) for s in b])
        self.assertEqual(a, gen.slices(made, 3, seed=1))


if __name__ == "__main__":
    unittest.main()
