"""Tests of the seeded input generator.

    python3 -m unittest discover -s perfbench/tests
"""

import hashlib
import json
import os
import sys
import tempfile
import unittest
from collections import Counter

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

import gen  # noqa: E402

SMALL = dict(gen.HOURLY, keys=5000, events_per_hour=2000)


def events(batches):
    """(landing name, day, ts_us, payload dict) for every event."""
    for name, day, _hours, parts in batches:
        for ts, values in parts:
            for t, v in zip(ts.tolist(), values.to_pylist()):
                yield name, day, t, json.loads(v)


class HourlyGeneratorTest(unittest.TestCase):

    def test_same_seed_gives_identical_envelopes(self):
        a = list(events(gen.hourly_batches(7, SMALL)))
        b = list(events(gen.hourly_batches(7, SMALL)))
        self.assertEqual(a, b)
        c = list(events(gen.hourly_batches(8, SMALL)))
        self.assertNotEqual([e[3] for e in a], [e[3] for e in c])

    def test_same_seed_gives_identical_files(self):
        def digests(seed):
            with tempfile.TemporaryDirectory() as d:
                gen.write_cdc(seed, d)
                out = {}
                for root, _dirs, files in os.walk(d):
                    for f in files:
                        with open(os.path.join(root, f), "rb") as fh:
                            out[os.path.relpath(os.path.join(root, f), d)] = \
                                hashlib.sha256(fh.read()).hexdigest()
                return out
        self.assertEqual(digests(3), digests(3))

    def test_landing_order_and_sizes(self):
        batches = list(gen.hourly_batches(1, SMALL))
        names = [b[0] for b in batches]
        c = SMALL["catchup_hours"]
        self.assertEqual(names[:2], ["snapshot", "catchup"])
        self.assertEqual(names[2:], [f"d1h{h:02d}" for h in range(c, 24)] +
                         [f"d2h{h:02d}" for h in range(SMALL["extra_hours"])])
        self.assertEqual(len(batches[1][3]), c)
        for _name, _day, _hours, parts in batches[2:]:
            self.assertEqual(len(parts), 1)
            self.assertEqual(len(parts[0][1]), SMALL["events_per_hour"])

    def test_snapshot_reads_every_key_once(self):
        snap = [e for e in events(gen.hourly_batches(1, SMALL)) if e[0] == "snapshot"]
        self.assertEqual(sorted(int(e[3]["ID"]) for e in snap), list(range(SMALL["keys"])))
        self.assertEqual({e[3]["__op"] for e in snap}, {"r"})

    def test_op_mix_shares(self):
        ops = Counter(e[3]["__op"] for e in events(gen.hourly_batches(1, SMALL))
                      if e[0] != "snapshot")
        total = sum(ops.values())
        for op, share in gen.HOURLY_OPS:
            self.assertAlmostEqual(ops[op] / total, share, delta=0.01, msg=op)
        deleted = [e[3] for e in events(gen.hourly_batches(1, SMALL)) if e[0] != "snapshot"]
        self.assertTrue(all((d["__op"] == "d") == (d["__deleted"] == "true") for d in deleted))

    def test_keys_are_skewed(self):
        keys = Counter(e[3]["ID"] for e in events(gen.hourly_batches(1, SMALL))
                       if e[0] != "snapshot")
        total = sum(keys.values())
        top = sum(n for _k, n in keys.most_common(SMALL["keys"] // 100))
        # the hottest 1% of keys carry over five times their uniform share
        self.assertGreater(top / total, 0.05)
        self.assertTrue(all(0 <= int(k) < SMALL["keys"] for k in keys))

    def test_drift_column_from_day_2(self):
        for _name, day, _t, ev in events(gen.hourly_batches(1, SMALL)):
            self.assertEqual(gen.DRIFT_COLUMN in ev, day >= 2)
            self.assertIn("Client/Name", ev)

    def test_timestamps_distinct_and_within_their_hour(self):
        seen = set()
        for name, day, hours, parts in gen.hourly_batches(1, SMALL):
            for h, (ts, _values) in zip(hours, parts):
                start = int(gen.DAY1.timestamp()) * 10 ** 6 + ((day - 1) * 24 + h) * gen.HOUR_US
                self.assertTrue(all(start <= t < start + gen.HOUR_US for t in ts.tolist()), name)
                self.assertTrue(all(a < b for a, b in zip(ts.tolist(), ts.tolist()[1:])), name)
                seen.update(ts.tolist())
        self.assertEqual(len(seen), sum(1 for _ in events(gen.hourly_batches(1, SMALL))))


class TablesTest(unittest.TestCase):

    def test_tables_are_fixed(self):
        def digests():
            with tempfile.TemporaryDirectory() as d:
                out = os.path.join(d, "t")
                gen.build_tables(out)
                out_digests = {}
                for f in sorted(os.listdir(out)):
                    with open(os.path.join(out, f), "rb") as fh:
                        out_digests[f] = hashlib.sha256(fh.read()).hexdigest()
                return out_digests
        a = digests()
        self.assertEqual(sorted(a), sorted(f"{t}.parquet" for t in (
            "region", "nation", "customer", "supplier", "part", "orders", "lineitem",
            "events", "documents", "embeddings")))
        self.assertEqual(a, digests())


if __name__ == "__main__":
    unittest.main()
