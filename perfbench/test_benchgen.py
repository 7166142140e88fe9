"""Tests of the benchmark's own code: seeded generators and the models the
benchmark checks the engine's outputs against.

Run from the repository root: python3 -m unittest perfbench/test_benchgen.py
"""
import hashlib
import shutil
import struct
import sys
import tempfile
import unittest
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import benchgen  # noqa: E402


def row(key, op, seq):
    return {"key": key, "op": op, "seq": seq, "bucket": key % 8}


class ReplayModelTest(unittest.TestCase):
    def test_hand_computed_changelog(self):
        rows = [
            # hot key 1: several versions in one batch, last +U wins
            row(1, "+I", 0), row(1, "-U", 1), row(1, "+U", 2),
            row(1, "-U", 3), row(1, "+U", 4),
            # add-then-delete: key 2 is dead
            row(2, "+I", 5), row(2, "-D", 6),
            # delete-then-add: key 3 is live
            row(3, "-D", 7), row(3, "+I", 8),
            # a stray -U of a key that never existed changes nothing
            row(4, "-U", 9),
            # a -U after the last +U does not delete
            row(5, "+I", 10), row(5, "-U", 11),
        ]
        state = benchgen.replay(list(reversed(rows)))  # order comes from seq
        self.assertEqual(sorted(state), [1, 3, 5])
        self.assertEqual(state[1]["seq"], 4)
        self.assertEqual(state[3]["seq"], 8)
        self.assertEqual(state[5]["seq"], 10)

    def test_keep_filters_before_replay(self):
        rows = [row(2, "+I", 0), row(3, "+I", 1)]
        self.assertEqual(sorted(benchgen.replay(rows, keep=benchgen.cdc_kept)), [2])

    def test_live_bound_is_the_kept_keys(self):
        self.assertEqual(benchgen.cdc_live_bound(16), 8)

    def test_document_of_a_row(self):
        _, batches = benchgen.cdc_changelog(4, 100, [1])
        r = dict(batches[0][0], key=12, seq=100, bucket=4, tags=["a", "b"],
                 amount=benchgen.decimal.Decimal("7"),
                 updated_at=benchgen.EPOCH + benchgen.dt.timedelta(seconds=5))
        doc = benchgen.cdc_document(r)
        self.assertEqual(doc["bucket"], "4")
        self.assertEqual(doc["tags"], '["a","b"]')
        self.assertEqual(doc["amount"], "7.00")
        self.assertEqual(doc["updated_at"], "1704067205000")  # 2024-01-01T00:00:05Z
        self.assertEqual(set(doc), {"key", "seq", "bucket", "name", "profile_city",
                                    "profile_zip", "profile_geo_lat", "profile_geo_lon",
                                    "tags", "amount", "updated_at"})
        # an index row read back compares equal once its doubles are parsed
        text = dict(doc, profile_geo_lat=repr(doc["profile_geo_lat"]),
                    profile_geo_lon=repr(doc["profile_geo_lon"]))
        self.assertEqual(benchgen.cdc_index_document(text), doc)


class GeneratorDeterminismTest(unittest.TestCase):
    def test_changelog_same_seed_same_rows(self):
        a = benchgen.cdc_changelog(7, 500, [200, 200])
        b = benchgen.cdc_changelog(7, 500, [200, 200])
        c = benchgen.cdc_changelog(8, 500, [200, 200])
        self.assertEqual(a, b)
        self.assertNotEqual(a[1], c[1])

    def test_changelog_shape(self):
        snapshot, batches = benchgen.cdc_changelog(3, 1000, [400, 400])
        self.assertEqual(len(snapshot), 1000)
        seqs = [r["seq"] for b in [snapshot] + batches for r in b]
        self.assertEqual(seqs, sorted(set(seqs)))  # unique and increasing
        ops = {r["op"] for b in batches for r in b}
        self.assertEqual(ops, {"+I", "-U", "+U", "-D"})
        keys = [r["key"] for r in batches[0]]
        # Zipf skew: the hottest key carries several versions per batch
        self.assertGreater(max(keys.count(k) for k in set(keys)), 5)

    def test_shard_keeps_the_same_share_on_every_seed(self):
        shares = []
        for seed in range(5):
            _, batches = benchgen.cdc_changelog(seed, 2000, [1200] * 3)
            rows = [r for b in batches for r in b]
            shares.append(sum(map(benchgen.cdc_kept, rows)) / len(rows))
        self.assertLess(max(shares) - min(shares), 0.06)

    def test_kafka_frames_same_seed_same_bytes(self):
        a = benchgen.kafka_frames(5, 300, [100, 100], 0.05)
        b = benchgen.kafka_frames(5, 300, [100, 100], 0.05)
        self.assertEqual(a, b)
        _, batches, expected = a
        for frames, kinds, final in zip(batches, expected["corrupt"],
                                        expected["batch_finals"]):
            self.assertEqual(len(final) + sum(kinds.values()), len(frames))

    def test_board_tables_same_seed_same_bytes(self):
        work = HERE / ".work"
        work.mkdir(exist_ok=True)
        digests = []
        for seed in (9, 9, 10):
            d = Path(tempfile.mkdtemp(dir=work))
            try:
                benchgen.board_tables(seed, d, docs=50, events=200, orders=50,
                                      customers=20, parts=20, suppliers=5, vecs=20)
                h = hashlib.sha256()
                for f in sorted(d.iterdir()):
                    h.update(f.read_bytes())
                digests.append(h.hexdigest())
            finally:
                shutil.rmtree(d)
        self.assertEqual(digests[0], digests[1])
        self.assertNotEqual(digests[0], digests[2])


class AvroEncodingTest(unittest.TestCase):
    def test_zigzag_varints(self):
        self.assertEqual(benchgen._zz(0), b"\x00")
        self.assertEqual(benchgen._zz(-1), b"\x01")
        self.assertEqual(benchgen._zz(1), b"\x02")
        self.assertEqual(benchgen._zz(64), b"\x80\x01")

    def test_confluent_frame_header(self):
        f = benchgen.frame(3, b"body")
        self.assertEqual(f[0], 0)
        self.assertEqual(struct.unpack(">i", f[1:5])[0], 3)
        self.assertEqual(f[5:], b"body")


if __name__ == "__main__":
    unittest.main()
