"""The benchmark's own tests, at a tiny fleet size, with no JVM:

    python3 -m unittest perfbench/test_perfbench.py

The fleet generator is deterministic for a fixed seed, and each output check
fails when it should: a flipped target byte, a missing target object and a
stale ledger row are each caught.
"""
import hashlib
import json
import os
import random
import shutil
import sys
import tempfile
import unittest
import urllib.parse

import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import checks  # noqa: E402
import run  # noqa: E402
from fleet import KIB, Fleet  # noqa: E402

TINY = dict(mappings=2, objects=40, size_lo=1 * KIB, size_hi=4 * KIB,
            changed=0.1, new=0.05, deleted=0.05, concurrency=1)


def tree(root):
    """Every file under root: relative name -> (sha256, mtime_ns)."""
    out = {}
    for d, _, fs in os.walk(root):
        for f in fs:
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = (hashlib.sha256(fh.read()).hexdigest(),
                                                 os.stat(p).st_mtime_ns)
    return out


class FleetTest(unittest.TestCase):
    def setUp(self):
        self.tmp = tempfile.mkdtemp()

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def run_fleet(self, name, seed, steps=3):
        f = Fleet(os.path.join(self.tmp, name), seed, TINY)
        exps = [f.build()] + [f.step() for _ in range(steps)]
        return f, exps, tree(f.root)

    def test_same_seed_same_fleet(self):
        _, e1, t1 = self.run_fleet("a", 7)
        _, e2, t2 = self.run_fleet("b", 7)
        self.assertEqual(e1, e2)
        self.assertEqual(t1, t2)

    def test_other_seed_other_fleet(self):
        _, e1, t1 = self.run_fleet("a", 7)
        _, e2, t2 = self.run_fleet("b", 8)
        self.assertNotEqual(t1, t2)

    def test_expectations_match_the_buckets(self):
        f = Fleet(os.path.join(self.tmp, "f"), 3, TINY)
        f.build()
        before = [checks.listing(f.src_dir(m)) for m in range(TINY["mappings"])]
        exp = f.step()
        for m, e in enumerate(exp):
            after = checks.listing(f.src_dir(m))
            # survivors are skipped, rewritten and new objects are synced
            self.assertEqual(e["skipped"] + e["synced"], len(after))
            self.assertEqual(len(before[m].keys() - after.keys()), e["orphans_removed"])
            self.assertEqual(e["bytes"], sum(after[n] for n in e["copied"]))

    def test_cycle_bytes_do_not_depend_on_the_seed(self):
        totals = set()
        for s in range(4):
            f = Fleet(os.path.join(self.tmp, str(s)), s, TINY)
            totals.add((sum(e["bytes"] for e in f.build()), sum(e["bytes"] for e in f.step())))
        self.assertEqual(len(totals), 1)


class ChecksTest(unittest.TestCase):
    """A correctly synced tiny fleet passes every check; each defect fails."""

    def setUp(self):
        self.tmp = tempfile.mkdtemp()
        self.fleet = Fleet(os.path.join(self.tmp, "buckets"), 5, TINY)
        self.expected = self.fleet.build()
        self.ledger = os.path.join(self.tmp, "ledger")
        for m, e in enumerate(self.expected):
            shutil.rmtree(self.fleet.dst_dir(m))
            shutil.copytree(self.fleet.src_dir(m), self.fleet.dst_dir(m))
            self.write_ledger(m, e["mapping_id"])
        self.reports = [dict(mapping_id=e["mapping_id"], synced=e["synced"], skipped=0,
                             failed=0, orphans_removed=0) for e in self.expected]

    def tearDown(self):
        shutil.rmtree(self.tmp)

    def write_ledger(self, m, mid, extra=()):
        src = self.fleet.src_dir(m)
        rows = []
        for n, size in sorted(checks.listing(src).items()):
            ms = os.stat(os.path.join(src, n)).st_mtime_ns // 1_000_000
            rows.append((n, size, checks.pseudo_etag(size, ms), "success"))
        rows += list(extra)
        part = os.path.join(self.ledger, "mapping_id=" + urllib.parse.quote(mid, safe=""))
        os.makedirs(part, exist_ok=True)
        cols = list(zip(*rows))
        pq.write_table(pa.table({"object_name": cols[0], "size": pa.array(cols[1], pa.int64()),
                                 "etag": cols[2], "sync_status": cols[3]}),
                       os.path.join(part, "part-00000.parquet"))

    def problems(self):
        return checks.check_cycle(self.fleet, self.ledger, self.reports, self.expected,
                                  random.Random(0), sample_size=1000)

    def test_clean_state_passes(self):
        self.assertEqual(self.problems(), [])

    def test_flipped_target_byte_is_caught(self):
        name = self.expected[0]["copied"][3]
        path = os.path.join(self.fleet.dst_dir(0), name)
        with open(path, "r+b") as f:
            f.seek(100)
            b = f.read(1)
            f.seek(100)
            f.write(bytes([b[0] ^ 0x01]))
        self.assertTrue(any("differs" in p for p in self.problems()))

    def test_missing_target_object_is_caught(self):
        name = self.expected[1]["copied"][0]
        os.remove(os.path.join(self.fleet.dst_dir(1), name))
        self.assertTrue(any("missing" in p for p in self.problems()))

    def test_stale_ledger_row_is_caught(self):
        e = self.expected[0]
        self.write_ledger(0, e["mapping_id"], extra=[("gone/obj.bin", 10, "abc", "success")])
        self.assertTrue(any("stale row" in p for p in self.problems()))

    def test_outdated_ledger_version_is_caught(self):
        e = self.expected[0]
        os.utime(os.path.join(self.fleet.src_dir(0), e["copied"][0]), ns=(10**18, 10**18))
        self.assertTrue(any("row" in p and "!= source" in p for p in self.problems()))

    def test_report_mismatch_is_caught(self):
        self.reports[0]["synced"] -= 1
        self.reports[1]["failed"] = 1
        ps = self.problems()
        self.assertTrue(any("synced=" in p for p in ps))
        self.assertTrue(any("failed=1" in p for p in ps))


class MetricsTest(unittest.TestCase):
    """Both runs report exactly the metrics BENCHMARK.json declares."""

    def declared(self, key):
        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            return {m["name"]: m["unit"] for m in json.load(f)[key]}

    def test_untraced_metrics_are_the_end_to_end_metrics(self):
        cycles = [dict(wall_s=w, bytes=1000) for w in (1.0, 2.0, 3.0)]
        got = run.end_to_end_metrics([4.0, 5.0, 6.0], dict(wall_s=9.0), cycles)
        self.assertEqual({k: u for k, (_, u) in got.items()}, self.declared("end_to_end"))
        self.assertEqual(got["cycle_p50_s"][0], 2.0)
        self.assertEqual(got["sync_mb_per_s"][0], 0.0005)

    def test_traced_metrics_are_the_per_layer_metrics(self):
        layer = dict(scan_source_s=1.0, scan_target_s=1.0, objects_listed=10, ledger_read_s=0.1,
                     ledger_rows=10, diff_s=0.2, decided_rows=5, needs_copy_rows=1, copy_s=0.3,
                     copy_bytes=100, copy_objects=1, copy_failed=0, copy_tasks=1, commit_s=0.4,
                     delete_s=0.1, delete_objects=1, delete_failed=0)
        spark = dict(jobs=1, stages=1, tasks=1, task_busy_s=1.0, driver_gap_s=1.0,
                     shuffle_bytes=0, spill_bytes=0, queries=1,
                     analysis_ms=1, optimize_ms=1, physical_ms=1, exchanges=1)
        cycles = [dict(wall_s=3.0, layers=[layer], spark=spark), dict(wall_s=2.9, layers=[layer])]
        stream = [dict(duration_ms=dict(triggerExecution=900, addBatch=800, walCommit=20,
                                        commitOffsets=10))]
        got = run.layer_metrics(cycles, dict(s=1.0, bytes=10**6), [1, 1], stream, 0.5)
        self.assertEqual({k: u for k, (_, u) in got.items()}, self.declared("per_layer"))

    def test_overhead_is_the_median_over_listened_unlistened_pairs(self):
        on, off = dict(spark={}), {}
        cycles = [dict(on, wall_s=1.1), dict(off, wall_s=1.0),
                  dict(off, wall_s=2.0), dict(on, wall_s=2.4),
                  dict(on, wall_s=1.05), dict(off, wall_s=1.0),
                  dict(off, wall_s=9.0)]
        self.assertAlmostEqual(run.overhead_pct(cycles), 10.0)

    def test_tail_has_ten_samples_beyond_it(self):
        self.assertEqual(run.tail(list(range(1, 21))), (10, 50.0, 20))
        self.assertEqual(run.tail([3.0, 1.0, 2.0]), (3.0, 100.0, 3))


if __name__ == "__main__":
    unittest.main()
