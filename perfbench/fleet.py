"""Seeded object fleets for the sync workloads.

A fleet is a set of `file://` buckets, one source and one target per mapping.
`Fleet.build()` writes the initial source objects; each `Fleet.step()` applies
one cycle's changes (rewritten, new and deleted objects) to every source
bucket. Both return what the next sync cycle must report per mapping.

The engine's change token is (size, mtime in ms), so a rewrite moves the
object's mtime forward on a whole-second logical clock, as a real upload
would. Object sizes are stratified (evenly spaced over the size range, in a
seeded order), so the bytes a cycle copies are the same for every seed and
only which objects change depends on it.
"""
import os
import random
import zlib

import numpy as np

KIB = 1024
MIB = 1024 * KIB
# logical clock origin for object mtimes (whole seconds)
T0 = 1_700_000_000
EXTS = ("bin", "txt", "json", "csv")


def stratified_sizes(k, lo, hi, rng):
    sizes = [int(lo + (hi - lo) * (i + 0.5) / k) for i in range(k)]
    rng.shuffle(sizes)
    return sizes


def mapping_id(m):
    return f"local:src{m}->local:dst{m}"


class Fleet:
    def __init__(self, root, seed, spec):
        self.root = root
        self.spec = spec
        self.rng = random.Random(seed)
        # one seeded block; every object is a header plus a slice of it
        self.block = np.random.default_rng(seed).bytes(spec["size_hi"] + 64 * KIB)
        self.clock = T0
        self.next_id = 0
        # per mapping: name -> (size, version)
        self.objects = [dict() for _ in range(spec["mappings"])]

    def src_dir(self, m):
        return os.path.join(self.root, f"src{m}")

    def dst_dir(self, m):
        return os.path.join(self.root, f"dst{m}")

    def _new_name(self):
        i = self.next_id
        self.next_id += 1
        return f"p{i % 7}/obj{i:06d}.{EXTS[i % len(EXTS)]}"

    def _write(self, m, name, size, version):
        header = f"{mapping_id(m)}|{name}|v{version}\n".encode()
        off = zlib.crc32(header) % (64 * KIB)
        path = os.path.join(self.src_dir(m), name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "wb") as f:
            f.write(header)
            f.write(memoryview(self.block)[off:off + size - len(header)])
        os.utime(path, ns=(self.clock * 10**9, self.clock * 10**9))
        self.objects[m][name] = (size, version)

    def _sizes(self, k):
        return stratified_sizes(k, self.spec["size_lo"], self.spec["size_hi"], self.rng)

    def _count(self, frac):
        return max(1, round(frac * self.spec["objects"]))

    def build(self):
        """Write the initial fleet. Returns the initial cycle's expectation."""
        expected = []
        for m in range(self.spec["mappings"]):
            os.makedirs(self.dst_dir(m), exist_ok=True)
            names = [self._new_name() for _ in range(self.spec["objects"])]
            for name, size in zip(names, self._sizes(len(names))):
                self._write(m, name, size, 0)
            expected.append(dict(mapping_id=mapping_id(m), synced=len(names),
                                 skipped=0, orphans_removed=0, copied=names,
                                 bytes=sum(self.objects[m][n][0] for n in names)))
        return expected

    def step(self):
        """Apply one cycle's rewrites, new objects and deletions."""
        self.clock += 1
        expected = []
        for m in range(self.spec["mappings"]):
            current = sorted(self.objects[m])
            picked = self.rng.sample(current, self._count(self.spec["changed"])
                                     + self._count(self.spec["deleted"]))
            changed = picked[:self._count(self.spec["changed"])]
            deleted = picked[len(changed):]
            new = [self._new_name() for _ in range(self._count(self.spec["new"]))]
            for name, size in zip(changed, self._sizes(len(changed))):
                self._write(m, name, size, self.objects[m][name][1] + 1)
            for name, size in zip(new, self._sizes(len(new))):
                self._write(m, name, size, 0)
            for name in deleted:
                os.remove(os.path.join(self.src_dir(m), name))
                del self.objects[m][name]
            copied = changed + new
            expected.append(dict(mapping_id=mapping_id(m), synced=len(copied),
                                 skipped=len(current) - len(picked),
                                 orphans_removed=len(deleted), copied=copied,
                                 bytes=sum(self.objects[m][n][0] for n in copied)))
        return expected

    def source_files(self, m):
        return [os.path.join(self.src_dir(m), n) for n in sorted(self.objects[m])]

    def config(self, ledger):
        """The engine's JSON config: one `file://` provider, one mapping per
        source/target bucket pair."""
        ms = range(self.spec["mappings"])
        return {
            "providers": [{"id": "local", "type": "file",
                           "uri": "file://" + os.path.abspath(self.root)}],
            "mappings": [{"sourceProviderId": "local", "sourceBucket": f"src{m}",
                          "targetProviderId": "local", "targetBucket": f"dst{m}"}
                         for m in ms],
            "ledgerPath": ledger,
        }
