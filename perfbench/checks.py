"""Output checks for the sync workloads, run untimed after every cycle.

Each check returns a list of problems; an empty list means it passed. They
read the buckets and the ledger directly (plain files and pyarrow), never
through the program.
"""
import os
import random
import urllib.parse

import pyarrow.parquet as pq


def pseudo_etag(size, mtime_ms):
    """`ObjectStoreCatalog.pseudoEtag`: hex of (size * 1000003) ^ mtime."""
    return format(((size * 1000003) ^ mtime_ms) & 0xFFFFFFFFFFFFFFFF, "x")


def listing(bucket):
    """name -> size of the objects in a bucket, skipping hidden files (the
    `.crc` side files the Hadoop local filesystem writes)."""
    out = {}
    for dirpath, dirs, files in os.walk(bucket):
        dirs[:] = [d for d in dirs if not d.startswith(".")]
        for f in files:
            if not f.startswith("."):
                p = os.path.join(dirpath, f)
                out[os.path.relpath(p, bucket)] = os.path.getsize(p)
    return out


def check_reports(reports, expected):
    """The cycle's `MappingReport`s equal the generator's expectation."""
    problems = []
    got = {r["mapping_id"]: r for r in reports}
    for e in expected:
        r = got.get(e["mapping_id"])
        if r is None:
            problems.append(f"{e['mapping_id']}: no report (mapping failed)")
            continue
        for k in ("synced", "skipped", "orphans_removed"):
            if r[k] != e[k]:
                problems.append(f"{e['mapping_id']}: {k}={r[k]}, expected {e[k]}")
        if r["failed"] != 0:
            problems.append(f"{e['mapping_id']}: failed={r['failed']}")
    return problems


def check_listing(src, dst):
    """The target holds exactly the source's objects, by name and size."""
    s, t = listing(src), listing(dst)
    problems = [f"{dst}: missing {n}" for n in sorted(s.keys() - t.keys())]
    problems += [f"{dst}: extra {n}" for n in sorted(t.keys() - s.keys())]
    problems += [f"{dst}: {n} has {t[n]} bytes, source {s[n]}"
                 for n in sorted(s.keys() & t.keys()) if s[n] != t[n]]
    return problems


def check_bytes(src, dst, names):
    """Each named target object matches its source byte for byte."""
    problems = []
    for n in names:
        try:
            with open(os.path.join(src, n), "rb") as a, open(os.path.join(dst, n), "rb") as b:
                while True:
                    x, y = a.read(1 << 20), b.read(1 << 20)
                    if x != y:
                        problems.append(f"{dst}: {n} differs from source")
                        break
                    if not x:
                        break
        except OSError as e:
            problems.append(f"{dst}: {n}: {e}")
    return problems


def sample(names, k, rng):
    names = sorted(names)
    return names if len(names) <= k else rng.sample(names, k)


def ledger_rows(ledger, mid):
    """The ledger rows of one mapping: object_name -> (size, etag, status)."""
    rows = {}
    if not os.path.isdir(ledger):
        return rows
    for d in os.listdir(ledger):
        if not d.startswith("mapping_id=") or urllib.parse.unquote(d[11:]) != mid:
            continue
        part = os.path.join(ledger, d)
        for f in sorted(os.listdir(part)):
            if f.startswith((".", "_")):
                continue
            t = pq.read_table(os.path.join(part, f),
                              columns=["object_name", "size", "etag", "sync_status"])
            for n, s, e, st in zip(*(t.column(c).to_pylist() for c in t.column_names)):
                if n in rows:
                    rows[n] = None  # duplicate key
                else:
                    rows[n] = (s, e, st)
    return rows


def check_ledger(ledger, mid, src):
    """The mapping's ledger rows equal the source objects: same names, each
    with the source's size and change token and status `success`."""
    rows = ledger_rows(ledger, mid)
    s = listing(src)
    problems = [f"ledger {mid}: no row for {n}" for n in sorted(s.keys() - rows.keys())]
    problems += [f"ledger {mid}: stale row {n}" for n in sorted(rows.keys() - s.keys())]
    for n in sorted(s.keys() & rows.keys()):
        if rows[n] is None:
            problems.append(f"ledger {mid}: duplicate rows for {n}")
            continue
        size, etag, status = rows[n]
        mtime_ms = os.stat(os.path.join(src, n)).st_mtime_ns // 1_000_000
        if (size, etag, status) != (s[n], pseudo_etag(s[n], mtime_ms), "success"):
            problems.append(f"ledger {mid}: {n} row {(size, etag, status)} "
                            f"!= source {(s[n], pseudo_etag(s[n], mtime_ms), 'success')}")
    return problems


def ledger_files(ledger, mid):
    """Parquet files in the mapping's ledger partition."""
    for d in os.listdir(ledger) if os.path.isdir(ledger) else []:
        if d.startswith("mapping_id=") and urllib.parse.unquote(d[11:]) == mid:
            return sum(1 for f in os.listdir(os.path.join(ledger, d))
                       if f.endswith(".parquet") and not f.startswith((".", "_")))
    return 0


def check_cycle(fleet, ledger, reports, expected, rng, sample_size=8):
    """Every per-cycle check, over every mapping."""
    problems = check_reports(reports, expected)
    for m, e in enumerate(expected):
        src, dst = fleet.src_dir(m), fleet.dst_dir(m)
        problems += check_listing(src, dst)
        problems += check_bytes(src, dst, sample(e["copied"], sample_size, rng))
        problems += check_ledger(ledger, e["mapping_id"], src)
    return problems
