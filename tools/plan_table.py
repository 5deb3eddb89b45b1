#!/usr/bin/env python3
"""Write the compact plan table from a Bench profile sidecar.

Usage (SF_DIR is the sf0.001 data set SmokeGateSpec reads):
  SPARK_GRAFT_SF_DIR=$SF_DIR SPARK_GRAFT_REPS=1 \
    SPARK_GRAFT_BENCH_OUT=b.json sbt "runMain graft.Bench"
  python3 tools/plan_table.py b.profile.json > src/test/resources/plan_table.tsv

One line per query, from the rep the bench reports: its Spark jobs and
stages, and the exchanges, source scans and unpartitioned windows of its
plans as planned before adaptive re-planning (the sidecar's
`planned_exchanges`; final-plan counts vary between identical runs).
SmokeGateSpec runs every query at sf0.001 and fails when one plans more
exchanges than its line allows, so a plan that gains an exchange has to
regenerate this table in the same change.
"""
import json
import os
import sys

# table column -> sidecar field
COLUMNS = {"jobs": "jobs", "stages": "stages", "exchanges": "planned_exchanges",
           "scans": "scans", "unpartitioned_windows": "unpartitioned_windows"}


def main(argv):
    if len(argv) != 2:
        sys.exit(__doc__)
    with open(argv[1], encoding="utf-8") as f:
        side = json.load(f)
    bad = [r["query"] for r in side["rows"] if "error" in r]
    if bad:
        sys.exit("queries failed in the profiled run: " + ", ".join(bad))
    print(f"# generated by tools/plan_table.py from a Bench profile at "
          f"{os.path.basename(side['sf'].rstrip('/'))}, reps {side['reps']}")
    print("\t".join(["query"] + list(COLUMNS)))
    for r in sorted(side["rows"], key=lambda r: r["query"]):
        print("\t".join([r["query"]] + [str(r[f]) for f in COLUMNS.values()]))


if __name__ == "__main__":
    main(sys.argv)
