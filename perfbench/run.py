#!/usr/bin/env python3
"""The repository benchmark: sync cycles of the `SyncEngine` over seeded
`file://` object fleets, timed end to end, with a separate traced run that
times each layer.

    python3 perfbench/run.py --workload sync_steady --seed 1 --seconds 20 --trace 0

Run it from the root of the repository. The first run builds the program and
the benchmark's JVM side with sbt (offline) into `.bench_build/`; each run
works in `.bench_run/` and removes it when done, and keeps a summary (and,
traced, its spans) in `.bench_out/`. The last line of standard output is one
JSON object: `correct`, `attempted`, `failed` and `metrics` — the end-to-end
metrics with `--trace 0`, the per-layer metrics with `--trace 1`.

See `perfbench/README.md` for the workloads and what each metric should move.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from checks import (check_bytes, check_cycle, check_ledger, check_listing,  # noqa: E402
                    ledger_files)
from fleet import KIB, MIB, Fleet  # noqa: E402

WORKLOADS = {
    # read-heavy steady state: listing, diff and fixed Spark-job cost
    "sync_steady": dict(mappings=1, objects=400, size_lo=1 * KIB, size_hi=16 * KIB,
                        changed=0.01, new=0.005, deleted=0.005, concurrency=1),
    # write-heavy churn: bytes copied and ledger rows committed
    "sync_churn": dict(mappings=2, objects=64, size_lo=4 * MIB, size_hi=28 * MIB,
                       changed=0.5, new=0.05, deleted=0.05, concurrency=2),
}
SETUP_REPEATS = 3
# untimed warm cycles after the initial sync: JIT and page cache settle
WARMUP_CYCLES = 1
MIN_CYCLES = 3
# a traced run's warm cycles come in listened/unlistened pairs; the tracing
# overhead is the median over the pairs
OVERHEAD_PAIRS = 2
# how long a traced run lets ContinuousSync trigger batches
STREAM_WINDOW_S = 10
# stop starting cycles after this much wall time, so a run ends in time
WALL_BUDGET_S = 120
JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
               "java.base/java.lang.reflect", "java.base/java.io",
               "java.base/java.net", "java.base/java.nio",
               "java.base/java.util", "java.base/java.util.concurrent",
               "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs",
               "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    return len(os.sched_getaffinity(0))


# ---- build ---------------------------------------------------------------

def source_digest(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src"]
    for top in tops:
        p = os.path.join(root, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile the program and the benchmark's JVM side; return the runtime
    classpath. Rebuilds only when a source or build file changed."""
    out = os.path.join(root, ".bench_build")
    os.makedirs(out, exist_ok=True)
    digest = source_digest(root)
    cp_file = os.path.join(out, "classpath.txt")
    stamp = os.path.join(out, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    # offline, and sbt's scratch files (temp dir, JNA, perf data, server
    # socket, boot lock) kept inside the checkout
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join([
                   "-Dsbt.override.build.repos=true", "-Dsbt.offline=true",
                   "-Dsbt.server.autostart=false", "-Dsbt.boot.lock=false",
                   f"-Dsbt.ivy.home={out}/ivy", f"-Djava.io.tmpdir={tmp}",
                   f"-Djna.tmpdir={tmp}", "-XX:-UsePerfData", "-Xmx2g"]))
    log("building the program and the benchmark with sbt")
    t0 = time.perf_counter()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=os.path.join(root, "perfbench"), env=env,
                       stdin=subprocess.DEVNULL, capture_output=True, text=True,
                       timeout=840)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit("perfbench: build failed")
    log(f"built in {time.perf_counter() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


# ---- the JVM side ----------------------------------------------------------

class Agent:
    """One JVM with one Spark session, one JSON request/reply per line."""

    def __init__(self, classpath, rundir, name):
        self.started = time.perf_counter()
        tmp = os.path.join(rundir, name, "tmp")
        os.makedirs(tmp)
        opens = [a for p in JDK17_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
        self.stderr = open(os.path.join(rundir, name, "agent.log"), "w")
        self.proc = subprocess.Popen(
            ["java", "-Xms3g", "-Xmx3g", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}", *opens,
             "-cp", classpath, "perfbench.Agent"],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.stderr,
            text=True, cwd=os.path.join(rundir, name))

    def init(self, config, trace):
        """Start the session; returns the set-up time, from process start."""
        self.call("init", cpus=cpus(), config=config, trace=trace,
                  local_dir=os.path.join(os.path.dirname(self.stderr.name), "spark"))
        return time.perf_counter() - self.started

    def call(self, op, **kw):
        self.proc.stdin.write(json.dumps(dict(op=op, **kw)) + "\n")
        self.proc.stdin.flush()
        line = self.proc.stdout.readline()
        if not line:
            raise RuntimeError(f"agent exited during {op}")
        reply = json.loads(line)
        if "error" in reply:
            raise RuntimeError(f"agent {op}: {reply['error']}")
        return reply

    def close(self, kill=False):
        try:
            if self.proc.poll() is None and not kill:
                self.call("quit")
                self.proc.wait(timeout=60)
        except Exception:
            pass
        finally:
            if self.proc.poll() is None:
                self.proc.kill()
                self.proc.wait()
            self.stderr.close()


# ---- metrics ---------------------------------------------------------------

def tail(values):
    """The highest percentile with at least 10 samples beyond it, as
    (value, percentile, n). With 10 samples or fewer no percentile has ten
    beyond it, and the maximum is reported (percentile 100)."""
    xs = sorted(values)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0, n
    return xs[n - 11], 100.0 * (n - 10) / n, n


def med(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end_metrics(setup, initial, cycles):
    walls = [c["wall_s"] for c in cycles]
    return {
        "cycle_p50_s": (med(walls), "s"),
        "initial_sync_s": (initial["wall_s"], "s"),
        # per cycle, so one slow cycle moves it no more than it moves the p50
        "sync_mb_per_s": (med([c["bytes"] / 1e6 / c["wall_s"] for c in cycles]), "MB/s"),
        "setup_s": (med(setup), "s"),
    }


def overhead_pct(cycles):
    """The tracing overhead: the median over pairs of adjacent warm cycles,
    one listened and one not, of the listened cycle's extra wall time."""
    ratios = []
    for a, b in zip(cycles[0::2], cycles[1::2]):
        on, off = (a, b) if "spark" in a else (b, a)
        ratios.append(on["wall_s"] / off["wall_s"])
    return 100.0 * (med(ratios) - 1)


def layer_metrics(cycles, bound, ledger_file_counts, stream, fixture_gen_s):
    """Per-layer metrics: medians over the warm cycles of per-cycle sums
    over mappings (direct calls), and over the listened cycles (listeners)."""
    def per_cycle(f):
        return med([f(c["layers"]) for c in cycles])

    def total(key):
        return lambda ls: sum(m[key] for m in ls)

    scan = [total("scan_source_s")(c["layers"]) + total("scan_target_s")(c["layers"])
            for c in cycles]
    listed = [total("objects_listed")(c["layers"]) for c in cycles]
    copy_s = [total("copy_s")(c["layers"]) for c in cycles]
    copy_b = [total("copy_bytes")(c["layers"]) for c in cycles]
    walls = [c["wall_s"] for c in cycles]
    on = [c for c in cycles if "spark" in c]

    def spark(key):
        return med([c["spark"][key] for c in on])

    def batch(key):
        return med([b["duration_ms"].get(key, 0) for b in stream])

    copy_mbps = med([b / 1e6 / s for b, s in zip(copy_b, copy_s)])
    bound_mbps = bound["bytes"] / 1e6 / bound["s"]
    m = {
        "cycle.traced_s": (med(walls), "s"),
        "sources.scan_s": (med(scan), "s"),
        "sources.objects_listed": (med(listed), "count"),
        "sources.us_per_object": (med([s / n * 1e6 for s, n in zip(scan, listed)]), "us"),
        "sources.cycle_share": (med([s / w for s, w in zip(scan, walls)]), "ratio"),
        "sync_ops.diff_s": (per_cycle(total("diff_s")), "s"),
        "sync_ops.decided_rows": (per_cycle(total("decided_rows")), "count"),
        "sync_ops.copy_fraction": (per_cycle(
            lambda ls: sum(m["needs_copy_rows"] for m in ls) /
            max(1, sum(m["decided_rows"] for m in ls))), "ratio"),
        "copy.s": (med(copy_s), "s"),
        "copy.bytes": (med(copy_b), "B"),
        "copy.objects": (per_cycle(total("copy_objects")), "count"),
        "copy.tasks": (per_cycle(total("copy_tasks")), "count"),
        "copy.mb_per_s": (copy_mbps, "MB/s"),
        "copy.bound_mb_per_s": (bound_mbps, "MB/s"),
        "copy.bound_fraction": (copy_mbps / bound_mbps, "ratio"),
        "copy.cycle_share": (med([s / w for s, w in zip(copy_s, walls)]), "ratio"),
        "delete.s": (per_cycle(total("delete_s")), "s"),
        "delete.objects": (per_cycle(total("delete_objects")), "count"),
        "ledger.read_s": (per_cycle(total("ledger_read_s")), "s"),
        "ledger.commit_s": (per_cycle(total("commit_s")), "s"),
        "ledger.rows": (per_cycle(lambda ls: ls[0]["ledger_rows"]), "count"),
        "ledger.files": (med(ledger_file_counts), "count"),
        "spark.jobs": (spark("jobs"), "count"),
        "spark.stages": (spark("stages"), "count"),
        "spark.tasks": (spark("tasks"), "count"),
        "spark.task_busy_s": (spark("task_busy_s"), "s"),
        "spark.driver_gap_s": (spark("driver_gap_s"), "s"),
        "spark.shuffle_bytes": (spark("shuffle_bytes"), "B"),
        "spark.spill_bytes": (spark("spill_bytes"), "B"),
        "plan.queries": (spark("queries"), "count"),
        "plan.analysis_ms": (spark("analysis_ms"), "ms"),
        "plan.optimize_ms": (spark("optimize_ms"), "ms"),
        "plan.physical_ms": (spark("physical_ms"), "ms"),
        "plan.exchanges": (spark("exchanges"), "count"),
        "streaming.triggers": (len(stream), "count"),
        "streaming.trigger_p50_ms": (batch("triggerExecution"), "ms"),
        "streaming.add_batch_ms": (batch("addBatch"), "ms"),
        "streaming.wal_commit_ms": (batch("walCommit"), "ms"),
        "streaming.offset_commit_ms": (batch("commitOffsets"), "ms"),
        "trace.overhead_pct": (overhead_pct(cycles), "%"),
        "fixture_gen_s": (fixture_gen_s, "s"),
    }
    return m


# ---- one run ---------------------------------------------------------------

def run(args, root, classpath):
    spec = WORKLOADS[args.workload]
    started = time.monotonic()
    rundir = os.path.join(root, ".bench_run", f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    agent = None
    try:
        t0 = time.perf_counter()
        fleet = Fleet(os.path.join(rundir, "buckets"), args.seed, spec)
        expected = fleet.build()
        fixture_gen_s = time.perf_counter() - t0
        ledger = os.path.join(rundir, "ledger")
        config = os.path.join(rundir, "config.json")
        with open(config, "w") as f:
            json.dump(fleet.config(ledger), f)
        mappings = [dict(mapping_id=e["mapping_id"], source="file://" + fleet.src_dir(m),
                         target="file://" + fleet.dst_dir(m)) for m, e in enumerate(expected)]
        check_rng = random.Random(args.seed)
        traced = bool(args.trace)

        # set-up is timed in fresh JVMs, the last of which runs the cycles;
        # a traced run does not report it and starts one
        setup = []
        repeats = 1 if traced else SETUP_REPEATS
        for k in range(repeats):
            agent = Agent(classpath, rundir, f"agent{k}")
            setup.append(agent.init(config, traced))
            if k < repeats - 1:
                agent.close(kill=True)
        bound = None
        if traced:
            os.sync()
            bound = agent.call("bound", files=fleet.source_files(0),
                               dst=os.path.join(rundir, "bound"))

        problems, attempted, failed = [], 0, 0
        ledger_counts = []

        def cycle(expected, name, layers=False, listen=False):
            nonlocal attempted, failed
            c = {}
            span = agent.call("open", name=name, parent=0)["span"] if traced else 0
            if layers:
                c["layers"] = agent.call("layers", mappings=mappings, ledger=ledger, span=span,
                                         scratch="file://" + os.path.join(rundir, "scratch"))["mappings"]
                problems.extend(f"{x['mapping_id']}: direct copy/delete call failed"
                                for x in c["layers"] if x["copy_failed"] or x["delete_failed"])
            # no earlier write is still being flushed while the cycle runs
            os.sync()
            r = agent.call("sync", concurrency=spec["concurrency"], listen=listen, span=span)
            if traced:
                agent.call("close", span=span)
            c["wall_s"] = r["wall_s"]
            c["bytes"] = sum(e["bytes"] for e in expected)
            if "spark" in r:
                c["spark"] = r["spark"]
            got = {x["mapping_id"]: x for x in r["reports"]}
            for e in expected:
                attempted += 1 + e["synced"] + e["orphans_removed"]
                x = got.get(e["mapping_id"])
                failed += 1 if x is None else x["failed"] + max(
                    0, e["orphans_removed"] - x["orphans_removed"])
            problems.extend(check_cycle(fleet, ledger, r["reports"], expected, check_rng))
            ledger_counts.append(max(ledger_files(ledger, e["mapping_id"]) for e in expected))
            return c

        initial = cycle(expected, "initial", listen=traced)
        for k in range(WARMUP_CYCLES):
            cycle(fleet.step(), f"warm-up {k}")
        warm = []
        need = 2 * OVERHEAD_PAIRS if traced else MIN_CYCLES
        while (sum(c["wall_s"] for c in warm) < args.seconds or len(warm) < need) \
                and time.monotonic() - started < WALL_BUDGET_S:
            # traced runs listen on one cycle of each pair, first and second
            # in turn (listened, not, not, listened, ...), so drift cancels
            i = len(warm)
            warm.append(cycle(fleet.step(), f"cycle {i}", layers=traced,
                              listen=traced and i % 2 == (i // 2) % 2))
        if len(warm) < need:
            raise RuntimeError(f"only {len(warm)} of {need} warm cycles ran "
                               f"within {WALL_BUDGET_S} s")
        stream = None
        if traced:
            # the ContinuousSync path over the synced fleet: idle cycles
            span = agent.call("open", name="stream", parent=0)["span"]
            stream = agent.call("stream", window_ms=STREAM_WINDOW_S * 1000, interval_ms=100,
                                span=span)["batches"]
            agent.call("close", span=span)
            for m, e in enumerate(expected):
                problems += check_listing(fleet.src_dir(m), fleet.dst_dir(m))
                problems += check_ledger(ledger, e["mapping_id"], fleet.src_dir(m))
        # the whole fleet, byte for byte, once at the end
        for m in range(spec["mappings"]):
            problems += check_bytes(fleet.src_dir(m), fleet.dst_dir(m), sorted(fleet.objects[m]))
        spans = agent.call("spans")["spans"] if traced else None
    finally:
        if agent is not None:
            agent.close()
        shutil.rmtree(rundir, ignore_errors=True)

    walls = [c["wall_s"] for c in warm]
    tail_v, tail_pct, n = tail(walls)
    if traced:
        metrics = layer_metrics(warm, bound, ledger_counts[1 + WARMUP_CYCLES:], stream,
                                fixture_gen_s)
    else:
        metrics = end_to_end_metrics(setup, initial, warm)
    for p in problems[:20]:
        log(f"CHECK FAILED: {p}")
    log(f"{args.workload} seed {args.seed} trace {args.trace}: {n} warm cycles, "
        f"p50 {med(walls):.3f} s, tail p{tail_pct:.1f} (n={n}) {tail_v:.3f} s, "
        f"setup {setup}, {len(problems)} check problems")
    summary = dict(workload=args.workload, seed=args.seed, trace=args.trace,
                   warm_cycles=walls, initial_sync_s=initial["wall_s"], setup_s=setup,
                   cycle_tail=dict(percentile=tail_pct, n=n, value=tail_v),
                   problems=problems,
                   metrics={k: dict(value=v, unit=u) for k, (v, u) in metrics.items()})
    if traced:
        summary["spans"] = spans
    outdir = os.path.join(root, ".bench_out")
    os.makedirs(outdir, exist_ok=True)
    with open(os.path.join(outdir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(summary, f, indent=1)
    return dict(correct=not problems, attempted=attempted, failed=failed,
                metrics=summary["metrics"])


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(root, need)):
            log(f"no program here: {need} is missing under {root}")
            return 2
    result = run(args, root, build(root))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
