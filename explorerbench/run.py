#!/usr/bin/env python3
"""Explorer benchmark: one run of one workload.

    python3 explorerbench/run.py --workload tip_follow --seed 1 --seconds 20 --trace 0

Run from the repository root. The first run builds the harness and the
program from source with sbt (the harness build depends on the program's
own build at the repository root); later runs reuse the build until a
source file changes. Inputs are generated from --seed, the harness drives
the explorer in a fresh JVM, its outputs are checked against the
generator's ledger, and the last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"} with the end-to-end metrics
(--trace 0) or the per-layer metrics (--trace 1). See README.md.
"""

import argparse
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

import chaingen  # noqa: E402
import checker  # noqa: E402
import ledger  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD_DIR = os.path.join(HERE, ".build")
RUNS_DIR = os.path.join(HERE, ".runs")
JVM_HEAP = "2g"
RUN_LIMIT_S = 170  # a run (after any build) must end well within 180 s
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

# Input make-up per workload (README.md "Inputs").
BASE_HEIGHT = 250
LOSER_DEPTH = 2
# Nominal length of one timed round on the reference host (README.md
# "Reference figures"). A run's round count is fixed from --seconds with
# these, so every run of a workload does the same operations whatever the
# host's speed: a time-based stop would give fast runs an extra, warmer
# round and split the runs into two groups.
ROUND_S = {"tip_follow": 15.0, "serve": 18.0}


def rounds_for(workload, seconds):
    return max(1, round(seconds / ROUND_S[workload]))


def log(msg):
    print(f"[explorerbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def newest_source_mtime():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = [x for x in dirs if x not in ("target", "project")]
            files += [os.path.join(d, f) for f in fs
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    return max(os.path.getmtime(f) for f in files if os.path.exists(f))


def classpath():
    """Builds the harness and the program if needed; returns the classpath."""
    cp_file = os.path.join(BUILD_DIR, "classpath.txt")
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise SystemExit("no program build at the repository root")
    if os.path.exists(cp_file) and \
            os.path.getmtime(cp_file) >= newest_source_mtime():
        with open(cp_file) as f:
            return f.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true "
                       "-Dsbt.override.build.repos=true -Xmx3g").strip()
    log("building harness and program with sbt")
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=out, text=True,
            stdin=subprocess.DEVNULL)
    lines = [ln for ln in proc.stdout.splitlines()
             if ln.strip() and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("\n".join(ln for ln in proc.stdout.splitlines()
                                    if ln.startswith("[error]"))[-4000:] + "\n")
        raise SystemExit(f"build failed (exit {proc.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    return cp


# ---------------------------------------------------------------- plans

class Planner:
    """Stages input files and records, for every step, what the ledger
    expects the explorer to answer at that point."""

    def __init__(self, seed, run_dir):
        self.gen = chaingen.Generator(seed)
        self.rng = random.Random(seed * 7919 + 1)
        self.stage = os.path.join(run_dir, "staged")
        os.makedirs(self.stage)
        self.files = []          # staged files in delivery order
        self.expected = []       # (read step, expected rows) in order
        trees = self.gen.trees + [chaingen.FEE_TREE] + \
            ["0008cd" + pk for pk in self.gen.miner_pks]
        self.addresses = {t: chaingen.address_of(t) for t in trees}

    def commit(self, blocks, fork=False):
        path = os.path.join(self.stage, f"s{len(self.files):04d}.json")
        size = chaingen.write_lines(path, blocks)
        st = self.gen.state
        self.files.append((path, size, ledger.snapshot(st)))
        return {"kind": "commit", "file": path, "fork": fork,
                "height": st.height()}

    def read(self, **op):
        st = self.gen.state
        step = dict(op, kind="read")
        if op["op"] == "epochRollup":
            step["fee_tree"] = chaingen.FEE_TREE
        self.expected.append((step, ledger.answer(st, step, self.addresses)))
        return step

    # -- argument draws: Zipf-hot scripts and recent tokens are favoured
    def hot_tree(self):
        return self.gen.zipf_tree(self.rng)

    def recent_token(self, st):
        back = min(int(self.rng.expovariate(1 / 10.0)), len(st.tokens) - 1)
        return st.tokens[-1 - back]


MODES = ("unspent", "spent", "any")


def block_boxes(block):
    return sorted(o["boxId"] for t in block["transactions"]["transactions"]
                  for o in t["outputs"])


def plan_tip_follow(p, n_rounds):
    """Tip following through a fork: each round delivers, in one file, a
    losing branch of 2 blocks and a winning branch of 3 blocks from the tip
    (competing blocks at the same heights, resolved in one fork batch), then
    checks that reads see the winner, its unspent boxes, and not the loser,
    and that the rebuilt UTXO set ranks scripts as the ledger does. The
    untimed warm-up makes the round's four reads once, on the base."""
    g = p.gen

    def reads(block_id, boxes):
        return [p.read(op="blockById", id=block_id),
                p.read(op="boxesByIds", mode="unspent", ids=boxes),
                p.read(op="lastBlocks", n=4),
                p.read(op="topAddressesByValue", k=10)]

    tip = g.state.tip
    warmup = reads(tip[1], block_boxes(tip[2]))
    rounds = []
    for _ in range(n_rounds):
        loser, winner = g.fork(LOSER_DEPTH)
        rounds.append([p.commit(loser + winner, fork=True)] + reads(
            loser[-1]["header"]["id"],
            sorted(b for blk in winner for b in block_boxes(blk))))
    return warmup, rounds


def plan_serve(p, n_rounds):
    """Explorer API traffic in a closed loop on the warehouse: each round
    commits one tip block (an append batch), then reads that must see it:
    the new tip and its boxes, the box-query matrix on Zipf-drawn scripts
    and a recent token, and the four stats calls. The three box modes
    rotate over the three box queries round by round, the same for every
    seed, so that only the drawn arguments differ between seeds. The
    untimed warm-up makes the round's nine reads once, on the base."""
    g = p.gen

    def reads(i):
        st = g.state
        m = MODES[i % 3:] + MODES[:i % 3]
        return [p.read(op="blockById", id=st.tip[1]),
                p.read(op="boxesByIds", mode="any", ids=block_boxes(st.tip[2])),
                p.read(op="boxesByAddress", mode=m[0],
                       address=p.addresses[p.hot_tree()]),
                p.read(op="boxesByErgoTreeHash", mode=m[1],
                       hash=chaingen.tree_hash(p.hot_tree())),
                p.read(op="boxesByTokenId", mode=m[2], tokenId=p.recent_token(st)),
                p.read(op="topAddressesByValue", k=10),
                p.read(op="topAddressesByUtxoCount", k=10),
                p.read(op="epochRollup"),
                p.read(op="lastBlocks", n=10)]

    warmup = reads(0)
    rounds = [[p.commit(g.extend(1))] + reads(i) for i in range(n_rounds)]
    return warmup, rounds


WORKLOADS = {"tip_follow": plan_tip_follow, "serve": plan_serve}


# ---------------------------------------------------------------- metrics

def median(xs):
    return statistics.median(xs) if xs else 0.0


def mean(xs):
    return sum(xs) / len(xs) if xs else 0.0


def dir_bytes(path):
    total = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            total += os.path.getsize(os.path.join(d, f))
    return total


def end_to_end(res, timed, fed_bytes, wh_bytes, gained):
    def lat(kind):
        return median([o["latency_s"] for o in timed
                       if o["kind"] == kind and "error" not in o])
    # ingest only: height gained over the time the timed commits took, from
    # each file landing to its batch committed (the reads between are not
    # counted)
    commit_s = sum(o["latency_s"] for o in timed if o["kind"] == "commit")
    return {
        "setup_s": (res["setup_s"], "s"),
        "blocks_per_s": (gained / commit_s, "blocks/s"),
        "commit_p50_s": (lat("commit"), "s"),
        "lookup_p50_s": (lat("lookup"), "s"),
        "stats_p50_s": (lat("stats"), "s"),
        "stored_bytes_per_input_byte": (wh_bytes / fed_bytes, "ratio"),
        "peak_rss_mb": (res["peak_rss_mb"], "MB"),
    }


def per_layer(res, timed):
    """Per-layer metrics of a traced run. Batch figures are means over the
    timed commits: fork batches on tip_follow, append batches on serve."""
    tr = res["trace"]
    spans = {s["id"]: s for s in tr["spans"]}
    commits = [o for o in timed if o["kind"] == "commit"]
    lookups = [o for o in timed if o["kind"] == "lookup" and "error" not in o]
    stats = [o for o in timed if o["kind"] == "stats" and "error" not in o]
    lay = res["layers"]
    kblocks = lay["blocks"] / 1000.0
    blocks_in = sum(o["input_rows"] for o in commits)

    def sp(ops, key):
        return [spans[o["span"]][key] for o in ops]

    def dur(o, k):
        return o["durations_ms"].get(k, 0) / 1e3

    stream_keys = ("addBatch", "latestOffset", "walCommit", "commitOffsets")
    skews = [v for o in commits for v in spans[o["span"]]["stage_skew"]]
    rows_ret = sum(o.get("rows", 0) for o in lookups)
    m = {
        "decode.s_per_kblock": (lay["decode_s"] / kblocks, "s"),
        "derive.s_per_kblock": (lay["derive_s"] / kblocks, "s"),
        "derive.rows_per_block": (lay["derive_rows"] / lay["blocks"], "rows"),
        "fork.resolve_s": (median([o["fork_resolve_s"] for o in commits]), "s"),
        "stream.add_batch_s": (mean([dur(o, "addBatch") for o in commits]), "s"),
        "stream.latest_offset_s": (mean([dur(o, "latestOffset") for o in commits]), "s"),
        "stream.wal_commit_s": (mean([dur(o, "walCommit") for o in commits]), "s"),
        "stream.commit_offsets_s": (mean([dur(o, "commitOffsets") for o in commits]), "s"),
        "stream.other_s": (mean([dur(o, "triggerExecution") -
                                 sum(dur(o, k) for k in stream_keys)
                                 for o in commits]), "s"),
        "ingest.jobs_per_batch": (mean(sp(commits, "jobs")), "jobs"),
        "ingest.tasks_per_batch": (mean(sp(commits, "tasks")), "tasks"),
        "ingest.driver_only_s_per_batch": (mean(
            [o["latency_s"] - spans[o["span"]]["job_busy_s"] for o in commits]), "s"),
        "ingest.exec_cpu_s_per_batch": (mean(sp(commits, "exec_cpu_s")), "s"),
        "ingest.gc_s_per_batch": (mean([o["jvm_gc_s"] for o in commits]), "s"),
        "ingest.spill_bytes_per_batch": (mean(sp(commits, "spill_bytes")), "bytes"),
        "ingest.task_skew": (mean(skews) if skews else 1.0, "max/median"),
        "ingest.shuffle_bytes_per_batch": (mean(sp(commits, "shuffle_bytes")), "bytes"),
        "ingest.files_written_per_batch": (mean([o["files_written"] for o in commits]),
                                           "files"),
        "utxo.view_s": (lay["utxo_view_s"], "s"),
        "utxo.live_deltas": (lay["utxo_live_deltas"], "count"),
        "engine.tables_s": (mean([o["tables_s"] for o in lookups + stats]), "s"),
        "engine.plan_s_per_lookup": (mean([o["plan_s"] for o in lookups]), "s"),
        "engine.jobs_per_lookup": (mean(sp(lookups, "jobs")), "jobs"),
        "engine.exec_s_per_lookup": (mean([o["latency_s"] - o["plan_s"]
                                           for o in lookups]), "s"),
        "engine.input_bytes_per_lookup": (mean(sp(lookups, "input_bytes")), "bytes"),
        "engine.rows_read_per_row_returned": (
            sum(sp(lookups, "input_records")) / max(rows_ret, 1), "ratio"),
        "stats.exec_cpu_s": (mean(sp(stats, "exec_cpu_s")), "s"),
        "stats.shuffle_bytes": (mean(sp(stats, "shuffle_bytes")), "bytes"),
        "jvm.gc_s": (res["gc_s"], "s"),
        "jvm.jit_s": (res["jit_s"], "s"),
        "jvm.peak_heap_mb": (res["peak_heap_mb"], "MB"),
        "trace.unattributed_jobs": (tr["unattributed_jobs"], "count"),
        "trace.overhead_share": (tr["overhead_s"] / res["timed_s"], "ratio"),
    }
    for area, name in (("raw", "raw"), ("entity", "entity"), ("utxo", "utxo"),
                       ("hot_keys", "hot_keys")):
        m[f"write.{name}_bytes_per_block"] = (
            sum(o["bytes_written"].get(area, 0) for o in commits) / max(blocks_in, 1),
            "bytes")
    return m


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--keep", action="store_true", help="keep the run directory")
    ap.add_argument("--ledger", metavar="DIR",
                    help="only write the inputs and the ledger to DIR")
    a = ap.parse_args()
    a.rounds = rounds_for(a.workload, a.seconds)

    if a.ledger:
        p, _, _, _ = prepare(a.workload, a.seed, a.ledger, a.rounds)
        with open(os.path.join(a.ledger, "ledger.json"), "w") as f:
            json.dump({"commits": [{"file": os.path.basename(path), "bytes": n,
                                    "after": snap} for path, n, snap in p.files],
                       "reads": [{"step": s, "expected": rows}
                                 for s, rows in p.expected]}, f, indent=1)
        return 0

    cp = classpath()
    t0 = time.time()
    run_dir = os.path.join(RUNS_DIR, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        return run(a, cp, t0, run_dir)
    finally:
        if not a.keep:
            shutil.rmtree(run_dir, ignore_errors=True)


def prepare(workload, seed, run_dir, n_rounds):
    """Generates the inputs and the ledger; off the clock of the timed phase."""
    os.makedirs(run_dir, exist_ok=True)
    p = Planner(seed, run_dir)
    base = p.commit(p.gen.extend(BASE_HEIGHT))
    p.gen.fixed_shape = True
    warmup, rounds = WORKLOADS[workload](p, n_rounds)
    return p, base, warmup, rounds


def run(a, cp, t0, run_dir):
    p, base, warmup, rounds = prepare(a.workload, a.seed, run_dir, a.rounds)
    plan = {"workload": a.workload, "trace": a.trace,
            "t0_ms": int(t0 * 1000), "dir": run_dir,
            "fee_tree": chaingen.FEE_TREE, "base_file": base["file"],
            "warmup": warmup, "rounds": rounds,
            "out": os.path.join(run_dir, "result.json")}
    with open(os.path.join(run_dir, "plan.json"), "w") as f:
        json.dump(plan, f)

    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}"] + \
        [x for o in ADD_OPENS for x in ("--add-opens", f"{o}=ALL-UNNAMED")] + \
        ["-cp", cp, "explorerbench.Harness", os.path.join(run_dir, "plan.json")]
    jvm_log = os.path.join(run_dir, "jvm.log")
    with open(jvm_log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(RUN_LIMIT_S - (time.time() - t0), 10))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(jvm_log) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit(f"harness failed ({rc})")
    with open(plan["out"]) as f:
        res = json.load(f)

    # ---- checks, off the clock
    steps = warmup + [s for r in rounds for s in r]
    n_commits = 1 + sum(1 for s in steps if s["kind"] == "commit")
    fed = p.files[:n_commits]
    snap = fed[-1][2]
    reads = [o for o in res["ops"] if o["kind"] in ("lookup", "stats")]
    problems = checker.check_reads(reads, p.expected[:len(reads)])
    if len(reads) != sum(1 for s in steps if s["kind"] == "read"):
        problems.append("harness ran a different number of reads than planned")
    problems += checker.check_final(res["final"], snap)
    # the harness moved each staged file into the stream's source directory
    delivered = [os.path.join(run_dir, "source", f"f{i + 1}.json")
                 for i in range(len(fed))]
    problems += ledger.recheck(delivered, snap, chaingen.FEE_TREE)
    problems += [f"warm-up {o['op']} failed: {o['error']}" for o in reads
                 if o["phase"] != "timed" and "error" in o]
    if a.trace and res["trace"]["unattributed_jobs"] > 0:
        problems.append(f"{res['trace']['unattributed_jobs']} Spark jobs ran "
                        "outside every traced operation")
    for pr in problems[:20]:
        log(f"MISMATCH {pr}")

    timed = [o for o in res["ops"] if o["phase"] == "timed"]
    failed = sum(1 for o in timed if "error" in o)
    gained = [s["height"] for s in steps if s["kind"] == "commit"][-1] - \
        base["height"]
    if a.trace:
        metrics = per_layer(res, timed)
    else:
        metrics = end_to_end(res, timed, sum(sz for _, sz, _ in fed),
                             dir_bytes(os.path.join(run_dir, "warehouse")), gained)
    print(json.dumps({
        "correct": not problems,
        "attempted": len(timed),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
