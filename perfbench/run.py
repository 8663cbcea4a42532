#!/usr/bin/env python3
"""graft's benchmark: one seeded workload run, checked and measured.

    python3 perfbench/run.py --workload {dashboard,pipeline,ingest} \\
        --seed N --seconds S --trace {0,1} [--keep DIR]

Run from the root of a checkout. The first run builds the engine and the
client from source into ``.bench_build`` (sbt, offline); later runs reuse
the build while the sources are unchanged. Each run generates its inputs
from the seed under ``.bench_work``, drives graft through one client
thread in a closed loop (``perfbench.Main``), checks every checked
output, and prints one JSON line last: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. ``--keep`` copies
the raw records (ops, spans, counters) to DIR.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import pandas as pd

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import gen  # noqa: E402
import schedule  # noqa: E402
import stats  # noqa: E402

WORKLOADS = ("dashboard", "pipeline", "ingest")
SETUP_REPS = 3
JVM_TIMEOUT_S = 150
CORES = os.cpu_count() or 4
OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
         "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
         "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
         "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
         "java.base/sun.util.calendar"]
ROLLUP_KINDS = {"rollup", "rollupQuantile"}
READ_KINDS = {"query", "fetch", "fetchAuto", "fetchQuantile", "fetchBulk", "readback"} | ROLLUP_KINDS
FETCH_KINDS = {"fetch", "fetchAuto", "fetchQuantile", "fetchBulk", "readback"}
WRITE_KINDS = ("ingest", "upsert", "compact", "delete", "vacuum")


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ---------------------------------------------------------------

def _sources_digest(root):
    h = hashlib.sha256()
    for top in ("src/main", "perfbench/src", "perfbench/build.sbt", "perfbench/project/build.properties"):
        path = os.path.join(root, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(root):
    """Compile engine + client with sbt; return the runtime classpath."""
    out = os.path.join(root, ".bench_build", "perfbench")
    cp_file, stamp_file = os.path.join(out, "classpath.txt"), os.path.join(out, "sources.sha256")
    digest = _sources_digest(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        return open(cp_file).read().strip()
    log("building engine and client (sbt, offline)")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    res = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
                         cwd=os.path.join(root, "perfbench"), env=env, stdin=subprocess.DEVNULL,
                         stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=840)
    lines = [l for l in res.stdout.splitlines() if l.strip()]
    if res.returncode != 0 or not lines:
        sys.stderr.write(res.stdout)
        raise SystemExit("build failed")
    os.makedirs(out, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(digest)
    return lines[-1]


# ---- inputs and plan -----------------------------------------------------

def make_inputs(workload, seed, seconds, work):
    """Generate the run's inputs; return (ops, client conf, check context)."""
    rounds = schedule.timed_rounds(workload, seconds)
    conf = {"control": os.path.join(work, "control")}
    gen.fixture_tables(conf["control"], seed, sf=0.001)
    ctx = {}
    if workload in ("dashboard", "pipeline"):
        data = os.path.join(work, "data")
        info = gen.fixture_tables(data, seed, sf=0.1)
        conf["data"] = data
        if workload == "dashboard":
            conf["store_from"] = os.path.join(data, "events.parquet")
            ops = schedule.dashboard(seed, info["users"], rounds)
        else:
            ops = schedule.pipeline(seed, rounds)
        ctx["data"] = data
    else:
        feed = gen.snmp_feed(seed, batches=rounds)
        feed_dir = os.path.join(work, "feed")
        os.makedirs(feed_dir)
        files = []
        for i, rows in enumerate(feed):
            files.append(os.path.join(feed_dir, f"batch-{i:03d}.parquet"))
            gen.write_feed_batch(files[-1], rows)
        conf["data"] = feed_dir
        conf["store"] = os.path.join(work, "store")
        ops = schedule.ingest(seed, feed, files)
        ctx["feed"] = feed
    return ops, conf, ctx


def checked_ops(workload, ops):
    """Ops whose results are checked: for ``ingest`` every read-back,
    dumped as the store stood; otherwise every op of the warm-up round."""
    if workload == "ingest":
        return [o for o in ops if o[3] == "readback"]
    return [o for o in ops if o[0] == "warm"]


def shape(kind, args):
    """The code path an op takes: its kind and every parameter that is
    not a series or a bound. A timed op shares its shape with one op of
    the warm-up round, which every round's mix guarantees."""
    if kind == "query":
        return kind, args[0]
    if kind in ("fetch", "fetchAuto", "fetchQuantile"):
        return kind, args[4], args[5]
    if kind == "fetchBulk":
        return kind, args[3], args[4]
    return (kind,)


def write_plan(path, conf, ops, checks):
    with open(path, "w") as f:
        for k, v in conf.items():
            f.write(f"conf\t{k}\t{v}\n")
        for phase, rnd, oid, kind, args in ops:
            f.write("\t".join(["op", phase, str(rnd), oid, kind] + list(args)) + "\n")
        for o in checks:
            f.write(f"check\t{o[2]}\n")


def run_client(cp, plan, out, work):
    mem = "3g"
    cmd = (["java", f"-Xms{mem}", f"-Xmx{mem}", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}"]
           + [a for p in OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", plan, out])
    env = dict(os.environ, SPARK_SCALA_VERSION="2.13", SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr)
    try:
        rc = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit("client timed out")
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if rc != 0:
        raise SystemExit(f"client exited with {rc}")


def read_jsonl(path):
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return [json.loads(l) for l in f if l.strip()]


# ---- correctness ---------------------------------------------------------

def verify(workload, ops, records, checks, out, ctx):
    """Ids of timed ops counted wrong. On ``ingest`` these are the
    read-backs whose result was wrong. Elsewhere the checked results are
    the warm-up round's, and a wrong one makes every timed op of its
    shape wrong."""
    wrong = set()
    by_id = {o[2]: o for o in ops}
    if workload == "ingest":
        wrong |= _verify_ingest(ops, records, out, ctx["feed"])
    else:
        con = check.connect(ctx["data"], os.path.join(out, "duckdb"))
        oracle = json.load(open(os.path.join(out, "oracle.json")))
        for o in checks:
            _, _, oid, kind, args = o
            if kind == "query" and oid not in oracle:
                continue  # no oracle for this query
            try:
                exp = con.execute(oracle[oid]).df() if kind == "query" else check.store_expect(con, kind, args)
                why = check.compare(pd.read_parquet(os.path.join(out, "dumps", oid)), exp)
            except Exception as e:  # a missing dump is a failed check
                why = f"{type(e).__name__}: {e}"
            if why:
                log(f"WRONG {oid} {kind} {args}: {why[:300]}")
                wrong |= {r["id"] for r in records
                          if shape(*by_id[r["id"]][3:]) == shape(kind, args)}
    return wrong


def _batch_of(path):
    """Feed batch index of a ``batch-NNN.parquet`` file."""
    return int(os.path.basename(path)[len("batch-"):-len(".parquet")])


def _verify_ingest(ops, records, out, feed):
    """Replay the generator's rows in the order the client applied them
    and compare every read-back against them."""
    by_id = {o[2]: o for o in ops}
    live, deleted, wrong = {}, set(), set()
    for rec in records:
        _, _, oid, kind, args = by_id[rec["id"]]
        if kind in ("ingest", "upsert"):
            for row in feed[_batch_of(args[0])]:
                live[row[0]] = row
        elif kind == "delete":
            deleted.add((int(args[0]), args[1]))
        elif kind == "readback":
            u, t, lo, hi = int(args[0]), args[1], int(args[2]), int(args[3])
            exp = pd.DataFrame(
                [(r[1], round(r[4] * 100) / 100.0) for r in live.values()
                 if r[2] == u and r[3] == t and (u, t) not in deleted
                 and lo * 1_000_000 <= r[1] < hi * 1_000_000],
                columns=["ts_us", "value"])
            try:
                why = check.compare(pd.read_parquet(os.path.join(out, "dumps", oid)), exp)
            except Exception as e:
                why = f"{type(e).__name__}: {e}"
            if why:
                log(f"WRONG {oid} readback {args}: {why[:300]}")
                wrong.add(oid)
    return wrong


# ---- metrics -------------------------------------------------------------

def end_to_end(setup, records, wrong):
    ok = [r for r in records if not r["err"] and r["id"] not in wrong]
    lat = [r["wall_ms"] for r in ok]
    tail, pct, n = stats.tail(lat)
    setup_s = (stats.median(setup["session_ms"]) + setup["fixtures_ms"] + setup["warmup_ms"]) / 1000.0
    total_s = sum(r["wall_ms"] for r in records) / 1000.0
    log(f"latency_tail_ms is p{pct:.2f} of {n} ops")
    return {
        "setup_s": (setup_s, "s"),
        "ops_per_s": (len(ok) / total_s if total_s else 0.0, "op/s"),
        "latency_p50_ms": (stats.median(lat), "ms"),
        "latency_tail_ms": (tail, "ms"),
    }


def ingest_metrics(ops, records, ctx):
    """Write-path figures of the ingest workload (zero elsewhere)."""
    if "feed" not in ctx:
        return {"ingest_rows_per_s": 0.0, "read_after_write_p50_ms": 0.0,
                "write_amp": 0.0, "space_amp": 0.0}
    feed, by_id = ctx["feed"], {o[2]: o for o in ops}
    muts = [r for r in records if r["kind"] in WRITE_KINDS]
    applied = [feed[_batch_of(by_id[r["id"]][4][0])] for r in muts if r["kind"] in ("ingest", "upsert")]
    user_rows = sum(len(b) for b in applied)
    user_bytes = sum(stats.user_row_bytes(b) for b in applied)
    live, deleted = {}, set()
    for b in applied:
        for row in b:
            live[row[0]] = row
    for r in muts:
        if r["kind"] == "delete":
            a = by_id[r["id"]][4]
            deleted.add((int(a[0]), a[1]))
    live_rows = [row for row in live.values() if (row[2], row[3]) not in deleted]
    mut_s = sum(r["wall_ms"] for r in muts) / 1000.0
    rb = [r["wall_ms"] for r in records if r["kind"] == "readback"]
    return {
        "ingest_rows_per_s": user_rows / mut_s if mut_s else 0.0,
        "read_after_write_p50_ms": stats.median(rb),
        "write_amp": stats.write_amp(sum(r["bytes_written"] for r in muts), user_bytes),
        "space_amp": stats.space_amp(muts[-1]["store_bytes"], stats.user_row_bytes(live_rows)),
    }


def per_layer(ops, records, setup, counters, spans, ctx):
    """Per-layer metrics of a traced run. Counts are sums over the timed
    ops, which a seed and a duration fix, so they repeat exactly."""
    cnt = {c["op"]: c for c in counters}
    reads = [r for r in records if r["kind"] in READ_KINDS]
    fetches = [r for r in records if r["kind"] in FETCH_KINDS]
    muts = [r for r in records if r["kind"] in WRITE_KINDS]
    c = lambda r, k: cnt.get(r["id"], {}).get(k, 0)
    mean = lambda xs: sum(xs) / len(xs) if xs else 0.0
    planned = [r for r in reads if cnt.get(r["id"], {}).get("has_write")]

    phase_ms = {ph: [] for ph in ("analysis", "optimization", "planning")}
    exec_ms = {}
    for s in spans:
        if s["name"].startswith("plans.") and s["name"][6:] in phase_ms:
            phase_ms[s["name"][6:]].append(s["end_ms"] - s["start_ms"])
    for r in reads:
        ivs = [(s["start_ms"], s["end_ms"]) for s in spans if s["op"] == r["id"] and s["name"] == "exec.job"]
        exec_ms[r["id"]] = stats.covered(ivs, float("-inf"), float("inf"))
    layer = stats.layer_self_ms(spans)
    n_ops = len(records) or 1
    rollups = [r for r in records if r["kind"] in ROLLUP_KINDS]
    task_run = sum(c(r, "task_run_ms") for r in reads)
    exec_wall = sum(exec_ms.values())

    m = {
        "setup.session_s": stats.median(setup["session_ms"]) / 1000.0,
        "setup.fixtures_s": setup["fixtures_ms"] / 1000.0,
        "setup.warmup_s": setup["warmup_ms"] / 1000.0,
        "control.entry_ms": stats.median(setup["control_ms"]),
        "trace.ops_per_s": len(records) / (sum(r["wall_ms"] for r in records) / 1000.0),
        "root.unattributed_ms": layer.get("root", 0.0) / n_ops,
        "queries.self_ms": layer.get("queries", 0.0) / n_ops,
        "plans.self_ms": layer.get("plans", 0.0) / n_ops,
        "exec.self_ms": layer.get("exec", 0.0) / n_ops,
        "sources.self_ms": layer.get("sources", 0.0) / n_ops,
        "queries.build_ms": stats.median([r["build_ms"] for r in reads]),
        "queries.build_share": (sum(r["build_ms"] for r in reads) / sum(r["wall_ms"] for r in reads)) if reads else 0.0,
        "queries.build_jobs": sum(c(r, "build_jobs") for r in reads),
        "plans.analysis_ms": mean(phase_ms["analysis"]),
        "plans.optimization_ms": mean(phase_ms["optimization"]),
        "plans.planning_ms": mean(phase_ms["planning"]),
        "plans.jobs": sum(c(r, "plan_jobs") for r in records),
        "plans.rollup_fired": sum(1 for r in rollups if c(r, "scans_cascade")),
        "plans.rollup_candidates": len(rollups),
        "plans.exchanges": sum(c(r, "exchanges") for r in records),
        "exec.wall_ms": mean([exec_ms[r["id"]] for r in planned]),
        "exec.jobs": sum(c(r, "exec_jobs") for r in reads),
        "exec.stages": sum(c(r, "stages") for r in reads),
        "exec.tasks": sum(c(r, "tasks") for r in reads),
        "exec.task_run_ms": mean([c(r, "task_run_ms") for r in reads]),
        "exec.task_cpu_ms": mean([c(r, "task_cpu_ns") / 1e6 for r in reads]),
        "exec.gc_ms": mean([c(r, "gc_ms") for r in reads]),
        "exec.core_busy_frac": task_run / (exec_wall * CORES) if exec_wall else 0.0,
        "exec.shuffle_write_bytes": sum(c(r, "shuffle_write_bytes") for r in reads),
        "exec.shuffle_read_bytes": sum(c(r, "shuffle_read_bytes") for r in reads),
        "exec.input_bytes": sum(c(r, "input_bytes") for r in reads),
        "exec.spill_bytes": sum(c(r, "spill_bytes") for r in reads),
        "exec.peak_task_mem_bytes": max([c(r, "peak_task_mem_bytes") for r in reads] or [0]),
        "sources.resolve_ms": stats.median([r["build_ms"] for r in fetches]),
        "sources.manifest_parses": sum(r["manifest_parses"] for r in records
                                       if r["kind"] in FETCH_KINDS | ROLLUP_KINDS | set(WRITE_KINDS)),
    }
    for k in WRITE_KINDS:
        m[f"sources.write.{k}_ms"] = stats.median([r["wall_ms"] for r in muts if r["kind"] == k])
    m["sources.write.jobs"] = sum(c(r, "build_jobs") for r in muts)
    m["sources.write.shuffle_write_bytes"] = sum(c(r, "shuffle_write_bytes") for r in muts)
    m["sources.write.bytes_written"] = sum(r["bytes_written"] for r in muts)
    m["sources.write.files_written"] = sum(r["files_written"] for r in muts)
    m["sources.write.snapshots"] = sum(r["snapshots"] for r in muts)
    m["sources.live_bytes"] = muts[-1]["store_bytes"] if muts else 0
    m["sources.live_files"] = muts[-1]["store_files"] if muts else 0
    m.update(ingest_metrics(ops, records, ctx))
    return m


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--keep", help="copy the raw records to this directory")
    a = p.parse_args(argv)

    # a terminated run still stops its client and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        log("no graft sources here: run from the root of a graft checkout")
        return 2
    cp = build(root)
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        t0 = time.time()
        ops, conf, ctx = make_inputs(a.workload, a.seed, a.seconds, work)
        conf.update(cores=CORES, work=work, trace=a.trace, setup_reps=SETUP_REPS)
        checks = checked_ops(a.workload, ops)
        plan, out = os.path.join(work, "plan.tsv"), os.path.join(work, "out")
        write_plan(plan, conf, ops, checks)
        log(f"inputs ready in {time.time() - t0:.1f}s")
        run_client(cp, plan, out, work)
        records = read_jsonl(os.path.join(out, "ops.jsonl"))
        setup = json.load(open(os.path.join(out, "setup.json")))
        t1 = time.time()
        wrong = verify(a.workload, ops, records, checks, out, ctx)
        log(f"checked {len(checks)} results in {time.time() - t1:.1f}s")
        failed = sum(1 for r in records if r["err"] or r["id"] in wrong)
        e2e = end_to_end(setup, records, wrong)
        extra = ingest_metrics(ops, records, ctx)
        log("run: " + json.dumps({"loop_s": setup["loop_s"],
                                  "control_entry_ms": setup["control_ms"], **extra}))
        if a.trace:
            layer = per_layer(ops, records, setup,
                              read_jsonl(os.path.join(out, "counters.jsonl")),
                              read_jsonl(os.path.join(out, "spans.jsonl")), ctx)
            metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
        else:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        if a.keep:
            os.makedirs(a.keep, exist_ok=True)
            for f in ("ops.jsonl", "spans.jsonl", "counters.jsonl", "setup.json"):
                if os.path.exists(os.path.join(out, f)):
                    shutil.copy(os.path.join(out, f), os.path.join(a.keep, f))
        result = {"correct": failed == 0, "attempted": len(records), "failed": failed,
                  "metrics": metrics}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))
    return 0


def _unit(name):
    """Unit of a per-layer metric, from its name."""
    explicit = {"trace.ops_per_s": "op/s", "ingest_rows_per_s": "rows/s",
                "queries.build_share": "ratio", "exec.core_busy_frac": "ratio",
                "write_amp": "ratio", "space_amp": "ratio",
                "sources.write.bytes_written": "bytes"}
    if name in explicit:
        return explicit[name]
    for suffix, unit in (("_s", "s"), ("_ms", "ms"), ("_bytes", "bytes")):
        if name.endswith(suffix):
            return unit
    return "count"


if __name__ == "__main__":
    sys.exit(main())
