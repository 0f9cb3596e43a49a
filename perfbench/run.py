#!/usr/bin/env python3
"""A/B benchmark of the graft engine: one workload, one seed, one result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
benchmark JVM with sbt (offline) into the build directory
($CARGO_TARGET_DIR, default .bench_build); later runs reuse the build
while the sources are unchanged. The query workload reads the tables in
perfbench/data/sf0.01; ingest_ticks generates its seeded tick batches
into the build directory before any measured JVM starts.

--trace 0 runs the workload untraced (no benchmark listeners) in one
fresh JVM plus SETUP_SAMPLES - 1 set-up-only JVMs, and reports the
end-to-end metrics. --trace 1 runs it untraced and then traced (Spark
listeners registered by the benchmark) in two fresh JVMs, one after the
other, reports the per-layer metrics and the traced/untraced difference
as `trace.overhead_ratio`, and keeps the span file.

The last line of stdout is the result
{"correct", "attempted", "failed", "metrics"}; the line before it is the
full record (host context, raw samples, per-workload extras), also
written under <build dir>/records/. The exit code is non-zero when any
operation failed or any output did not match its expected value.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen    # noqa: E402
import stats  # noqa: E402

# Tables the query workload reads: documents, embeddings and events of
# the project's sf0.01 testdata.
DATA = os.path.join(HERE, "data", "sf0.01")
# ingest_ticks shape: ticks per run, arrivals per tick and reads served
# after each tick. Tick 0 is the cold unit. Tick 1 is the first to merge
# into stores that already hold data: it compiles the merge paths, runs
# ~1.3 s slower than later ticks and swings between runs by as much, so
# it is a second warm-up, recorded but not timed as a warm unit; the
# warm units are the ticks from WARM_TICK on. A tick's cost is mostly
# fixed (four streaming query starts, ~70 jobs, ~2 s of codegen even
# when warm), so small batches buy that extra tick in the time one
# 400-document tick took. The first read after a tick pays for the
# tick's new files, so with five reads per tick serve_p50_s, the median
# of the ten reads after ticks 1 and 2, lands on the steady ones.
TICKS = 3
WARM_TICK = 2
DOCS_PER_TICK = 50
VECS_PER_TICK = 20
READS_PER_TICK = 5
SETUP_SAMPLES = 2
# Spark local[N] threads (capped at the host's cores).
LOCAL_N = 2
HEAP = "3g"
JVM_TIMEOUT_S = 160
WORKLOADS = {
    "corpus_dag": {"kind": "queries"},
    "ingest_ticks": {"kind": "ticks"},
}
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def build_dir():
    d = os.environ.get("CARGO_TARGET_DIR", ".bench_build")
    return d if os.path.isabs(d) else os.path.join(ROOT, d)


def cpus():
    return max(1, min(LOCAL_N, os.cpu_count() or 1))


# ---------------------------------------------------------------- build

def _sources():
    pats = ["build.sbt", "project/build.properties", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/build.properties",
            "perfbench/src/main/**/*"]
    files = set()
    for p in pats:
        files.update(f for f in glob.glob(os.path.join(ROOT, p), recursive=True)
                     if os.path.isfile(f))
    return sorted(files)


def _digest(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + benchmark once per source state; returns the
    runtime classpath."""
    bdir = build_dir()
    os.makedirs(bdir, exist_ok=True)
    stamp = _digest(_sources())
    cp_file = os.path.join(bdir, "classpath.txt")
    stamp_file = os.path.join(bdir, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=" ".join(opts + [os.environ.get("SBT_OPTS", "")]).strip())
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    lines = [l for l in p.stdout.splitlines()
             if l and not l.startswith("[") and "perfbench" in l and ":" in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail("build failed", 3)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return lines[-1]


# ---------------------------------------------------------------- inputs

def ticks_dir(seed):
    stamp = _digest([os.path.join(HERE, "gen.py")] + sorted(glob.glob(
        os.path.join(gen.POOL, "*.parquet"))))[:16]
    d = os.path.join(build_dir(), "ticks",
                     f"s{seed}-{TICKS}x{DOCS_PER_TICK}x{VECS_PER_TICK}-{stamp}")
    if not os.path.exists(os.path.join(d, "_done")):
        gen.ticks(d, seed, TICKS, DOCS_PER_TICK, VECS_PER_TICK)
        open(os.path.join(d, "_done"), "w").close()
    return d


# ---------------------------------------------------------------- JVM

def run_jvm(cp, workload, seed, seconds, trace, mode, ticks, tag, check=True):
    """One fresh benchmark JVM; returns its record (dict)."""
    bdir = build_dir()
    work = os.path.join(bdir, "work", f"{workload}-{tag}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(bdir, "records", f"{workload}-s{seed}-t{int(trace)}-{tag}.jvm.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    for f in (out, out + ".spans.jsonl"):
        if os.path.exists(f):
            os.remove(f)
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", cp, "graft.perfbench.Main",
        "--workload", workload, "--data", DATA, "--ticks", ticks or "",
        "--seconds", str(seconds), "--seed", str(seed),
        "--trace", "1" if trace else "0", "--cpus", str(cpus()),
        "--work", work, "--out", out, "--mode", mode, "--check", "1" if check else "0",
        "--reads", str(READS_PER_TICK)]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    log = os.path.join(bdir, "records", f"{workload}-{tag}.log")
    with open(log, "w") as fh:
        try:
            p = subprocess.run(cmd, cwd=ROOT, env=env, stdout=fh, stderr=subprocess.STDOUT,
                               timeout=JVM_TIMEOUT_S)
            code = p.returncode
        except subprocess.TimeoutExpired:
            code = "timeout"
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-3000:])
        fail(f"benchmark JVM ({workload}, {mode}) exited with {code}", 4)
    with open(out) as fh:
        rec = json.load(fh)
    if "fatal" in rec:
        fail(f"benchmark JVM ({workload}, {mode}) failed: {rec['fatal']}", 1)
    if mode != "expected":
        shutil.rmtree(work, ignore_errors=True)
    return rec


# ---------------------------------------------------------------- host

def _proc_stat():
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except OSError:
        return None


def _loadavg():
    try:
        with open("/proc/loadavg") as fh:
            return [float(x) for x in fh.read().split()[:3]]
    except OSError:
        return None


def host_context(stat0, stat1, load0, load1, jvm_host):
    """Recorded only: nothing here triggers a retry or a selection."""
    ctx = dict(jvm_host or {})
    ctx.update({"nproc": os.cpu_count(), "local_n": cpus(),
                "loadavg_start": load0, "loadavg_end": load1})
    if stat0 and stat1 and len(stat0) >= 8 and len(stat1) >= 8:
        d = [max(0, b - a) for a, b in zip(stat0, stat1)]
        tot = max(1, sum(d))
        ctx.update({"steal_pct": 100.0 * d[7] / tot, "iowait_pct": 100.0 * d[4] / tot,
                    "busy_pct": 100.0 - 100.0 * (d[3] + d[4]) / tot})
    return ctx


# ---------------------------------------------------------------- metrics

def _warm_units(rec):
    """Wall times of the warm units: passes after the cold pass, or
    ticks from WARM_TICK on."""
    if "passes" in rec:
        return [p["wall_s"] for p in rec["passes"] if p["kind"] == "warm"]
    return [t["wall_s"] for t in rec["ticks"][WARM_TICK:]]


def _cold_unit(rec):
    if "passes" in rec:
        return [p["wall_s"] for p in rec["passes"] if p["kind"] == "cold"][0]
    return rec["ticks"][0]["wall_s"]


def _query_samples(rec):
    """Warm wall times per query name."""
    out = defaultdict(list)
    for p in rec["passes"]:
        if p["kind"] == "warm":
            for q in p["queries"]:
                out[q["name"]].append(q["wall_s"])
    return out


def _warm_serves(rec):
    """The reads served after every tick but the cold one."""
    return [s for s in rec["serves"] if s["index"] >= 1 and "wall_s" in s]


def serve_latency(rec):
    """`serve_p50_s`. ingest_ticks: median latency of the reads served
    after every tick but the cold one. corpus_dag, which serves no reads: the typical
    latency of one query, the geometric mean over the queries of each
    query's median warm wall time, so a change to any query moves it
    (a k-fold change of one of the 7 queries moves it k^(1/7)-fold)."""
    if "passes" in rec:
        return stats.geomean([stats.median(v) for v in _query_samples(rec).values()])
    return stats.median([s["wall_s"] for s in _warm_serves(rec)])


def end_to_end(rec, setups):
    warm = _warm_units(rec)
    return {
        "setup_s": stats.median(setups),
        "cold_pass_s": _cold_unit(rec),
        "warm_pass_s": stats.median(warm),
        "serve_p50_s": serve_latency(rec),
    }


def extras(rec):
    """Per-workload figures that are not gated end-to-end metrics."""
    x = {"storage_peak_mb": rec.get("storage_peak_mb", 0.0),
         "failed_ratio": rec["failed"] / max(1, rec["attempted"])}
    if "passes" in rec:
        qs = [q for p in rec["passes"] for q in p["queries"]]
        x["leaked_rdds_per_pass"] = sum(q["leaked_rdds"] for q in qs) / len(rec["passes"])
        x["leaking_queries"] = sorted({q["name"] for q in qs if q["leaked_rdds"] > 0})
        x["query_tail_s"] = stats.tail([t for v in _query_samples(rec).values() for t in v])
    else:
        ticks = [t["wall_s"] for t in rec["ticks"]]
        x.update({
            "tick_p50_s": stats.median(ticks[1:]),
            "tick_tail_s": stats.tail(ticks),
            # last quarter of the warm ticks over their first quarter;
            # None while a run has fewer than 4 warm ticks
            "tick_growth": stats.growth(ticks[1:]) if len(ticks) > 4 else None,
            "ingest_docs_per_s": rec["docs_ingested"] / sum(ticks),
            "write_amp": rec["written_bytes"] / rec["input_bytes"],
            "space_amp": rec["store_bytes"] / rec["input_bytes"],
            "leaked_rdds_per_tick": sum(t.get("leaked_rdds", 0) for t in rec["ticks"]) / len(ticks),
        })
    return x


MODULES = ("NearDup", "LabelStore", "Graph", "TextClassifier", "Pq", "Sinks")


def _union_ms(intervals, lo, hi):
    """Length of the union of [a, b) intervals clipped to [lo, hi)."""
    tot, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        tot += cur_b - cur_a
    return tot


def self_times(spans):
    """Per span kind: summed duration minus the part covered by child
    spans (seconds)."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    out = defaultdict(float)
    for s in spans:
        covered = _union_ms([(c["start"], c["end"]) for c in kids[s["id"]]], s["start"], s["end"])
        out[s["kind"]] += (s["end"] - s["start"] - covered) / 1000.0
    return dict(out)


def overhead(traced, plain):
    """Tracing overhead of a traced run over the untraced run next to it:
    `ratio` = median warm unit time traced / untraced - 1, plus the
    quartiles of the same ratio per operation (each query's warm time, or
    each sink drain of each warm tick), which show how much of the ratio
    is run-to-run noise."""
    if "passes" in traced:
        a, b = _query_samples(traced), _query_samples(plain)
        per_op = [stats.median(a[q]) / stats.median(b[q]) - 1.0 for q in a if b.get(q)]
    else:
        per_op = [ta["stages"][st] / tb["stages"][st] - 1.0
                  for ta, tb in zip(traced["ticks"][WARM_TICK:], plain["ticks"][WARM_TICK:])
                  for st in ta["stages"] if tb["stages"].get(st)]
    out = {"ratio": stats.median(_warm_units(traced)) / stats.median(_warm_units(plain)) - 1.0,
           "ops": len(per_op)}
    if len(per_op) >= 2:
        out["per_op_quartiles"] = stats.quartiles(per_op)
    return out


def per_layer(rec, spans, plain_rec):
    """Per-layer metrics of a traced run, per warm unit (pass or tick)
    unless the name says otherwise."""
    by_id = {s["id"]: s for s in spans}
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)

    def desc(sid):
        stack, out = list(kids[sid]), []
        while stack:
            s = stack.pop()
            out.append(s)
            stack.extend(kids[s["id"]])
        return out

    queries = "passes" in rec
    if queries:
        units = [by_id[p["span"]] for p in rec["passes"] if p["kind"] == "warm"]
        cold = [p for p in rec["passes"] if p["kind"] == "cold"][0]
    else:
        units = [by_id[t["span"]] for t in rec["ticks"][WARM_TICK:]]
        cold = rec["ticks"][0]
    n = len(units)
    inside = [d for u in units for d in desc(u["id"])]
    jobs = [s for s in inside if s["kind"] == "job"]
    stages = [s for s in inside if s["kind"] == "stage"]

    def st(key):
        return sum(s["attrs"].get(key, 0) for s in stages)

    gap = 0.0
    for u in units:
        gap += (u["end"] - u["start"] - _union_ms(
            [(j["start"], j["end"]) for j in desc(u["id"]) if j["kind"] == "job"],
            u["start"], u["end"])) / 1000.0
    builds = [s for s in inside if s["kind"] == "build"]
    build_ids = {b["id"] for b in builds}
    plans = [e for e in rec.get("plan_events", [])
             if any(u["start"] <= e["start"] <= u["end"] for u in units)]
    mod = defaultdict(float)
    for j in jobs:
        m = re.search(r"at (\w+)\.scala", j["attrs"].get("call_site", ""))
        if m and m.group(1) in MODULES:
            mod[m.group(1)] += (j["end"] - j["start"]) / 1000.0
    sinks = [s for s in inside if s["kind"] == "sink"]
    by_run = defaultdict(list)
    for e in rec.get("stream_events", []):
        by_run[e["run_id"]].append(e["duration_ms"])

    def prog(keys):
        return sum(d.get(k, 0) for s in sinks for d in by_run.get(s["attrs"].get("run_id"), [])
                   for k in keys) / 1000.0

    trig = prog(["triggerExecution"])
    stage_s = defaultdict(float)
    for s in sinks:
        stage_s[s["name"]] += (s["end"] - s["start"]) / 1000.0
    serves = _warm_serves(rec) if "serves" in rec else []
    # layers that only one workload has are reported as shares of the
    # warm unit's wall time (of the serve's, for the two read paths), so
    # a workload without the layer reads 0 rather than a constant time;
    # the seconds are in the record
    wall = sum(_warm_units(rec))
    files_ratio = [s["files_read"] / s["pq_files"] for s in serves
                   if s.get("pq_files")]
    stores = rec.get("stores", {})
    mb = 1 / 1048576.0
    leak_rdds = sum(q["leaked_rdds"] for p in rec.get("passes", []) for q in p["queries"]) + \
        sum(t.get("leaked_rdds", 0) for t in rec.get("ticks", []))
    leak_bytes = sum(q["leaked_bytes"] for p in rec.get("passes", []) for q in p["queries"]) + \
        sum(t.get("leaked_bytes", 0) for t in rec.get("ticks", []))
    all_units = len(rec.get("passes", rec.get("ticks", [])))
    x = extras(rec)
    m = {
        "session.start_s": rec["session_start_s"],
        "jvm.jit_s": rec.get("jit_cold_s", 0.0),
        "codegen.compile_s": cold["codegen_s"],
        "codegen.classes": cold["codegen_classes"],
        "queries.build_s": sum(b["end"] - b["start"] for b in builds) / 1000.0 / n,
        "queries.build_jobs": sum(1 for j in jobs if j["parent"] in build_ids) / n,
        "plan.analysis_s": sum(e["analysis_ms"] for e in plans) / 1000.0 / n,
        "plan.optimize_s": sum(e["optimize_ms"] for e in plans) / 1000.0 / n,
        "plan.physical_s": sum(e["physical_ms"] for e in plans) / 1000.0 / n,
        "driver.gap_s": gap / n,
        "sched.jobs": len(jobs) / n,
        "sched.stages": len(stages) / n,
        "sched.tasks": st("tasks") / n,
        "sched.task_wait_s": st("task_wait_ms") / 1000.0 / n,
        "exec.cpu_s": st("cpu_ns") / 1e9 / n,
        "exec.run_s": st("run_ms") / 1000.0 / n,
        "exec.gc_s": st("gc_ms") / 1000.0 / n,
        "shuffle.write_mb": st("shuffle_write_bytes") * mb / n,
        "shuffle.read_mb": st("shuffle_read_bytes") * mb / n,
        "spill.mb": st("spill_bytes") * mb / n,
        "scan.input_mb": st("input_bytes") * mb / n,
        "scan.rows": st("input_rows") / n,
        "pinned.peak_mb": rec.get("rdd_block_peak_mb", 0.0),
        "pinned.leaked_rdds": leak_rdds / all_units,
        "pinned.leaked_mb": leak_bytes * mb / all_units,
        "storage.peak_mb": x["storage_peak_mb"],
        "stream.start_share": (sum(stage_s.values()) - trig) / wall if sinks else 0.0,
        "stream.trigger_share": trig / wall,
        "stream.planning_share": prog(["queryPlanning"]) / wall,
        "stream.commit_share": prog(["walCommit", "commitOffsets"]) / wall,
        "tick.lsh_share": stage_s["lsh"] / wall,
        "tick.pq_share": stage_s["pq"] / wall,
        "tick.nb_share": stage_s["nb"] / wall,
        "tick.pca_share": stage_s["pca"] / wall,
        "serve.pq_probe_share":
            stats.median([s["pq_probe_s"] / s["wall_s"] for s in serves]) if serves else 0.0,
        "serve.labels_share":
            stats.median([s["labels_s"] / s["wall_s"] for s in serves]) if serves else 0.0,
        "probe.files_read": stats.median([s["files_read"] for s in serves]) if serves else 0.0,
        "probe.files_read_ratio": stats.median(files_ratio) if files_ratio else 0.0,
        "store.sig.files": stores.get("sig_files", 0),
        "store.sig.mb": stores.get("sig_bytes", 0) * mb,
        "store.labels.mb": stores.get("labels_bytes", 0) * mb,
        "store.labels.rewritten_mb": stores.get("labels_rewritten_bytes", 0) * mb,
        "store.pq.files": stores.get("pq_files", 0),
        "store.written_mb": rec.get("written_bytes", 0) * mb,
        "neardup.pairs": stores.get("pairs", 0),
        "ingest.docs_per_s": x.get("ingest_docs_per_s", 0.0),
        "ingest.write_amp": x.get("write_amp", 0.0),
        "ingest.space_amp": x.get("space_amp", 0.0),
        "trace.overhead_ratio": overhead(rec, plain_rec)["ratio"],
    }
    for name in MODULES:
        m[f"mod.{name}.job_share"] = mod[name] / wall
    return m


# ---------------------------------------------------------------- correctness

def expected_path(workload):
    return os.path.join(HERE, "expected", f"{workload}.json")


def mismatches(rec, workload):
    """Correctness problems of one record (empty = correct)."""
    bad = []
    if "hashes" in rec:
        try:
            with open(expected_path(workload)) as fh:
                exp = json.load(fh)
        except OSError:
            return [f"no expected values at {expected_path(workload)}"]
        if exp.get("data") != os.path.relpath(DATA, HERE):
            return [f"expected values are for tables {exp.get('data')}"]
        got = rec["hashes"]
        for q in sorted(set(got) | set(exp["queries"])):
            h, e = got.get(q), exp["queries"].get(q)
            if e is None:
                bad.append(f"{q}: no expected value")
            elif h is None:
                bad.append(f"{q}: no result hash")
            elif "error" in h or (h["rows"], h["hash"]) != (e["rows"], e["hash"]):
                bad.append(f"{q}: got {h}, expected rows={e['rows']} hash={e['hash']}")
    for c in rec.get("checks", []):
        if not c["ok"]:
            bad.append(f"check failed: {c['name']} {c.get('error', '')}".strip())
    return bad


# ---------------------------------------------------------------- main

def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run stops its JVM too: subprocess.run kills the child
    # when SystemExit unwinds through it
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"{ROOT} holds no engine sources (build.sbt, src/main/scala/graft); "
             "run from the root of a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    stat0, load0 = _proc_stat(), _loadavg()
    cp = build()
    ticks = ticks_dir(a.seed) if WORKLOADS[a.workload]["kind"] == "ticks" else None

    def jvm(trace, mode, tag, check=True):
        return run_jvm(cp, a.workload, a.seed, a.seconds, trace, mode, ticks, tag, check)

    record = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
              "trace": a.trace, "data": os.path.relpath(DATA, ROOT)}
    if a.trace:
        # the untraced side runs right before the traced one, so both
        # see the same host phase; only the traced side checks outputs
        plain = jvm(False, "run", "plain", check=False)
        traced = jvm(True, "run", "traced")
        with open(traced["spans_file"]) as fh:
            spans = [json.loads(l) for l in fh]
        metrics = per_layer(traced, spans, plain)
        runs = [plain, traced]
        record["spans_file"] = traced["spans_file"]
        record["self_s"] = self_times(spans)
        record["trace_overhead"] = overhead(traced, plain)
    else:
        plain = jvm(False, "run", "main")
        setups = [plain["setup_s"]] + [jvm(False, "setup", f"setup{i}")["setup_s"]
                                       for i in range(1, SETUP_SAMPLES)]
        metrics = end_to_end(plain, setups)
        runs = [plain]
        record["setup_samples_s"] = setups
    bad = [m for r in runs for m in mismatches(r, a.workload)]
    attempted = sum(r.get("attempted", 0) for r in runs) or 1
    failed = sum(r.get("failed", 0) for r in runs)
    if failed == 0 and bad:
        failed = len(bad)
    record.update({
        "host": host_context(stat0, _proc_stat(), load0, _loadavg(), plain.get("host")),
        "extras": extras(plain), "mismatches": bad,
        "samples": {"warm_s": _warm_units(plain), "cold_s": _cold_unit(plain)},
    })
    unit = {m["name"]: m["unit"] for m in bench["end_to_end"] + bench["per_layer"]}
    result = {"correct": not bad and failed == 0, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": unit[k]} for k, v in metrics.items()}}
    errs = stats.check_result(result, bench, a.trace)
    if errs:
        fail("result does not match BENCHMARK.json: " + "; ".join(errs), 5)
    record["result"] = result
    path = os.path.join(build_dir(), "records",
                        f"{a.workload}-s{a.seed}-t{a.trace}-{int(time.time())}.json")
    with open(path, "w") as fh:
        json.dump(record, fh)
    print(json.dumps(record))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main(sys.argv[1:])
