#!/usr/bin/env python3
"""Benchmark of the graft engine's query registry.

Usage, from the root of the repository:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the engine and this package once per checkout (cached under
`.bench_build/`, keyed by a hash of the sources), generates the workload's
corpus once per checkout with the engine's own `graft.ScaleGen`, takes the
workload's query panel from its pool in `pools.json` in the order the seed
fixes, and runs it in one JVM under `local[<cpus>]`: one client, a closed
loop, one query after another. Each run gets a fresh root for the engine's
scratch directory, `java.io.tmpdir`, `SPARK_LOCAL_DIRS` and the JVM's
working directory; the bytes left there are measured and the root deleted.

The last line of standard output is one JSON object: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. Every metric is
also printed on its own line before it. A traced run writes its spans to
`.bench_build/traces/`.
"""
import argparse
import hashlib
import json
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# The tail is the highest percentile with at least this many samples beyond it.
TAIL_BEYOND = 10
# Per-query wall accounting (job busy + driver gap) must match the query's
# wall within this share; at least this share of stages must be attributed.
WALL_ACCOUNTING_TOL = 0.05
STAGE_ATTRIBUTION_MIN = 0.99


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- arithmetic

def tail_percentile(samples):
    """(percentile, value) of the highest integer percentile that has at
    least TAIL_BEYOND samples above its nearest-rank position, or None when
    there are too few samples for any."""
    n = len(samples)
    if n <= TAIL_BEYOND:
        return None
    xs = sorted(samples)
    p = (100 * (n - TAIL_BEYOND)) // n
    rank = max(1, math.ceil(p * n / 100))
    return p, xs[rank - 1]


def union(intervals):
    """Merged, sorted list of the (start, end) intervals' union."""
    merged = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return merged


def union_length(intervals):
    return sum(e - s for s, e in union(intervals))


def uncovered(span, intervals):
    """Length of `span` not covered by any of `intervals`."""
    s0, e0 = span
    clipped = [(max(s, s0), min(e, e0)) for s, e in intervals]
    return (e0 - s0) - union_length(clipped)


def panel(costs, budget):
    """The workload's fixed query panel: the pool's queries at k evenly
    spaced quantiles of reference cost, with k as large as the budget
    allows. Drawing the queries themselves by seed was measured and
    rejected: in a fresh JVM a query's second execution takes 1.3x to 3.2x
    its warm reference cost depending on which other queries warmed the
    JVM, so run totals of different draws spread 20 to 40 percent."""
    order = sorted(costs, key=lambda q: (costs[q], q))
    n = len(order)
    for k in range(n, 0, -1):
        pick = [order[int((j + 0.5) * n / k)] for j in range(k)]
        if sum(costs[q] for q in pick) <= budget:
            return pick
    return []


def draw(costs, seed, budget):
    """The run's query sequence: the workload's panel in an order the seed
    fixes."""
    seq = panel(costs, budget)
    random.Random(f"perfbench:{seed}").shuffle(seq)
    return seq


# ---------------------------------------------------------------- build

def source_hash(root):
    h = hashlib.sha256()
    roots = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
             os.path.join(root, "src", "main"), os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project"), os.path.join(BENCH, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in os.path.relpath(d, r).split(os.sep))
        for p in paths:
            if p.endswith((".scala", ".sbt", ".properties", ".java")):
                h.update(os.path.relpath(p, root).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()


def build(root, work):
    """Compile the engine and this package; return (classpath, jvm options)."""
    launch = os.path.join(work, "launch.txt")
    stamp = source_hash(root)
    if os.path.exists(launch) and open(launch + ".hash").read() == stamp:
        lines = open(launch).read().splitlines()
        return lines[0], lines[1:]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.override.build.repos=true", "-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts.insert(1, f"-Dsbt.repository.config={repos}")
        env["SBT_OPTS"] = " ".join(opts)
    # keep sbt's own temporary files inside the checkout
    sbt_tmp = os.path.join(work, "sbt-tmp")
    os.makedirs(sbt_tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={sbt_tmp} -XX:-UsePerfData"
    log("building engine and benchmark with sbt")
    t0 = time.time()
    out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
                     "writeLaunch"], BENCH, env, BUILD_TIMEOUT_S,
                    os.path.join(work, "build.log"))
    if out != 0:
        raise BenchError(f"build failed (exit {out}); see {work}/build.log")
    shutil.copyfile(os.path.join(BENCH, "target", "launch.txt"), launch)
    with open(launch + ".hash", "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    lines = open(launch).read().splitlines()
    return lines[0], lines[1:]


def run_child(cmd, cwd, env, timeout, log_path):
    """Run `cmd` in its own process group with output to `log_path`; on
    timeout kill the whole group. Returns the exit code, waiting for the
    process to end in every case."""
    with open(log_path, "w") as logf:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=logf, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            raise BenchError(f"{cmd[0]} ran past {timeout} s; see {log_path}")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def jvm(cp, opts, run_root, args, timeout, log_path):
    for d in ("scratch", "tmp", "local", "cwd"):
        os.makedirs(os.path.join(run_root, d), exist_ok=True)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_root, "local"),
               SPARK_GRAFT_CPUS=str(os.cpu_count()))
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}"] + opts +
           [f"-Djava.io.tmpdir={os.path.join(run_root, 'tmp')}",
            f"-Dspark.graft.scratch.dir={os.path.join(run_root, 'scratch')}",
            "-cp", cp, "perfbench.Main"] + args)
    code = run_child(cmd, os.path.join(run_root, "cwd"), env, timeout, log_path)
    if code != 0:
        raise BenchError(f"JVM exited {code}; see {log_path}")


def corpus(work, cp, opts, mult):
    """The ScaleGen corpus at `mult`, generated once per checkout."""
    path = os.path.join(work, "corpus", f"gen{mult}x")
    if os.path.exists(os.path.join(path, "_COMPLETE")):
        return path
    tmp = path + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    gen_root = os.path.join(work, "gen-root")
    log(f"generating ScaleGen corpus x{mult}")
    try:
        jvm(cp, opts, gen_root, ["gen", tmp, str(mult)], RUN_TIMEOUT_S,
            os.path.join(work, f"gen{mult}x.log"))
    finally:
        shutil.rmtree(gen_root, ignore_errors=True)
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def tree_size(path):
    size = files = 0
    for d, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(d, f)
            if not os.path.islink(p):
                size += os.path.getsize(p)
                files += 1
    return size, files


# ---------------------------------------------------------------- metrics

def end_to_end(raw):
    """Process CPU seconds, not wall seconds: on a shared host the wall
    clock of identical runs drifted by 1.6x within minutes (CPU steal),
    while the CPU a run consumes does not count time its threads were not
    running. cpu_s covers the measured executions; setup_s runs from JVM
    start to the end of the warm-up pass."""
    measured = [e for e in raw["execs"] if e["kind"] == "measured"]
    return {"cpu_s": (sum(e["cpu_s"] for e in measured), "s"),
            "setup_s": (raw["setup_cpu_s"], "s")}


def untraced_extras(raw):
    """Figures taken with tracing off that did not repeat across runs
    within the end-to-end bounds (see BENCHMARK.json), so they are reported
    with the per-layer metrics: wall-clock totals of the measured pass and
    the set-up, the peak heap left after a collection, and the median and
    tail of the measured executions' walls. The tail is the highest
    percentile with TAIL_BEYOND samples beyond it; with fewer samples it is
    the maximum."""
    measured = [e for e in raw["execs"] if e["kind"] == "measured"]
    walls = [e["wall_s"] for e in measured]
    tail = tail_percentile(walls)
    if tail:
        print(f"query_tail_s is p{tail[0]} of N={len(walls)} executions")
    else:
        print(f"query_tail_s is the maximum: N={len(walls)} executions leave no percentile "
              f"with {TAIL_BEYOND} beyond it")
    return {"wall_s": (sum(walls), "s"),
            "setup_wall_s": (raw["setup_s"], "s"),
            "query_p50_s": (statistics.median(walls), "s"),
            "query_tail_s": (tail[1] if tail else max(walls), "s"),
            "heap_peak_mb": (raw["heap_peak_bytes"] / 1e6, "MB")}


def attribute_jobs(spans, jobs):
    """Map job id -> index of the span that covers the job's start. Queries
    run one after another, so at most one span covers any instant."""
    starts = sorted((s["start"], s["end"], i) for i, s in enumerate(spans))
    out = {}
    for j in jobs:
        for s, e, i in starts:
            if s <= j["start"] <= e:
                out[j["id"]] = i
                break
    return out


def attribute_stages(jobs, stages):
    """Map (stage id, attempt) -> job id through SparkListenerJobStart.stageIds.
    A stage id listed by several jobs (a shared shuffle) belongs to the job
    running when the stage was submitted."""
    listed = {}
    for j in jobs:
        for sid in j["stages"]:
            listed.setdefault(sid, []).append(j)
    out = {}
    for st in stages:
        cands = listed.get(st["id"], [])
        running = [j for j in cands
                   if j["start"] <= st["submitted"] and (j["end"] < 0 or st["submitted"] <= j["end"])]
        pick = running or [j for j in cands if j["start"] <= st["submitted"]]
        if pick:
            out[(st["id"], st["attempt"])] = max(pick, key=lambda j: j["start"])["id"]
    return out


def self_times(spans):
    """Each span's duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    for s in spans:
        s["self_ms"] = uncovered((s["start"], s["end"]), kids.get(s["id"], []))
    return spans


def per_layer(raw, state_bytes, live_files):
    execs = raw["execs"]
    traced = [e for e in execs if e["kind"] == "traced"]
    checks = [c for c in raw["checks"] if c["kind"] == "traced"]
    spans = [dict(e, span="query") for e in traced] + [dict(c, span="check") for c in checks]
    jobs = raw["jobs"]
    job_span = attribute_jobs(spans, jobs)
    stage_job = attribute_stages(jobs, raw["stages"])
    qjobs = {}
    for j in jobs:
        i = job_span.get(j["id"])
        if i is not None and spans[i]["span"] == "query":
            qjobs.setdefault(i, []).append(j)
    in_query = {j["id"] for js in qjobs.values() for j in js}

    busy = gap = 0.0
    wall_ok = 0
    for i, e in enumerate(traced):
        ivs = [(j["start"], j["end"] if j["end"] >= 0 else e["end"]) for j in qjobs.get(i, [])]
        b = union_length(ivs)
        g = uncovered((e["start"], e["end"]), ivs)
        w = e["end"] - e["start"]
        busy += b / 1e3
        gap += g / 1e3
        if abs(b + g - w) <= WALL_ACCOUNTING_TOL * max(w, 1):
            wall_ok += 1

    stages = [s for s in raw["stages"] if stage_job.get((s["id"], s["attempt"])) in in_query]
    submitted_ids = {}
    for s in raw["stages"]:
        j = stage_job.get((s["id"], s["attempt"]))
        if j is not None:
            submitted_ids.setdefault(j, set()).add(s["id"])
    skipped = sum(len(set(j["stages"]) - submitted_ids.get(j["id"], set()))
                  for j in jobs if j["id"] in in_query)
    tasks = sum(s["tasks"] for s in stages)
    skew_w = sum(s["run_ms"] for s in stages if s["tasks"] > 1)
    skew = (sum(s["max_run_ms"] * s["tasks"] for s in stages if s["tasks"] > 1) / skew_w
            if skew_w else 1.0)

    def within(t):
        return any(e["start"] <= t <= e["end"] for e in traced)

    execs_q = [x for x in raw["executions"] if within(x["start"])]
    prog = [p for p in raw["progress"] if within(p["start"])]

    def dur(key):
        return sum(p["ms"].get(key, 0) for p in prog) / 1e3

    write_mb = sum(s["out_bytes"] for s in stages) / 1e6
    state_mb = state_bytes / 1e6
    untraced_wall = sum(e["wall_s"] for e in execs if e["kind"] == "measured")
    traced_wall = sum(e["wall_s"] for e in traced)
    mb = 1e6
    m = dict(untraced_extras(raw), **{
        "Sessions.start_s": (raw["session_s"], "s"),
        "Tables.read_mb": (sum(s["in_bytes"] for s in stages) / mb, "MB"),
        "Tables.read_rows": (sum(s["in_records"] for s in stages), "count"),
        "queries.body_s": (sum(e["body_s"] for e in traced), "s"),
        "queries.materialize_s": (sum(e["materialize_s"] for e in traced), "s"),
        "plans.catalyst_s": (sum(x["analysis_ms"] + x["optimization_ms"] + x["planning_ms"]
                                 for x in execs_q) / 1e3, "s"),
        "plans.executions": (len(execs_q), "count"),
        "plans.executed_nodes": (sum(x["nodes"] for x in execs_q), "count"),
        "plans.graft_nodes": (sum(x["graft_nodes"] for x in execs_q), "count"),
        "spark.jobs": (len(in_query), "count"),
        "spark.job_busy_s": (busy, "s"),
        "spark.driver_gap_s": (gap, "s"),
        "spark.stages": (len(stages), "count"),
        "spark.stages_skipped": (skipped, "count"),
        "spark.tasks": (tasks, "count"),
        "spark.tasks_failed": (sum(s["tasks_failed"] for s in stages), "count"),
        "spark.tasks_empty_ratio": (sum(s["tasks_empty"] for s in stages) / tasks if tasks else 0.0,
                                    "ratio"),
        "spark.task_run_s": (sum(s["run_ms"] for s in stages) / 1e3, "s"),
        "spark.task_cpu_s": (sum(s["cpu_ns"] for s in stages) / 1e9, "s"),
        "spark.task_gc_s": (sum(s["gc_ms"] for s in stages) / 1e3, "s"),
        "spark.shuffle_write_mb": (sum(s["shuffle_write"] for s in stages) / mb, "MB"),
        "spark.shuffle_read_mb": (sum(s["shuffle_read"] for s in stages) / mb, "MB"),
        "spark.spill_mb": (sum(s["spill"] for s in stages) / mb, "MB"),
        "spark.stage_skew": (skew, "ratio"),
        "operators.write_mb": (write_mb, "MB"),
        "operators.state_mb": (state_mb, "MB"),
        "operators.live_files": (live_files, "count"),
        "operators.write_amp": (write_mb / state_mb if state_mb else 0.0, "ratio"),
        "streaming.queries": (sum(1 for t in raw["stream_starts"] if within(t)), "count"),
        "streaming.batches": (len(prog), "count"),
        "streaming.trigger_s": (dur("triggerExecution"), "s"),
        "streaming.add_batch_s": (dur("addBatch"), "s"),
        "streaming.wal_commit_s": (dur("walCommit"), "s"),
        "streaming.commit_offsets_s": (dur("commitOffsets"), "s"),
        "streaming.latest_offset_s": (dur("latestOffset"), "s"),
        "streaming.planning_s": (dur("queryPlanning"), "s"),
        "jvm.gc_s": (sum(e["gc_s"] for e in traced), "s"),
        "jvm.jit_s": (sum(e["jit_s"] for e in traced), "s"),
        "trace.overhead_ratio": (traced_wall / untraced_wall, "ratio"),
        "trace.wall_accounted_frac": (wall_ok / len(traced) if traced else 0.0, "ratio"),
        "trace.stages_attributed_frac": (
            len(stage_job) / len(raw["stages"]) if raw["stages"] else 1.0, "ratio"),
    })
    spans_out = sidecar_spans(traced, qjobs, raw, stage_job, prog)
    return m, spans_out


def sidecar_spans(traced, qjobs, raw, stage_job, prog):
    """query > body / materialize > job > stage, and body > streaming batch."""
    spans = []

    def add(kind, name, start, end, parent):
        spans.append({"id": len(spans), "parent": parent, "kind": kind, "name": name,
                      "start": start, "end": end})
        return len(spans) - 1

    stages_by_job = {}
    for s in raw["stages"]:
        j = stage_job.get((s["id"], s["attempt"]))
        if j is not None:
            stages_by_job.setdefault(j, []).append(s)
    for i, e in enumerate(traced):
        q = add("query", e["name"], e["start"], e["end"], None)
        split = e["body_end"] if e["body_end"] >= 0 else e["end"]
        body = add("body", e["name"], e["start"], split, q)
        mat = add("materialize", e["name"], split, e["end"], q)
        for j in qjobs.get(i, []):
            end = j["end"] if j["end"] >= 0 else e["end"]
            jid = add("job", f"job {j['id']}", j["start"], end, body if j["start"] < split else mat)
            for s in stages_by_job.get(j["id"], []):
                add("stage", f"stage {s['id']}.{s['attempt']}", s["submitted"],
                    s["completed"] or end, jid)
        for p in prog:
            if e["start"] <= p["start"] <= split:
                add("batch", f"batch {p['batch']}", p["start"],
                    p["start"] + p["ms"].get("triggerExecution", 0), body)
    self_times(spans)
    kinds = {}
    for s in spans:
        k = kinds.setdefault(s["kind"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
        k["count"] += 1
        k["total_s"] += (s["end"] - s["start"]) / 1e3
        k["self_s"] += s["self_ms"] / 1e3
    return {"by_kind": kinds, "spans": spans}


# ---------------------------------------------------------------- main

def emit(metrics):
    for name, (value, unit) in metrics.items():
        print(f"{name} = {value:.6g} {unit}")
    return {name: {"value": value, "unit": unit} for name, (value, unit) in metrics.items()}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt")) and
            os.path.isfile(os.path.join(root, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        raise BenchError("run from the root of the engine's repository: "
                         "build.sbt and src/main/scala/graft are missing")
    pools = json.load(open(os.path.join(BENCH, "pools.json")))
    if args.workload not in pools["workloads"]:
        raise BenchError(f"unknown workload {args.workload!r}; "
                         f"known: {', '.join(pools['workloads'])}")
    wl = pools["workloads"][args.workload]
    work = os.path.join(root, ".bench_build")
    os.makedirs(work, exist_ok=True)

    cp, opts = build(root, work)
    corpus_dir = corpus(work, cp, opts, wl["corpus_mult"])
    sampled = {q: v for q, v in wl["queries"].items() if "golden" in v}
    seq = draw({q: v["cost_s"] for q, v in sampled.items()}, args.seed, args.seconds)
    if not seq:
        raise BenchError("the run budget fits no query of the pool")
    log(f"{args.workload} seed {args.seed}: {len(seq)} queries: " + " ".join(seq))

    tag = f"{args.workload}-{args.seed}-{os.getpid()}"
    run_root = os.path.join(work, "runs", tag)
    shutil.rmtree(run_root, ignore_errors=True)
    spec = os.path.join(work, f"spec-{tag}.txt")
    out = os.path.join(work, f"raw-{tag}.json")
    with open(spec, "w") as f:
        f.write(f"corpus {corpus_dir}\ntrace {args.trace}\n")
        for q in seq:
            f.write(f"query {q} {sampled[q]['golden']}\n")
    try:
        jvm(cp, opts, run_root, ["run", spec, out], RUN_TIMEOUT_S,
            os.path.join(work, f"{args.workload}.log"))
        raw = json.load(open(out))
        state_bytes, live_files = tree_size(run_root)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
        for p in (spec, out):
            if os.path.exists(p):
                os.remove(p)

    execs = raw["execs"]
    failed = [e for e in execs if e["error"]]
    wrong = [c for c in raw["checks"] if not c["ok"]]
    for e in failed:
        log(f"FAILED {e['kind']} {e['name']}: {e['error']}")
    for c in wrong:
        log(f"WRONG {c['kind']} {c['name']}: digest {c['digest']}, golden {sampled[c['name']]['golden']}")
    print(f"failed_frac = {len(failed) / len(execs):.6g} ratio ({len(failed)} of {len(execs)})")
    print(f"wrong_results = {len(wrong)} count ({len(raw['checks'])} digests checked)")
    if args.trace:
        metrics, trace = per_layer(raw, state_bytes, live_files)
        tdir = os.path.join(work, "traces")
        os.makedirs(tdir, exist_ok=True)
        with open(os.path.join(tdir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(dict(trace, workload=args.workload, seed=args.seed, queries=seq), f)
        ok_wall = metrics["trace.wall_accounted_frac"][0] == 1.0
        ok_stage = metrics["trace.stages_attributed_frac"][0] >= STAGE_ATTRIBUTION_MIN
        print(f"wall accounting within {WALL_ACCOUNTING_TOL:.0%}: {'PASS' if ok_wall else 'FAIL'}; "
              f"stage attribution >= {STAGE_ATTRIBUTION_MIN:.0%}: {'PASS' if ok_stage else 'FAIL'}")
    else:
        metrics = end_to_end(raw)
    # every execution that did not fail has its digest checked
    result = {"correct": not wrong and len(raw["checks"]) + len(failed) == len(execs),
              "attempted": len(execs), "failed": len(failed), "metrics": emit(metrics)}
    print(json.dumps(result), flush=True)


def _terminate(signum, frame):
    raise BenchError(f"stopped by signal {signum}")


if __name__ == "__main__":
    # turn a stop request into an exception, so the JVM's process group is
    # killed and waited for on the way out
    signal.signal(signal.SIGTERM, _terminate)
    try:
        main()
    except BenchError as e:
        log(f"error: {e}")
        sys.exit(2)
