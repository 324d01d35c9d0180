#!/usr/bin/env python3
"""Derive `pools.json` from observed query behaviour.

    python3 perfbench/derive_pools.py --probe1x DIR --compare1x LOG [--probe10x DIR] \
        [--calibration RAW ...] > perfbench/pools.json

Inputs come from `perfbench.Main probe`, which runs each registry query cold
and then warm and records what the warm execution did, and from
`tools/compare.py` run over the probe's output directory, which checks each
cold result against DuckDB. `--probe1x` must cover the whole registry on the
1x corpus. `--probe10x` adds 10x costs to the dedup_similarity pool, which
is recorded but not benchmarked (see `pools.json`). Each `--calibration` is
the raw output of `perfbench.Main run` over a whole pool; a query's measured
wall there replaces the probe's warm time as its reference cost, since it
was taken the way a benchmark run measures: after a warm-up pass in a fresh
JVM, with nothing else running.

Rules, applied to the warm execution on the 1x corpus:
  state_maintenance  starts a StreamingQuery or writes a file under the
                     scratch root;
  dedup_similarity   otherwise, a query of the LLM-data families below;
  batch_analytics    everything else.
A query's golden digest is its cold result's digest, recorded only when the
cold and warm digests agree and the query has no oracle or passes it.
"""
import argparse
import json
import os
import sys

DEDUP_FAMILIES = {"TextQueries", "SimilarityQueries", "MultimodalQueries",
                  "MlQueries", "PipelineQueries"}

# Writes a z-ordered file set to a fixed /tmp path instead of under the
# scratch root, so it is state work the benchmark cannot isolate in its run
# root; it stays in its pool and is never drawn.
OUTSIDE_RUN_ROOT = {"q80_zorder_write_manifest":
                    "writes its file set to a fixed /tmp path outside the run root"}

WORKLOADS = {
    "batch_analytics": {
        "corpus_mult": 1,
        "rule": "starts no StreamingQuery and writes no file under the scratch root in a warm "
                "execution, and is not of the dedup_similarity families",
        "reason": "the reference pipeline's own read-only analytics surface, where per-query "
                  "fixed cost (planning, job launch, driver gaps) dominates",
    },
    "state_maintenance": {
        "corpus_mult": 1,
        "rule": "starts a StreamingQuery or writes a file under the scratch root in a warm "
                "execution",
        "reason": "the paper's incremental monthly rollup generalised: the write side, with "
                  "stores, manifests, checkpoints and eager work inside Q.run",
    },
    "dedup_similarity": {
        "corpus_mult": 10,
        "benchmarked": False,
        "not_benchmarked_because":
            "on the 10x corpus its queries take up to 30 s each and q101's one-time "
            "training about 90 s, so a run does not fit the per-run time the benchmark "
            "contract allows; it needs a longer run length or a corpus between 1x and 10x",
        "rule": "the queries of " + ", ".join(sorted(DEDUP_FAMILIES)) +
                " that are not state_maintenance",
        "reason": "the LLM-data operators on a corpus ten times larger, where executor compute "
                  "and shuffle, not per-query overhead, take the larger share",
    },
}

# The sizing pass that chose the run length: every registry query at
# local[4] with a 6 g heap, one warm pass then two measured passes, pools
# split by query name (so approximate). Seconds per pass for pass 1 / 2.
SIZING = {
    "host": "4 vCPU, local[4], 6 g heap",
    "batch_analytics": {"queries": 115, "s_per_pass": [155.3, 158.8], "inside_q_run_s": 16.6,
                        "jobs_per_pass": 903, "sub_second": 51},
    "state_maintenance": {"queries": 67, "s_per_pass": [403.6, 419.1], "inside_q_run_s": 351.4,
                          "jobs_per_pass": 2222, "sub_second": 3},
    "dedup_similarity_1x": {"queries": 64, "s_per_pass": [96.7, 99.7], "inside_q_run_s": 25.2,
                            "jobs_per_pass": 575, "sub_second": 35},
    "dedup_similarity_10x": {"queries": 64, "s_per_pass": [295.3, 273.3], "jobs_per_pass": 559},
    "notes": ["spill was 0 bytes in every execution at both scales",
              "shuffle write was 1.0 GB per full pass at 1x and 846 MB per dedup pass at 10x",
              "graft.ScaleGen at 10x took 37 s including sbt start-up"],
}


def load(probe_dir):
    return {r["name"]: r for r in map(json.loads, open(os.path.join(probe_dir, "probe.jsonl")))}


def verdicts(log_path):
    out = {}
    for line in open(log_path):
        parts = line.split()
        if len(parts) >= 2 and parts[0] in ("PASS", "FAIL"):
            out[parts[1]] = parts[0]
    return out


def entry(rec, verdict, costs):
    if "warm_s" not in rec:
        return {"excluded": rec.get("error", "not observed")}
    e = {"cost_s": round(costs.get(rec["name"], rec["warm_s"]), 3), "jobs": rec["jobs"]}
    stable = rec.get("digest_cold") == rec.get("digest_warm") == rec.get("digest_parquet")
    if "error" not in rec and stable and verdict != "FAIL":
        e["golden"] = rec["digest_cold"]
        e["oracle"] = verdict or "none"
    else:
        e["excluded"] = rec.get("error") or ("oracle mismatch" if verdict == "FAIL"
                                             else "digest differs between executions")
    return e


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--probe1x", required=True)
    ap.add_argument("--compare1x", required=True)
    ap.add_argument("--probe10x")
    ap.add_argument("--calibration", nargs="*", default=[])
    args = ap.parse_args()
    one = load(args.probe1x)
    ten = load(args.probe10x) if args.probe10x else {}
    v1 = verdicts(args.compare1x)
    costs = {e["name"]: e["wall_s"] for raw in args.calibration
             for e in json.load(open(raw))["execs"] if e["kind"] == "measured" and not e["error"]}
    pools = {w: dict(spec, queries={}) for w, spec in WORKLOADS.items()}
    for name, rec in sorted(one.items()):
        state = rec.get("streams", 0) > 0 or rec.get("scratch_writes", 0) > 0
        if state or name in OUTSIDE_RUN_ROOT:
            pools["state_maintenance"]["queries"][name] = entry(rec, v1.get(name), costs)
        elif rec["family"] in DEDUP_FAMILIES:
            # not benchmarked: no golden, and the 10x cost where it was observed
            e = {"cost_s_1x": round(rec["warm_s"], 3)} if "warm_s" in rec else {}
            if "warm_s" in ten.get(name, {}):
                e["cost_s_10x"] = round(ten[name]["warm_s"], 3)
            pools["dedup_similarity"]["queries"][name] = e
        else:
            pools["batch_analytics"]["queries"][name] = entry(rec, v1.get(name), costs)
    for name, why in OUTSIDE_RUN_ROOT.items():
        for spec in pools.values():
            if name in spec["queries"]:
                spec["queries"][name].pop("golden", None)
                spec["queries"][name]["excluded"] = why
    for spec in pools.values():
        qs = spec["queries"].values()
        costs = [q.get("cost_s", q.get("cost_s_1x")) for q in qs]
        costs = [c for c in costs if c is not None]
        spec["observed_1x"] = {
            "queries": len(spec["queries"]),
            "warm_pass_s": round(sum(costs), 1),
            "jobs_per_pass": sum(q.get("jobs", 0) for q in qs),
            "sub_second": sum(1 for c in costs if c < 1.0)}
    runnable = {w: p for w, p in pools.items() if p.get("benchmarked", True)}
    json.dump({"sizing": SIZING, "workloads": runnable,
               "unbenchmarked": {w: p for w, p in pools.items() if w not in runnable}},
              sys.stdout, indent=1)
    print()


if __name__ == "__main__":
    main()
