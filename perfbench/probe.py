#!/usr/bin/env python3
"""Probe every declared key once and derive the workload manifests.

Usage (from the repo root): python3 perfbench/probe.py [--reuse]

Runs one traced pass over all keys of SparkEntry.queries, writes the
per-key features to perfbench/workloads/probe.json, then applies the
selection rules (perfbench/README.md, "Workloads") to write
perfbench/workloads/<name>.txt. `--reuse` skips the probe and re-derives
the manifests from the committed probe.json.
"""
import hashlib
import json
import os
import sys

import run

PROBE = os.path.join(run.BENCH, "workloads", "probe.json")


def probe():
    run.check_layout()
    cp = run.build()
    run_dir = os.path.join(run.BUILD, "probe")
    os.makedirs(run_dir, exist_ok=True)
    keys_file = os.path.join(run_dir, "keys.txt")
    with open(keys_file, "w") as f:
        f.write("*\n")
    cpus = os.cpu_count()
    run.JVM_TIMEOUT_S = 3600
    run.run_jvm(cp, run_dir, [
        "--keys", keys_file, "--data", run.DATA, "--out", run_dir,
        "--passes", "1", "--setups", "0", "--trace", "1", "--pairs", "0",
        "--check", "0", "--cpus", str(cpus)], heap="6g")
    with open(os.path.join(run_dir, "result.json")) as f:
        result = json.load(f)
    run.cleanup_staging(result)
    counters = {c["span"]: c for c in result["counters"]}
    feats = {}
    for r in result["passes"][0]["keys"]:
        cons = counters.get(r.get("construct_span"), {})
        act = counters.get(r.get("action_span"), {})
        action_s = r.get("action_s") or 0.0
        feats[r["key"]] = {
            "ok": r["ok"],
            "t_s": round(r["t_s"], 4),
            "construct_s": round(r.get("construct_s") or 0.0, 4),
            "action_s": round(action_s, 4),
            "construct_jobs": cons.get("jobs", 0),
            "action_jobs": act.get("jobs", 0),
            "busy_ratio": round(act.get("run_ms", 0) / 1000.0
                                / max(action_s * cpus, 1e-9), 4),
            "has_oracle": r["key"] in result["oracle"],
        }
    with open(PROBE, "w") as f:
        json.dump({"cpus": cpus, "data": os.path.basename(run.DATA),
                   "keys": feats}, f, indent=1, sort_keys=True)
        f.write("\n")


# Probe seconds the sampled keys of one pass may take (a cold traced pass;
# warm, they take about half that), which with the named keys below keeps
# a run inside the benchmark's time budget (README, "Run budget").
BUDGET_S = {"kernels": 2.0, "etl-load": 2.5}
# etl-load samples only keys under this many probe seconds, where per-key
# fixed cost dominates (the dropped fixed-cost workload's concern). Six
# keys of one size make a dense middle for key_p50_s and the tail; with a
# lone 0.66 s key among three 0.35 s ones, both fell on that one key and
# read up to a quarter apart from run to run.
MAX_KEY_S = {"etl-load": 0.6}
ETL_PREFIXES = ("etl_", "pipeline_", "stream_", "scan_delta", "scan_iceberg")

# Named, not derived: the probe records no per-key checkpoint or staging
# writes. With the supersteps workload dropped, these two keep the
# checkpoint-dir and scratch-staging layers measured (README, "Workloads").
LAYER_KEYS = {
    "etl-load": {
        "graph_kcore": "k-core peeling supersteps, each written as a "
                       "reliable checkpoint",
        "scan_delta_schema_evolution_interop":
            "stages a Delta table once per session, re-read every pass",
    },
}

RULES = {
    "kernels": "keys whose action keeps >= 40% of the task slots "
               "busy (task run time / (action time x cores))",
    "etl-load": "remaining etl_*, pipeline_*, stream_*, scan_delta*, "
                "scan_iceberg* keys; results written as the load step",
}


def sample(keys, feats, budget):
    """A deterministic sample: keys in the order of their name's SHA-1,
    each taken while the picks' summed probe time stays within budget."""
    picks, total = [], 0.0
    for k in sorted(keys, key=lambda k: hashlib.sha1(k.encode()).hexdigest()):
        if total + feats[k]["t_s"] <= budget:
            picks.append(k)
            total += feats[k]["t_s"]
    return sorted(picks)


def derive():
    with open(PROBE) as f:
        feats = json.load(f)["keys"]
    usable = {k for k, v in feats.items() if v["ok"] is True and v["has_oracle"]}
    taken = set()
    candidates = {}

    def claim(name, pred):
        candidates[name] = sorted(k for k in usable - taken if pred(k, feats[k]))
        taken.update(candidates[name])

    # Construction-dominated keys (>= 5 eager jobs, >= 60% of the key's
    # time) belong to neither workload; see README, "Dropped workloads".
    claim("supersteps", lambda k, v: v["construct_jobs"] >= 5
          and v["construct_s"] >= 0.6 * v["t_s"])
    claim("kernels", lambda k, v: v["busy_ratio"] >= 0.4)
    claim("etl-load", lambda k, v: k.startswith(ETL_PREFIXES))
    for name in BUDGET_S:
        named = LAYER_KEYS.get(name, {})
        cands = [k for k in candidates[name] if k not in named]
        cap = MAX_KEY_S.get(name)
        small = [k for k in cands if cap is None or feats[k]["t_s"] < cap]
        picks = sorted(set(sample(small, feats, BUDGET_S[name])) | set(named))
        with open(os.path.join(run.BENCH, "workloads", f"{name}.txt"), "w") as f:
            f.write(f"# {name}: {RULES[name]}.\n"
                    f"# {len(cands)} candidates"
                    + (f", {len(small)} under {cap:g} probe seconds" if cap else "")
                    + f", sampled by SHA-1 of the name within "
                    f"{BUDGET_S[name]:g} probe seconds (perfbench/probe.py).\n")
            f.write("".join(f"# plus {k}: {why}.\n" for k, why in sorted(named.items())))
            f.write("".join(p + "\n" for p in picks))


if __name__ == "__main__":
    if "--reuse" not in sys.argv:
        probe()
    derive()
