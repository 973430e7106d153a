"""Turns one harness run (result.json, spans.jsonl) into metrics.

End-to-end metrics come from the untraced timed passes; per-layer metrics
from the traced passes and their spans. Every per-pass figure is a sum
over the workload's keys, reported as the median over passes.
"""
import json
import os
import statistics

MB = 1024.0 * 1024.0

# (name, unit) in report order; BENCHMARK.json lists the same names.
END_TO_END = [("wall_s", "s"), ("key_p50_s", "s"), ("key_tail_s", "s"),
              ("setup_s", "s"), ("peak_rss_mb", "MB")]

PER_LAYER = [
    ("session.start_s", "s"), ("session.warm_s", "s"),
    ("session.hygiene_s", "s"), ("session.blocks_dropped", "count"),
    ("floor.sql_job_ms", "ms"), ("floor.rdd_job_ms", "ms"),
    ("floor.parquet_resolve_ms", "ms"), ("floor.local_checkpoint_ms", "ms"),
    ("floor.reliable_checkpoint_ms", "ms"),
    ("tables.resolve_ms", "ms"), ("tables.fs_read_mb", "MB"),
    ("operators.construct_s", "s"), ("operators.construct_self_s", "s"),
    ("operators.construct_jobs", "count"), ("operators.construct_share", "ratio"),
    ("plans.plan_s", "s"), ("plans.analysis_ms", "ms"),
    ("plans.optimize_ms", "ms"), ("plans.physical_ms", "ms"),
    ("plans.nodes", "count"), ("plans.exchanges", "count"),
    ("plans.unpartitioned_windows", "count"), ("plans.rdd_scans", "count"),
    ("plans.topk_nodes", "count"),
    ("exec.action_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"),
    ("exec.tasks", "count"), ("exec.task_run_s", "s"),
    ("exec.task_cpu_s", "s"), ("exec.gc_s", "s"), ("exec.busy_ratio", "ratio"),
    ("exec.sched_wait_s", "s"), ("exec.shuffle_write_mb", "MB"),
    ("exec.shuffle_read_mb", "MB"), ("exec.spill_mb", "MB"),
    ("exec.input_rows", "count"), ("exec.stage_skew_p90", "ratio"),
    ("exec.task_failures", "count"),
    ("checkpoint.written_mb", "MB"), ("checkpoint.files", "count"),
    ("sink.write_s", "s"), ("sink.files", "count"), ("sink.rows", "count"),
    ("sink.written_mb", "MB"),
    ("staging.written_mb", "MB"),
    ("trace.overhead_ratio", "ratio"),
]

FLOOR = ["sql_job_ms", "rdd_job_ms", "parquet_resolve_ms",
         "local_checkpoint_ms", "reliable_checkpoint_ms"]


def load_spans(run_dir):
    with open(os.path.join(run_dir, "spans.jsonl")) as f:
        return [json.loads(l) for l in f if l.strip()]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def key_times(passes):
    """Each key's successful times to result, over the given passes."""
    out = {}
    for p in passes:
        for r in p["keys"]:
            if r["ok"]:
                out.setdefault(r["key"], []).append(r["t_s"])
    return out


def tail(per_key):
    """Highest percentile of all samples with at least ten beyond it,
    while that lies above the median (21+ samples); with fewer samples,
    the slowest key's median time. Returns (value, label, sample count)."""
    s = sorted(t for ts in per_key.values() for t in ts)
    n = len(s)
    if n > 20:
        return s[n - 11], f"p{100.0 * (n - 10) / n:.1f}", n
    slowest = max((median(ts) for ts in per_key.values()), default=0.0)
    return slowest, "slowest key's median time", n


def union_us(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


class Spans:
    def __init__(self, spans):
        self.by_id = {s["id"]: s for s in spans}
        self.kids = {}
        for s in spans:
            self.kids.setdefault(s["parent"], []).append(s)

    def dur_s(self, sid):
        s = self.by_id.get(sid)
        return (s["end_us"] - s["start_us"]) / 1e6 if s else 0.0

    def self_s(self, sid):
        """Span duration minus the part of it its children cover."""
        s = self.by_id.get(sid)
        if not s:
            return 0.0
        a, b = s["start_us"], s["end_us"]
        cover = [(max(a, k["start_us"]), min(b, k["end_us"]))
                 for k in self.kids.get(sid, []) if k["end_us"] > a and k["start_us"] < b]
        return (b - a - union_us(cover)) / 1e6


def failures(passes):
    return [r for p in passes for r in p["keys"] if not r["ok"]]


def end_to_end(result, passes, peak_rss_mb):
    """Medians over the timed passes: the median pass, and the median
    over keys of each key's median time. A stall of one pass moves
    neither; a best-of-passes would move with how many passes caught a
    quiet spell of the shared host."""
    walls = [p["wall_s"] - sum(r["t_s"] for r in failures([p])) for p in passes]
    per_key = key_times(passes)
    t, label, n = tail(per_key)
    values = {
        "wall_s": median(walls),
        "key_p50_s": median([median(ts) for ts in per_key.values()]),
        "key_tail_s": t,
        "setup_s": median([s["total_s"] for s in result["setups"]]),
        "peak_rss_mb": peak_rss_mb,
    }
    return values, label, n


def per_pass(p, counters, spans, cpus, sink):
    res = "sink" if sink else "action"
    keys = [r for r in p["keys"] if r["ok"]]

    def total(field, rs=keys):
        return float(sum(r.get(field) or 0 for r in rs))

    def ctr(phase, field):
        return float(sum(counters.get(r.get(phase + "_span"), {}).get(field, 0)
                         for r in keys))

    action_s = total(res + "_s")
    run_s = ctr(res, "run_ms") / 1e3
    skews = sorted(x for r in keys
                   for x in counters.get(r.get(res + "_span"), {}).get("stage_skew", []))
    v = {
        "session.hygiene_s": total("hygiene_s", p["keys"]),
        "session.blocks_dropped": total("blocks_dropped", p["keys"]),
        # Bytes the key's tasks read through Hadoop's file system, in every
        # phase: fixture scans and re-reads of staged tables alike.
        "tables.fs_read_mb": (ctr("construct", "input_bytes") +
                              ctr(res, "input_bytes")) / MB,
        "operators.construct_s": total("construct_s"),
        "operators.construct_self_s": sum(spans.self_s(r.get("construct_span")) for r in keys),
        "operators.construct_jobs": ctr("construct", "jobs"),
        "operators.construct_share": total("construct_s") / max(total("t_s"), 1e-9),
        "plans.plan_s": total("plan_s"),
        "plans.analysis_ms": total("analysis_ms"),
        "plans.optimize_ms": total("optimize_ms"),
        "plans.physical_ms": total("physical_ms"),
        "plans.nodes": total("nodes"),
        "plans.exchanges": total("exchanges"),
        "plans.unpartitioned_windows": total("unpartitioned_windows"),
        "plans.rdd_scans": total("rdd_scans"),
        "plans.topk_nodes": total("topk_nodes"),
        "exec.action_s": action_s,
        "exec.jobs": ctr(res, "jobs"),
        "exec.stages": ctr(res, "stages"),
        "exec.tasks": ctr(res, "tasks"),
        "exec.task_run_s": run_s,
        "exec.task_cpu_s": ctr(res, "cpu_ns") / 1e9,
        "exec.gc_s": ctr(res, "gc_ms") / 1e3,
        "exec.busy_ratio": run_s / max(action_s * cpus, 1e-9),
        "exec.sched_wait_s": ctr(res, "wait_ms") / 1e3,
        "exec.shuffle_write_mb": ctr(res, "shuffle_write") / MB,
        "exec.shuffle_read_mb": ctr(res, "shuffle_read") / MB,
        "exec.spill_mb": ctr(res, "spill") / MB,
        "exec.input_rows": ctr(res, "input_rows"),
        "exec.stage_skew_p90": skews[int(0.9 * (len(skews) - 1))] if skews else 0.0,
        "exec.task_failures": ctr(res, "task_failures"),
        "checkpoint.written_mb": p["checkpoint_bytes"] / MB,
        "checkpoint.files": float(p["checkpoint_files"]),
        "sink.write_s": total("sink_s"),
        "sink.files": total("files"),
        "sink.rows": ctr("sink", "output_rows"),
        "sink.written_mb": total("bytes") / MB,
    }
    return v


def per_layer(result, spans_list, sink):
    cpus = result["cpus"]
    counters = {c["span"]: c for c in result["counters"]}
    spans = Spans(spans_list)
    traced = [p for p in result["passes"] if p["traced"]]
    untraced = [p for p in result["passes"] if not p["traced"]]
    rows = [per_pass(p, counters, spans, cpus, sink) for p in traced]
    v = {k: median([r[k] for r in rows]) for k in rows[0]}
    setups = result["setups"]
    v["session.start_s"] = median([s["start_s"] for s in setups])
    v["session.warm_s"] = median([s["warm_s"] for s in setups])
    v["staging.written_mb"] = median([s["staging_bytes"] for s in setups]) / MB
    for f in FLOOR:
        v["floor." + f] = (result["floor_start"][f] + result["floor_end"][f]) / 2
    v["tables.resolve_ms"] = result["tables_resolve_ms"]
    v["trace.overhead_ratio"] = (median([p["wall_s"] for p in traced]) /
                                 max(median([p["wall_s"] for p in untraced]), 1e-9))
    return v, spans, traced


def coverage(spans, traced):
    """Share of each traced key span its phase children cover."""
    out = []
    for p in traced:
        for r in p["keys"]:
            d = spans.dur_s(r["key_span"])
            if d > 0:
                kids = sum(spans.dur_s(k["id"]) for k in spans.kids.get(r["key_span"], []))
                out.append(kids / d)
    return out


def self_times(spans, traced):
    """Total and self seconds per span name, over the traced key spans."""
    agg = {}
    stack = [r["key_span"] for p in traced for r in p["keys"]]
    while stack:
        sid = stack.pop()
        s = spans.by_id.get(sid)
        if not s:
            continue
        name = s["name"].split(" ")[0]
        t = agg.setdefault(name, [0.0, 0.0])
        t[0] += spans.dur_s(sid)
        t[1] += spans.self_s(sid)
        stack.extend(k["id"] for k in spans.kids.get(sid, []))
    n = max(len(traced), 1)
    return {k: (a / n, b / n) for k, a, b in
            ((k, v[0], v[1]) for k, v in agg.items())}


def summarize(result, wrong, peak_rss_mb, spans_list, trace, workload, sink):
    """Report lines plus the final record. Every failure is named; a key
    that threw contributes no time, and any failure or wrong key makes
    the run incorrect."""
    timed = result["passes"]
    untraced = [p for p in timed if not p["traced"]]
    fails = failures(timed)
    warm_fails = failures([s["warm"] for s in result["setups"]])
    failed_keys = sorted({r["key"] for r in fails + warm_fails})
    attempted = sum(len(p["keys"]) for p in timed)
    n_keys = len(result["keys"])
    lines = [f"workload {workload}: {n_keys} keys, seed {result['seed']}, "
             f"{len(untraced)} untraced + {len(timed) - len(untraced)} traced passes, "
             f"local[{result['cpus']}]"]
    for when in ("start", "end"):
        fl = result["floor_" + when]
        lines.append(f"floor {when}: " + ", ".join(f"{k}={fl[k]:.1f}" for k in FLOOR))
    e2e, label, n = end_to_end(result, untraced, peak_rss_mb)
    lines.append(f"key_tail_s is the {label} of {n} key samples")
    lines.append("timed passes (s): " + " ".join(f"{p['wall_s']:.3f}" for p in untraced))
    written = median([sum(r.get("bytes") or 0 for r in p["keys"] if r["ok"])
                      for p in untraced]) / MB
    lines.append(f"written_mb {written:.3f} MB")
    lines.append(f"failed_ratio {len(fails) / max(attempted, 1):.4f} "
                 f"({len(fails)}/{attempted}); failed keys: {failed_keys or 'none'}")
    lines.append(f"wrong_ratio {len(wrong) / max(n_keys, 1):.4f} "
                 f"({len(wrong)}/{n_keys}); wrong keys: {sorted(wrong) or 'none'}")
    for k, why in sorted(wrong.items()):
        lines.append(f"  wrong {k}: {why}")
    for r in fails + warm_fails:
        lines.append(f"  failed {r['key']}: {r.get('error')}")
    if trace:
        values, spans, traced = per_layer(result, spans_list, sink)
        units = PER_LAYER
        cov = coverage(spans, traced)
        lines.append(f"phase coverage of key spans: min {min(cov, default=0):.3f}, "
                     f"median {median(cov):.3f}")
        for name, (tot, own) in sorted(self_times(spans, traced).items()):
            lines.append(f"span {name}: {tot:.3f} s per pass, self {own:.3f} s")
    else:
        values, units = e2e, END_TO_END
    for name, unit in units:
        lines.append(f"{name} = {values[name]:.6g} {unit}")
    metrics = {name: {"value": values[name], "unit": unit} for name, unit in units}
    return {"lines": lines, "metrics": metrics, "attempted": attempted,
            "failed": len(fails),
            "correct": not fails and not warm_fails and not wrong}
