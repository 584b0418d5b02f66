"""Turns the harness's raw record into the benchmark's checks and metrics.

End-to-end metrics come from an untraced run; per-layer metrics from a
traced one, over the timed region only. Every per-layer figure is a sum
over the run's timed operations unless its name says otherwise.
"""
import json
import os

import stats

END_TO_END = [("latency_p50_s", "s"), ("wall_s", "s"), ("setup_s", "s")]

PER_LAYER = [
    ("operators.build_s", "s"), ("operators.build_jobs", "count"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"),
    ("catalyst.planning_s", "s"), ("catalyst.actions", "count"),
    ("codegen.compiles", "count"),
    ("scheduler.jobs", "count"), ("scheduler.stages", "count"),
    ("scheduler.tasks", "count"), ("scheduler.in_job_s", "s"),
    ("scheduler.driver_gap_s", "s"), ("scheduler.task_failures", "count"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.peak_mem_bytes", "bytes"), ("executor.spill_bytes", "bytes"),
    ("executor.skew", "ratio"),
    ("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
    ("shuffle.fetch_wait_s", "s"),
    ("ckpt.blocks", "count"), ("ckpt.bytes", "bytes"),
    ("io.read_bytes", "bytes"), ("io.write_bytes", "bytes"),
    ("io.files_written", "count"),
    ("streaming.add_batch_s", "s"), ("streaming.planning_s", "s"),
    ("streaming.commit_s", "s"), ("state.bytes", "bytes"),
    ("state.files", "count"),
    ("setup.session_s", "s"), ("setup.fixture_s", "s"),
    ("setup.fixtures", "count"),
    ("jvm.gc_pause_s", "s"),
    ("span.build_self_s", "s"), ("span.action_self_s", "s"),
    ("span.job_self_s", "s"),
    ("trace.wall_s", "s"), ("trace.overhead_ratio", "ratio"),
]


def check(workload, res, expected):
    """Per-operation verdicts: (failed flags, reasons). An operation fails
    on an error, on a write-once fixture built inside its timed call, or
    on output that differs from the stored expected value."""
    ops = res["ops"]
    failed, reasons = [], []
    exp = expected.get(workload, {})
    for i, op in enumerate(ops):
        why = None
        if op["error"]:
            why = f"error: {op['error'][:200]}"
        elif op["fixtures_created"]:
            why = f"fixture built in timed call: {op['fixtures_created']}"
        elif workload != "maintain":
            want = exp.get(op["name"])
            got = res["digests"][i]
            if want is None:
                why = "no expected value"
            elif got != want["digest"]:
                why = f"output {got} != expected {want['digest']}"
        failed.append(why is not None)
        reasons.append(why)
    if workload == "maintain" and not res["maintain"]["clusters_match"]:
        failed = [True] * len(ops)
        reasons = [r or "cluster map differs from the batch rebuild" for r in reasons]
    # planned operations the deadline cut off count as failed
    missing = res["planned"] - len(ops)
    failed += [True] * missing
    reasons += ["not run before the deadline"] * missing
    return failed, reasons


def _in(t, lo, hi):
    return lo <= t <= hi


def layers(res, untraced_wall):
    """Per-layer metrics from a traced run's record."""
    tr = res["trace"]
    ops = res["ops"]
    lo, hi = res["timed_start_ms"], res["timed_end_ms"]
    jobs = [j for j in tr["jobs"] if _in(j["start_ms"], lo, hi)]
    job_stages = {s for j in jobs for s in j["stages"]}
    stages = [s for s in tr["stages"] if s["stage"] in job_stages]
    actions = [a for a in tr["actions"] if _in(a["end_ms"], lo, hi)]
    prog = [p for p in tr["progress"] if _in(p["start_ms"], lo, hi)]
    blocks = [b for b in tr["blocks"] if _in(b["ms"], lo, hi)]
    m = {}
    m["operators.build_s"] = sum(o["build_s"] for o in ops)
    m["operators.build_jobs"] = sum(
        1 for o in ops for j in jobs
        if _in(j["start_ms"], o["start_ms"], o["build_end_ms"])
        and o["build_end_ms"] > o["start_ms"])
    for ph in ("analysis", "optimization", "planning"):
        m[f"catalyst.{ph}_s"] = sum(a[f"{ph}_ms"] for a in actions) / 1e3
    m["catalyst.actions"] = len(actions)
    m["codegen.compiles"] = res["counters"]["codegen_compiles"]
    m["scheduler.jobs"] = len(jobs)
    m["scheduler.stages"] = len(stages)
    m["scheduler.tasks"] = sum(s["tasks"] for s in stages)
    in_job = 0.0
    for o in ops:
        in_job += stats.union_length(
            [(j["start_ms"], j["end_ms"]) for j in jobs],
            o["start_ms"], o["end_ms"]) / 1e3
    op_wall = sum(o["wall_s"] for o in ops)
    m["scheduler.in_job_s"] = in_job
    m["scheduler.driver_gap_s"] = max(0.0, op_wall - in_job)
    m["scheduler.task_failures"] = sum(s["task_failures"] for s in stages)

    def tot(k):
        return sum(s.get(k, 0) for s in stages)
    m["executor.run_s"] = tot("run_ms") / 1e3
    m["executor.cpu_s"] = tot("cpu_ns") / 1e9
    m["executor.gc_s"] = tot("gc_ms") / 1e3
    m["executor.peak_mem_bytes"] = max([s["peak_mem_bytes"] for s in stages] or [0])
    m["executor.spill_bytes"] = tot("spill_bytes")
    skew = 1.0
    for s in stages:
        ts = [t for t in s["task_ms"] if t > 0]
        if len(ts) >= 2:
            skew = max(skew, max(ts) / stats.median(ts))
    m["executor.skew"] = skew
    m["shuffle.write_bytes"] = tot("shuffle_write_bytes")
    m["shuffle.read_bytes"] = tot("shuffle_read_bytes")
    m["shuffle.fetch_wait_s"] = tot("fetch_wait_ms") / 1e3
    m["ckpt.blocks"] = len(blocks)
    m["ckpt.bytes"] = sum(b["bytes"] for b in blocks)
    m["io.read_bytes"] = tot("input_bytes")
    m["io.write_bytes"] = tot("output_bytes")
    m["io.files_written"] = res["files_written"]
    m["streaming.add_batch_s"] = sum(p.get("addBatch", 0) for p in prog) / 1e3
    m["streaming.planning_s"] = sum(p.get("queryPlanning", 0) for p in prog) / 1e3
    m["streaming.commit_s"] = sum(p.get("walCommit", 0) + p.get("commitOffsets", 0)
                                  for p in prog) / 1e3
    st = res.get("maintain", {})
    m["state.bytes"] = st.get("state_bytes", 0)
    m["state.files"] = st.get("state_files", 0)
    setup = res["setup"]
    m["setup.session_s"] = setup["session_s"]
    m["setup.fixture_s"] = setup["fixture_s"]
    m["setup.fixtures"] = setup["fixtures"]
    m["jvm.gc_pause_s"] = res["counters"]["jvm_gc_ms"] / 1e3
    spans = build_spans(res, jobs, stages)
    m.update(self_times(spans))
    m["trace.wall_s"] = res["wall_s"]
    m["trace.overhead_ratio"] = res["wall_s"] / untraced_wall
    return m, spans


def build_spans(res, jobs, stages):
    """One span per operation; children: the builder call and the action;
    grandchildren: the jobs each started; then the jobs' stages. All spans
    of an operation share its id. Times are epoch milliseconds."""
    spans = []
    by_stage = {s["stage"]: s for s in stages}
    for o in res["ops"]:
        oid = o["id"]
        spans.append({"op": oid, "name": o["name"], "kind": "op", "parent": None,
                      "start": o["start_ms"], "end": o["end_ms"]})
        kids = [("build", o["start_ms"], o["build_end_ms"]),
                ("action", o["build_end_ms"], o["end_ms"])]
        for kind, s, e in kids:
            spans.append({"op": oid, "name": kind, "kind": kind, "parent": "op",
                          "start": s, "end": e})
        for j in jobs:
            if not _in(j["start_ms"], o["start_ms"], o["end_ms"]):
                continue
            parent = "build" if j["start_ms"] < o["build_end_ms"] else "action"
            spans.append({"op": oid, "name": f"job{j['job']}", "kind": "job",
                          "parent": parent, "start": j["start_ms"], "end": j["end_ms"]})
            for sid in j["stages"]:
                s = by_stage.get(sid)
                if s and s["start_ms"]:
                    spans.append({"op": oid, "name": f"stage{sid}", "kind": "stage",
                                  "parent": f"job{j['job']}",
                                  "start": s["start_ms"], "end": s["end_ms"]})
    return spans


def self_times(spans):
    """Self time per span kind: duration minus the time its children
    cover. An operation span is exactly its build and action children, so
    only those two and the jobs carry self time."""
    by_op = {}
    for s in spans:
        by_op.setdefault(s["op"], []).append(s)
    tot = {"build": 0.0, "action": 0.0, "job": 0.0}
    for ss in by_op.values():
        for s in ss:
            if s["kind"] in ("build", "action"):
                kids = [(c["start"], c["end"]) for c in ss
                        if c["kind"] == "job" and c["parent"] == s["kind"]]
            elif s["kind"] == "job":
                kids = [(c["start"], c["end"]) for c in ss if c["parent"] == s["name"]]
            else:
                continue
            tot[s["kind"]] += stats.self_time((s["start"], s["end"]), kids) / 1e3
    return {f"span.{k}_self_s": v for k, v in tot.items()}


def summarize(workload, res, checked, trace, untraced_wall):
    failed, reasons = checked
    lat = [o["wall_s"] for o in res["ops"]]
    p50, n, _ = stats.percentile(lat, 0.5)
    summary = {
        "workload": workload,
        "samples": n,
        "latency_p50_s": p50,
        "wall_s": res["wall_s"],
        "setup_s": res["setup"]["total_s"],
        "failed_share": sum(failed) / max(1, len(failed)),
        "host_steal_share": res.get("host_steal_share"),
        "fixture_guard_trips": sum(1 for o in res["ops"] if o["fixtures_created"]),
        "failures": sorted({r for r in reasons if r}),
    }
    if workload == "browse":
        p90, n90, beyond = stats.percentile(lat, 0.9)
        summary.update(latency_p90_s=p90, latency_p90_beyond=beyond)
        if beyond < stats.MIN_BEYOND:
            summary["failures"].append(f"p90 has only {beyond} samples above it")
    if workload == "maintain":
        mt = res["maintain"]
        summary["state_bytes_per_doc"] = mt["state_bytes"] / max(1, mt["live_docs"])
        summary["live_docs"] = mt["live_docs"]
    units = dict(END_TO_END + PER_LAYER)
    spans = None
    if trace:
        vals, spans = layers(res, untraced_wall)
        summary["tracing_overhead_ratio"] = vals["trace.overhead_ratio"]
        names = [k for k, _ in PER_LAYER]
    else:
        vals = summary
        names = [k for k, _ in END_TO_END]
    result = {
        "correct": not any(failed),
        "attempted": len(failed),
        "failed": sum(failed),
        "metrics": {k: {"value": vals[k], "unit": units[k]} for k in names},
    }
    return {"summary": summary, "result": result, "spans": spans}


SUMMARY_UNITS = {
    "samples": "count", "latency_p50_s": "s", "latency_p90_s": "s",
    "latency_p90_beyond": "count", "wall_s": "s", "setup_s": "s",
    "failed_share": "ratio", "host_steal_share": "ratio",
    "fixture_guard_trips": "count", "state_bytes_per_doc": "bytes/doc",
    "live_docs": "count", "tracing_overhead_ratio": "ratio",
}


def with_units(summary):
    """The summary as printed: each figure with its unit."""
    return {k: {"value": v, "unit": SUMMARY_UNITS[k]} if k in SUMMARY_UNITS else v
            for k, v in summary.items()}


def _artifact(work, workload, seed, seconds, trace):
    return os.path.join(work, "artifacts",
                        f"{workload}-s{seed}-n{seconds:g}-t{trace}.json")


def _stamp(work):
    p = os.path.join(work, "build.stamp")
    return open(p).read() if os.path.exists(p) else None


def save_artifact(work, workload, seed, seconds, trace, res, out):
    os.makedirs(os.path.join(work, "artifacts"), exist_ok=True)
    art = {"workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
           "stamp": _stamp(work), "summary": out["summary"],
           "result": out["result"], "config": res["config"],
           "machine": res["machine"], "setup": res["setup"], "ops": res["ops"],
           "spans": out["spans"], "corpus": out["corpus"]}
    with open(_artifact(work, workload, seed, seconds, trace), "w") as f:
        json.dump(art, f)


def load_untraced(work, workload, seconds):
    """Median wall_s of the untraced runs of this workload, size and build
    recorded in this checkout (every seed runs the same amount of work),
    or None."""
    walls = []
    d = os.path.join(work, "artifacts")
    for name in os.listdir(d) if os.path.isdir(d) else []:
        if not (name.startswith(f"{workload}-") and name.endswith(f"-n{seconds:g}-t0.json")):
            continue
        with open(os.path.join(d, name)) as f:
            art = json.load(f)
        if art.get("stamp") == _stamp(work):
            walls.append(art["summary"]["wall_s"])
    return stats.median(walls) if walls else None
