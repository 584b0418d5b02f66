#!/usr/bin/env python3
"""The repository benchmark: browse, bulk and maintain workloads.

    python3 perfbench/run.py --workload browse --seed 1 --seconds 15 --trace 0

Run from the repository root. The first run builds the engine and the
harness with sbt (offline) and writes the synthetic corpus; later runs
reuse both while the sources are unchanged. Each run launches one JVM
sized to the machine (cores = nproc, heap = half of MemTotal clamped to
2-8 GB, -Xms = -Xmx, pre-touched, the GC flags of build.sbt), executes
the seeded plan in a closed loop with one client, checks every output
outside the timed region, and prints one JSON object as its last line.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the
per-layer ones, from Spark's public listeners. The full record of a run
(spans, per-operation figures, config) is written under
perfbench/work/artifacts/ for perfbench/rollup.py.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
HARNESS = os.path.join(HERE, "harness")
RUN_LIMIT_S = 175.0

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in (
    "java.base/java.lang java.base/java.lang.invoke java.base/java.lang.reflect "
    "java.base/java.io java.base/java.net java.base/java.nio java.base/java.util "
    "java.base/java.util.concurrent java.base/java.util.concurrent.atomic "
    "java.base/sun.nio.ch java.base/sun.nio.cs java.base/sun.security.action "
    "java.base/sun.util.calendar").split()]
# build.sbt javaOptions: the GC regime is pinned independently of heap size
GC_FLAGS = ["-XX:MaxNewSize=4g", "-XX:G1HeapRegionSize=4m",
            "-XX:MinHeapFreeRatio=0", "-XX:MaxHeapFreeRatio=100",
            "-XX:MetaspaceSize=512m"]

# Each workload: its corpus (directory name, scale factor), the
# entries built during set-up, and the timed operations. `op_s` is the
# nominal cost of one timed operation on a 4-core machine; it sizes the
# run from --seconds (so a faster engine does the same work in less
# time) and is never measured. The browse entries are derived from
# entries.json by browse_entries().
WORKLOADS = {
    "browse": {
        "corpus": ("browse", 0.001),
        "op_s": 0.3,
    },
    "bulk": {
        "corpus": ("sf0.1", 0.1),
        "fixtures": [],
        "entries": [
            "llm_containment_join", "llm_dup_clusters", "llm_substring_dedup",
            "llm_bpe_vocab", "llm_decontaminate", "rel_q21_waiting"],
        "op_s": 3.0,
    },
    "maintain": {
        "corpus": ("sf0.1", 0.1),
        "fixtures": [],
        "seed_docs": 1000,
        "adds": 50,
        "dels": 10,
        "op_s": 10.0,
    },
}


def browse_entries(catalog):
    """The browse entries: from each family of the headline `ev_*`/`rel_*`
    entries, the one whose measured first-visit cost is the family's
    median (the lower middle one of an even family), plus every entry
    the catalog marks as always run. Returns (entries, fixtures): the
    write-once fixtures among them are built during set-up."""
    cost = catalog["first_visit_s"]
    chosen = []
    for _, names in sorted(catalog["families"].items()):
        ranked = sorted(names, key=lambda n: (cost[n], n))
        chosen.append(ranked[(len(ranked) - 1) // 2])
    chosen += [n for n in catalog["always"] if n not in chosen]
    return chosen, [n for n in chosen if n in catalog["fixtures"]]


def workload_spec(name):
    w = dict(WORKLOADS[name])
    if name == "browse":
        with open(os.path.join(HERE, "entries.json")) as f:
            w["entries"], w["fixtures"] = browse_entries(json.load(f))
    return w


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


# ---------------------------------------------------------------- build

def wait_group(p, timeout):
    """Waits for `p`; on timeout or interruption kills its whole process
    group (the JVMs it started) and waits for it before re-raising."""
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile engine + harness once per source state; return classpath."""
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources here: run from the repository root")
    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building engine and harness with sbt")
    build_log = os.path.join(WORK, "build.log")
    with open(build_log, "w") as out:
        p = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "package", "export Runtime/fullClasspath"],
            cwd=HARNESS, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            start_new_session=True)
        rc = wait_group(p, 800)
    with open(build_log) as f:
        lines = [line for line in f.read().splitlines() if line.strip()]
    if rc != 0 or not lines or ".jar" not in lines[-1]:
        fail(f"build failed (see {build_log})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


# ---------------------------------------------------------------- plans

def make_plan(workload, w, seed, seconds, rows):
    """The seeded operation sequence. The seed fixes the browse sequence,
    the bulk order and the maintain seed/add/delete split."""
    rng = random.Random(f"{workload}:{seed}")
    plan = {"workload": workload, "fixtures": list(w["fixtures"])}
    if workload == "maintain":
        plan.update(maintain_batches(
            w, rng, max(3, round(seconds / w["op_s"])), rows["documents"]))
        return plan
    k = len(w["entries"])
    rounds = max(1, round(seconds / (k * w["op_s"])))
    if workload == "browse":
        # at least ten samples above p90
        rounds = max(rounds, -(-stats.samples_needed(0.9) // k))
    plan["ops"] = []
    for _ in range(rounds):
        order = list(w["entries"])
        rng.shuffle(order)
        plan["ops"] += order
    return plan


def maintain_batches(w, rng, triggers, n_docs):
    """Seed store and per-trigger batches for `maintain`: a seeded split of
    the corpus documents into the store, fresh adds and deletes of stored
    ids; no id is added or deleted twice."""
    ids = list(range(n_docs))
    rng.shuffle(ids)
    seed_ids, fresh = ids[:w["seed_docs"]], ids[w["seed_docs"]:]
    batches = [{"adds": sorted(fresh[t * w["adds"]:(t + 1) * w["adds"]]),
                "dels": sorted(seed_ids[t * w["dels"]:(t + 1) * w["dels"]])}
               for t in range(triggers)]
    return {"maintain_seed": sorted(seed_ids), "triggers": batches}


# ---------------------------------------------------------------- launch

def cpu_ticks():
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    return v[7], sum(v)


def machine():
    cores = os.cpu_count() or 1
    try:
        cores = len(os.sched_getaffinity(0))
    except AttributeError:
        pass
    heap_g = 2
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                heap_g = min(8, max(2, int(line.split()[1]) // 2097152))
    return cores, heap_g


def run_jvm(cp, plan, run_dir, deadline_s, budget_s):
    cores, heap_g = machine()
    os.makedirs(run_dir)
    plan_path = os.path.join(run_dir, "plan.json")
    result_path = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    launch_ms = int(time.time() * 1000)
    with open(plan_path, "w") as f:
        json.dump(dict(plan, rundir=run_dir, cores=cores, launch_ms=launch_ms,
                       deadline_s=deadline_s), f)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", *ADD_OPENS, f"-Xms{heap_g}g", f"-Xmx{heap_g}g",
           "-XX:+AlwaysPreTouch", *GC_FLAGS, "-XX:-UsePerfData", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Harness",
           plan_path, result_path]
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = wait_group(p, budget_s)
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {budget_s:.0f} s; killed")
    if rc != 0 or not os.path.exists(result_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            tail = f.read()[-3000:]
        fail(f"harness failed (exit {rc}):\n{tail}")
    with open(result_path) as f:
        res = json.load(f)
    res["machine"] = {"cores": cores, "heap_g": heap_g}
    return res


# ---------------------------------------------------------------- main

def load_expected():
    with open(os.path.join(HERE, "expected.json")) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true",
                    help="run every entry once and rewrite expected.json")
    a = ap.parse_args(argv)
    # a terminated run still stops and reaps its JVM (see wait_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp = build()
    w = workload_spec(a.workload)
    manifest = gen.ensure_corpus(os.path.join(WORK, "data"), *w["corpus"])
    corpus = os.path.join(WORK, "data", w["corpus"][0])
    # the one-time build and corpus generation fall outside the run limit
    t_start = time.time()
    if a.record:
        import record
        record.record(a.workload, w, cp, corpus, run_jvm, WORK)
        return

    def one_run(trace):
        plan = make_plan(a.workload, w, a.seed, a.seconds, manifest["rows"])
        plan.update(corpus=corpus, trace=trace, record=0)
        run_dir = os.path.join(WORK, "runs",
                               f"{a.workload}-s{a.seed}-t{trace}-{os.getpid()}")
        shutil.rmtree(run_dir, ignore_errors=True)
        left = RUN_LIMIT_S - (time.time() - t_start)
        try:
            return run_jvm(cp, plan, run_dir,
                           deadline_s=max(5.0, left - 20.0), budget_s=left - 3.0)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    untraced = None
    if a.trace:
        # tracing overhead = traced wall_s against untraced runs of the same
        # size: reuse those recorded in this checkout, else run one first
        untraced = metrics.load_untraced(WORK, a.workload, a.seconds)
        if untraced is None:
            untraced = one_run(0)["wall_s"]
    steal0, total0 = cpu_ticks()
    res = one_run(a.trace)
    steal1, total1 = cpu_ticks()
    # CPU time the hypervisor gave to other guests during the run: a high
    # share means host contention, not a code change, slowed this run
    res["host_steal_share"] = (steal1 - steal0) / max(1, total1 - total0)
    checked = metrics.check(a.workload, res, load_expected())
    out = metrics.summarize(a.workload, res, checked, a.trace, untraced)
    out["corpus"] = {"rows": manifest["rows"], "checksums": manifest["checksums"]}
    metrics.save_artifact(WORK, a.workload, a.seed, a.seconds, a.trace, res, out)
    print(json.dumps({"summary": metrics.with_units(out["summary"]),
                      "config": res["config"],
                      "corpus": out["corpus"]}, sort_keys=True))
    print(json.dumps(out["result"]))


if __name__ == "__main__":
    main()
