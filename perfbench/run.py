#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload cep-sql-batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark's JVM side from source (first run only), makes
the seeded inputs, runs the workload on a fresh JVM, checks every output and
prints each metric by name with its unit. The last stdout line is one JSON
object: `correct`, `attempted`, `failed` and `metrics` (the end-to-end
metrics, or with `--trace 1` the per-layer ones). See README.md for what
each workload and metric is for.
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

import datagen  # noqa: E402
import stats  # noqa: E402

ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
TARGET = os.path.join(HERE, "target")
RUN_LIMIT_S = 170  # every run must exit within 180 s; keep a margin

CEP_SQL_KEYS = [
    "q_window_tumbling", "q_window_sliding", "q_window_session",
    "q_window_rank", "q_agg_groupby", "q_join_3way", "q_join_asof",
    "q_join_interval_banded", "q_cep_seq", "q_cep_absence", "q_cep_times",
    "q_pattern_chain", "q_pattern_times", "q_pattern_skip",
    "q_pattern_permute3", "q_pattern_qmeasure", "q_measure_absent",
    "q_funnel", "q_dialect_qualify", "q_dialect_pivot"]
LLM_KEYS = [
    "q_lm_score", "q_dedup_resolve", "q_dedup_keepbest", "q_semdedup",
    "q_minhash_est_audit", "q_tfidf_pairs", "q_bm25", "q_rrf_fusion",
    "q_ann_ivfpq", "q_bpe_train", "q_pagerank", "q_embed_neardup"]
CHECKPOINT_KEYS = ["q_dedup_resolve", "q_pagerank", "q_rrf_fusion",
                   "q_tfidf_pairs"]
SHARED_CEP_KEYS = ["q_window_tumbling", "q_join_3way", "q_cep_seq",
                   "q_pattern_times"]

# A batch run makes round(seconds / pass_s) passes over its keys (at least
# MIN_PASSES), each in a seeded order, so --seconds fixes the work done;
# `pass_s` is about the length of one pass on a 4-core box. The stream's
# paced phase lasts 40% of --seconds; its drain rounds take about as long
# again.
MIN_PASSES = 2
WORKLOADS = {
    "cep-sql-batch": dict(mode="batch", keys=CEP_SQL_KEYS, pass_s=14.0),
    "llm-curation-batch": dict(
        mode="batch", keys=LLM_KEYS, pass_s=20.0,
        conf=["spark.sql.autoBroadcastJoinThreshold=-1"]),
    "shared-session": dict(mode="batch", keys=CHECKPOINT_KEYS + SHARED_CEP_KEYS,
                           clients=2, query_s=2.5),
    "cep-stream": dict(mode="stream", rate=2000, warm_events=1000, warm_s=4,
                       backlog=9500, drain_rounds=7),
}

E2E = [("setup_s", "s"), ("wall_s", "s"), ("query_p50_s", "s"),
       ("query_tail_s", "s"), ("queries_per_s", "1/s"), ("peak_rss_mb", "MB")]
STREAM_QUERIES = ["tumble", "absence", "runs"]
EXEC = ["wall_s", "jobs", "stages", "tasks", "task_s", "cpu_s", "gc_s",
        "parallel_eff", "sched_delay_s", "single_task_s", "skew",
        "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "input_mb"]
STREAM = ["batches", "batch_p50_s", "addBatch_s", "planning_s", "walCommit_s",
          "commitOffsets_s", "state_rows", "state_mb", "state_commit_s",
          "late_dropped", "rows_out"]
UNITS = {"_s": "s", "_mb": "MB", "_eff": "ratio", "skew": "ratio",
         "_events": "count"}


def fmt(v):
    return "n/a" if v is None else f"{v:.6f}"


def unit(name):
    return next((u for suffix, u in UNITS.items() if name.endswith(suffix)),
                "count")


PER_LAYER = (["tables.load_s", "queries.build_s", "queries.build_jobs",
              "queries.build_task_s", "queries.build_spill_mb",
              "plans.plan_s"] +
             [f"exec.{m}" for m in EXEC] +
             ["caching.release_s", "caching.tracked",
              "caching.storage_peak_mb", "caching.ckpt_failures"] +
             [f"stream.{q}.{m}" for q in STREAM_QUERIES for m in STREAM] +
             ["sources.append_s", "sources.getBatch_s",
              "sources.latestOffset_s", "sources.read_lag_events",
              "cq.submit_s", "gen.late_s", "gen.backlog_growth_events",
              "jvm.gc_s"])

ADD_OPENS = [f"--add-opens={p}=ALL-UNNAMED" for p in [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_digest():
    h = hashlib.sha256()
    for base in [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]:
        for d, _, files in sorted(os.walk(base)):
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(p[len(ROOT):].encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ["build.sbt", os.path.join("project", "build.properties")]:
        with open(os.path.join(HERE, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the engine and the JVM side with sbt unless the sources are
    unchanged since the last build. Returns the runtime classpath."""
    digest = sources_digest()
    stamp, cp = os.path.join(TARGET, "built.sha256"), os.path.join(
        TARGET, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp) and \
            open(stamp).read() == digest:
        return open(cp).read().strip()
    log("building the engine and the JVM side with sbt ...")
    os.makedirs(TARGET, exist_ok=True)
    with open(os.path.join(TARGET, "build.log"), "w") as out:
        r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true",
                            "compile", "writeClasspath"],
                           cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        sys.exit(f"build failed; see {os.path.join(TARGET, 'build.log')}")
    with open(stamp, "w") as f:
        f.write(digest)
    return open(cp).read().strip()


def paced_s(seconds):
    return max(1, round(seconds * 0.4))


def stream_events(w, seconds):
    return (w["warm_events"] + w["rate"] * (w["warm_s"] + paced_s(seconds))
            + w["drain_rounds"] * w["backlog"])


def sequences(w, seed, seconds):
    """Each client's fixed, seeded key sequence for the timed phase."""
    rng = random.Random(seed)
    if w.get("clients", 1) == 1:
        seq = []
        for _ in range(max(MIN_PASSES, round(seconds / w["pass_s"]))):
            keys = list(w["keys"])
            rng.shuffle(keys)
            seq += keys
        return [seq]
    n = max(4, round(seconds / w["query_s"]))
    return [[rng.choice(w["keys"]) for _ in range(n)]
            for _ in range(w["clients"])]


def run_jvm(args, w, classpath, data, work, deadline):
    raw = os.path.join(work, "raw.json")
    cmd = ["java"] + ADD_OPENS + [
        "-Xms4g", "-Xmx4g", "-Duser.timezone=UTC",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        "-cp", classpath, "perfbench.Main",
        "--mode", w["mode"], "--data", data, "--work", work, "--out", raw,
        "--cpus", str(args.cpus),
        "--trace", str(args.trace), "--conf", ",".join(w.get("conf", []))]
    if w["mode"] == "batch":
        cmd += ["--keys", ",".join(w["keys"]), "--clients",
                ";".join(",".join(s) for s in
                         sequences(w, args.seed, args.seconds))]
    else:
        cmd += ["--events", os.path.join(data, "stream.csv"),
                "--rate", str(w["rate"]), "--paced_s", str(paced_s(args.seconds)),
                "--warm_events", str(w["warm_events"]),
                "--warm_s", str(w["warm_s"]),
                "--backlog", str(w["backlog"]),
                "--drain_rounds", str(w["drain_rounds"])]
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    steal0 = steal_s()
    launch = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            rc = proc.wait(timeout=max(10.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            sys.exit(f"benchmark JVM ran past the time limit; see {work}/jvm.log")
        finally:  # also on SIGTERM: never leave the JVM behind
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(raw):
        sys.exit(f"benchmark JVM failed (exit {rc}); see {work}/jvm.log")
    with open(raw) as f:
        r = json.load(f)
    r["jvm_start_s"] = r["t0_epoch_ms"] / 1000.0 - launch
    r["steal_s"] = steal_s() - steal0
    r["run_s"] = time.time() - launch
    return r


def steal_s():
    """CPU time the hypervisor gave to other guests, summed over CPUs: the
    ambient canary, since it inflates every wall-clock figure."""
    with open("/proc/stat") as f:
        cpu = f.readline().split()
    return int(cpu[8]) / os.sysconf("SC_CLK_TCK") if len(cpu) > 8 else 0.0


# ---- end-to-end metrics ----------------------------------------------------

def setup_s(r):
    """JVM start, session start, table load, streaming conf and
    standing-query start, and the warm-up pass."""
    return r["jvm_start_s"] + r["setup"]["total_s"]


def batch_e2e(r, checks, n_keys, clients):
    """wall_s is the median pass (a pass runs the fixed key list once), or
    with several clients the whole timed phase; query_p50_s is the median
    over the keys of each key's median latency, and the tail is over every
    execution."""
    timed = r["ops"]
    good_keys = {c["name"] for c in checks if c["ok"]}
    by_key = {}
    for o in timed:
        if o["ok"]:
            by_key.setdefault(o["key"], []).append(
                o["build_s"] + o["plan_s"] + o["action_s"])
    lat = [x for xs in by_key.values() for x in xs]
    passes = stats.pass_walls(timed, n_keys)
    wall = r["timed"]["end"] - r["timed"]["start"]
    tail, pct = stats.tail(lat)
    correct = sum(1 for o in timed if o["ok"] and o["key"] in good_keys)
    return {"setup_s": setup_s(r),
            "wall_s": stats.median(passes) if clients == 1 else wall,
            "query_p50_s": stats.median([stats.median(xs)
                                         for xs in by_key.values()]),
            "query_tail_s": tail,
            "queries_per_s": correct / wall,
            "peak_rss_mb": r["peak_rss_mb"]}, {
        "tail_percentile": pct, "latency_samples": len(lat),
        "pass_walls_s": [round(x, 4) for x in passes]}


def timed_batches(r):
    """Data-carrying micro-batches of the paced and drain phases, by query."""
    t = r["timed"]
    out = {q: [] for q in STREAM_QUERIES}
    for p in r["progress"]:
        if p["input_rows"] > 0 and t["start"] <= p["start"] <= t["drain_end"]:
            out[p["query"]].append(p)
    return out


def paced_batches(r):
    """Micro-batches that started and ended inside the paced phase."""
    end = r["timed"]["paced_end"]
    return sorted((p for ps in timed_batches(r).values() for p in ps
                   if stats.batch_end(p) <= end), key=lambda p: p["start"])


def stream_e2e(r):
    t = r["timed"]
    paced = [a for a in r["appends"] if a["phase"] == "paced"]
    by_query = {q: [p for p in r["progress"] if p["query"] == q]
                for q in STREAM_QUERIES}
    fresh, misses = stats.freshness(paced, by_query)
    drains = [stats.drain_s(d, by_query.values()) for d in t["drains"]]
    drain = stats.trimmed_mean(drains)
    eps = t["backlog"] / drain
    tail, pct = stats.tail(fresh)
    late = max((a["start"] - a["sched"] for a in paced), default=0.0)
    batches = paced_batches(r)
    growth = stats.backlog_growth(
        [stats.read_lag(r["appends"], p) for p in batches])
    over = late > 0.5 or growth > t["rate"]
    # an over-capacity paced phase has no freshness to report: its queries
    # did not keep up, so its figures measure the backlog, not the engine
    fresh_p50 = None if over else stats.p50(fresh)
    fresh_tail = None if over else tail
    return {"setup_s": setup_s(r), "wall_s": t["drain_end"] - t["start"],
            "query_p50_s": fresh_p50, "query_tail_s": fresh_tail,
            "queries_per_s": eps, "peak_rss_mb": r["peak_rss_mb"]}, {
        "stream_eps": eps, "fresh_p50_s": fresh_p50,
        "fresh_tail_s": fresh_tail, "tail_percentile": pct,
        "latency_samples": len(fresh), "uncovered_appends": misses,
        "drain_s": drain, "drain_rounds_s": [round(x, 4) for x in drains],
        "gen_late_s": late, "backlog_growth_events": growth,
        "over_capacity": over}


# ---- per-layer metrics (traced run) ----------------------------------------

def exec_metrics(stages, jobs, wall, cpus):
    run = sum(s.get("run_s", 0.0) for s in stages)
    mb = lambda k: sum(s.get(k, 0) for s in stages) / 1048576.0
    slowest = max(stages, key=lambda s: (s["end"] or 0) - (s["start"] or 0),
                  default=None)
    skew = 0.0
    if slowest and slowest["task_ms"]:
        med = stats.p50(slowest["task_ms"])
        skew = max(slowest["task_ms"]) / med if med > 0 else 0.0
    return {"wall_s": wall, "jobs": len(jobs), "stages": len(stages),
            "tasks": sum(s["tasks"] for s in stages), "task_s": run,
            "cpu_s": sum(s.get("cpu_s", 0.0) for s in stages),
            "gc_s": sum(s.get("gc_s", 0.0) for s in stages),
            "parallel_eff": run / (wall * cpus) if wall > 0 else 0.0,
            "sched_delay_s": sum(s["sched_delay_s"] for s in stages),
            "single_task_s": sum((s["end"] or 0) - (s["start"] or 0)
                                 for s in stages if s["tasks"] == 1),
            "skew": skew, "shuffle_read_mb": mb("shuffle_read_b"),
            "shuffle_write_mb": mb("shuffle_write_b"),
            "spill_mb": mb("spill_disk_b"), "input_mb": mb("input_b")}


def layers(r, cpus):
    m = {k: 0.0 for k in PER_LAYER}
    m["tables.load_s"] = r["setup"]["tables_load_s"]
    m["jvm.gc_s"] = r["timed"]["gc_s"]
    stages, jobs = r["stages"], r["jobs"]
    if r["mode"] == "batch":
        timed = r["ops"]
        ids = {o["op"] for o in timed}

        def in_layer(group, layer):
            op, _, name = group.rpartition("/")
            return name == layer and op in ids
        b_st = [s for s in stages if in_layer(s["group"], "build")]
        a_st = [s for s in stages if in_layer(s["group"], "action")]
        m.update({
            "queries.build_s": sum(o.get("build_s", 0.0) for o in timed),
            "queries.build_jobs": sum(1 for j in jobs
                                      if in_layer(j["group"], "build")),
            "queries.build_task_s": sum(s.get("run_s", 0.0) for s in b_st),
            "queries.build_spill_mb": sum(s.get("spill_disk_b", 0)
                                          for s in b_st) / 1048576.0,
            "plans.plan_s": sum(o.get("plan_s", 0.0) for o in timed),
            "caching.release_s": sum(o["release_s"] for o in timed),
            "caching.tracked": sum(o["tracked"] for o in timed),
            "caching.storage_peak_mb": max((o["storage_mb"] for o in timed),
                                           default=0.0),
            "caching.ckpt_failures": sum(
                1 for o in timed if not o["ok"] and "CHECKPOINT" in
                f"{o['error_class']} {o['error_msg']}")})
        ex = exec_metrics(a_st, [j for j in jobs if in_layer(j["group"], "action")],
                          sum(o.get("action_s", 0.0) for o in timed), cpus)
    else:
        t = r["timed"]
        runs = set(r["run_ids"])
        window = lambda x: x["start"] is not None and \
            t["start"] <= x["start"] <= t["drain_end"]
        batches = timed_batches(r)
        dur = lambda p, k: p["durations_ms"].get(k, 0) / 1000.0
        for q, ps in batches.items():
            last = ps[-1] if ps else {}
            m.update({
                f"stream.{q}.batches": len(ps),
                f"stream.{q}.batch_p50_s": stats.p50(
                    [dur(p, "triggerExecution") for p in ps]) if ps else 0.0,
                f"stream.{q}.addBatch_s": sum(dur(p, "addBatch") for p in ps),
                f"stream.{q}.planning_s": sum(dur(p, "queryPlanning")
                                              for p in ps),
                f"stream.{q}.walCommit_s": sum(dur(p, "walCommit") for p in ps),
                f"stream.{q}.commitOffsets_s": sum(dur(p, "commitOffsets")
                                                   for p in ps),
                f"stream.{q}.state_rows": last.get("state_rows", 0),
                f"stream.{q}.state_mb": last.get("state_mem_b", 0) / 1048576.0,
                f"stream.{q}.state_commit_s": sum(p["state_commit_ms"]
                                                  for p in ps) / 1000.0,
                f"stream.{q}.late_dropped": sum(p["late_dropped"] for p in ps),
                f"stream.{q}.rows_out": sum(max(0, p["rows_out"]) for p in ps)})
        allb = [p for ps in batches.values() for p in ps]
        paced = paced_batches(r)
        timed_appends = [a for a in r["appends"] if a["phase"] in
                         ("paced", "drain")]
        _, extra = stream_e2e(r)
        m.update({
            "sources.append_s": sum(a["end"] - a["start"]
                                    for a in timed_appends),
            "sources.getBatch_s": sum(dur(p, "getBatch") for p in allb),
            "sources.latestOffset_s": sum(dur(p, "latestOffset") for p in allb),
            "sources.read_lag_events": max(
                (stats.read_lag(r["appends"], p) for p in paced), default=0),
            "cq.submit_s": r["setup"]["submit_s"],
            "gen.late_s": extra["gen_late_s"],
            "gen.backlog_growth_events": extra["backlog_growth_events"]})
        ex = exec_metrics(
            [s for s in stages if s["group"] in runs and window(s)],
            [j for j in jobs if j["group"] in runs and window(j)],
            sum(dur(p, "addBatch") for p in allb), cpus)
    m.update({f"exec.{k}": v for k, v in ex.items()})
    return m


BATCH_PHASES = ["latestOffset", "walCommit", "getBatch", "queryPlanning",
                "addBatch", "commitOffsets"]


def batch_spans(r, first_id):
    """One span per micro-batch with its durationMs phases as children,
    laid out in the order the micro-batch loop runs them."""
    out, nid = [], first_id
    for p in r.get("progress", []):
        if p["input_rows"] <= 0:
            continue
        bid, nid = nid, nid + 1
        out.append({"id": bid, "parent": 0, "name": "micro-batch",
                    "start": p["start"], "end": stats.batch_end(p),
                    "query": p["query"], "batch": p["batch"]})
        t = p["start"]
        for ph in BATCH_PHASES:
            d = p["durations_ms"].get(ph, 0) / 1000.0
            out.append({"id": nid, "parent": bid, "name": f"batch.{ph}",
                        "start": t, "end": t + d})
            nid, t = nid + 1, t + d
    return out


def per_key(r):
    """Per-key medians of the timed executions, for the trace file."""
    out = {}
    for o in r.get("ops", []):
        if o["ok"]:
            out.setdefault(o["key"], []).append(o)
    ph = ["build_s", "plan_s", "action_s", "release_s"]
    return {k: {"n": len(os), **{p: stats.p50([o[p] for o in os])
                                 for p in ph}}
            for k, os in sorted(out.items())}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    args.cpus = len(os.sched_getaffinity(0))
    signal.signal(signal.SIGTERM, lambda *_: sys.exit("terminated"))
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        sys.exit(f"engine sources not found under {ENGINE_SRC}; run from a "
                 "checkout of the repository")
    classpath = build()
    deadline = time.time() + RUN_LIMIT_S
    w = WORKLOADS[args.workload]
    work = os.path.join(TARGET, "runs",
                        f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    datagen.generate(data, args.seed, stream_events(w, args.seconds)
                     if w["mode"] == "stream" else 0)
    r = run_jvm(args, w, classpath, data, work, deadline - 15)

    if w["mode"] == "batch":
        import oracle
        checks = oracle.check(data, os.path.join(work, "out"), r["checks"])
        e2e, extra = batch_e2e(r, checks, len(w["keys"]),
                               w.get("clients", 1))
        attempted, failed, classes = stats.failures(r["ops"], checks)
        executions = r["ops"] + r["checks"]
    else:
        executions = []
        checks = r["checks"]
        e2e, extra = stream_e2e(r)
        errors = list(r["errors"])
        if extra["over_capacity"]:
            errors.append({"error_class": "OVER_CAPACITY"})
        if extra["uncovered_appends"]:
            errors.append({"error_class": "UNCOVERED_APPENDS"})
        batches = [{"ok": True} for ps in timed_batches(r).values() for _ in ps]
        attempted, failed, classes = stats.failures(batches, checks, errors)
    # a run keeps only its raw record and JVM log: inputs, outputs and
    # Spark's scratch files would add up to gigabytes over many seeds
    for d in ["tmp", "data", "out", "local", "checkpoints", "warehouse"]:
        shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    for c in checks:
        if not c["ok"]:
            log(f"CHECK FAILED {c['name']}: {c.get('detail', '')}")
    for o in executions:
        if not o["ok"]:
            log(f"FAILED {o['op']} {o['key']} [{o['error_phase']}] "
                f"{o['error_class']}: {o['error_msg']}")
    for e in r.get("errors", []):
        log(f"FAILED {e['what']}: {e['error_class']}: {e['error_msg']}")
    correct = failed == 0 and all(c["ok"] for c in checks)
    print(f"workload {args.workload} seed {args.seed} seconds {args.seconds} "
          f"trace {args.trace} cpus {args.cpus}")
    print(f"checks: {sum(c['ok'] for c in checks)}/{len(checks)} outputs "
          f"correct")
    print(f"correct: {str(correct).lower()}")
    print(f"failed_share: {failed / attempted:.6f} ratio "
          f"({failed} of {attempted} operations)"
          + (f" by class {json.dumps(classes, sort_keys=True)}" if classes else ""))
    for k, u in E2E:
        print(f"{k}: {fmt(e2e[k])} {u}")
    t = r["timed"]
    timed_s = t.get("end", t.get("drain_end")) - t["start"]
    timed_steal = t["steal_ticks"] / os.sysconf("SC_CLK_TCK")
    print(f"  ambient: {r['steal_s']:.2f} s of CPU stolen by other guests "
          f"during the {r['run_s']:.1f} s JVM run "
          f"({r['steal_s'] / (r['run_s'] * args.cpus):.1%} of its CPU time), "
          f"{timed_steal:.2f} s during the {timed_s:.1f} s timed phase "
          f"({timed_steal / (timed_s * args.cpus):.1%})")
    for k, v in extra.items():
        print(f"  {k}: {v}")
    result_dir = os.path.join(TARGET, "results")
    os.makedirs(result_dir, exist_ok=True)
    stem = os.path.join(result_dir, f"{args.workload}-seed{args.seed}")
    with open(f"{stem}-trace{args.trace}.json", "w") as f:
        json.dump(e2e, f)

    if args.trace:
        metrics = layers(r, args.cpus)
        spans = r["spans"] + batch_spans(
            r, 1 + max((s["id"] for s in r["spans"]), default=0))
        t = r["timed"]
        timed_spans = [s for s in spans if t["start"] <= s["start"]
                       <= t.get("end", t.get("drain_end"))]
        trace_file = f"{stem}-trace.json"
        with open(trace_file, "w") as f:
            json.dump({"workload": args.workload, "seed": args.seed,
                       "per_layer": metrics,
                       "self_time_s": stats.self_times(timed_spans),
                       "per_key": per_key(r), "spans": spans,
                       "stages": r["stages"], "jobs": r["jobs"],
                       "progress": r.get("progress", [])}, f)
        print(f"trace file: {os.path.relpath(trace_file, ROOT)}")
        for k, v in sorted(stats.self_times(timed_spans).items()):
            print(f"  self time in the timed phase, {k}: {v:.4f} s")
        base = f"{stem}-trace0.json"
        if os.path.exists(base):
            untraced = json.load(open(base))
            for k, u in E2E:
                if e2e[k] is not None and untraced.get(k) is not None:
                    print(f"  tracing overhead {k}: {e2e[k] - untraced[k]:+.6f}"
                          f" {u} ({e2e[k] / untraced[k] - 1:+.2%})")
        else:
            print("  tracing overhead: run this seed with --trace 0 first")
        out = {k: {"value": metrics[k], "unit": unit(k)} for k in PER_LAYER}
    else:
        out = {k: {"value": e2e[k], "unit": u} for k, u in E2E}
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": out}))


if __name__ == "__main__":
    main()
