#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the runner and the
engine from source (``perfbench/build.sbt``); later runs reuse the build
while the sources are unchanged. Each run generates its inputs from the
seed under ``.bench_work/``, runs one workload in a fresh JVM, checks the
outputs, and prints one JSON line as the last line of standard output:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. See README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import oracle  # noqa: E402
import stats  # noqa: E402

CPUS = 4              # local[4]: the task slots every workload shares
HEAP = "2g"
SF = 0.01             # scale factor of the sweep's generated tables
SETUP_REPS = 3        # set-ups per run; setup_s is their median
PASSES = 200          # seeded query orders handed to the sweep client
MIN_PASSES = 4        # timed passes per run, at least
MIN_DAYS = 3          # timed ingest days per run, at least
INTERACTION_RATE = 2.5  # dashboard interactions per second (open loop),
                        # about 6 requests per second
DIRECT_REPLAY = 40    # requests replayed directly against StarServe (traced)
BUILD_TIMEOUT = 850
RUN_GRACE = 150       # seconds a run may take beyond --seconds
# Largest unaccounted layer time (stats.place) allowed per traced query
# or day, as a share of its wall.
RECONCILE_TOLERANCE = 0.01

# One query from each of 13 of the 15 query objects (two from
# ExtendedQueries): the planning- and scheduling-bound families first,
# then the corpus families whose kernels work above the floor.
QUERIES = [
    "q_filter_range", "q_join_inner_equi", "q_agg_group", "q_window_rank_topk",
    "q_json_extract", "q_regex_extract", "q_rsi", "q_funnel", "q_zorder_key",
    "q_dedup_exact", "q_ann_topk", "q_text_quality", "q_pack_sequences",
    "q_token_df",
]
# (artifact, the query whose first call builds it): every session memo
# the timed queries read. The first two are `Bench.prebuilt` artifacts;
# `Bench` builds the cached events scan in its first timed run instead.
# The runner fails a run in which a memo is first built after set-up.
PREBUILT = [("token_count_cache", "q_token_df"), ("embed_norms_cache", "q_ann_topk"),
            ("event_profile_cache", "q_json_extract")]
WORKLOADS = ["query_sweep", "daily_ingest_serve"]
# The query objects the sweep draws from (StarPipelineQueries and
# CorpusCleanQueries are left out; see README.md).
FAMILIES = ["CoreQueries", "JoinQueries", "AggQueries", "WindowQueries",
            "ScalarQueries", "SqlSurfaceQueries", "IndicatorQueries",
            "BehaviorQueries", "EtlQueries", "NorthStarQueries",
            "ExtendedQueries", "TrainPrepQueries", "CorpusStatsQueries"]
ARTIFACTS = [a for a, _ in PREBUILT]
# The tail percentile: the highest with at least ten samples beyond it
# at the sample counts a run produces (at least 40 on both workloads).
TAIL = 75
# Span names whose self time is reported: the sweep's query spans, then
# the daily workload's day spans; stages belong to both.
SPANS = ["plan.build", "plan.analysis", "plan.optimization",
         "plan.planning", "exec", "stage", "day", "ingest.fetch",
         "ingest.star_build", "ingest.rollup_publish", "ingest.snapshot_publish",
         "serve.refresh"]
INGEST_STEPS = ["ingest.fetch", "ingest.star_build", "ingest.rollup_publish",
                "ingest.snapshot_publish", "serve.refresh"]
ENDPOINTS = ["indexes", "bounds", "series", "chart", "latest"]
# End-to-end metrics a traced run also reports, as `traced.<name>`: set
# against the untraced runs' figures they give the tracing overhead.
TRACED = ["latency_p50_ms", "batch_p50_s"]

JVM_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build ------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the engine and the runner unless the sources are
    unchanged since the last build; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("engine sources not found: run from the root of a checkout")
    target = os.path.join(HERE, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(target, "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, SPARK_HOME=spark_home())
    env["SBT_OPTS"] = " ".join([
        env.get("SBT_OPTS", ""), "-Dsbt.server.autostart=false",
        f"-Dsbt.global.base={os.path.join(ROOT, '.bench_build', 'sbt-global')}"])
    log("building engine and runner (sbt writeClasspath)")
    t0 = time.time()
    os.makedirs(target, exist_ok=True)
    with open(os.path.join(target, "build.log"), "w") as out:
        rc = run_child(["sbt", "-batch", "writeClasspath"], HERE, env, out, BUILD_TIMEOUT)
    if rc != 0:
        raise SystemExit(f"build failed (exit {rc}); see {target}/build.log")
    log(f"built in {time.time() - t0:.0f} s")
    with open(stamp_file, "w") as f:
        f.write(stamp)
    with open(cp_file) as g:
        return g.read().strip()


def spark_home():
    """The Spark installation whose jars the engine compiles and runs
    against: SPARK_HOME, or the one `spark-submit` on the PATH belongs to."""
    home = os.environ.get("SPARK_HOME")
    submit = shutil.which("spark-submit")
    if not home and submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home:
        raise SystemExit("no Spark installation found: set SPARK_HOME")
    return home


def class_sharing():
    """JVM options for a class-data-sharing archive of the classes a run
    loads: the first run after a build writes it at exit, later runs map
    it, which takes seconds off every JVM start."""
    with open(os.path.join(HERE, "target", "source.stamp")) as f:
        archive = os.path.join(ROOT, ".bench_build", f"classes-{f.read()[:16]}.jsa")
    if os.path.exists(archive):
        return [f"-XX:SharedArchiveFile={archive}"]
    os.makedirs(os.path.dirname(archive), exist_ok=True)
    for old in glob.glob(os.path.join(os.path.dirname(archive), "classes-*.jsa")):
        os.remove(old)  # archives of earlier builds
    return [f"-XX:ArchiveClassesAtExit={archive}"]


def run_child(cmd, cwd, env, out, timeout):
    """Run a child in its own process group; on timeout kill the group
    and wait for it."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


# ---- inputs -----------------------------------------------------------

def make_inputs(workload, seed, seconds, work):
    if workload == "query_sweep":
        datagen.write_tables(seed, SF, os.path.join(work, "data"))
        datagen.write_json({"queries": QUERIES, "prebuilt": PREBUILT,
                            "passes": datagen.query_orders(seed, QUERIES, PASSES),
                            "min_passes": MIN_PASSES,
                            "setup_reps": SETUP_REPS},
                           os.path.join(work, "sweep.json"))
        return
    rows, econ = datagen.market(seed)
    with open(os.path.join(work, "market.csv"), "w") as f:
        f.writelines(",".join(map(str, r)) + "\n" for r in rows)
    with open(os.path.join(work, "econ.csv"), "w") as f:
        f.writelines(",".join(map(str, r)) + "\n" for r in econ)
    last_hist = max(r[0] for r in rows if r[0] < datagen.LIVE_START.isoformat())
    inter = datagen.interactions(seed, INTERACTION_RATE, seconds + 120,
                                 datagen.dt.date.fromisoformat(last_hist))
    datagen.write_json({"live_start": datagen.LIVE_START.isoformat(),
                        "setup_reps": SETUP_REPS, "min_days": MIN_DAYS, "interactions": inter,
                        "direct_replay": DIRECT_REPLAY},
                       os.path.join(work, "daily.json"))


# ---- metrics ----------------------------------------------------------

def ms(ns):
    return ns / 1e6


def host_metrics(res, load):
    return {"host.load_avg_1m": load, "host.floor_before_ms": res["floor_before_ms"],
            "host.floor_after_ms": res["floor_after_ms"]}


def setup_layers(res):
    setups = res["setups"]
    out = {"setup.session_s": stats.median([s["session_s"] for s in setups]),
           "setup.prebuilt_s": stats.median([sum(s["prebuilt_s"].values()) for s in setups]),
           "setup.warmup_s": res["warmup_s"],
           "setup.first_op_after_jvm_start_s": res["jvm_to_first_op_s"]}
    for a in ARTIFACTS + ["history_publish"]:
        out[f"setup.prebuilt.{a}_s"] = stats.median(
            [s["prebuilt_s"].get(a, 0.0) for s in setups])
    return out


def task_layers(groups, task_stats, floor_per_stage_ms, walls_ms):
    """Per-operation means of the Spark task counters of the traced
    operations (one job group each)."""
    ts = [task_stats.get(g, {}) for g in groups]

    def per(key, scale=1.0):
        return stats.mean([t.get(key, 0) * scale for t in ts])
    stages = [t.get("stages", 0) for t in ts]
    excess = [max(0.0, w - s * floor_per_stage_ms) for w, s in zip(walls_ms, stages)]
    return {"exec.stages": per("stages"), "exec.tasks": per("tasks"),
            "exec.task_cpu_ms": per("cpu_ns", 1e-6), "exec.gc_ms": per("gc_ms"),
            "exec.floor_per_stage_ms": floor_per_stage_ms,
            "exec.floorline_excess_ms": stats.mean(excess),
            "shuffle.write_mb": per("shuffle_write", 1 / 1048576),
            "shuffle.read_mb": per("shuffle_read", 1 / 1048576),
            "scan.input_mb": per("input_bytes", 1 / 1048576)}


def end_to_end(res, lat, batches_s):
    # a failed operation reads as the longest wait a run allows
    return {"setup_s": stats.median([s["total_s"] for s in res["setups"]]),
            "latency_p50_ms": stats.finite(stats.median(lat), RUN_GRACE * 1e3),
            "latency_p75_ms": stats.finite(stats.percentile(lat, TAIL), RUN_GRACE * 1e3),
            "batch_p50_s": stats.median(batches_s),
            "retained_heap_mb": res["retained_heap_mb"]}


def self_layers(traces, problems):
    """Mean self time per span name over the given traces ``{id:
    spans}``. A trace whose unaccounted layer time exceeds the tolerance
    is a problem: its self times do not reconcile with its wall."""
    self_ms = {n: [] for n in SPANS}
    for tid, sp in traces.items():
        selfs, wall, lost = stats.self_times(sp)
        if lost > RECONCILE_TOLERANCE * wall:
            problems.append(f"{tid}: {ms(lost):.1f} ms of its layer time lies outside "
                            f"the span it belongs to (wall {ms(wall):.1f} ms)")
        for n in SPANS:
            self_ms[n].append(ms(selfs.get(n, 0.0)))
    return {f"self.{n}_ms": stats.mean(v) for n, v in self_ms.items()}


def attribution_problems(res, trace_ids, loop_window):
    """Stages the traced run could not attribute: jobs whose group is no
    trace (a thread the runner did not tag), and, when ``loop_window``,
    untagged stages that ran inside the timed loop."""
    known = set(trace_ids) | {"-"}
    out = [f"{res['task_stats'][g]['stages']} stages of job group {g} belong to no trace"
           for g in res["task_stats"] if g not in known]
    if loop_window:
        stray = [s for s in res["spans"] if s["name"] == "stage" and s["trace"] == "-"
                 and s["end"] > res["loop_start"] and s["start"] < res["loop_end"]]
        if stray:
            out.append(f"{len(stray)} stages in the timed loop belong to no query")
    return out


def sweep_metrics(res, trace, mismatched):
    ops = res["ops"]
    recs = [{"ok": o["ok"] and o["name"] not in mismatched,
             "latency": ms(o["end"] - o["start"])} for o in ops]
    acc = stats.account(recs)
    problems = []
    if stats.beyond(len(recs), TAIL) < 10:
        log(f"warning: only {len(recs)} query samples for p{TAIL}")
    passes = [(b["end"] - b["start"]) / 1e9 for b in res["batches"]]
    if not passes:
        problems.append("no complete pass in the measured time")
    e2e = end_to_end(res, acc["latencies"], passes)
    if not trace:
        return acc, problems, e2e
    # per-layer metrics: every query of a traced run is traced
    traced = [o for o in ops if o["ok"]]
    by_trace = stats.group_traces(res["spans"])
    problems += attribution_problems(res, [o["id"] for o in ops], loop_window=True)
    walls = [ms(o["end"] - o["start"]) for o in traced]
    floor = (res["floor_before_ms"] + res["floor_after_ms"]) / 2
    out = {"plan.build_ms": stats.mean([ms(o["build_end"] - o["start"]) for o in traced]),
           "exec.ms": stats.mean([ms(o["end"] - o["build_end"]) for o in traced])}
    for ph in ("plan.analysis", "plan.optimization", "plan.planning"):
        out[f"{ph}_ms"] = stats.mean([sum(ms(s["end"] - s["start"]) for s in by_trace[o["id"]]
                                          if s["name"] == ph) for o in traced])
    out.update(self_layers({f"{o['id']} ({o['name']})": by_trace[o["id"]] for o in traced},
                           problems))
    out.update(task_layers([o["id"] for o in traced], res["task_stats"], floor / 2, walls))
    runs = len(traced) / len(res["queries"])
    for f in FAMILIES:
        out[f"family.{f}.wall_s"] = sum(
            w for o, w in zip(traced, walls) if o["family"] == f) / 1e3 / runs
    for step in INGEST_STEPS:
        out[f"{step}_ms"] = 0.0
    out.update({"ingest.output_mb": 0.0, "ingest.files_written": 0.0,
                "serve.refresh_swaps": 0.0, "serve.http_ms": 0.0, "serve.cache_mb": 0.0,
                "serve.generator_late_ms": 0.0})
    out.update({f"serve.{ep}_ms": 0.0 for ep in ENDPOINTS})
    out.update({f"traced.{k}": v for k, v in e2e.items() if k in TRACED})
    return acc, problems, out


def daily_metrics(res, trace):
    reqs, days = res["requests"], res["days"]
    timed = [d for d in days if not d["warmup"]]
    recs = stats.interactions(reqs)
    acc = stats.account([dict(r, latency=ms(r["latency"])) for r in recs])
    acc["attempted"] += len(days)
    acc["failed"] += sum(1 for d in days if not d["ok"])
    problems = list(res["problems"])
    bad = [r for r in reqs if not r["ok"]]
    if bad:
        problems.append(f"{len(bad)} failed requests, first: {bad[0]['path']}: {bad[0]['problem']}")
    problems += [f"day {d['k']}: {d['err']}" for d in days if not d["ok"]]
    if not timed:
        problems.append("no ingest day in the measured time")
    if stats.beyond(len(recs), TAIL) < 10:
        log(f"warning: only {len(recs)} interactions for p{TAIL}")
    e2e = end_to_end(res, acc["latencies"], [(d["end"] - d["start"]) / 1e9 for d in timed])
    if not trace:
        return acc, problems, e2e
    # per-layer metrics: every timed day of a traced run is traced
    tdays = [d for d in timed if d["ok"]]
    out = {}
    for step in INGEST_STEPS:
        out[f"{step}_ms"] = stats.mean([ms(d["steps"].get(step, 0)) for d in tdays])
    out["ingest.output_mb"] = stats.mean([d["bytes_written"] / 1048576 for d in tdays])
    out["ingest.files_written"] = stats.mean([d["files_written"] for d in tdays])
    out["serve.refresh_swaps"] = res["swaps"]
    replay = res["replay"]
    for ep in ENDPOINTS:
        out[f"serve.{ep}_ms"] = stats.mean([ms(r["direct_ns"]) for r in replay if r["endpoint"] == ep])
    out["serve.http_ms"] = stats.mean([ms(r["http_ns"] - r["direct_ns"]) for r in replay])
    out["serve.cache_mb"] = res["cache_mb"]
    out["serve.generator_late_ms"] = stats.percentile(
        [ms(r["sent"] - r["due"]) for r in reqs if r["pos"] == 0], 99)
    # planning of the frames StarServe built for the replayed requests
    framed = [r for r in replay if r["phases"]]
    out["plan.build_ms"] = stats.mean([ms(r["build_ns"]) for r in framed])
    for ph in ("analysis", "optimization", "planning"):
        out[f"plan.{ph}_ms"] = stats.mean([r["phases"].get(ph, 0) for r in framed])
    walls = [ms(d["end"] - d["start"]) for d in tdays]
    out["exec.ms"] = stats.mean(walls)
    floor = (res["floor_before_ms"] + res["floor_after_ms"]) / 2
    out.update(task_layers([f"d{d['k']}" for d in tdays], res["task_stats"], floor / 2, walls))
    by_trace = stats.group_traces(res["spans"])
    problems += attribution_problems(res, [f"d{d['k']}" for d in days], loop_window=False)
    out.update(self_layers({f"d{d['k']}": by_trace[f"d{d['k']}"] for d in tdays}, problems))
    for f in FAMILIES:
        out[f"family.{f}.wall_s"] = 0.0
    out.update({f"traced.{k}": v for k, v in e2e.items() if k in TRACED})
    return acc, problems, out


# ---- main -------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.time()
    cp = build()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        make_inputs(args.workload, args.seed, args.seconds, work)
        load_before = os.getloadavg()[0]
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cmd = [java, f"-Xmx{HEAP}", *JVM_OPENS, *class_sharing(), "-Duser.timezone=UTC",
               f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
               "-Dlog4j2.configurationFile=classpath:graft-quiet-log4j2.properties",
               "-cp", cp, "perfbench.Main", "--workload", args.workload, "--work", work,
               "--seconds", str(args.seconds), "--trace", str(args.trace), "--cpus", str(CPUS)]
        with open(os.path.join(work, "runner.log"), "w") as out:
            rc = run_child(cmd, ROOT, dict(os.environ), out, args.seconds + RUN_GRACE)
        if rc != 0 or not os.path.exists(os.path.join(work, "result.json")):
            with open(os.path.join(work, "runner.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            raise SystemExit(f"runner failed (exit {rc})")
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)
        if args.trace:  # keep the spans of a traced run for later reading
            with open(os.path.join(ROOT, ".bench_work",
                                   f"spans-{args.workload}-{args.seed}.json"), "w") as f:
                json.dump(res["spans"], f)
        host = {"nproc": os.cpu_count(), "load_avg_at_start": load_before,
                "load_avg_at_end": list(os.getloadavg()),
                "floor_before_ms": res["floor_before_ms"],
                "floor_after_ms": res["floor_after_ms"]}
        if args.workload == "query_sweep":
            mismatched = dict(res.get("dump_errors", {}))
            problems_setup = [f"a memo was first built after set-up: {n}"
                              for n in res["cached_outside_setup"]]
            mismatched.update(oracle.compare(os.path.join(work, "data"),
                                             os.path.join(work, "results"),
                                             [n for n in QUERIES if n not in mismatched]))
            acc, problems, metrics = sweep_metrics(res, args.trace, mismatched)
            problems += problems_setup + [f"{q}: {p}" for q, p in sorted(mismatched.items())]
            failed_ops = [o for o in res["ops"] if not o["ok"]]
            problems += [f"{o['name']}: {o['err']}" for o in failed_ops[:5]]
        else:
            acc, problems, metrics = daily_metrics(res, args.trace)
        if args.trace:
            metrics.update(setup_layers(res))
            metrics.update(host_metrics(res, load_before))
        for p in problems[:20]:
            log(f"problem: {p}")
        host["wall_s"] = time.time() - t_start
        print(json.dumps({"host": host}))
        units = unit_map()
        correct = not problems and acc["failed"] == 0
        print(json.dumps({
            "correct": correct, "attempted": max(1, acc["attempted"]), "failed": acc["failed"],
            "metrics": {k: {"value": v, "unit": units.get(k, "")} for k, v in sorted(metrics.items())}}))
        sys.stdout.flush()
        if not correct:
            sys.exit(1)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def unit_map():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}


if __name__ == "__main__":
    main()
