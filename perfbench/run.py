#!/usr/bin/env python3
"""The engine's end-to-end benchmark.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

One run builds the engine with the harness (once per source state), makes
the workload's seeded parquet fixture, starts one JVM at local[nproc] and
runs the workload's operations strictly one after another (closed loop,
one client): a cold pass, steady passes for at least `--seconds` and at
least MIN_PASSES of them, and a verification pass whose results are
compared with each operation's oracle SQL replayed in DuckDB. Each timed
operation materializes its complete result to Spark's `noop` sink (see
perfbench/src/main/scala/perfbench/Harness.scala). Two more JVMs are
started only to time session set-up.

The last stdout line is one JSON object {correct, attempted, failed,
metrics}: the end-to-end metrics with --trace 0, the per-layer metrics of
a separately traced set of passes with --trace 1. The line before it is
the run's full record (versions, fixture row counts and hashes, failures
by name, tail rules used, reconciliation, counter repeatability).

End-to-end metrics (all lower is better): setup_s (process start until
GraftSession.local returns, median of the run's set-ups), cold_pass_s
(first pass in the fresh JVM), pass_s (median steady pass), op_p50_s and
op_tail_s (single operations of the steady passes; a run has fewer than
the 21 samples the highest percentile with ten samples beyond it needs to
lie above the median, so the tail is the slowest operation's median wall
time), peak_rss_mb (VmHWM, under a heap and young generation of fixed
size; see HEAP). Failures (exceptions, guard violations, oracle
mismatches) are `failed` of `attempted` operation executions.

Per-layer metrics are sums per traced pass, medians over the traced
passes. Which end-to-end metric each layer should move, and where it is
busy (B) or nearly idle (I), as measured in one traced run per workload
(seed 21, local[4] on a 4-core x86 host that other tenants loaded; per-
pass sums, traced pass ~2.5 s warehouse, ~2.5 s curation, ~2.2 s
lake_lifecycle). On the same host unloaded every time is ~35% lower and
the shares are the same:

  queries.build_s                      pass_s            B lake_lifecycle 1.8 s, curation 1.1 s;
                                                           warehouse 0.6 s
  catalyst.plan_s                      op_p50_s          0.05 s on warehouse and curation (2% of a
                                                           pass), 0.02 s on lake_lifecycle
  spark.jobs/stages/tasks/job_busy_s/  pass_s, op_p50_s  driver_gap_s: B lake_lifecycle 1.1 s and
    driver_gap_s/failed_tasks                              warehouse 1.0 s (~40-50%); curation 0.9 s
  exec.task_run_s/task_cpu_s/gc_s/     pass_s            B curation (3.1 s, core_util 0.48);
    core_util                                              warehouse 1.0 s but ~1 task per stage
                                                           (core_util 0.17); I lake_lifecycle
  scan.files_mb/rows                   pass_s            B warehouse (9 MB, 0.57M rows);
                                                           I lake_lifecycle
  shuffle.write_mb/read_mb/            pass_s            B warehouse, curation (~2 MB);
    fetch_wait_s, exec.spill_mb                            I lake_lifecycle; no spill anywhere
  lake.*_ops/write_mb/write_amp        pass_s            B lake_lifecycle; I warehouse, curation
                                                           (reads only: the noop sink writes nothing)
  stream.*, microbatch_p50_s/tail_s    pass_s            B lake_lifecycle; I warehouse, curation

At these fixture sizes no workload keeps the four cores busy: the
executor layer is carried by curation, and warehouse is split between
single-task scan/shuffle stages and driver gaps.

Everything the run writes stays under perfbench/.work/: the build stamp
and classpath, the current fixture per workload, cached oracle results
per (fixture hash, operation), the last traced run's span file, and the
per-run scratch directory (java.io.tmpdir, Spark local and warehouse
dirs, lake scratch tables, results), which is deleted when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import gen  # noqa: E402
import oracle  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

# Candidate operations come from the engine's query registry
# (graft.SparkEntry.queries). Every family the workload stands for keeps at
# least one member; the lists are cut to fit a run's time budget. Why each
# workload was chosen is stated once, in BENCHMARK.json.
WORKLOADS = {
    "warehouse": ["q03_agg_q1", "q08_star_join", "q63_salted_join", "q73_zscore",
                  "q42_cube"],
    "curation": ["q34_simhash_pairs", "q35_ngram_jaccard", "q37_cosine_topk",
                 "q58_token_chunks", "q40b_image_decode"],
    "lake_lifecycle": ["q114_stream_cdc", "q90_compaction", "q80_versioned_read"],
}
# Steady passes at least, so pass_s is a true median. A pass takes 2-3.5 s
# on a 4-core host, so with run_seconds = 6 every run makes exactly this
# many and the medians of all runs are over the same passes.
MIN_PASSES = 3
SETUPS = 3              # session set-ups timed per run (the run's own JVM + 2)
# Heap of fixed size with a young generation of fixed size. Heap pages
# become resident only when first used, so the JVM's peak resident memory
# (VmHWM) is the young generation, which every run fills, plus the old
# generation's peak and the memory outside the heap: the parts the program's
# retained data drives. Left to G1, the heap and young sizes vary from run
# to run, which made VmHWM bimodal (1.05 vs 1.64 GB on one warehouse run).
HEAP = "2g"
YOUNG = "512m"
# A run JVM's budget after READY: a fixed allowance for the cold and
# verification passes plus twice its steady loop; the budget of any JVM
# to print READY.
JVM_BASE_S = 90
SETUP_TIMEOUT_S = 40
TAIL_BEYOND = 10        # samples a tail percentile must have beyond it
RECON_TOL_S = 0.002     # job timestamps have millisecond resolution
RECON_TOL_SHARE = 0.005

END_TO_END = {"setup_s": "s", "cold_pass_s": "s", "pass_s": "s", "op_p50_s": "s",
              "op_tail_s": "s", "peak_rss_mb": "MB"}
# Counters must repeat exactly across passes of one seed; the record says
# which did.
COUNTERS = ["spark.jobs", "spark.stages", "spark.tasks", "spark.failed_tasks",
            "scan.rows", "lake.list_ops", "lake.create_ops", "lake.rename_ops",
            "lake.delete_ops", "lake.status_ops", "stream.batches"]
PER_LAYER = {
    "queries.build_s": "s", "catalyst.plan_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.job_busy_s": "s", "spark.driver_gap_s": "s", "spark.failed_tasks": "count",
    "exec.task_run_s": "s", "exec.task_cpu_s": "s", "exec.gc_s": "s", "exec.core_util": "ratio",
    "scan.files_mb": "MB", "scan.rows": "count",
    "shuffle.write_mb": "MB", "shuffle.read_mb": "MB", "shuffle.fetch_wait_s": "s",
    "exec.spill_mb": "MB",
    "lake.list_ops": "count", "lake.create_ops": "count", "lake.rename_ops": "count",
    "lake.delete_ops": "count", "lake.status_ops": "count", "lake.write_mb": "MB",
    "lake.write_amp": "ratio",
    "stream.batches": "count", "stream.addbatch_s": "s", "stream.planning_s": "s",
    "stream.wal_s": "s", "stream.state_rows": "count", "stream.state_mb": "MB",
    "microbatch_p50_s": "s", "microbatch_tail_s": "s",
    "fail_ratio": "ratio", "trace_overhead": "ratio",
}
# Per-layer metrics that are a plain sum of the harness's per-operation values.
SUMMED = [m for m in PER_LAYER if m not in (
    "spark.driver_gap_s", "exec.core_util", "lake.write_amp", "microbatch_p50_s",
    "microbatch_tail_s", "fail_ratio", "trace_overhead")]

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg: str) -> None:
    print(msg, flush=True)


# ---------------------------------------------------------------- build

def source_stamp() -> str:
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def build() -> list:
    """Compile engine + harness with sbt once per source state."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        sys.exit("perfbench: the engine sources (src/main/scala) are missing")
    stamp = source_stamp()
    info = os.path.join(WORK, "build.json")
    if os.path.exists(info):
        with open(info) as f:
            b = json.load(f)
        if b["stamp"] == stamp:
            return b["classpath"]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.perf_counter()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"], cwd=HERE, env=env,
                       capture_output=True, text=True, timeout=840)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        sys.exit("perfbench: build failed")
    cp = lines[-1].strip().split(os.pathsep)
    os.makedirs(WORK, exist_ok=True)
    with open(info, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    log(f"build: {time.perf_counter() - t0:.1f} s (stamp {stamp})")
    return cp


# -------------------------------------------------------------- fixture

def fixture(workload: str, seed: int):
    """The workload's fixture for this seed; only the newest one is kept."""
    root = os.path.join(WORK, "fixtures")
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:8]
    d = os.path.join(root, f"{workload}-{seed}-{version}")
    mf = os.path.join(d, "manifest.json")
    if os.path.exists(mf):
        with open(mf) as f:
            m = json.load(f)
        if all(os.path.exists(os.path.join(d, f"{t}.parquet")) for t in m["tables"]):
            return d, m["tables"], None
    if os.path.isdir(root):
        for old in os.listdir(root):
            if old.startswith(workload + "-"):
                shutil.rmtree(os.path.join(root, old))
    t0 = time.perf_counter()
    tables = gen.generate(workload, seed, d)
    secs = time.perf_counter() - t0
    with open(mf, "w") as f:
        json.dump({"tables": tables, "generation_s": secs}, f)
    return d, tables, secs


# ------------------------------------------------------------------ JVM

def jvm(cp: list, scratch: str, args: list, trace: bool) -> list:
    opens = [x for p in JDK_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    props = [f"-Djava.io.tmpdir={scratch}", f"-Dspark.local.dir={scratch}/local",
             f"-Dspark.sql.warehouse.dir={scratch}/warehouse",
             f"-Dderby.system.home={scratch}",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    if trace:
        props.append("-Dspark.hadoop.fs.file.impl=perfbench.CountingFs")
    return (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Xmn{YOUNG}", "-XX:+UseG1GC",
             "-XX:G1PeriodicGCInterval=20000", "-XX:-UsePerfData"]
            + opens + props + ["-cp", os.pathsep.join(cp), "perfbench.Harness"] + args)


CHILDREN = []


def stop_children() -> None:
    """Kill and reap every JVM this run started that is still running."""
    for p in CHILDREN:
        if p.poll() is None:
            p.kill()
            p.wait()


def on_sigterm(signum, frame) -> None:
    stop_children()
    sys.exit(1)


def timed_jvm(cmd: list, scratch: str, logfile: str):
    """Start the JVM; return (seconds to READY, process)."""
    t0 = time.perf_counter()
    err = open(logfile, "ab")
    p = subprocess.Popen(cmd, cwd=scratch, stdout=subprocess.PIPE, stderr=err)
    CHILDREN.append(p)
    err.close()
    watchdog = threading.Timer(SETUP_TIMEOUT_S, p.kill)
    watchdog.start()
    line = p.stdout.readline()
    ready = time.perf_counter() - t0
    watchdog.cancel()
    if line.strip() != b"READY":
        p.kill()
        p.wait()
        raise RuntimeError(f"JVM did not become ready (see {logfile})")
    return ready, p


def finish(p, timeout: float) -> None:
    """Wait for the JVM to exit, at most `timeout` seconds."""
    try:
        p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        raise RuntimeError("JVM timed out")
    if p.returncode != 0:
        raise RuntimeError(f"JVM exited with {p.returncode}")


# -------------------------------------------------------------- metrics

def tail(values: list):
    """(value, percentile, samples): the highest percentile with at least
    TAIL_BEYOND samples beyond it; the maximum when there are too few."""
    s = sorted(values)
    n = len(s)
    if n <= TAIL_BEYOND:
        return (s[-1] if s else 0.0), 100.0, n
    i = n - TAIL_BEYOND - 1
    return s[i], 100.0 * (i + 1) / n, n


def layer_sums(ops: list) -> dict:
    alias = {"queries.build_s": "build_s", "catalyst.plan_s": "plan_s"}
    out = {m: sum(o[alias.get(m, m)] for o in ops) for m in SUMMED + ["scan.fixture_mb"]}
    out["spark.driver_gap_s"] = sum(o["wall_s"] - o["spark.job_busy_s"] for o in ops)
    return out


def per_layer(h: dict, cpus: int, untraced_pass_s: float) -> dict:
    traced = [p for p in h["passes"] if p["traced"]]
    sums = [layer_sums(p["ops"]) for p in traced]
    med = {m: statistics.median(s[m] for s in sums) for m in sums[0]}
    busy = med["spark.job_busy_s"]
    med["exec.core_util"] = med["exec.task_run_s"] / (busy * cpus) if busy else 0.0
    fx = med.pop("scan.fixture_mb")
    med["lake.write_amp"] = med["lake.write_mb"] / fx if fx else 0.0
    trig = [t for p in traced for o in p["ops"] for t in o["stream.trigger_s"]]
    med["microbatch_p50_s"] = statistics.median(trig) if trig else 0.0
    med["microbatch_tail_s"], mb_pct, mb_n = tail(trig) if trig else (0.0, 0.0, 0)
    med["trace_overhead"] = statistics.median(p["wall_s"] for p in traced) / untraced_pass_s
    repeat = {m: len({s[m] for s in sums}) == 1 for m in COUNTERS}
    return med, {"microbatch_tail_pct": mb_pct, "microbatch_samples": mb_n,
                 "traced_passes": len(traced),
                 "counters_repeat_exactly": sorted(m for m, r in repeat.items() if r),
                 "counters_vary": sorted(m for m, r in repeat.items() if not r)}


def reconcile(spans_file: str) -> dict:
    """Check every traced operation's spans against its wall time.

    build + plan + execute = op wall and job busy + driver gap = op wall hold
    by construction: the three phases are the adjacent intervals the harness
    timed, and driver gap is defined as op wall minus job busy. What is
    checked is that the jobs attributed to an operation lie inside it: each
    job span starts no earlier and ends no later than the operation, within
    the tolerance, so the union of job intervals (job busy) is part of the
    op wall and driver gap >= 0. The phase sum is checked too, to catch a
    span file written wrongly."""
    by_op = {}
    with open(spans_file) as f:
        for ln in f:
            s = json.loads(ln)
            by_op.setdefault(s["op_id"], []).append(s)
    worst_phase = worst_out = 0.0
    bad = []
    for spans in by_op.values():
        op = next(s for s in spans if s["kind"] == "op")
        wall = (op["end_ns"] - op["start_ns"]) / 1e9
        phases = sum(s["end_ns"] - s["start_ns"] for s in spans
                     if s["kind"] in ("build", "plan", "execute")) / 1e9
        tol = RECON_TOL_S + RECON_TOL_SHARE * wall
        worst_phase = max(worst_phase, abs(phases - wall))
        ok = abs(phases - wall) <= 1e-6
        for j in (s for s in spans if s["kind"] == "job"):
            # a job whose end was never seen is recorded with end < start
            out = max(op["start_ns"] - j["start_ns"], j["end_ns"] - op["end_ns"],
                      j["start_ns"] - j["end_ns"]) / 1e9
            worst_out = max(worst_out, out)
            ok = ok and out <= tol
        if not ok:
            bad.append(op["name"])
    return {"ops": len(by_op),
            "by_construction": "build + plan + execute = op wall (adjacent timed phases); "
                               "job busy + driver gap = op wall (gap := wall - busy)",
            "checked": "every job span inside its operation's span; phase sum = op wall",
            "tolerance": f"jobs: {RECON_TOL_S} s + {RECON_TOL_SHARE:.1%} of op wall; "
                         "phases: 1 us",
            "max_phase_error_s": worst_phase, "max_job_outside_op_s": worst_out,
            "violations": sorted(set(bad)), "ok": not bad}


# ------------------------------------------------------------------ run

def git_sha():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() if p.returncode == 0 else None
    except OSError:
        return None


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    ops = WORKLOADS[a.workload]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        why = next(w["why"] for w in json.load(f)["workloads"] if w["name"] == a.workload)
    signal.signal(signal.SIGTERM, on_sigterm)

    cp = build()
    fx_dir, tables, gen_s = fixture(a.workload, a.seed)
    fx_hash = gen.fixture_hash(tables)
    log(f"fixture: {a.workload} seed {a.seed} hash {fx_hash} "
        + (f"generated in {gen_s:.2f} s" if gen_s is not None else "reused")
        + " (not part of setup_s)")

    for old in os.listdir(WORK):  # left behind by runs that were killed
        if old.startswith("run-") and not os.path.exists(f"/proc/{old[4:]}"):
            shutil.rmtree(os.path.join(WORK, old), ignore_errors=True)
    scratch = os.path.join(WORK, f"run-{os.getpid()}")
    os.makedirs(scratch)
    out = os.path.join(scratch, "out")
    os.makedirs(out)
    logfile = os.path.join(scratch, "jvm.log")
    phases = {}
    t_phase = time.perf_counter()
    try:
        setups = []
        ready, p = timed_jvm(jvm(cp, scratch, ["run", fx_dir, out, str(a.seconds),
                                               str(a.trace), str(MIN_PASSES), ",".join(ops)],
                                 bool(a.trace)), scratch, logfile)
        setups.append(ready)
        finish(p, JVM_BASE_S + 2 * a.seconds * (2 if a.trace else 1))
        with open(os.path.join(out, "harness.json")) as f:
            h = json.load(f)
        phases["jvm_run_s"] = time.perf_counter() - t_phase
        for _ in range(SETUPS - 1):
            ready, p = timed_jvm(jvm(cp, scratch, ["setup"], False), scratch, logfile)
            setups.append(ready)
            finish(p, 10)
        phases["extra_setups_s"] = time.perf_counter() - t_phase - phases["jvm_run_s"]
        t_phase = time.perf_counter()
        verdict = oracle.check(fx_dir, fx_hash, a.workload, ops, os.path.join(out, "verify"),
                               os.path.join(out, "oracle_sql.json"),
                               os.path.join(WORK, "oracle"))
        phases["oracle_s"] = time.perf_counter() - t_phase
        for op, err in h["verify"].items():
            if err is not None:
                verdict[op] = f"verification pass failed: {err}"
    except (RuntimeError, OSError, ValueError) as e:
        sys.stderr.write(f"perfbench: {e}\n")
        try:
            with open(logfile) as f:
                sys.stderr.write(f.read()[-3000:])
        except OSError:
            pass
        return 1
    finally:
        stop_children()
        spans_src = os.path.join(out, "spans.jsonl")
        keep = os.path.join(WORK, f"spans-{a.workload}.jsonl")  # the last traced run's
        if os.path.exists(spans_src):
            shutil.move(spans_src, keep)
        shutil.rmtree(scratch, ignore_errors=True)

    # failures: exceptions, guard violations and oracle mismatches
    passes = h["passes"]
    attempted = sum(len(p["ops"]) for p in passes)
    failed_ops = {}
    failed = 0
    for p in passes:
        for o in p["ops"]:
            why = o["error"] or o["guard"]
            if why is None and verdict.get(o["op"]) != "ok":
                why = verdict.get(o["op"])
            if why is not None:
                failed += 1
                failed_ops.setdefault(o["op"], why)
    for op, v in verdict.items():
        if v != "ok":
            failed_ops.setdefault(op, v)
    correct = not failed_ops

    steady = [p for p in passes if p["pass"] > 0 and not p["traced"]]
    walls = [o["wall_s"] for p in steady for o in p["ops"]]
    pass_s = statistics.median(p["wall_s"] for p in steady)
    op_wall = {op: statistics.median(o["wall_s"] for p in steady for o in p["ops"]
                                     if o["op"] == op) for op in ops}
    e2e = {"setup_s": statistics.median(setups), "cold_pass_s": passes[0]["wall_s"],
           "pass_s": pass_s, "op_p50_s": statistics.median(walls),
           "op_tail_s": max(op_wall.values()),
           "peak_rss_mb": h["peak_rss_mb"]}
    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "why": why,
        "nproc": h["cpus"], "java_version": h["java_version"], "jvm": h["jvm"],
        "spark_version": h["spark_version"], "scala_version": h["scala_version"],
        "git_sha": git_sha(), "source_stamp": source_stamp(),
        "load": f"closed loop, 1 client, local[{h['cpus']}], heap {HEAP}, young {YOUNG}",
        "fixture": {"hash": fx_hash, "generation_s": gen_s, "tables": tables},
        "ops": ops, "steady_passes": len(steady), "setups_s": setups, "phases": phases,
        "pass_walls_s": [p["wall_s"] for p in passes], "pool_peak_mb": h["pool_peak_mb"],
        "op_tail_rule": f"slowest operation's median over {len(steady)} steady passes; "
                        f"with {len(walls)} single-operation samples a percentile with "
                        f"{TAIL_BEYOND} beyond it would not lie above the median",
        "fail_ratio": failed / attempted, "failed_ops": failed_ops,
        "oracle": verdict, "end_to_end": e2e,
        "op_wall_s": op_wall,
    }
    if a.trace:
        layers, extra = per_layer(h, h["cpus"], pass_s)
        layers["fail_ratio"] = failed / attempted
        rec = reconcile(keep)
        record.update(per_layer=layers, trace=extra, reconciliation=rec, spans=keep)
        correct = correct and rec["ok"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    for k in END_TO_END:
        log(f"{k:>14} {e2e[k]:12.4f}")
    log(f"{'fail_ratio':>14} {failed / attempted:12.4f}  ({failed}/{attempted} failed)")
    log(f"oracle: {sum(v == 'ok' for v in verdict.values())}/{len(verdict)} match"
        + (f"; failed: {', '.join(sorted(failed_ops))}" if failed_ops else ""))
    log(json.dumps(record))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
