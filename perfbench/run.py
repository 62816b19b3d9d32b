#!/usr/bin/env python3
"""Benchmark of the CRM ETL pipeline library, one workload per run.

    python3 perfbench/run.py --workload cdc_merge --seed 1 --seconds 20 \
        --trace 0

Run from the repository root. It compiles the library (src/main/scala)
and the harness (perfbench/scala) with the Scala compiler that ships in
$SPARK_HOME/jars, generates the workload's inputs from the seed, runs the
harness on local[nproc] for the given seconds, checks the outputs, and
prints one JSON result as its last line: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1 (see BENCHMARK.json).
Every file a run writes lives under a fresh directory in .bench_run/,
removed on exit; compiled classes are kept in .bench_build/.
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
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

try:
    import checks  # noqa: E402  (imports tools/check.py)
except ImportError as e:
    sys.exit(f"perfbench: {e}: run from the repository root")
import gen  # noqa: E402
import stats  # noqa: E402

JVM_TIMEOUT_S = 165
# A fixed-size heap under the throughput collector: G1's adaptive sizing
# moved peak_rss_mb and cpu_s_per_op by 15-20 % from run to run.
JVM_HEAP = "4g"
WARM_BATCHES = 2
SETUP_REPS = 3
# the crm_history composition: q* registry entries whose only input is
# the events table, one or two per history-semantics family (see
# perfbench/README.md)
CRM_ENTRIES = (
    "q20_scd2_current", "q20b_scd2_current_agg",  # SCD2 current
    "q34_snapshot", "q59_snapshot_asof",  # as-of snapshots
    "q60_version_diff",  # version diff
    "q58_retention", "q62_cohort_retention",  # retention
    "q65_sessionize", "q37_session_window",  # sessionize
    "q61_funnel", "q64_funnel_timed",  # funnels
    "q68_interval_join", "q74_stream_enrich",  # time joins
    "q21_running_sum", "q22_lag_lead",  # windows
    "q36_tumbling_window", "q75_sliding_window",
    "q69_hll_incremental", "q96_kmv_overlap",  # sketches
)
# ...and two entries over the embeddings table that run the ml layer:
# a k-means fit through GenCheckpointer generations, and the served IVF
# index (written once per JVM, in the warm pass), both under
# Similarity.withRecall's eager localCheckpoint cuts
ML_ENTRIES = ("ns8b_sim_ivf_kmeans", "ns8d_sim_ivf_served")
ENTRIES = CRM_ENTRIES + ML_ENTRIES
# entries whose oracle pins FittedModels literals fitted on the sf0.01
# testdata: checked by their rows+recall gate instead
FITTED_PINNED = ("ns8b_sim_ivf_kmeans",)
CDC_PASS_BATCHES = 4
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]

E2E_UNITS = {
    "setup_s": "s", "events_per_s": "events/s", "pass_s": "s",
    "latency_p50_s": "s", "latency_tail_s": "s", "cpu_s_per_op": "s",
    "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "streaming.merge_probe_s": "s", "streaming.write_s": "s",
    "streaming.buckets_touched_ratio": "ratio",
    "streaming.write_amplification": "ratio",
    "streaming.coalesced_away": "count", "streaming.dead_lettered": "count",
    "etl.clean_s": "s", "etl.rejects": "count", "scd.flag_s": "s",
    "scd.history_rows": "count",
    "sources.files_read": "count", "sources.bytes_read": "bytes",
    "sources.files_written": "count", "sources.bytes_written": "bytes",
    "queries.construct_s": "s", "queries.construct_jobs": "count",
    "queries.execute_s": "s", "queries.execute_jobs": "count",
    "ml.persisted_rdds": "count", "ml.cached_bytes": "bytes",
    "engine.plan_s": "s", "engine.jobs": "count", "engine.stages": "count",
    "engine.tasks": "count", "engine.sched_idle_s": "s",
    "engine.exec_run_s": "s", "engine.exec_cpu_s": "s", "engine.gc_s": "s",
    "engine.shuffle_write_bytes": "bytes",
    "engine.shuffle_read_bytes": "bytes", "engine.spill_bytes": "bytes",
    "engine.task_skew": "ratio", "engine.failed_tasks": "count",
    "trace.overhead_ratio": "ratio", "trace.span_cover": "ratio"}
# per-layer metrics summed from a traced op's call spans. A cdc_merge
# batch is constructed by the four lazy calls and executed by the rest.
CALLS = {
    "streaming.merge_probe_s": ["mergeBatchPruned_s"],
    "streaming.write_s": ["writeMergedBuckets_s"],
    "queries.construct_s": ["construct_s", "route_s", "coalesceBatch_s",
                            "cleanItems_s", "rejects_s"],
    "queries.construct_jobs": ["construct_jobs", "route_jobs",
                               "coalesceBatch_jobs", "cleanItems_jobs",
                               "rejects_jobs"],
    "queries.execute_s": ["execute_s", "mergeBatchPruned_s",
                          "writeMergedBuckets_s", "sink.dlq_s",
                          "sink.rejects_s"],
    "queries.execute_jobs": ["execute_jobs", "mergeBatchPruned_jobs",
                             "writeMergedBuckets_jobs", "sink.dlq_jobs",
                             "sink.rejects_jobs"]}
# crm_history entries built on scd.Versioning; their operation time is
# that workload's scd.flag_s
SCD_ENTRIES = ("q20_scd2_current", "q20b_scd2_current_agg", "q34_snapshot",
               "q59_snapshot_asof", "q60_version_diff")


class Failed(Exception):
    """The benchmark cannot produce a result."""


def digest(paths):
    h = hashlib.sha256()
    for p in sorted(paths):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def scala_sources(root):
    out = []
    for base in ("src/main/scala", "perfbench/scala"):
        d = os.path.join(root, base)
        if not os.path.isdir(d):
            raise Failed(f"missing {base}: run from the repository root")
        for dp, _, fs in os.walk(d):
            out += [os.path.relpath(os.path.join(dp, f), root)
                    for f in fs if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        raise Failed("SPARK_HOME must point at a Spark distribution")
    return os.path.join(home, "jars", "*")


def build(root):
    """Compile library + harness when their sources changed; return the
    classes directory."""
    srcs = scala_sources(root)
    stamp = digest([os.path.join(root, s) for s in srcs])
    target = os.path.join(root, os.environ.get("CARGO_TARGET_DIR",
                                               ".bench_build"))
    classes = os.path.join(target, "perfbench-classes")
    stamp_file = os.path.join(target, "perfbench-classes.stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return classes, stamp
    os.makedirs(target, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="classes-", dir=target)
    jars = spark_jars()
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", jars, "scala.tools.nsc.Main",
           "-nowarn", "-classpath", jars, "-d", tmp] + srcs
    r = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(tmp, ignore_errors=True)
        sys.stderr.write(r.stdout[-4000:])
        raise Failed("compilation failed")
    shutil.rmtree(classes, ignore_errors=True)
    os.rename(tmp, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return classes, stamp


def git_commit(root):
    if not os.path.exists(os.path.join(root, ".git")):
        return None
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=root,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                           text=True)
        return r.stdout.strip() or None
    except OSError:
        return None


def generate(workload, seed, inputs):
    """Write the workload's inputs; return the generator state the
    checks need."""
    if workload == "cdc_merge":
        # two warm batches and at most a minute of 2 s batches
        return gen.write_cdc(seed, inputs, n_batches=32)
    import pyarrow.parquet as pq
    pq.write_table(gen.events_table(),
                   os.path.join(inputs, "events.parquet"))
    pq.write_table(gen.embeddings_table(),
                   os.path.join(inputs, "embeddings.parquet"))
    return None


def run_jvm(classes, run_dir, conf, deadline):
    jtmp = os.path.join(run_dir, "jvm")
    for d in ("spark-local", "warehouse", "tmp", "cwd"):
        os.makedirs(os.path.join(jtmp, d), exist_ok=True)
    cmd = ["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+UseParallelGC",
           "-Xss8m"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.local.dir={jtmp}/spark-local",
        f"-Dspark.sql.warehouse.dir={jtmp}/warehouse",
        f"-Djava.io.tmpdir={jtmp}/tmp",
        "-cp", f"{classes}{os.pathsep}{spark_jars()}", "perfbench.Harness",
    ] + [f"{k}={v}" for k, v in conf.items()]
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{jtmp}/spark-local")
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=f"{jtmp}/cwd", env=env,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise Failed("harness timed out")
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    res_path = os.path.join(conf["work"], "result.json")
    if not os.path.exists(res_path):
        sys.stderr.write(open(log_path).read()[-4000:])
        raise Failed(f"harness exited {proc.returncode} without a result")
    with open(res_path) as f:
        res = json.load(f)
    if "fatal" in res:
        sys.stderr.write(open(log_path).read()[-4000:])
        raise Failed("harness failed: " + res["fatal"])
    return res


def end_to_end(workload, res, ops, launch_t, events_per_op):
    walls = [o["wall_s"] for o in ops]
    tail_v, tail_p, tail_n = stats.tail(walls)
    size = len(ENTRIES) if workload == "crm_history" else CDC_PASS_BATCHES
    # launch_t precedes input generation, so this counts it once
    setup = (res["session_ready_ms"] / 1e3 - launch_t
             + statistics.median(res["prepare_s"]) + res["warm_s"])
    m = {
        "setup_s": setup,
        "events_per_s": sum(events_per_op(o) for o in ops) / res["window_s"],
        "pass_s": statistics.median(stats.passes(ops, size)),
        "latency_p50_s": statistics.median(walls),
        "latency_tail_s": tail_v,
        "cpu_s_per_op": res["cpu_s"] / len(ops),
        "peak_rss_mb": res["peak_rss_kb"] / 1024.0,
    }
    info = {"latency_tail_s": f"p{tail_p:.1f} of {len(walls)} ops, "
                              f"{tail_n} beyond"}
    return m, info


def per_layer(workload, res, ops):
    traced = [o for o in ops if o["traced"]]
    if not traced:
        raise Failed("a traced run needs at least one traced operation")

    def mean(f):
        return statistics.fmean(f(o["counters"]) for o in traced)

    m = {k: mean(lambda c: sum(c.get("call." + x, 0.0) for x in CALLS[k])
                 if k in CALLS else c.get(k, 0.0))
         for k in LAYER_UNITS}
    if workload == "crm_history":
        m["scd.flag_s"] = statistics.fmean(
            o["wall_s"] for o in traced if o["name"] in SCD_ENTRIES)
    else:
        m["streaming.buckets_touched_ratio"] = mean(
            lambda c: c["buckets_touched"]) / gen.N_BUCKETS
        m["streaming.write_amplification"] = mean(
            lambda c: c.get("call.writeMergedBuckets_out_bytes", 0.0)
            / c["batch_bytes"])
        m["scd.history_rows"] = float(res["finish"]["history_rows"])
    m["trace.overhead_ratio"] = stats.paired_overhead(ops)
    selfs = stats.self_times(res["spans"])
    m["trace.span_cover"] = statistics.fmean(
        1.0 - selfs[(o["i"], f"op{o['i']}")] / (o["wall_s"] * 1e9)
        for o in traced)
    return m


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_merge", "crm_history"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    root = os.getcwd()
    classes, src_hash = build(root)
    launch_t = time.time()
    runs = os.path.join(root, ".bench_run")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{a.workload}-", dir=runs)
    try:
        return measure(a, root, classes, src_hash, run_dir, launch_t)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(runs)
        except OSError:
            pass


def measure(a, root, classes, src_hash, run_dir, launch_t):
    inputs = os.path.join(run_dir, "inputs")
    work = os.path.join(run_dir, "work")
    os.makedirs(inputs)
    os.makedirs(work)
    state = generate(a.workload, a.seed, inputs)
    gen_s = time.time() - launch_t
    parquet = [os.path.join(dp, f) for dp, _, fs in os.walk(inputs)
               for f in fs if f.endswith(".parquet")]
    nproc = len(os.sched_getaffinity(0))
    conf = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
            "seed": a.seed, "cpus": nproc, "work": work, "inputs": inputs,
            "reps": SETUP_REPS, "warm": WARM_BATCHES,
            "buckets": gen.N_BUCKETS, "entries": ",".join(ENTRIES)}
    res = run_jvm(classes, run_dir, conf, launch_t + JVM_TIMEOUT_S)
    ops = res["ops"]
    if not ops:
        raise Failed("no timed operation ran")

    failed_ops = {o["i"] for o in ops if not o["ok"]}
    problems = [f"op {o['i']} {os.path.basename(o['name'])}: {o['err']}"
                for o in ops if not o["ok"]]
    if a.workload == "cdc_merge":
        hist, batches = state
        done = res["finish"]["batches_done"]
        bad = checks.check_cdc(res["finish"], hist, batches[:done])
        if bad:
            failed_ops = {o["i"] for o in ops}
            problems += bad
        sizes = {os.path.join(inputs, "batches", f"b{b:05d}.parquet"):
                 len(ev) for b, ev in enumerate(batches)}
        entries = []
        events_per_op = lambda o: sizes[o["name"]]  # noqa: E731
    else:
        with open(os.path.join(work, "gates.json")) as f:
            gates = json.load(f)
        gates.update({e: {"gate": "rows+recall"} for e in FITTED_PINNED})
        bad = checks.check_crm(gates, res["warm"],
                               os.path.join(work, "out"), inputs)
        failed_ops |= {o["i"] for o in ops if o["name"] in bad}
        problems += [f"{k}: {v}" for k, v in sorted(bad.items())]
        entries = sorted(ENTRIES)
        events_per_op = lambda o: (  # noqa: E731  input rows the entry reads
            gen.EMB_ROWS if o["name"] in ML_ENTRIES else gen.EVENTS_ROWS)

    prov = {
        "workload": a.workload, "nproc": nproc, "master": f"local[{nproc}]",
        "seed": a.seed, "git_commit": git_commit(root),
        "source_hash": src_hash, "inputs": "generated from the seed",
        "inputs_digest": digest(parquet),
        "inputs_newest_mtime": int(max(os.path.getmtime(p)
                                       for p in parquet)),
        "entries_n": len(entries),
        "entries_hash": hashlib.md5(",".join(entries).encode())
        .hexdigest()[:12] if entries else None,
        "generate_s": round(gen_s, 3),
        "trace": a.trace,
    }
    print("perfbench provenance " + json.dumps(prov, sort_keys=True))
    for p in problems:
        print("perfbench check FAILED " + p)

    if a.trace:
        values, units, info = per_layer(a.workload, res, ops), LAYER_UNITS, {}
    else:
        values, info = end_to_end(a.workload, res, ops, launch_t,
                                  events_per_op)
        units = E2E_UNITS
    for k, v in values.items():
        extra = f"  ({info[k]})" if k in info else ""
        print(f"perfbench metric {k} = {v:.6g} {units[k]}{extra}")
    print(f"perfbench metric error_rate = {len(failed_ops) / len(ops):.6g} "
          f"ratio  ({len(failed_ops)} of {len(ops)} ops)")
    metrics = {k: {"value": v, "unit": units[k]} for k, v in values.items()}
    correct = not problems
    print(json.dumps({"correct": correct, "attempted": len(ops),
                      "failed": len(failed_ops), "metrics": metrics}))
    return 0 if correct else 1


def _terminate(signum, _frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    try:
        sys.exit(main())
    except Failed as e:
        sys.stderr.write(f"perfbench: {e}\n")
        sys.exit(2)
