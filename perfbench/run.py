#!/usr/bin/env python3
"""graft benchmark: one command, one output.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the harness (perfbench/build.sbt: the engine's sources plus
perfbench/src) on first use, runs one workload of `workloads.json` in one
fresh JVM (`perfbench.Harness`), checks every query's output against the
DuckDB oracle digests in `oracle_digests.json`, and prints one metric per
line (name, value, unit, sample count) followed by the result as one JSON
line:

    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}

`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones;
both are listed, with units, in the repo's BENCHMARK.json. The inputs are
the sf0.01 graft test tables in perfbench/data, the same for every seed, so
the oracle digests hold for all; the seed sets the query order of every
pass and the order of the function probes. Build stamp, run directories
and traces go under perfbench/.work/; sbt builds into perfbench/target.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
DATA = os.path.join(HERE, "data")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
sys.path.insert(0, HERE)
import canon  # noqa: E402

CPUS = min(4, os.cpu_count() or 1)
HEAP = "2g"
JVM_TIMEOUT_S = 165
# Hypervisor steal share above which a run's times are flagged as taken on
# a contended host.
STEAL_WARN = 0.05

END_TO_END = {"setup_s": "s", "pass_s": "s", "heap_floor_mb": "MB"}
FUNCTIONS = ("minhash_sig", "simhash_pack", "vec_simhash", "vec_dot",
             "poly_hash", "cdc_cuts", "pq_codes", "pq_adist")
PER_LAYER = {
    "session.build_s": "s",
    "tables.scan_s": "s", "tables.scan_tasks": "count",
    "spark.input_rows": "rows", "spark.input_bytes": "bytes",
    "tables.rows_in_per_row_out": "ratio",
    "operators.call_s": "s", "operators.action_s": "s",
    "operators.call_jobs": "count",
    "query_p50_s": "s", "query_tail_s": "s",
    **{f"artifact.{a}.{k}": "s"
       for a in ("edges", "pairs", "labels") for k in ("build_s", "read_s")},
    "artifact.dirs": "count", "artifact.bytes": "bytes",
    "artifact.dirs_left": "count",
    **{f"functions.{f}.ns_per_row": "ns/row" for f in FUNCTIONS},
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.task_ms_p50": "ms", "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s", "spark.task_overhead_s": "s",
    "spark.busy_frac": "ratio",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_read_bytes": "bytes",
    "spark.spill_bytes": "bytes", "spark.output_bytes": "bytes",
    "spark.gc_s": "s",
    "streaming.batches": "count", "streaming.input_rows": "rows",
    "streaming.trigger_s": "s", "streaming.wal_commit_s": "s",
    "streaming.state_rows": "rows",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "jvm.peak_rss_mb": "MB",
    "trace.overhead_frac": "ratio", "trace.unattributed_jobs": "count",
    "failed_frac": "ratio",
}

ADD_OPENS = [
    x for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")
    for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_json(path):
    with open(path) as f:
        return json.load(f)


def workloads():
    return {w["name"]: w for w in load_json(
        os.path.join(HERE, "workloads.json"))["workloads"]}


# ---- build ----------------------------------------------------------------

def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise BenchError("no SPARK_HOME and no spark-submit on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    return home


def build_inputs():
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for base in (os.path.join(HERE, "src"), os.path.join(ROOT, "src", "main")):
        for d, _, fs in os.walk(base):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compile harness + engine with sbt once per source state; return the
    runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        raise BenchError("engine sources (src/main/scala/graft) not found")
    h = hashlib.sha256()
    for f in build_inputs():
        with open(f, "rb") as fh:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0" + fh.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    log("building the harness with sbt")
    env = dict(os.environ, SPARK_HOME=spark_home())
    env.setdefault("COURSIER_MODE", "offline")
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.forcestart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        capture_output=True, text=True, timeout=850)
    lines = [ln for ln in r.stdout.splitlines() if ln.strip()]
    if r.returncode != 0 or not lines or "[error]" in lines[-1]:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise BenchError("sbt build failed")
    cp = lines[-1].strip()
    os.makedirs(WORK, exist_ok=True)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


# ---- inputs and oracle ----------------------------------------------------

def fingerprint():
    """Hash of the input tables, to tie the oracle digests to them."""
    h = hashlib.sha256()
    for name in TABLES:
        with open(os.path.join(DATA, f"{name}.parquet"), "rb") as f:
            h.update(name.encode() + b"\0" + f.read())
    return h.hexdigest()


def oracle():
    return load_json(os.path.join(HERE, "oracle_digests.json"))


def check_outputs(out_dir, queries, digests, threw=()):
    """Compare each query's dumped output with its oracle digest, skipping
    the queries that threw while dumping (already counted as failed).
    Returns ({query: reason} for mismatches, total rows out)."""
    import pandas as pd
    bad, rows = {}, 0
    for q in queries:
        if q in threw:
            continue
        files = sorted(glob.glob(os.path.join(out_dir, q, "*.parquet")))
        if not files:
            bad[q] = "no output"
            continue
        df = pd.read_parquet(files[0])
        rows += len(df)
        if canon.digest(df) != digests[q]["digest"]:
            bad[q] = f"output differs from the oracle ({len(df)} rows)"
    return bad, rows


# ---- one run --------------------------------------------------------------

def run_jvm(cp, wl, seed, seconds, trace, run_dir):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    cmd = [java(), *ADD_OPENS, f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           # No UI, so keep the status store's job history short: its
           # growth over a run would otherwise show in heap_floor_mb.
           "-Dspark.ui.retainedJobs=50", "-Dspark.ui.retainedStages=50",
           "-Dspark.ui.retainedTasks=500",
           "-Dspark.sql.ui.retainedExecutions=20",
           "-cp", cp, "perfbench.Harness", "--seed", str(seed),
           "--seconds", str(seconds), "--trace", str(trace),
           "--cpus", str(CPUS), "--run_dir", run_dir,
           "--queries", ",".join(wl["queries"]),
           "--tables", ",".join(wl["tables"]),
           "--data_dir", DATA]
    env = {k: v for k, v in os.environ.items()
           if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = tmp
    cpu0 = cpu_jiffies()
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                             stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            code = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    res_path = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(res_path):
        with open(os.path.join(run_dir, "jvm.log")) as f:
            lines = f.read().splitlines()
        first = [ln for ln in lines if "Exception" in ln or "Error" in ln]
        sys.stderr.write("\n".join(first[:10] + ["..."] + lines[-30:]) + "\n")
        raise BenchError("harness JVM " + (
            "timed out" if code is None else f"exited with {code}"))
    res = load_json(res_path)
    cpu1 = cpu_jiffies()
    if cpu0 and cpu1 and sum(cpu1) > sum(cpu0):
        res["steal_frac"] = (cpu1[7] - cpu0[7]) / (sum(cpu1) - sum(cpu0))
    return res


def cpu_jiffies():
    """Machine-wide CPU time counters (Linux /proc/stat), for the share of
    time the hypervisor gave to other guests during a run."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:9]]
    except OSError:
        return None


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """Highest nearest-rank percentile with at least 10 samples beyond it:
    (value, percentile)."""
    s = sorted(xs)
    n = len(s)
    if n <= 10:
        return (s[-1] if s else 0.0), 100
    p = (100 * (n - 10)) // n
    rank = max(1, -(-p * n // 100))
    return s[rank - 1], p


def self_times(spans):
    """Per-layer self time: span duration minus what its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        cover, end = 0, s["start_ns"]
        for c in sorted(kids.get(s["id"], []), key=lambda c: c["start_ns"]):
            lo, hi = max(c["start_ns"], end), min(c["end_ns"], s["end_ns"])
            if hi > lo:
                cover += hi - lo
                end = hi
        out[s["layer"]] = out.get(s["layer"], 0) + \
            (s["end_ns"] - s["start_ns"] - cover) / 1e9
    return out


def metrics_untraced(res):
    return {
        "setup_s": (res["setup_s"], 1, "JVM start to end of warm-up passes"),
        # A pass built from each query's median execution: with three to
        # five timed passes per run it spreads less across runs than the
        # median pass, which one slow execution can move.
        "pass_s": (sum(median(xs) for xs in res["by_query"].values()),
                   len(res["pass_s"]), "sum of per-query medians; passes " +
                   " ".join(f"{x:.2f}" for x in res["pass_s"])),
        "heap_floor_mb": (res["heap_floor_mb"], res["heap_samples"], "max"),
    }


def metrics_traced(res, rows_out, dirs_left, failed, attempted):
    pm = res["pass_metrics"]
    n = len(res["traced_pass_s"])
    m = {k: (v, n, "mean/traced pass") for k, v in pm.items()}
    for k, v in res["streaming"].items():
        m[k] = (v, 1, "streaming_dedup_replay probe")
    q = res["query_s"]
    t, p = tail(q)
    m["query_p50_s"] = (median(q), len(q), "all timed executions")
    m["query_tail_s"] = (t, len(q), f"p{p}")
    m["session.build_s"] = (res["session_build_s"], 1, "")
    m["tables.scan_s"] = (res["tables_scan_s"], 3, "median/table, summed")
    m["tables.scan_tasks"] = (res["tables_scan_tasks"], 1, "summed")
    m["tables.rows_in_per_row_out"] = (
        pm["spark.input_rows"] / max(rows_out, 1), n, f"{rows_out} rows out")
    for k, v in res["artifacts"].items():
        m[k] = (v, 1, "")
    m["artifact.dirs"] = (res["artifact_dirs"], 1, "")
    m["artifact.bytes"] = (res["artifact_bytes"], 1, "")
    m["artifact.dirs_left"] = (dirs_left, 1, "after exit")
    for f, v in res["functions_ns_per_row"].items():
        m[f"functions.{f}.ns_per_row"] = (v, 2, "fastest fn - fastest baseline")
    m["spark.task_ms_p50"] = (res["task_ms_p50"], n, "all traced tasks")
    m["jvm.gc_s"] = (res["jvm_gc_s"], 1, "whole run")
    m["jvm.jit_s"] = (res["jvm_jit_s"], 1, "whole run")
    m["jvm.peak_rss_mb"] = (res["jvm_peak_rss_mb"], 1, "VmHWM")
    plain, traced = median(res["plain_pass_s"]), median(res["traced_pass_s"])
    m["trace.overhead_frac"] = (
        traced / plain - 1 if plain else 0.0, n,
        f"{len(res['plain_pass_s'])} untraced passes")
    m["failed_frac"] = (failed / attempted, attempted, f"{failed} failed")
    return m


def run(wl_name, seed, seconds, trace):
    wls = workloads()
    if wl_name not in wls:
        raise BenchError(f"unknown workload {wl_name!r}; have {sorted(wls)}")
    wl = wls[wl_name]
    cp = build()
    orc = oracle()
    if fingerprint() != orc["fingerprint"]:
        raise BenchError(
            "input tables differ from the ones the oracle digests were "
            "computed on; rerun perfbench/oracle.py")
    run_dir = os.path.join(
        WORK, "runs", f"{wl_name}-s{seed}-t{trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        res = run_jvm(cp, wl, seed, seconds, trace, run_dir)
        bad, rows_out = check_outputs(
            os.path.join(run_dir, "out"), wl["queries"], orc["queries"],
            res["check_threw"])
        store = os.path.join(run_dir, "store")
        dirs_left = len([d for d in os.listdir(store)
                         if os.path.isdir(os.path.join(store, d))]) \
            if os.path.isdir(store) else 0
        if trace:
            spans = res.pop("spans")
            os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
            with open(os.path.join(
                    WORK, "traces", f"{wl_name}-s{seed}.spans.json"), "w") as f:
                json.dump(spans, f)
            for layer, secs in sorted(self_times(spans).items()):
                print(f"  self time {layer:<20} {secs:10.4f} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    return report(wl_name, seed, trace, res, bad, rows_out, dirs_left)


def report(wl_name, seed, trace, res, bad, rows_out, dirs_left):
    """Print one line per metric (name, value, unit, sample count) and
    return the result object."""
    attempted = res["attempted"]
    failed = res["threw"] + len(bad)
    for q, why in {**res["errors"], **bad}.items():
        log(f"FAILED {q}: {why}")
    if trace:
        m = metrics_traced(res, rows_out, dirs_left, failed, attempted)
        spec = PER_LAYER
    else:
        m = metrics_untraced(res)
        spec = END_TO_END
    print(f"workload={wl_name} seed={seed} trace={trace} cpus={CPUS} "
          f"attempted={attempted} failed={failed}")
    for name, unit in spec.items():
        v, n, note = m[name]
        print(f"  {name:<36} {v:>16.6g} {unit:<7} n={n} {note}")
    if not trace:
        print(f"  wall: timed window {res['timed_wall_s']:.2f} s, "
              f"check {res['check_wall_s']:.2f} s, "
              f"cpu steal {res.get('steal_frac', 0.0):.1%}")
        if res.get("steal_frac", 0.0) > STEAL_WARN:
            log(f"warning: cpu steal {res['steal_frac']:.1%} above "
                f"{STEAL_WARN:.0%}; times were taken on a contended host")
    for q, xs in sorted(res["by_query"].items()):
        print(f"  query {q:<30} {median(xs):>16.6g} s       n={len(xs)} median")
    out = {name: {"value": m[name][0], "unit": unit}
           for name, unit in spec.items()}
    return {"correct": failed == 0, "attempted": attempted,
            "failed": failed, "metrics": out}


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    try:
        result = run(a.workload, a.seed, a.seconds, a.trace)
    except (BenchError, OSError, KeyError, subprocess.SubprocessError) as e:
        log(f"error: {e}")
        return 2
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
