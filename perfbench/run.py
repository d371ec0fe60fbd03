#!/usr/bin/env python3
"""Engine benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness (`perfbench/build.sbt`, a source dependency on the root build);
later runs reuse the build while the sources are unchanged. Inputs are
generated from the seed (`gen.py`) and cached per seed; generation and
the build are excluded from every metric. Each run gets fresh temp,
Spark-local, warehouse and sink directories.

The harness JVM (`graft.perfbench.Main`) times set-up and a closed loop
of operations (one client) for `--seconds`, then checks its outputs.
This script adds the DuckDB oracle comparison for the query workloads,
and prints as its last line one JSON object: the end-to-end metrics
with `--trace 0`, the per-layer metrics with `--trace 1`. A full record
(host shape, samples, checks) is kept under `perfbench/.work/results/`,
with the spans of a traced run as JSONL next to it.
"""
import argparse
import hashlib
import json
import os
import platform
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

CPUS = os.cpu_count() or 1
HEAP = "3g"
JVM_FLAGS = [
    f"-Xmx{HEAP}", "-Xmn256m", "-XX:ReservedCodeCacheSize=512m",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]

# Query samples, pinned by name so a registry change cannot move them.
# `sample.py` chose them: one query per busy-share stratum of the whole
# family, with the family's executor-busy, planner+codegen and idle
# shares (see METRICS.md for the measurement).
REGISTRY_QUERIES = ["x31_temperature_mix", "e11_rfm", "x1_token_stats",
                    "v18_hard_negatives", "sql13_pareto", "d21_minhash_error",
                    "stor1_bucketed_join", "d12_novelty"]
LLM_QUERIES = ["d9_pagerank", "v15_ndcg", "v13_mips_lsh", "v20_silhouette",
               "v9_quantize_int8"]

# Each workload is a sequence of parts run in one JVM; a part's inputs
# live in its own subdirectory (`tables`, `weather`).
# `warmup` passes run untimed, inside the set-up. `registry-etl` times the
# first pass on a fresh JVM, as a scheduled job or `graft.Verify` runs
# it: its planner, codegen and JIT work is what that job pays. `llm-x4`
# times the executor once the JIT has compiled most of the task code:
# its first pass runs at two to three times the CPU of the second, and
# its wall varies by a fifth from run to run.
WORKLOADS = {
    "registry-etl": {
        "warmup": 0, "parts": ["queries", "weather"], "queries": REGISTRY_QUERIES,
        "tables": {"sf": 0.01, "docs": 500, "vecs": 500, "copies": 1},
        "weather": {"cities": 100, "loads": 3}},
    "llm-x4": {
        "warmup": 1, "parts": ["queries"], "queries": LLM_QUERIES,
        "tables": {"sf": 0.01, "docs": 1000, "vecs": 600, "copies": 4}},
}

END_TO_END = {"setup_s": "s", "wall_ref_s": "s", "cpu_ref_s": "s", "heap_peak_mb": "MB"}

# The reference kernel's CPU time per repetition (`HostSpeed`, nproc
# threads) that `*_ref_s` timings are scaled to: about its median on a
# quiet 4-cpu x86_64 VM. Only ratios between runs on one host shape mean
# anything.
REF_KERNEL_CPU_S = 0.27


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def call(cmd, timeout, **kw):
    """Run `cmd` in its own process group and wait for it; on timeout
    kill the whole group (sbt and the JVM it starts) and return None."""
    p = subprocess.Popen(cmd, start_new_session=True, stdin=subprocess.DEVNULL, **kw)
    try:
        p.wait(timeout=timeout)
        return p.returncode
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None


# ---- build -------------------------------------------------------------------

def _sources():
    """Every file the build reads: root build definition, engine sources,
    harness build and sources."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        files += [os.path.join(base, f) for f in sorted(os.listdir(base))
                  if f.endswith((".sbt", ".properties", ".scala"))]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, fs in sorted(os.walk(base)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    return files


def build():
    """Compile the engine and harness with sbt when their sources changed;
    returns the runtime classpath."""
    h = hashlib.sha256()
    for f in _sources():
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    bdir = os.path.join(WORK, "build")
    cp_file, stamp_file = os.path.join(bdir, "classpath"), os.path.join(bdir, "stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return open(cp_file).read()
    os.makedirs(bdir, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true")
    log("building engine and harness (sbt)")
    t0 = time.time()
    out_path = os.path.join(bdir, "sbt.log")
    with open(out_path, "w") as out:
        rc = call(["sbt", "--batch", "-Dsbt.log.noformat=true",
                   "export Runtime/fullClasspath"], 850, cwd=HERE, env=env,
                  stdout=out, stderr=subprocess.STDOUT)
    with open(out_path) as f:
        text = f.read()
    lines = [l for l in text.splitlines() if l.strip() and not l.startswith("[")]
    if rc != 0 or not lines:
        sys.stderr.write(text[-6000:])
        raise SystemExit("perfbench: build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f}s")
    return lines[-1].strip()


# ---- inputs ------------------------------------------------------------------

def inputs(name, seed):
    """Generate (once per seed) and return the workload's input dir."""
    import gen
    spec = WORKLOADS[name]
    # keyed on the generator's code and the workload's sizes too, so a
    # change to either never serves stale inputs
    with open(gen.__file__, "rb") as f:
        key = hashlib.sha256(f.read() + json.dumps(spec, sort_keys=True).encode())
    out = os.path.join(WORK, "inputs", name, f"seed{seed}-{key.hexdigest()[:12]}")
    if os.path.isdir(out):
        return out
    tmp = out + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    if "tables" in spec:
        gen.tables(os.path.join(tmp, "tables"), seed, **spec["tables"])
    if "weather" in spec:
        gen.forecasts(os.path.join(tmp, "weather"), seed, **spec["weather"])
    os.replace(tmp, out)
    return out


def params(name):
    """The harness's `--param`s: the parts, the warm-up pass count, the
    query list and the weather sizes."""
    spec = WORKLOADS[name]
    p = {"parts": ",".join(spec["parts"]), "warmup": spec["warmup"]}
    if "queries" in spec:
        p["queries"] = ",".join(spec["queries"])
    if "weather" in spec:
        p.update(spec["weather"])
    return p


# ---- checks ------------------------------------------------------------------

def oracle_check(data, out, queries):
    """Compare each query's written result with its DuckDB oracle under
    the repository's oracle rules (`tools/check_oracle.py`). Oracle
    results are cached next to the inputs they were computed from (so
    new inputs never meet old results), keyed by SQL text. Returns
    failure strings."""
    import duckdb
    import pandas as pd
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from check_oracle import TABLES, compare
    tables = os.path.join(data, "tables")
    with open(os.path.join(out, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    con.execute("SET threads=2")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
    cache = os.path.join(data, "oracle")
    os.makedirs(cache, exist_ok=True)
    failures = []
    for q in queries:
        if q not in oracles:
            failures.append(f"{q}: no oracle SQL")
            continue
        key = hashlib.sha256(oracles[q].encode()).hexdigest()[:16]
        path = os.path.join(cache, f"{q}-{key}.pkl")
        try:
            if os.path.exists(path):
                want = pd.read_pickle(path)
            else:
                want = con.execute(oracles[q]).fetchdf()
                want.to_pickle(path)
            got = con.execute(f"SELECT * FROM '{out}/{q}/*.parquet'").fetchdf()
            ok, msg = compare(got, want)
        except Exception as e:  # a failing oracle or unreadable output
            ok, msg = False, f"error: {e}"
        if not ok:
            failures.append(f"{q}: {msg}")
    return failures


# ---- metrics -----------------------------------------------------------------

def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile); the maximum when there are ten or fewer."""
    s = sorted(xs)
    k = max(len(s) - 11, 0) if len(s) > 10 else len(s) - 1
    return s[k], round(100.0 * (k + 1) / len(s), 1)


def med(rec, key, default=0.0):
    xs = rec["samples"].get(key)
    return statistics.median(xs) if xs else default


def scaled(rec, key):
    """The median over the timed passes of `key`, each pass scaled to the
    reference host speed: times the reference kernel's nominal CPU time
    over its CPU time right after that pass. The kernel's CPU time
    follows how fast the host runs a thread, not how much CPU it gives
    the VM (steal, other processes), which moves the kernel's wall more
    than a pass's: scaling by it corrects for the speed phases without
    overcorrecting for contention."""
    s = rec["samples"]
    return statistics.median(
        x * REF_KERNEL_CPU_S / ref for x, ref in zip(s[key], s["ref_cpu_s"]))


def end_to_end(rec):
    """The set-up (JVM start to the end of the warm-up pass), and the
    median over the timed passes of the wall time and CPU time, scaled
    to the reference host speed, and of the peak heap."""
    s = rec["samples"]
    return {"setup_s": s["setup_s"][0],
            "wall_ref_s": scaled(rec, "pass_s"), "cpu_ref_s": scaled(rec, "pass_cpu_s"),
            "heap_peak_mb": statistics.median(s["heap_peak_mb"])}


PER_LAYER = {
    "session.create_s": "s", "caches.build_s": "s",
    "queries.build_s": "s", "queries.build_jobs": "count",
    "planner.analysis_s": "s", "planner.optimize_s": "s", "planner.physical_s": "s",
    "codegen.compile_s": "s", "codegen.classes": "count",
    "scheduler.jobs": "count", "scheduler.stages": "count", "scheduler.tasks": "count",
    "scheduler.delay_s": "s", "scheduler.idle_s": "s",
    "executor.run_s": "s", "executor.cpu_s": "s", "executor.gc_s": "s",
    "executor.busy_frac": "frac",
    "shuffle.write_bytes": "bytes", "shuffle.read_bytes": "bytes",
    "shuffle.fetch_wait_s": "s", "shuffle.spill_bytes": "bytes",
    "sources.bytes_read": "bytes", "sources.rows_read": "count",
    "sinks.append_s.fact": "s", "sinks.append_s.weekly": "s",
    "sinks.append_s.humidity": "s", "sinks.read_s": "s",
    "sinks.files_written": "count", "sinks.bytes_written": "bytes",
    "pipeline.rows_in": "count", "pipeline.rows_appended": "count",
    "pipeline.new_frac": "frac", "pipeline.load_full_s": "s",
    "pipeline.load_inc_p50_s": "s", "pipeline.ingest_rows_per_s": "1/s",
    "storage.append_batch_ms": "ms", "storage.live_files_ms": "ms",
    "storage.plan_scan_ms": "ms", "storage.read_ms": "ms",
    "storage.checkpoint_ms": "ms", "storage.expire_ms": "ms",
    "storage.vacuum_ms": "ms", "storage.files_live": "count",
    "storage.log_bytes": "bytes", "storage.skip_frac": "frac",
    "storage.bytes_per_user_byte": "ratio",
    "jvm.gc_s": "s", "jvm.jit_s": "s", "host.steal_frac": "frac", "host.ref_cpu_s": "s",
    "self.session_s": "s", "self.caches_s": "s", "self.queries_s": "s",
    "self.spark_s": "s", "self.sources_s": "s", "self.pipeline_s": "s",
    "self.sinks_s": "s", "self.storage_s": "s",
    "trace.wall_ref_s": "s", "trace.op_p50_ms": "ms",
}


def per_layer(rec):
    c, s = rec["counters"], rec["samples"]
    v = {k: c.get(k, 0.0) for k in PER_LAYER}
    v["session.create_s"] = s["session_create_s"][0]
    # analysis of each built query frame plus that of each executed action
    v["planner.analysis_s"] += c.get("planner.build_analysis_s", 0.0)
    for sink in ("fact", "weekly", "humidity"):
        v[f"sinks.append_s.{sink}"] = sum(s.get(f"sinks.append_ms.{sink}", [])) / 1e3
    v["sinks.read_s"] = sum(s.get("sinks.read_ms", [])) / 1e3
    fact_rows = c.get("sinks.rows_written.fact", 0.0)
    v["pipeline.rows_appended"] = fact_rows
    v["pipeline.new_frac"] = fact_rows / c["pipeline.rows_in"] if c.get("pipeline.rows_in") else 0.0
    v["pipeline.load_full_s"] = med(rec, "full_load.ms") / 1e3
    v["pipeline.load_inc_p50_s"] = med(rec, "incremental_load.ms") / 1e3
    for k in ("append_batch", "live_files", "plan_scan", "read", "checkpoint",
              "expire", "vacuum"):
        key = "commit_ms" if k == "append_batch" else f"{k}_ms"
        v[f"storage.{k}_ms"] = med(rec, key)
    files = c.get("storage.plan_scan_files", 0.0)
    v["storage.skip_frac"] = c.get("storage.plan_scan_skipped", 0.0) / files if files else 0.0
    v["storage.bytes_per_user_byte"] = med(rec, "bytes_per_user_byte")
    for layer in ("session", "caches", "queries", "spark", "sources", "pipeline",
                  "sinks", "storage"):
        v[f"self.{layer}_s"] = c.get(f"self.{layer}", 0.0)
    v["host.ref_cpu_s"] = statistics.median(s["ref_cpu_s"])
    v["trace.wall_ref_s"] = scaled(rec, "pass_s")
    v["trace.op_p50_ms"] = med(rec, "op_ms")
    return v


def host_shape():
    mem = 0
    try:
        with open("/proc/meminfo") as f:
            mem = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
    except (OSError, StopIteration):
        pass
    return {"nproc": CPUS, "mem_gb": round(mem / 1048576), "jvm_flags": JVM_FLAGS[:4],
            "machine": platform.machine()}


# ---- main --------------------------------------------------------------------

def harness(workload, seed, seconds, trace, prm, timeout):
    """Build, generate the seed's inputs, and run the harness JVM once in
    fresh directories; returns (inputs dir, run dir, record).
    `timeout` counts from the end of the build."""
    cp = build()
    started = time.time()
    data = inputs(workload, seed)
    log(f"inputs ready at {time.time() - started:.1f}s")
    tag = f"{workload}-seed{seed}-trace{trace}-{os.getpid()}"
    run = os.path.join(WORK, "runs", tag)
    shutil.rmtree(run, ignore_errors=True)
    for d in ("tmp", "local", "out"):
        os.makedirs(os.path.join(run, d))
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    rec_path = os.path.join(run, "record.json")
    spans_path = os.path.join(results, f"{tag}.spans.jsonl")
    cmd = ["java", *JVM_FLAGS, f"-Djava.io.tmpdir={run}/tmp", "-cp", cp,
           "graft.perfbench.Main", "--workload", workload,
           "--seconds", str(seconds), "--trace", str(trace),
           "--cpus", str(CPUS), "--inputs", data, "--work", run,
           "--out", rec_path, "--spans", spans_path]
    for k, v in prm.items():
        cmd += ["--param", f"{k}={v}"]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run, "local"))
    log_path = os.path.join(run, "jvm.log")
    with open(log_path, "w") as lf:
        rc = call(cmd, timeout - (time.time() - started), env=env, stdout=lf,
                  stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.exists(rec_path):
        with open(log_path) as f:
            sys.stderr.write(f.read()[-6000:])
        raise SystemExit("perfbench: harness run failed")
    log(f"harness done at {time.time() - started:.1f}s")
    with open(rec_path) as f:
        rec = json.load(f)
    return data, run, rec


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: run from a checkout of the engine "
                         "(build.sbt and src/main/scala not found)")
    # the 170 s budget of a run starts after the build
    data, run, rec = harness(a.workload, a.seed, a.seconds, a.trace,
                             params(a.workload), 160.0)
    failures = list(rec["failures"])
    attempted, failed = rec["attempted"], rec["failed"]
    spec = WORKLOADS[a.workload]
    if "queries" in spec:
        bad = oracle_check(data, os.path.join(run, "out"), spec["queries"])
        attempted += len(spec["queries"])
        failed += len(bad)
        failures += bad
    log("checks done")
    for f in failures:
        log(f"FAILED {f}")
    values = per_layer(rec) if a.trace else end_to_end(rec)
    units = PER_LAYER if a.trace else END_TO_END
    ops = rec["samples"].get("op_ms", [])
    full = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
            "seconds": a.seconds, "host": host_shape(),
            "steal_frac": rec["counters"].get("host.steal_frac"),
            "op_samples": len(ops), "op_tail_pct": tail(ops)[1] if ops else None,
            "metrics": values, "record": rec, "failures": failures}
    tag = os.path.basename(run)
    with open(os.path.join(WORK, "results", f"{tag}.json"), "w") as f:
        json.dump(full, f)
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()}}))


if __name__ == "__main__":
    main()
