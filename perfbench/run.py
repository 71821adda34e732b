#!/usr/bin/env python3
"""graft benchmark: closed-loop query-mix workloads over one long-lived session.

Usage:
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Builds the engine and harness (`perfbench/build.py`, cached), then, for the
workload's registered queries:
  * starts `SETUP_SAMPLES - 1` JVMs that only build a `GraftSession` and stop,
    and one JVM that builds the session and runs the closed loop; `setup_s`
    is the median time from process spawn to session ready over all of them;
  * in the measuring JVM, runs pass 0 (the first pass of a fresh JVM), then
    warm passes until `--seconds` of warm time has elapsed (at least
    `MIN_WARM` of them); the seed only shuffles the order of each warm pass;
  * re-runs every query once, untimed, and compares a hash of its rows and
    schema with `perfbench/expected.json` (validated against the DuckDB
    oracle by `perfbench/oracle.py`); a mismatch fails every execution of
    that query and makes the command exit 1;
  * measures what the run left on disk and deletes it.

With `--trace 0` the last stdout line carries the end-to-end metrics; with
`--trace 1` warm passes alternate untraced and traced and the line carries
the per-layer metrics (listener counts, spans, layer probes). Lines before it
are a readable report: every metric with its unit and sample count, plus the
seed, cpus, sf and source revision. The full record, spans included, is
written under `$CARGO_TARGET_DIR/results` (default `.bench_build/results`).
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import build  # noqa: E402

SF = "sf0.01"
SETUP_SAMPLES = 3
MIN_WARM = 2
HEAP = "4g"
DEADLINE_S = 170

# Registered queries per workload; see BENCHMARK.json for why each exists.
WORKLOADS = {
    "etl_ingest": [
        "tpch_q1", "etl_json_props", "sink_roundtrip", "streaming_upsert_replay",
    ],
    "graph_curation": ["pagerank", "triangle_count", "dedup_simhash"],
}

# Per-pid scratch the engine writes outside java.io.tmpdir.
PID_SCRATCH = ["/tmp/graft-sink-roundtrip", "/tmp/graft-replay-stage",
               "/tmp/graft-streaming-ingest"]

JVM_OPTS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar")] + [
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
    f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData"]

# Units of every metric the run computes. The last stdout line carries the
# ones BENCHMARK.json lists: its `end_to_end` names with --trace 0 and its
# `per_layer` names with --trace 1. The report before it prints them all.
UNITS = {
    "setup_s": "s", "first_pass_s": "s", "pass_s": "s", "query_s.p50": "s",
    "query_s.p90": "s", "late_pass_ratio": "ratio", "failed_frac": "ratio",
    "heap_floor_mb": "MB", "peak_rss_mb": "MB", "disk_leak_mb": "MB",
    "session.build_s": "s", "registry.build_s": "s", "plan.analysis_ms": "ms",
    "plan.optimizer_ms": "ms", "plan.physical_ms": "ms", "exec_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.sched_delay_s": "s", "spark.core_busy_frac": "ratio",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.spill_mb": "MB", "spark.input_mb": "MB", "spark.output_mb": "MB",
    "spark.gc_s": "s", "spark.task_run_s": "s", "spark.task_cpu_s": "s",
    "spark.failed_tasks": "count",
    "tables.scan_s.lineitem": "s", "tables.scan_s.events": "s",
    "tables.scan_s.documents": "s", "tables.scan_s.embeddings": "s",
    "graph.edges_build_s": "s", "graph.edges_read_s": "s",
    "fn.minhash_sig_s": "s", "fn.simhash_pack_s": "s", "fn.vec_dot_s": "s",
    "fn.pq_codes_s": "s",
    "stream.batches": "count", "stream.add_batch_ms": "ms",
    "stream.wal_commit_ms": "ms", "stream.state_rows": "count",
    "sink.write_amp": "ratio", "trace_overhead_frac": "ratio",
}
# Per-pass totals the traced passes accumulate, divided by their count.
PASS_TOTALS = [k for k in UNITS if k.split(".")[0] in ("registry", "plan", "spark", "stream")
               and k != "spark.core_busy_frac"] + ["exec_s"]
PROBES = [k for k in UNITS if k.split(".")[0] in ("tables", "graph", "fn")]


def data_dir():
    """The read-only tables of scale SF, as TESTDATA.md lists them."""
    try:
        with open(os.path.join(ROOT, "TESTDATA.md")) as f:
            m = re.search(rf"`([^`]*/{re.escape(SF)})/?`", f.read())
    except OSError:
        m = None
    if not m or not os.path.exists(os.path.join(m.group(1), "lineitem.parquet")):
        fail(f"no {SF} tables found through TESTDATA.md")
    return m.group(1)


def fail(msg):
    sys.stderr.write(f"perfbench: {msg}\n")
    sys.exit(2)


def revision():
    try:
        r = subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "unknown"


def jvm(classes, run_dir, args, deadline):
    """Runs one harness JVM; returns (spawn epoch, pid, result dict)."""
    fd, out = tempfile.mkstemp(suffix=".json", dir=run_dir)
    os.close(fd)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
        f"-Dderby.system.home={run_dir}/derby",
        "-cp", f"{classes}:{build.spark_jars()}/*", "perfbench.PerfBench",
        f"out={out}", f"check={run_dir}/check"] + args
    env = {k: v for k, v in os.environ.items() if k != "SPARK_LOCAL_DIRS"}
    with open(os.path.join(run_dir, "jvm.log"), "a") as log:
        spawn = time.time()
        p = subprocess.Popen(cmd, stdout=log, stderr=log, env=env, cwd=run_dir)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            fail("harness JVM exceeded the run deadline")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as log:
            sys.stderr.write(log.read()[-4000:])
        fail(f"harness JVM exited with code {rc}")
    with open(out) as f:
        return spawn, p.pid, json.load(f)


def output_hash(path):
    """sha256 over sorted column names, pandas dtypes and stringified rows,
    the comparison `tools/check_oracle.py` makes against DuckDB."""
    import pandas as pd
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    df = pd.read_parquet(files[0])
    df = df[sorted(df.columns)]
    payload = json.dumps([list(df.columns), [str(t) for t in df.dtypes],
                          df.astype(str).values.tolist()])
    return hashlib.sha256(payload.encode()).hexdigest()


def pid_scratch(pids):
    """The engine's per-pid scratch directories of the given JVMs."""
    found = []
    for base in PID_SCRATCH:
        for pid in pids:
            found += glob.glob(os.path.join(base, f"*-{pid}"))
            found += glob.glob(os.path.join(base, f"*-{pid}-*"))
    return found


def du_mb(path):
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.lstat(os.path.join(dirpath, f)).st_size
            except OSError:
                pass
    return total / 1048576.0


def percentile(values, pct):
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[pct - 1]


def end_to_end(setups, res):
    """Metric -> (value, samples) of an untraced run."""
    warm = [p for p in res["passes"] if p["pass"] > 0]
    lat = [e["build_s"] + e["exec_s"] for e in res["execs"] if e["pass"] > 0]
    return {
        "setup_s": (statistics.median(setups), len(setups)),
        "first_pass_s": (res["passes"][0]["wall_s"], 1),
        "pass_s": (statistics.median(p["wall_s"] for p in warm), len(warm)),
        "query_s.p50": (percentile(lat, 50), len(lat)),
        "query_s.p90": (percentile(lat, 90), len(lat)),
        "late_pass_ratio": (warm[-1]["wall_s"] / warm[0]["wall_s"], 2),
    }


def per_layer(res):
    """Metric -> (value, samples) of a traced run, per traced warm pass."""
    warm = [p for p in res["passes"] if p["pass"] > 0]
    traced = [p["wall_s"] for p in warm if p["traced"]]
    untraced = [p["wall_s"] for p in warm if not p["traced"]]
    n = len(traced)
    layers = res["layers"]
    tot = layers["totals"]
    m = {k: (tot.get(k, 0.0) / n, n) for k in PASS_TOTALS}
    m["spark.core_busy_frac"] = (
        tot.get("spark.task_run_s", 0.0) / (sum(traced) * layers["cores"]), n)
    in_mb = tot.get("spark.input_mb", 0.0)
    m["sink.write_amp"] = (tot.get("spark.output_mb", 0.0) / in_mb if in_mb else 0.0, n)
    m.update({k: (layers[k], 3) for k in PROBES})
    m["session.build_s"] = (res["session_build_s"], 1)
    m["trace_overhead_frac"] = (
        statistics.median(traced) / statistics.median(untraced) - 1.0, len(warm))
    return m


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    classes = build.build()
    deadline = time.monotonic() + DEADLINE_S
    sf_dir = data_dir()
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)["queries"]
    queries = WORKLOADS[a.workload]

    run_dir = os.path.join(build.build_dir(), "runs",
                           f"{a.workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    for d in ("tmp", "local", "check"):
        os.makedirs(os.path.join(run_dir, d))
    pids, setups = [], []
    for _ in range(SETUP_SAMPLES - 1):
        spawn, pid, r = jvm(classes, run_dir, ["mode=setup"], deadline)
        pids.append(pid)
        setups.append(r["ready_epoch_s"] - spawn)
    spawn, pid, res = jvm(classes, run_dir, [
        "mode=run", f"sf={sf_dir}", "queries=" + ",".join(queries),
        f"seed={a.seed}", f"seconds={a.seconds}", f"trace={a.trace}",
        f"minWarm={MIN_WARM}"], deadline)
    pids.append(pid)
    setups.append(res["ready_epoch_s"] - spawn)

    # Output check: a wrong or missing output fails every execution of the query.
    wrong = {}
    for q in queries:
        got = output_hash(os.path.join(run_dir, "check", q))
        if got != expected[q]["hash"]:
            wrong[q] = res["check_errors"].get(q, f"output hash {got} != expected")
    attempted = len(res["execs"])
    failed = sum(1 for e in res["execs"] if e["error"] or e["query"] in wrong)

    # Disk left behind after spark.stop(): the per-run scratch (minus the
    # check outputs the benchmark itself asked for) and the per-pid dirs.
    shutil.rmtree(os.path.join(run_dir, "check"))
    leftovers = [os.path.join(run_dir, d) for d in ("tmp", "local", "derby")]
    leftovers += pid_scratch(pids)
    leak_mb = sum(du_mb(p) for p in leftovers)
    for p in leftovers:
        shutil.rmtree(p, ignore_errors=True)

    metrics = per_layer(res) if a.trace else end_to_end(setups, res)
    metrics.update({
        "failed_frac": (failed / attempted, attempted),
        "heap_floor_mb": (res["heap_floor_mb"], len(res["execs"])),
        "peak_rss_mb": (res["peak_rss_mb"], 1),
        "disk_leak_mb": (leak_mb, 1)})
    metrics = {k: metrics[k] for k in UNITS if k in metrics}
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = [m["name"] for m in json.load(f)["per_layer" if a.trace else "end_to_end"]]
    info = {"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
            "trace": a.trace, "cpus": res["cpus"], "sf": SF, "git_sha": revision(),
            "classes": os.path.basename(classes), "attempted": attempted,
            "failed": failed, "wrong_outputs": wrong,
            "metrics": {k: {"value": v, "unit": UNITS[k], "samples": n}
                        for k, (v, n) in metrics.items()}}
    results = os.path.join(build.build_dir(), "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}.json"),
              "w") as f:
        json.dump(dict(info, passes=res["passes"], execs=res["execs"],
                       spans=res["spans"]), f)
    shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload={a.workload} seed={a.seed} cpus={res['cpus']} sf={SF} "
          f"git_sha={info['git_sha']} classes={info['classes']} trace={a.trace}")
    print(f"{'metric':<26}{'value':>14}  {'unit':<7}{'samples':>8}")
    for k, (v, n) in metrics.items():
        print(f"{k:<26}{v:>14.4f}  {UNITS[k]:<7}{n:>8}")
    for q, why in sorted(wrong.items()):
        print(f"WRONG OUTPUT {q}: {why}")
    correct = not wrong and failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k][0], "unit": UNITS[k]}
                                  for k in listed}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
