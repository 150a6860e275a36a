#!/usr/bin/env python3
"""The repo benchmark: one command, two workloads, run from the root of a
source checkout.

    python3 perfbench/run.py --workload sf001_sample --seed 1 --seconds 20 --trace 0

It builds the engine and the JVM harness (perfbench/harness) from source
with sbt, prepares the workload's inputs, runs one fresh Spark JVM on
local[<cores>] that makes a cold pass over the workload's calls (the
JVM's first) and then, until --seconds have passed and at least the
workload's number of rounds, opens a fresh session and makes a first and
a repeat pass in it; it checks every output and prints the metrics as the
last stdout line. With --trace 1 the JVM also attaches Spark's listeners
and the line carries the per-layer metrics instead. See perfbench/README.md for the workloads and metrics.

Exit codes: 0 all calls ran and every output checked; 1 a call failed or an
output was wrong (the result line still prints); 2 the run could not start
(no engine source, an experiment knob set, a failed build).
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
sys.path.insert(0, str(HERE))

import metrics  # noqa: E402

# Experiment knobs of the engine; a benchmark run must not have any set.
KNOBS = ("SPARK_GRAFT_AQE", "SPARK_GRAFT_WSCG", "SPARK_GRAFT_BENCH_ONLY",
         "SPARK_GRAFT_NO_TABLE_CACHE")

# The calls of each workload: engine entries, run in an order set by the
# seed, then the reference's verbs over the seed's text, in verb order.
WORKLOADS = {
    "sf001_sample": {
        "data": "sf0.01",
        "rounds": 3,
        "entries": ["q106_eqdepth_hist", "q74_pagerank", "stream_heavy_hitters",
                    "mr_wordcount", "q0_wordcount", "dfs_roundtrip"],
        "verbs": [],
    },
    "scale10x_dfs": {
        "data": "sf10x",
        "rounds": 2,
        "entries": ["q1_agg", "q20_exact_dedup", "q211_salted_hot_join"],
        "verbs": ["dfs_write", "dfs_read", "mr_pipe", "mr_closure"],
    },
}

HEAP = "4g"
JVM_TIMEOUT_S = 150
# Fewer JIT and GC threads than the JVM picks on its own, so that with the
# task threads the JVM asks for little more than the cores it has.
JVM_THREADS = ["-XX:CICompilerCount=2", "-XX:ParallelGCThreads=2",
               "-XX:ConcGCThreads=1"]
# the JDK 17 module opens build.sbt gives forked runs: Spark needs them when
# a session starts outside spark-submit
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return len(os.sched_getaffinity(0))


def source_hash():
    """Hash of everything the build compiles, to reuse a finished build."""
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    for d in (ROOT / "src" / "main", HERE / "harness" / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    files += [HERE / "harness" / "build.sbt",
              HERE / "harness" / "project" / "build.properties"]
    h = hashlib.sha256()
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine and harness with sbt once per source state; returns
    the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"no engine source (build.sbt, src/main) under {ROOT}")
    stamp = source_hash()
    out = WORK / "build"
    cp_file = out / "classpath.json"
    if cp_file.exists():
        cached = json.loads(cp_file.read_text())
        if cached["source"] == stamp:
            return cached["classpath"], stamp
    out.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "-Dsbt.offline=true" not in opts:
        env["SBT_OPTS"] = (opts + " -Dsbt.offline=true").strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "-Dsbt.server.forcestart=false",
         "export Runtime/fullClasspath"],
        cwd=HERE / "harness", env=env, capture_output=True, text=True,
        timeout=800)
    log = out / "sbt.log"
    log.write_text(proc.stdout + proc.stderr)
    cp = [l for l in proc.stdout.splitlines()
          if "classes" in l and os.pathsep in l]
    if proc.returncode != 0 or not cp:
        fail(f"build failed, see {log}")
    cp_file.write_text(json.dumps({"source": stamp, "classpath": cp[-1]}))
    return cp[-1], stamp


def run_jvm(classpath, run_dir, args, timeout):
    """Runs the harness; returns (result dict, setup seconds measured from
    launch to the session being ready)."""
    result = run_dir / "result.json"
    env = {k: v for k, v in os.environ.items() if k not in KNOBS}
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), f"-Xms{HEAP}", f"-Xmx{HEAP}"] + JVM_THREADS + \
        [f"-Djava.io.tmpdir={run_dir / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.bench.Harness", "--result", str(result),
            "--local-dir", str(run_dir / "local")] + args
    (run_dir / "tmp").mkdir(parents=True, exist_ok=True)
    launched = time.time()
    with open(run_dir / "jvm.log", "w") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log,
                                stderr=subprocess.STDOUT,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"harness timed out after {timeout}s, see {run_dir}/jvm.log")
        except BaseException:  # interrupted: take the JVM down with us
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if code != 0 or not result.exists():
        fail(f"harness exited {code}, see {run_dir}/jvm.log")
    r = json.loads(result.read_text())
    return r, r["ready_epoch"] - launched


def end_to_end(r, setup_s):
    """The END_TO_END values, and call latencies for the run record."""
    by = metrics.call_times(r).values()
    latency = {}
    for kind in ("cold", "first", "repeat"):
        v = [x for t in by for x in t[kind]]
        latency[f"{kind}_call"] = {"p50": metrics.percentile(v, 0.5),
                                   "tail": metrics.tail(v), "n": len(v)}
    return {
        "setup_s": setup_s,
        "first_pass_s": metrics.pass_median(r, "first"),
        "repeat_pass_s": metrics.pass_median(r, "repeat"),
        "retained_heap_mb": r["retained_heap_mb"],
    }, latency


def per_layer(r, e2e, baseline, text_meta, run_dir):
    rows = metrics.pass_layers(r, cores())
    by_kind = {k: [row for row, p in zip(rows, r["passes"]) if p["kind"] == k]
               for k in ("cold", "first", "repeat")}
    cold = by_kind["cold"][0]
    values = {f"{k}.{n}": v for k in ("first", "repeat")
              for n, v in metrics.median_rows(by_kind[k]).items()}
    rep = metrics.median_rows(by_kind["repeat"])
    mb = text_meta["bytes"] / 2**20 if text_meta else 0.0
    chunks = sorted((run_dir / "out" / "dfs" / "corpus").glob("part-*"))
    stored = sum(p.stat().st_size for p in chunks)
    values.update({
        "session.build_s": r["session.build_s"],
        "tables.resolve_s": r["tables.resolve_s"],
        "session.fresh_s": statistics.median(r["session.fresh_s"]),
        "cold.pass_s": next(p["seconds"] for p in r["passes"]
                            if p["kind"] == "cold"),
        "cold.codegen.compiles": cold["codegen.compiles"],
        "cold.codegen.compile_s": cold["codegen.compile_s"],
        "cold.queries.build_s": cold["queries.build_s"],
        "cold.queries.action_s": cold["queries.action_s"],
        "caches.fill_s": e2e["first_pass_s"] - e2e["repeat_pass_s"],
        "mr.chunks": len(chunks),
        "mr.stored_bytes_ratio": stored / text_meta["bytes"] if text_meta else 0.0,
    })
    for verb in ("write", "read", "pipe", "closure"):
        secs = rep[f"mr.{verb}_s"]
        values[f"mr.{verb}_mb_per_s"] = mb / secs if secs > 0 else 0.0
    for n, _ in metrics.END_TO_END:
        values[f"trace.overhead.{n}"] = e2e[n] - baseline[n]
    return values


def git_sha():
    if not (ROOT / ".git").exists():
        return None
    p = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                       capture_output=True, text=True)
    return p.stdout.strip() or None


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", metavar="CALL",
                    help="damage this call's output before the check "
                         "(shows that the check fails the run)")
    a = ap.parse_args()
    # a SIGTERM unwinds like Ctrl-C, so every child is killed and reaped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    knobs = [k for k in KNOBS if k in os.environ]
    if knobs:
        fail(f"experiment knobs set: {', '.join(knobs)}; unset them")
    spec = WORKLOADS[a.workload]
    classpath, source = build()

    import check
    import inputs
    WORK.mkdir(exist_ok=True)
    data = inputs.corpus10x(WORK, ROOT) if spec["data"] == "sf10x" else \
        inputs.committed(spec["data"])
    entries = list(spec["entries"])
    random.Random(a.seed).shuffle(entries)
    calls = entries + spec["verbs"]
    text, text_meta = None, None
    if spec["verbs"]:
        text, text_meta = inputs.zipf_text(WORK, a.seed)

    run_dir = WORK / "run" / a.workload
    records = WORK / "records" / a.workload

    def one_run(trace):
        shutil.rmtree(run_dir, ignore_errors=True)
        run_dir.mkdir(parents=True)
        args = ["--workload", a.workload, "--data", data["dir"],
                "--out", str(run_dir / "out"), "--calls", ",".join(calls),
                "--seconds", str(a.seconds), "--min-rounds", str(spec["rounds"]),
                "--cores", str(cores()), "--trace", str(trace)]
        if text:
            args += ["--dfs-src", str(text),
                     "--mapper", f"awk -f {HERE / 'mr' / 'wc_map.awk'}",
                     "--reducer", f"awk -f {HERE / 'mr' / 'wc_reduce.awk'}"]
        r, setup_s = run_jvm(classpath, run_dir, args, JVM_TIMEOUT_S)
        e2e, latency = end_to_end(r, setup_s)
        return r, e2e, latency

    baseline = None
    if a.trace:
        # tracing overhead = traced minus untraced end-to-end metrics, the
        # untraced side being this checkout's earlier untraced runs of the
        # same source
        past = [rec["end_to_end"] for rec in
                (json.loads(p.read_text()) for p in records.glob("*.json"))
                if rec["env"]["source_sha256"] == source]
        if not past:
            past = [one_run(0)[1]]
        baseline = {n: statistics.median(p[n] for p in past)
                    for n, _ in metrics.END_TO_END}
    r, e2e, latency = one_run(a.trace)

    out = run_dir / "out"
    if a.corrupt:
        check.corrupt(out, a.corrupt)
    verdict = check.entries(out, data["dir"], entries, r["oracle_sql"],
                            spec["data"])
    if text:
        verdict.update(check.dfs(out, text, text_meta["counts"]))
    errors = {c["name"]: c["error"] for c in r["calls"] if c["error"]}
    bad = {n for n, v in verdict.items() if v} | set(errors)
    attempted = len(r["calls"])
    failed = sum(1 for c in r["calls"] if c["error"]) + \
        sum(1 for n, v in verdict.items() if v and n not in errors)

    record = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace,
        "order": calls, "data": data, "text": text_meta and
        {k: v for k, v in text_meta.items() if k != "counts"},
        "env": {"cores": cores(), "heap": HEAP, "heap_max_mb": r["heap_max_mb"],
                "jdk": r["jdk"], "spark": r["spark"], "calib": r["calib"],
                "git_sha": git_sha(), "source_sha256": source},
        "end_to_end": e2e, **latency,
        "passes": [[p["kind"], p["seconds"]] for p in r["passes"]],
        "calls": metrics.call_times(r),
        "self_s": metrics.self_by_kind(r["spans"]),
        "check": {n: v for n, v in verdict.items() if v}, "errors": errors,
        "failed_ratio": failed / attempted,
    }
    if a.trace:
        values = per_layer(r, e2e, baseline, text_meta, run_dir)
        block = metrics.metric_block(values, metrics.PER_LAYER)
        (WORK / "spans").mkdir(exist_ok=True)
        (WORK / "spans" / f"{a.workload}-{a.seed}.json").write_text(
            json.dumps(r["spans"]))
    else:
        block = metrics.metric_block(e2e, metrics.END_TO_END)
        if not bad and not a.corrupt:
            records.mkdir(parents=True, exist_ok=True)
            (records / f"{int(time.time() * 1000)}-{a.seed}.json").write_text(
                json.dumps(record))
    print("record " + json.dumps(record))
    print(metrics.result_line(not bad, attempted, failed, block))
    shutil.rmtree(run_dir / "out", ignore_errors=True)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
