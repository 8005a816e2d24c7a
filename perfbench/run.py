#!/usr/bin/env python3
"""Runs one benchmark workload and prints its metrics.

    python3 perfbench/run.py --workload q-serial|stream-replay \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run compiles the engine
(src/main/scala) and the harness (perfbench/harness) with the Scala
compiler shipped in Spark's jars, into .bench_build/. Each run starts one
JVM, waits for it to report that set-up is done, lets it run a cold pass
and then warm passes for S seconds, checks every op's output against
perfbench/expected.json, and prints one JSON line last. Before it,
SETUP_STARTS - 1 JVMs do the same set-up and stop; setup_s is the median
of all the starts.

--trace 0 prints the end-to-end metrics; --trace 1 runs the same workload
with the harness's listeners on in alternate warm passes and prints the
per-layer metrics, per-layer self time and the tracing overhead.
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
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import metrics  # noqa: E402

WORKLOADS = ("q-serial", "stream-replay")
SETUP_STARTS = 2
BUILD = os.path.join(ROOT, ".bench_build")
JVM_HEAP = "2g"
RUN_TIMEOUT_S = 165
# Spark on JDK 17 outside spark-submit needs these (build.sbt sets the same).
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
MB = 1024.0 * 1024.0


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(1)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory build.sbt compiles against."""
    if os.environ.get("SPARK_HOME"):
        return os.path.join(os.environ["SPARK_HOME"], "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    except OSError:
        m = None
    if not m:
        fail("no Spark jars: set SPARK_HOME or run from a full checkout")
    return m.group(1)


SPARK_JARS = spark_jars()


def build(n_cores):
    """Compiles engine and harness and writes the stream workload's replay
    inputs, once per source and corpus state; returns (class directory,
    replay directory)."""
    sources = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    if not sources:
        fail("no engine sources under src/main/scala; run from a full checkout")
    harness = sorted(glob.glob(os.path.join(HERE, "harness", "*.scala")))
    corpus = sorted(glob.glob(os.path.join(HERE, "corpus", "*.parquet")))
    h = hashlib.sha256()
    for p in sources + harness + corpus:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    classes = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    replay = os.path.join(BUILD, "replay-" + h.hexdigest()[:16])
    if not os.path.isfile(os.path.join(classes, ".done")):
        compile_into(classes, sources + harness)
    if not os.path.isfile(os.path.join(replay, ".done")):
        prepare_replay(classes, replay, n_cores)
    return classes, replay


def compile_into(classes, files):
    if not os.path.isdir(SPARK_JARS):
        fail(f"Spark jars not found at {SPARK_JARS}; set SPARK_HOME")
    staging = classes + ".tmp"
    shutil.rmtree(staging, ignore_errors=True)
    os.makedirs(staging)
    cp = os.path.join(SPARK_JARS, "*")
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main", "-nowarn",
           "-d", staging, "-classpath", cp] + files
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        shutil.rmtree(staging, ignore_errors=True)
        fail("compile failed:\n" + r.stdout[-4000:])
    open(os.path.join(staging, ".done"), "w").close()
    os.replace(staging, classes)


def prepare_replay(classes, replay, n_cores):
    """Writes the sliced inputs that stream-replay reads, with the engine's
    own Catalog.load, so they are inputs like the corpus and not part of
    any timed set-up."""
    staging = replay + ".tmp"
    tmp = staging + "-work"
    for d in (staging, tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    try:
        _, code = run_jvm(classes, ["--workload", "stream-replay", "--seed", "0", "--seconds", "0",
                                    "--trace", "0", "--prepare-replay", staging],
                          tmp, n_cores, os.path.join(tmp, "unused.json"),
                          time.monotonic() + RUN_TIMEOUT_S)
        if code != 0:
            fail(f"writing the replay inputs failed\n{jvm_log_tail(tmp)}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    open(os.path.join(staging, ".done"), "w").close()
    os.replace(staging, replay)


def cores():
    n = len(os.sched_getaffinity(0))
    inherited = os.environ.get("SPARK_GRAFT_CPUS")
    if inherited is not None and inherited != str(n):
        print(f"[perfbench] SPARK_GRAFT_CPUS={inherited} disagrees with the {n} cores "
              "this process may use; unset it or set it to the core count", file=sys.stderr)
        sys.exit(2)
    return n


def run_jvm(classes, args, tmp, n_cores, out_path, deadline):
    """Starts the harness and kills it at `deadline` (time.monotonic());
    returns (seconds from start to READY, exit code)."""
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(n_cores))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-XX:-UsePerfData", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
              f"-Djava.io.tmpdir={tmp}",
              "-cp", classes + os.pathsep + os.path.join(SPARK_JARS, "*"),
              "perfbench.Harness"] + args
           + ["--cores", str(n_cores), "--corpus", os.path.join(HERE, "corpus"),
              "--tmp", tmp, "--out", out_path])
    log = open(os.path.join(tmp, "jvm.log"), "w")
    t0 = time.monotonic()
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True, env=env, cwd=tmp)
    killer = threading.Timer(max(0.0, deadline - t0), p.kill)
    killer.start()
    ready = None
    try:
        for line in p.stdout:
            if line.strip() == "READY" and ready is None:
                ready = time.monotonic() - t0
        code = p.wait()
    finally:
        killer.cancel()
        log.close()
    return ready, code


def jvm_log_tail(tmp):
    try:
        with open(os.path.join(tmp, "jvm.log")) as f:
            lines = [l for l in f if "[perfbench]" in l or "Exception" in l or "Error" in l]
        return "".join(lines[-20:])
    except OSError:
        return ""


def end_to_end(raw, setup_s):
    """The end-to-end metrics; `setup_s` is the list of timed starts."""
    warm = [p for p in raw["passes"] if p["kind"] == "warm"]
    cold = [p for p in raw["passes"] if p["kind"] == "cold"][0]
    if raw["workload"] == "stream-replay":
        lat = [b for p in warm for b in p["batch_ms"]]  # triggerExecution
    else:
        lat = [o["wall_ms"] for p in warm for o in p["ops"]]
    p50, _ = metrics.percentile(lat, 50)
    p90, beyond = metrics.percentile(lat, 90)
    return {
        "setup_s": (statistics.median(setup_s), "s"),
        "cold_pass_s": (cold["wall_ms"] / 1000.0, "s"),
        "pass_s": (statistics.median([p["wall_ms"] for p in warm]) / 1000.0, "s"),
        "latency_p50_ms": (p50, "ms"),
        "latency_p90_ms": (p90, "ms"),
        "native_peak_mb": ((raw["peak_rss_kb"] * 1024.0 - raw["heap_committed_b"]) / MB, "MB"),
        "heap_retained_mb": (raw["heap_retained_b"] / MB, "MB"),
    }, {"latency_samples": len(lat), "beyond_p90": beyond, "warm_passes": len(warm),
        "trusted": metrics.highest_trusted_percentile(lat, 90),
        "session_drift": (metrics.session_drift([p["wall_ms"] for p in warm])
                          if len(warm) >= 2 else None)}


def per_layer(raw, n_cores):
    traced = [p for p in raw["passes"] if p["traced"]]
    plain = [p for p in raw["passes"] if p["kind"] == "warm" and not p["traced"]]
    ops = [o for p in traced for o in p["ops"]]
    n_ops = max(1, len(ops))
    spans = raw["spans"]
    stages = [s for s in spans if s["kind"] == "stage"]
    kinds = lambda k: [s for s in spans if s["kind"] == k]
    dur = lambda s: (s["end_us"] - s["start_us"]) / 1000.0
    stage_sum = lambda key: sum(s[key] for s in stages)
    op_wall = sum(o["wall_ms"] for o in ops)
    task_run = stage_sum("run_ms")
    st = raw["stream"]
    trig = st.get("triggerExecution_ms", 0.0)
    pct = lambda k: 100.0 * st.get(k + "_ms", 0.0) / trig if trig else 0.0
    cdc = raw["cdc"]
    cdc_wall = sum(o["wall_ms"] for o in ops if o["name"] == "cdc_apply")
    warm_traced = [p["wall_ms"] for p in traced if p["kind"] == "warm"]
    plain_walls = [p["wall_ms"] for p in plain]
    overhead = (100.0 * (statistics.median(warm_traced) / statistics.median(plain_walls) - 1)
                if warm_traced and plain_walls else 0.0)
    ensure = [dur(s) for s in kinds("ensure")]
    m = {
        "catalog.ensure_ms": (statistics.median(ensure) if ensure else 0.0, "ms"),
        "plan.analyze_ms": (sum(map(dur, kinds("analyze"))) / n_ops, "ms"),
        "plan.optimize_ms": (sum(map(dur, kinds("optimize"))) / n_ops, "ms"),
        "plan.physical_ms": (sum(map(dur, kinds("physical"))) / n_ops, "ms"),
        "codegen.compiles": (raw["codegen_compiles"] / n_ops, "count"),
        "codegen.compile_ms": (raw["codegen_ms"] / n_ops, "ms"),
        "exec.jobs": (len(kinds("job")) / n_ops, "count"),
        "exec.stages": (len(stages) / n_ops, "count"),
        "exec.tasks": (stage_sum("tasks") / n_ops, "count"),
        "exec.sched_delay_ms": (stage_sum("sched_ms") / n_ops, "ms"),
        "exec.task_deser_ms": (stage_sum("deser_ms") / n_ops, "ms"),
        "exec.driver_gap_ms": (metrics.driver_gap_ms(spans) / n_ops, "ms"),
        "exec.task_run_ms": (task_run / n_ops, "ms"),
        "exec.core_busy": (metrics.core_busy(task_run, op_wall, n_cores), "ratio"),
        "exec.stage_skew": (metrics.stage_skew(stages), "ratio"),
        "exec.shuffle_write_mb": (stage_sum("shuffle_write_b") / MB / n_ops, "MB"),
        "exec.shuffle_read_mb": (stage_sum("shuffle_read_b") / MB / n_ops, "MB"),
        "exec.spill_mb": (stage_sum("spill_b") / MB / n_ops, "MB"),
        "exec.gc_ms": (stage_sum("gc_ms") / n_ops, "ms"),
        "session.storage_mem_mb": (max(o["storage_mem_b"] for o in ops) / MB, "MB"),
        "session.local_dir_mb": (max(o["local_dir_b"] for o in ops) / MB, "MB"),
        "session.heap_used_mb": (max(o["heap_used_b"] for o in ops) / MB, "MB"),
        "session.jvm_gc_ms": (raw["jvm_gc_ms"] / n_ops, "ms"),
        "stream.state_rows": (st["state_rows"], "count"),
        "stream.state_mem_mb": (st["state_mem_b"] / MB, "MB"),
        "stream.add_batch_pct": (pct("addBatch"), "%"),
        "stream.query_planning_pct": (pct("queryPlanning"), "%"),
        "stream.get_batch_pct": (pct("getBatch"), "%"),
        "stream.wal_commit_pct": (pct("walCommit"), "%"),
        "cdc.apply_pct": (100.0 * cdc["apply_ms"] / cdc_wall if cdc_wall else 0.0, "%"),
        "cdc.write_amp": (cdc["table_b"] / cdc["input_b"] if cdc["input_b"] else 0.0, "ratio"),
        "cdc.files_written": (cdc["files"] / cdc["drains"] if cdc["drains"] else 0.0, "count"),
        "trace.overhead_pct": (overhead, "%"),
    }
    return m


def report_trace(raw):
    """Per-layer self time and per-op medians, for the reader."""
    selfs = metrics.self_times(raw["spans"])
    total = sum(selfs.values()) or 1.0
    print(f"[perfbench] {raw['workload']}: self time by layer over the traced passes")
    for k, v in sorted(selfs.items(), key=lambda kv: -kv[1]):
        print(f"[perfbench]   {k:<10} {v:10.1f} ms  {100 * v / total:5.1f}%")
    walls = {}
    for p in raw["passes"]:
        if p["kind"] == "warm":
            for o in p["ops"]:
                walls.setdefault(o["name"], []).append(o["wall_ms"])
    print("[perfbench] op medians over warm passes (ms): " + ", ".join(
        f"{n}={statistics.median(v):.1f}" for n, v in sorted(walls.items())))
    st = raw["stream"]
    if st["batches"]:
        print(f"[perfbench] traced micro-batches={st['batches']} rows in={st['rows_in']}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    n_cores = cores()
    classes, replay = build(n_cores)
    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    tmp = os.path.join(BUILD, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    try:
        out_path = os.path.join(tmp, "raw.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--replay", replay]
        setup_s = []
        deadline = time.monotonic() + RUN_TIMEOUT_S
        for i in range(SETUP_STARTS):
            only = i < SETUP_STARTS - 1
            ready, code = run_jvm(classes, args + (["--setup-only", "1"] if only else []),
                                  tmp, n_cores, out_path, deadline)
            if code != 0 or ready is None or not (only or os.path.isfile(out_path)):
                fail(f"harness exited with {code}\n{jvm_log_tail(tmp)}")
            setup_s.append(ready)
        with open(out_path) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    ops = [o for p in raw["passes"] for o in p["ops"]]
    wrong = metrics.failed_ops(ops, expected)
    failed, attempted = len(wrong), len(ops)
    for o in wrong:
        exp = expected.get(o["name"])
        print(f"[perfbench] WRONG {o['name']}: rows={o['rows']} hash={o['hash'][:12]} "
              f"expected={exp and (exp['rows'], exp['hash'][:12])} {o['error']}")
    print(f"[perfbench] {a.workload} cpus={n_cores} seed={a.seed} passes={len(raw['passes'])} "
          f"error_rate={failed / attempted:.4f} ({failed}/{attempted})")
    if a.trace:
        values = per_layer(raw, n_cores)
        report_trace(raw)
    else:
        values, extra = end_to_end(raw, setup_s)
        trusted = extra["trusted"]
        print(f"[perfbench] warm passes={extra['warm_passes']} "
              f"session_drift={extra['session_drift'] or float('nan'):.4f} "
              f"latency samples={extra['latency_samples']} beyond p90={extra['beyond_p90']} "
              "highest percentile with 10 beyond: "
              + (f"p{trusted[0]} = {trusted[1]:.1f} ms" if trusted else "none"))
    for k, (v, unit) in values.items():
        print(f"[perfbench] {k} = {v:.6g} {unit} (cpus={n_cores})")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in values.items()}}))


if __name__ == "__main__":
    main()
