#!/usr/bin/env python3
"""Runs one benchmark workload end to end and prints its metrics.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

It builds the engine and the harness from source when the sources changed
(perfbench/build.sbt, which builds on the engine's own build), writes the seeded inputs, times set-up, runs the
harness JVM (one client, closed loop, local[4]) and checks every output.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics are
the end-to-end ones; with --trace 1 they are the per-layer ones, and the
per-operation spans go to perfbench/.work/traces/.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import pyarrow.parquet as pq

sys.dont_write_bytecode = True  # keep the checkout free of __pycache__
import synth  # noqa: E402

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
DATA = BENCH / "data" / "sf0.1"
WORK = BENCH / ".work"
LAUNCHER = BENCH / "target" / "launcher.txt"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem",
          "events", "documents", "embeddings"]

# Seconds one timed pass takes on the reference machine (4 cores). They turn
# --seconds into a pass count, max(1, floor(seconds / pass_s)), so both sides
# of a comparison do the same work whatever their speed.
WORKLOADS = {
    "convert": {"ops": 18, "pass_s": 13.0},
    "query_iterative": {"ops": 2, "pass_s": 13.0},
}
TAIL_BEYOND = 10
TAIL_MIN_PCT = 90.0
CORES = 4  # the harness runs local[4]
JVM_HEAP = "2g"
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850

END_TO_END = [("setup_s", "s"), ("wall_s", "s"), ("op_p50_s", "s"), ("op_tail_s", "s"),
              ("rows_per_s", "rows/s"), ("mb_per_s", "MB/s"), ("peak_rss_mb", "MB")]
PER_LAYER = [
    ("session.build_s", "s"), ("session.warmup_s", "s"), ("mem.heap_after_gc_mb", "MB"),
    ("read.resolve_s", "s"),
    ("build.s", "s"), ("build.jobs", "count"),
    ("plan.analysis_s", "s"), ("plan.optimization_s", "s"), ("plan.planning_s", "s"),
    ("plan.executions", "count"),
    ("codegen.compiles", "count"), ("codegen.compile_s", "s"),
    ("sched.jobs", "count"), ("sched.stages", "count"), ("sched.tasks", "count"),
    ("sched.failed_tasks", "count"), ("sched.driver_gap_s", "s"),
    ("exec.run_s", "s"), ("exec.cpu_s", "s"), ("exec.gc_s", "s"), ("exec.core_util", "ratio"),
    ("io.shuffle_write_mb", "MB"), ("io.shuffle_read_mb", "MB"), ("io.spill_mb", "MB"),
    ("io.input_rows", "count"), ("io.input_mb", "MB"), ("io.output_rows", "count"),
    ("io.output_mb", "MB"),
    ("sink.convert_s", "s"), ("sink.zip_s", "s"), ("sink.zip_ratio", "ratio"),
    ("sink.jdbc_s", "s"), ("sink.jdbc_rows_per_s", "rows/s"),
]
# Counts that must repeat exactly in every pass of a traced run, priming
# included. codegen.compiles is reported per pass but not asserted: task
# threads share the codegen cache, so it can differ by a compile or two.
REPEATING = ["sched.jobs", "build.jobs"]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    # the engine build reads SPARK_DRIVER_MEM for its -Xmx
    h.update(os.environ.get("SPARK_DRIVER_MEM", "").encode())
    files = sorted(f for f in [*(ROOT / "src" / "main").rglob("*"), *(BENCH / "src").rglob("*"),
                               *ROOT.glob("*.sbt"), *(ROOT / "project").glob("*.*"),
                               *BENCH.glob("*.sbt"), *(BENCH / "project").glob("*.*")]
                   if f.is_file())
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    stamp_file = BENCH / "target" / "perfbench.stamp"
    stamp = source_stamp()
    if LAUNCHER.is_file() and stamp_file.is_file() and stamp_file.read_text() == stamp:
        return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = Path.home() / ".sbt" / "repositories"
    if "SBT_OPTS" not in env and repos.is_file():
        env["SBT_OPTS"] = (f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    print("perfbench: building engine + harness (sbt launcher)", file=sys.stderr)
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "launcher"], cwd=BENCH,
                       env=env, stdout=sys.stderr, stderr=sys.stderr, timeout=BUILD_LIMIT_S)
    if r.returncode != 0:
        fail("build failed", 3)
    stamp_file.write_text(stamp)


def prepare_inputs(workload, seed, run_dir):
    inputs = []
    for t in TABLES:
        p = DATA / f"{t}.parquet"
        inputs.append({"name": t, "path": str(p), "rows": pq.ParquetFile(p).metadata.num_rows,
                       "bytes": p.stat().st_size})
    expect = None
    if workload == "convert":
        sdir = run_dir / "inputs" / "synthetic"
        expect = synth.generate(str(sdir), seed)
        files = sorted(sdir.glob("*.parquet"))
        inputs.append({"name": "synthetic", "path": str(sdir),
                       "rows": sum(pq.ParquetFile(f).metadata.num_rows for f in files),
                       "bytes": sum(f.stat().st_size for f in files)})
    manifest = run_dir / "manifest.json"
    manifest.write_text(json.dumps({"inputs": inputs, "synthetic_expect": expect}))
    return manifest


def java_cmd(run_dir, harness_args):
    # the engine build's JVM options and the classpath, as perfbench/build.sbt wrote them
    engine = LAUNCHER.read_text().splitlines()
    # then a fixed, pre-touched heap, which overrides the engine build's -Xmx: with
    # -Xmx8g and no -Xms, G1 grows the heap on its GC-time goal, and five
    # query_iterative seeds read peak_rss_mb from 2301 to 4229 MB (spread 0.43).
    # Heap the program needs shows as GC time (exec.gc_s, wall_s), as
    # mem.heap_after_gc_mb, and past 2 GB as failed operations.
    return (["java", "-XX:-UsePerfData",
             f"-Djava.io.tmpdir={run_dir / 'tmp'}",
             f"-Dderby.system.home={run_dir / 'derby'}",
             f"-Dderby.stream.error.file={run_dir / 'derby.log'}",
             "-Dspark.ui.showConsoleProgress=false", *engine,
             f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch", "perfbench.Harness"]
            + harness_args)


def launch(run_dir, harness_args, deadline, log):
    """Runs the harness JVM; returns (seconds from launch to READY, exit code)."""
    t0 = time.perf_counter()
    ready = []

    def watch(stream):
        for line in stream:
            if not ready and line.strip() == b"PERFBENCH_READY":
                ready.append(time.perf_counter() - t0)

    with open(log, "ab") as err:
        proc = subprocess.Popen(java_cmd(run_dir, harness_args), stdout=subprocess.PIPE,
                                stderr=err, cwd=run_dir)
        reader = threading.Thread(target=watch, args=(proc.stdout,), daemon=True)
        reader.start()
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except BaseException:
            proc.kill()
            proc.wait()
            raise
        reader.join()
    return (ready[0] if ready else None), code


def quantile_tail(values):
    """Latency at the highest percentile with TAIL_BEYOND samples above it.

    Below TAIL_MIN_PCT that percentile is no tail (with 18 samples it is p39,
    under the median), so the maximum stands in for it.
    """
    xs = sorted(values)
    n = len(xs)
    pct = 100.0 * (n - TAIL_BEYOND) / n
    if pct < TAIL_MIN_PCT:
        return xs[-1], 100.0, n
    return xs[n - TAIL_BEYOND - 1], pct, n


def end_to_end(doc, setup_s, workload):
    timed = [r for r in doc["records"] if r["pass"] >= 1]
    passes = sorted({r["pass"] for r in timed})
    by_pass = {p: [r for r in timed if r["pass"] == p] for p in passes}
    walls = {p: sum(r["latency_s"] for r in rs) for p, rs in by_pass.items()}
    # convert workloads count rows delivered to the sink; query workloads the
    # footer rows of the tables each query reads
    row_key = "rows" if workload == "convert" else "input_rows"
    lat = [r["latency_s"] for r in timed]
    tail, pct, n = quantile_tail(lat)
    m = {
        "setup_s": setup_s,
        "wall_s": statistics.median(walls.values()),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": tail,
        "rows_per_s": statistics.median(
            sum(r[row_key] for r in rs) / walls[p] for p, rs in by_pass.items()),
        "mb_per_s": statistics.median(
            sum(r["input_bytes"] for r in rs) / 1e6 / walls[p] for p, rs in by_pass.items()),
        "peak_rss_mb": doc["peak_rss_mb"],
    }
    return m, {"op_tail_percentile": pct, "op_tail_samples": n}


def per_layer(doc):
    timed = [r for r in doc["records"] if r["pass"] >= 1]
    passes = sorted({r["pass"] for r in timed})
    out = {"session.build_s": doc["session_build_s"],
           "session.warmup_s": doc["session_warmup_s"],
           "mem.heap_after_gc_mb": doc["heap_after_gc_mb"]}
    for name, _ in PER_LAYER:
        if name in out:
            continue
        vals = []
        for p in passes:
            rs = [r for r in timed if r["pass"] == p]
            layer = [r["layers"].get(name, 0.0) for r in rs]
            if name == "exec.core_util":
                run = sum(r["layers"].get("exec.run_s", 0.0) for r in rs)
                vals.append(run / (sum(r["latency_s"] for r in rs) * CORES))
            elif name == "sink.zip_ratio":
                zs = [x for x in layer if x > 0]
                vals.append(statistics.median(zs) if zs else 0.0)
            elif name == "sink.jdbc_rows_per_s":
                jdbc = [r for r in rs if r["layers"].get("sink.jdbc_s", 0.0) > 0]
                secs = sum(r["layers"]["sink.jdbc_s"] for r in jdbc)
                vals.append(sum(r["rows"] for r in jdbc) / secs if secs > 0 else 0.0)
            else:
                vals.append(sum(layer))
        out[name] = statistics.median(vals) if vals else 0.0
    return {name: out[name] for name, _ in PER_LAYER}


def repeat_failures(doc):
    """Traced runs: the REPEATING counts of each operation are the same in every pass."""
    first = {}
    for r in doc["records"]:
        key = tuple(r["layers"].get(k) for k in REPEATING)
        want = first.setdefault(r["op"], key)
        if key != want:
            r["failures"].append(f"{r['op']}: {REPEATING} = {key} in pass {r['pass']}, "
                                 f"{want} in the priming pass")


def compiles_by_op(doc):
    out = {}
    for r in doc["records"]:
        if r["pass"] >= 1:
            out.setdefault(r["op"], []).append(int(r["layers"]["codegen.compiles"]))
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-goldens", action="store_true",
                    help="write perfbench/goldens.json from this run instead of checking it")
    a = ap.parse_args()
    if not ENGINE_SRC.is_dir():
        fail(f"engine sources not found at {ENGINE_SRC.relative_to(ROOT)}; run from a checkout")
    if not DATA.is_dir():
        fail("benchmark data missing")
    WORK.mkdir(exist_ok=True)
    lock = open(WORK / "lock", "w")
    try:
        fcntl.flock(lock, fcntl.LOCK_EX | fcntl.LOCK_NB)
    except BlockingIOError:
        fail("another run is using this checkout's perfbench/.work", 6)
    start = time.monotonic()
    build()
    # a build has its own allowance; everything after it must fit the run limit
    deadline = time.monotonic() + RUN_LIMIT_S
    spec = WORKLOADS[a.workload]
    passes = max(1, int(a.seconds // spec["pass_s"]))

    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (run_dir / "tmp").mkdir(parents=True)
    t_inputs = time.monotonic()
    manifest = prepare_inputs(a.workload, a.seed, run_dir)
    out = run_dir / "result.json"
    log = run_dir / "harness.log"
    t_jvm = time.monotonic()
    setup_s, code = launch(run_dir, [
        "--workload", a.workload, "--seed", str(a.seed), "--data", str(DATA),
        "--work", str(run_dir), "--passes", str(passes), "--trace", str(a.trace),
        "--manifest", str(manifest), "--goldens", str(BENCH / "goldens.json"),
        "--out", str(out), "--record-goldens", "1" if a.record_goldens else "0"],
        deadline, log)
    if code != 0 or setup_s is None or not out.is_file():
        sys.stderr.write(log.read_text(errors="replace")[-4000:])
        fail(f"harness failed (exit {code})", 5)
    print(f"perfbench: build check {t_inputs - start:.1f} s, inputs {t_jvm - t_inputs:.1f} s, "
          f"harness JVM {time.monotonic() - t_jvm:.1f} s", file=sys.stderr)

    doc = json.loads(out.read_text())
    if a.trace:
        repeat_failures(doc)
    recs = doc["records"]
    failed = [r for r in recs if r["failures"]]
    for r in failed:
        for f in r["failures"]:
            print(f"FAILED pass {r['pass']} {f}", file=sys.stderr)
    e2e, tail_info = end_to_end(doc, setup_s, a.workload)
    print(f"workload {a.workload} seed {a.seed} passes {passes} (+1 priming) "
          f"ops/pass {spec['ops']} trace {a.trace}")
    if a.trace:
        traces = WORK / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        tpath = traces / f"{a.workload}-seed{a.seed}.json"
        tpath.write_text(json.dumps(doc, indent=1))
        metrics = per_layer(doc)
        units = dict(PER_LAYER)
        print(f"spans and per-operation layers: {tpath.relative_to(ROOT)}")
        print(f"traced wall_s {e2e['wall_s']:.6f} s")
        print(f"codegen.compiles per timed pass: {compiles_by_op(doc)}")
    else:
        metrics = e2e
        units = dict(END_TO_END)
        print(f"op_tail_s is p{tail_info['op_tail_percentile']:.1f} of "
              f"{tail_info['op_tail_samples']} samples")
    for k, v in metrics.items():
        print(f"  {k:24s} {v:14.6f} {units[k]}")
    print(f"  {'error_rate':24s} {len(failed) / len(recs):14.6f} ratio "
          f"({len(failed)} of {len(recs)} operations)")
    print(json.dumps({"correct": not failed, "attempted": len(recs), "failed": len(failed),
                      "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))


if __name__ == "__main__":
    main()
