#!/usr/bin/env python3
"""Benchmark of the graft clean pipeline (the paper's state-file batch).

    python3 perfbench/run.py --workload clean_states --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. The first run builds the program and the
harness with sbt (offline) into perfbench/target; later runs reuse that
build while the sources are unchanged. Each run generates its inputs from
the seed into a temporary directory under .bench_build/, starts one JVM
that runs the workload (perfbench/src), checks every unit's output against
the generator's expectations, and prints one JSON line:

    {"correct": true, "attempted": N, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones, measured with no
listener attached; with --trace 1 they are the per-layer ones of a traced
pass (see BENCHMARK.json). The full record of the run, with the recorded
environment and, when traced, the spans, is written to
.bench_out/<workload>-seed<seed>-trace<t>.json. The exit code is 0 only
when every output was correct.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
RESULTS = os.path.join(ROOT, ".bench_out")
PROGRAM = os.path.join(ROOT, "src", "main")
# Setup repeats input generation this many times and reports the median.
GEN_REPEATS = 3
JVM_HEAP = "2g"
# A measured pass during which the hypervisor stole more than STEAL_LIMIT of
# the machine's CPU time (a neighbour's burst on a shared host slows every
# unit up to twofold) is run again in a fresh JVM, and the attempt with the
# least steal is reported: only while the run has spent under RETRY_BEFORE_S
# seconds, and at most MAX_RETRIES times per checkout, which bounds what
# retries add to a series of runs. Runs stay under DEADLINE_S seconds.
STEAL_LIMIT = 0.10
RETRY_BEFORE_S = 80
MAX_RETRIES = 8
DEADLINE_S = 175
# Spark 4 on JDK 17 needs these outside spark-submit (same list as the root
# build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {
    "setup_s": "s", "wall_s": "s", "rows_per_s": "1/s", "unit_p50_s": "s",
    "unit_p80_s": "s", "peak_rss_mb": "MB"}
PER_LAYER = {
    "construct.s": "s", "construct.jobs": "count", "construct.job_s": "s",
    "construct.task_s": "s", "construct.driver_s": "s",
    "engine.ingest.jobs": "count", "engine.ingest.s": "s",
    "engine.dictionary.jobs": "count", "engine.dictionary.s": "s",
    "plan.s": "s", "plan.analysis_s": "s", "plan.optimization_s": "s",
    "plan.planning_s": "s",
    "execute.s": "s", "execute.jobs": "count", "execute.stages": "count",
    "execute.tasks": "count", "execute.task_s": "s", "execute.cpu_s": "s",
    "execute.task_gc_s": "s", "execute.core_util": "ratio",
    "execute.shuffle_write_mb": "MB", "execute.shuffle_read_mb": "MB",
    "execute.spill_mb": "MB", "execute.input_mb": "MB",
    "execute.input_records": "count", "execute.peak_exec_mem_mb": "MB",
    "execute.tasks_failed": "count",
    "engine.sink.s": "s", "engine.sink.mb": "MB", "engine.sink.files": "count",
    "engine.qa.s": "s", "engine.qa.agreement": "ratio",
    "engine.dictionary.kept_ratio": "ratio",
    "engine.assemble.match_rate": "ratio",
    "jvm.gc_s": "s", "jvm.heap_peak_mb": "MB",
    "trace.wall_s": "s", "trace.overhead_s": "s"}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cores():
    return len(os.sched_getaffinity(0))


def source_digest():
    """Digest of everything the build compiles, to reuse a build only
    while its sources are unchanged."""
    h = hashlib.sha256()
    tops = [os.path.join(PROGRAM), os.path.join(HERE, "src"),
            os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness; return the runtime classpath."""
    stamp = os.path.join(BUILD, "classpath.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            cached = json.load(f)
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.offline=true -Xmx2g")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-5000:])
        raise SystemExit("perfbench: build failed")
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def run_jvm(classpath, workload, inputs, work, seconds, trace, timeout):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "jvm-tmp")
    os.makedirs(tmp)
    # A fixed, pre-touched heap: peak RSS is then the heap plus native
    # memory, and does not depend on how far the heap happened to grow.
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:+AlwaysPreTouch",
            f"-Djava.io.tmpdir={tmp}"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", classpath, "graft.perfbench.Main",
            "--workload", workload, "--inputs", inputs, "--work", work,
            "--out", out, "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(cores())])
    # The JVM's own output goes to stderr: stdout carries only the result.
    proc = subprocess.run(cmd, stdin=subprocess.DEVNULL, stdout=sys.stderr,
                          stderr=sys.stderr, timeout=timeout)
    if proc.returncode != 0:
        raise SystemExit(f"perfbench: harness exited with {proc.returncode}")
    with open(out) as f:
        return json.load(f)


def steal(result):
    """Largest share of CPU time stolen during one of the measured passes
    (the warm-up's share comes first)."""
    return max(result["steal_share"][1:])


def retry_allowed():
    """Count one more retry against this checkout's MAX_RETRIES."""
    path = os.path.join(BUILD, "retries")
    used = int(open(path).read()) if os.path.exists(path) else 0
    if used >= MAX_RETRIES:
        return False
    with open(path, "w") as f:
        f.write(str(used + 1))
    return True


def check_unit(workload, expected, observed):
    """Problems with one unit's output, as a list of strings (empty = ok)."""
    if "error" in observed:
        return [observed["error"]]
    problems = []

    def same(key, got, want):
        if got == want:
            return
        if isinstance(got, list) and isinstance(want, list):
            i = next((i for i, (a, b) in enumerate(zip(got, want)) if a != b),
                     min(len(got), len(want)))
            got, want = got[i:i + 3], want[i:i + 3]
            key = f"{key}[{i}:]"
        problems.append(f"{key}: got {got!r}, want {want!r}")

    same("rows", observed.get("rows"), expected["rows"])
    if workload == "clean_states":
        for key in ("fr_lunch", "fr_breakfast"):
            got = observed.get(key)
            same(key, int(got) if isinstance(got, float) and got.is_integer()
                 else got, expected[key])
        same("columns", observed.get("columns"), expected["columns"])
        for key in ("qa_produced", "qa_expected", "qa_common"):
            same(key, observed.get(key), expected["rows"])
        same("qa_ratio", observed.get("qa_ratio"), 1.0)
    else:
        same("columns", observed.get("columns"), expected["columns"])
    return problems


def p80(values):
    """80th percentile, interpolated between the two nearest samples."""
    return statistics.quantiles(values, n=10, method="inclusive")[7]


def metrics(workload, expected, result, setup_s, trace):
    passes = result["passes"]
    if trace:
        layers = dict(result["layers"])
        traced = passes[1]["units"]
        layers["engine.sink.files"] = sum(u.get("sink_files", 0) for u in traced)
        qa = [u["qa_ratio"] for u in traced if "qa_ratio" in u]
        layers["engine.qa.agreement"] = min(qa) if qa else 0.0
        layers["engine.dictionary.kept_ratio"] = (
            sum(len(u.get("columns", [])) for u in traced) /
            sum(expected[u["unit"]]["input_columns"] for u in traced))
        layers["engine.assemble.match_rate"] = (
            sum(u.get("rows", 0) for u in traced) /
            sum(expected[u["unit"]]["lunch_rows"] for u in traced))
        return {k: {"value": float(layers[k]), "unit": v}
                for k, v in PER_LAYER.items()}
    walls = [p["seconds"] for p in passes]
    units = [u["seconds"] for p in passes for u in p["units"]]
    rows = sum(expected[u["unit"]]["lunch_rows"] +
               expected[u["unit"]]["breakfast_rows"] for u in passes[0]["units"])
    wall = statistics.median(walls)
    values = {
        "setup_s": setup_s, "wall_s": wall, "rows_per_s": rows / wall,
        "unit_p50_s": statistics.median(units),
        "unit_p80_s": p80(units),
        "peak_rss_mb": result["peak_rss_mb"]}
    return {k: {"value": float(values[k]), "unit": v}
            for k, v in END_TO_END.items()}


def git_revision():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              check=True).stdout.strip()
    except (OSError, subprocess.CalledProcessError):
        return None


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops its JVM (subprocess.run kills the child
    # when interrupted) and removes its inputs.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(PROGRAM, "scala", "graft", "engine",
                                       "Pipeline.scala")):
        raise SystemExit("perfbench: the program's sources (src/main) are "
                         "missing; run from the root of a full checkout")
    classpath = build()
    started = time.perf_counter()

    os.makedirs(BUILD, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=BUILD)
    try:
        gen_times = []
        for i in range(GEN_REPEATS):
            t = time.perf_counter()
            expected = gen.generate(args.workload, args.seed,
                                    os.path.join(work, f"gen{i}"))
            gen_times.append(time.perf_counter() - t)
        inputs = os.path.join(work, f"gen{GEN_REPEATS - 1}", "inputs")
        attempts = []
        while True:
            t = time.perf_counter()
            result = run_jvm(classpath, args.workload, inputs,
                             os.path.join(work, f"attempt{len(attempts)}"),
                             args.seconds, args.trace,
                             DEADLINE_S - (t - started))
            # JVM launch, session start and warm-up; not the measured passes.
            result["setup_s"] = (statistics.median(gen_times) +
                                 time.perf_counter() - t -
                                 sum(p["seconds"] for p in result["passes"]))
            attempts.append(result)
            if (args.trace or steal(result) <= STEAL_LIMIT or
                    time.perf_counter() - started > RETRY_BEFORE_S or
                    not retry_allowed()):
                break
            log(f"{steal(result):.0%} of the CPU was stolen during the "
                "measured pass; running it again")
        result = min(attempts, key=steal)
        runs = [u for a in attempts for u in a["warmup"] +
                [u for p in a["passes"] for u in p["units"]]]
        failed = 0
        for u in runs:
            problems = check_unit(args.workload, expected[u["unit"]], u)
            if problems:
                failed += 1
                log(f"FAIL {u['unit']}: {'; '.join(problems)[:500]}")
        out = {"correct": failed == 0, "attempted": len(runs),
               "failed": failed,
               "metrics": metrics(args.workload, expected, result,
                                  result["setup_s"], args.trace)}
        record = dict(out, workload=args.workload, seed=args.seed,
                      seconds=args.seconds, trace=args.trace,
                      cpus=result["cores"], spark=result["spark"],
                      scala=result["scala"], java=result["java"],
                      revision=git_revision(),
                      session_s=result["session_s"],
                      warmup_s=result["warmup_s"], gen_s=gen_times,
                      pass_s=[p["seconds"] for p in result["passes"]],
                      steal_share=result["steal_share"],
                      attempts_steal=[steal(a) for a in attempts],
                      unit_s=[{u["unit"]: u["seconds"] for u in p["units"]}
                              for p in result["passes"]],
                      spans=result.get("spans", []))
        os.makedirs(RESULTS, exist_ok=True)
        with open(os.path.join(
                RESULTS, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
                "w") as f:
            json.dump(record, f, indent=1)
        print(json.dumps(out))
        return 0 if failed == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
