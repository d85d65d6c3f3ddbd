#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one fresh JVM. See README.md.

    python3 perfbench/run.py --workload validate --seed 1 --seconds 20 --trace 0

Builds the program from the checkout (first run only), generates the
workload's inputs from the seed, runs them through graft's public API in a
JVM with a fixed, pre-touched heap, checks the outputs against DuckDB and
the generator's own expectations, and prints one JSON object as the last
line of standard output: end-to-end metrics with --trace 0, per-layer
metrics from a traced run with --trace 1.
"""
import time

T_START = time.time()

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
CLASSPATH_FILE = os.path.join(HERE, "target", "classpath.txt")
DEADLINE_S = 170

JAVA_OPTIONS_FILE = os.path.join(HERE, "target", "java-options.txt")
# The program's own JVM options come from its build.sbt (bench/exportJavaOptions):
# the fixed, pre-touched heap, ParallelGC, add-opens and Spark settings. The
# heap size is build.sbt's SPARK_DRIVER_MEM, fixed here at 2g (build.sbt then
# makes half of it the young generation).
DRIVER_MEM = "2g"
# The benchmark's own extra flag: a fixed set of JIT compiler threads, so
# that their CPU can be read per pass.
EXTRA_JVM_FLAGS = ["-XX:-UseDynamicNumberOfCompilerThreads"]

# (unreported warm-up passes, fewest reported passes) after the cold first
# pass. validate's passes are short and keep speeding up through the 4th
# (JIT), so it discards three; the others discard one.
PASSES = {"validate": (3, 3), "neardup": (1, 2), "quality": (1, 2)}

PASS_METRICS = {
    "scan.input_rows": "rows", "exchange.shuffle_write_mb": "MB",
    "exchange.shuffle_records": "count", "exchange.spill_mb": "MB", "sched.jobs": "count",
    "sched.stages": "count", "sched.tasks": "count", "sched.idle_s": "s", "task.cpu_s": "s",
    "task.run_s": "s", "jvm.gc_s": "s", "cache.peak_mb": "MB"}

# metric -> (span, field, unit, scale)
SPAN_METRICS = {
    "suite.compile_ms": ("suite.compile", "wall_s", "ms", 1000.0),
    "engine.flags.wall_s": ("engine.flags", "wall_s", "s", 1.0),
    "engine.flags.task_cpu_s": ("engine.flags", "task_cpu_s", "s", 1.0),
    "engine.violations.task_cpu_s": ("engine.violations", "task_cpu_s", "s", 1.0),
    "constraints.unique.task_cpu_s": ("constraints.unique", "task_cpu_s", "s", 1.0),
    "constraints.unique.shuffle_mb": ("constraints.unique", "shuffle_mb", "MB", 1.0),
    "constraints.ref.wall_s": ("constraints.ref", "wall_s", "s", 1.0),
    "drift.chi2.wall_s": ("drift.chi2", "wall_s", "s", 1.0),
    "drift.chi2.jobs": ("drift.chi2", "jobs", "count", 1.0),
    "dedup.lsh.wall_s": ("dedup.lsh", "wall_s", "s", 1.0),
    "dedup.lsh.task_cpu_s": ("dedup.lsh", "task_cpu_s", "s", 1.0),
    "dedup.lsh.shuffle_mb": ("dedup.lsh", "shuffle_mb", "MB", 1.0),
    "dedup.verify.wall_s": ("dedup.verify", "wall_s", "s", 1.0),
    "dedup.verify.task_cpu_s": ("dedup.verify", "task_cpu_s", "s", 1.0),
    "dedup.cc.wall_s": ("dedup.cc", "wall_s", "s", 1.0),
    "dedup.cc.jobs": ("dedup.cc", "jobs", "count", 1.0),
    "dedup.cc.idle_s": ("dedup.cc", "idle_s", "s", 1.0),
    "dedup.anti_join.wall_s": ("dedup.anti_join", "wall_s", "s", 1.0),
    "text.gates.task_cpu_s": ("text.gates", "task_cpu_s", "s", 1.0),
    "pipeline.audit.wall_s": ("pipeline.audit", "wall_s", "s", 1.0),
    "pipeline.audit.jobs": ("pipeline.audit", "jobs", "count", 1.0),
    "lm.train.wall_s": ("lm.train", "wall_s", "s", 1.0),
    "lm.train.driver_s": ("lm.train", "driver_s", "s", 1.0),
    "lm.train.shuffle_mb": ("lm.train", "shuffle_mb", "MB", 1.0),
    "lm.score.task_cpu_s": ("lm.score", "task_cpu_s", "s", 1.0),
    "pipeline.thresholds.wall_s": ("pipeline.thresholds", "wall_s", "s", 1.0),
    "pipeline.select.input_rows": ("pipeline.select", "input_rows", "rows", 1.0),
}

COUNT_METRICS = {"engine.violations.rows": "rows", "dedup.candidates": "count",
                 "dedup.verified": "count", "dedup.verify_yield": "ratio",
                 "lm.model_entries": "count"}


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def program_sources():
    files = [os.path.join(ROOT, "build.sbt")]
    files += glob.glob(os.path.join(ROOT, "project", "*.properties"))
    files += glob.glob(os.path.join(ROOT, "project", "*.sbt"))
    files += glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
    return sorted(f for f in files if os.path.isfile(f))


def bench_sources():
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    files += glob.glob(os.path.join(HERE, "src", "**", "*.scala"), recursive=True)
    return sorted(files)


def read_build():
    with open(CLASSPATH_FILE) as f:
        cp = f.read().strip()
    with open(JAVA_OPTIONS_FILE) as f:
        opts = [ln.strip() for ln in f if ln.strip()]
    return cp, opts + EXTRA_JVM_FLAGS


def build():
    """Compiles graft (through its own build.sbt) and the benchmark driver
    unless the cached classpath and JVM options are newer than every source.
    Returns the runtime classpath, the JVM flags and the seconds spent
    building."""
    sources = program_sources() + bench_sources()
    newest = max(os.path.getmtime(f) for f in sources)
    if all(os.path.exists(f) and os.path.getmtime(f) >= newest
           for f in (CLASSPATH_FILE, JAVA_OPTIONS_FILE)):
        return read_build() + (0.0,)
    t0 = time.time()
    env = dict(os.environ, SPARK_DRIVER_MEM=DRIVER_MEM)
    env.setdefault("COURSIER_MODE", "offline")
    p = subprocess.run(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "bench/compile",
         "export bench/Runtime/fullClasspath", "bench/exportJavaOptions"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    lines = p.stdout.splitlines()
    cp = [ln for ln in lines if "scala-2.13" in ln and os.pathsep in ln and not ln.startswith("[")]
    if p.returncode != 0 or not cp or not os.path.exists(JAVA_OPTIONS_FILE):
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("build of graft and the benchmark driver failed", 1)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp[-1].strip())
    return read_build() + (time.time() - t0,)


def steal_ticks():
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return None


def source_digest():
    h = hashlib.sha256()
    for f in program_sources():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def commit():
    try:
        p = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return p.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(cp, flags, args, run_dir, timeout):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME") else "java"
    cmd = [java] + flags + [
        f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/spark-local",
        f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
        "-cp", cp, "graftbench.Main"] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=f"{run_dir}/spark-local")
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(timeout, 1))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        fail("the JVM run timed out" if code is None else f"the JVM run failed with exit code {code}", 1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(res):
    """setup_s runs from the launch of the JVM to its first pass: JVM start,
    session start and input loading, all the program's set-up. The input
    generation before it is the benchmark's own work and is left out.
    Wall-time metrics (first pass, rows per second) are kept in the results
    file but not reported: co-tenant CPU steal spreads them beyond any usable
    bound (README, "Measured")."""
    measured = [p for p in res["passes"] if p["kind"] == "measured"]
    return {
        "setup_s": res["setup_s"],
        "cpu_s": median([p["cpu_s"] - p["jit_cpu_s"] for p in measured]),
        "heap_peak_mb": median([p["heap_peak_mb"] for p in measured]),
    }, {"setup_s": "s", "cpu_s": "s", "heap_peak_mb": "MB"}


def span_of(spans, name):
    for s in spans:
        if s["path"] == name or s["path"].endswith("/" + name):
            return s
    return None


def per_layer(res):
    pairs = res["pairs"]
    values, units = {}, {}
    for m, u in PASS_METRICS.items():
        values[m] = median([p["pass"][m] for p in pairs])
        units[m] = u
    for m, (span, field, u, scale) in SPAN_METRICS.items():
        xs = [span_of(p["spans"], span) for p in pairs]
        values[m] = median([s[field] * scale for s in xs if s is not None])
        units[m] = u
    for m, u in COUNT_METRICS.items():
        values[m] = pairs[-1]["counts"].get(m, 0.0)
        units[m] = u
    # the JIT compiler threads' CPU, which cpu_s leaves out
    values["jvm.jit_cpu_s"] = median([p["jit_cpu_s"] for p in res["passes"] if p["kind"] == "untraced"])
    units["jvm.jit_cpu_s"] = "s"
    return values, units


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["validate", "neardup", "quality"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size relative to the benchmark's (self-test uses a tiny one)")
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"the graft program is missing: no build.sbt and src/main/scala/graft in {ROOT}")
    if os.environ.get("SPARK_GRAFT_MASTER"):
        fail("SPARK_GRAFT_MASTER is set; GraftSession.local would silently run under "
             f"'{os.environ['SPARK_GRAFT_MASTER']}' instead of local[N]. Unset it.")

    sys.path.insert(0, HERE)
    import gen
    import oracle

    cp, flags, build_s = build()
    t0 = T_START + build_s
    load_before = os.getloadavg()[0]
    steal0 = steal_ticks()

    cores = min(4, os.cpu_count() or 1)
    warmup, min_measured = PASSES[a.workload]
    rows = max(int(gen.SIZES[a.workload] * a.scale), 200)
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "input")
    os.makedirs(data)
    try:
        meta, expect = gen.generate(a.workload, data, a.seed, rows)
        out = os.path.join(run_dir, "result.json")
        launch = time.time()
        run_jvm(cp, flags, [
            "--workload", a.workload, "--data", data, "--seconds", str(a.seconds),
            "--warmup", str(warmup), "--min-measured", str(min_measured),
            "--trace", str(a.trace), "--cores", str(cores),
            "--launch-ms", str(int(launch * 1000)), "--out", out,
        ], run_dir, DEADLINE_S - (time.time() - T_START) - 25)
        with open(out) as f:
            res = json.load(f)
        problems = oracle.CHECKS[a.workload](data, meta, expect, res["digest"])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    steal1 = steal_ticks()
    context = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "input_rows": res["input_rows"], "load1m_before": load_before,
        "load1m_after": os.getloadavg()[0],
        "steal_ticks": None if steal0 is None or steal1 is None else steal1 - steal0,
        "master": res["master"], "task_threads": res["task_threads"],
        "spark_version": res["spark_version"], "jvm_flags": flags,
        "commit": commit(), "source_sha256_16": source_digest(),
        "passes": res["passes"], "build_s": build_s, "problems": problems,
        "setup": dict(res["setup"], python_s=launch - t0),
    }
    if a.trace:
        values, units = per_layer(res)
        untraced = median([p["untraced_wall_s"] for p in res["pairs"]])
        traced = median([p["traced_wall_s"] for p in res["pairs"]])
        context["tracing"] = {"untraced_pass_s": untraced, "traced_pass_s": traced,
                              "overhead_s": traced - untraced}
        os.makedirs(WORK, exist_ok=True)
        with open(os.path.join(WORK, f"trace-{a.workload}-{a.seed}.json"), "w") as f:
            json.dump({"context": context, "pairs": res["pairs"]}, f, indent=1)
    else:
        values, units = end_to_end(res)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    with open(os.path.join(WORK, "results", f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump({"context": context, "metrics": values, "digest": res["digest"]}, f, indent=1)
    for p in problems:
        print(f"perfbench: check failed: {p}", file=sys.stderr)

    print(json.dumps({"context": {k: v for k, v in context.items() if k != "passes"}}))
    print(json.dumps({
        "correct": not problems,
        "attempted": len(res["passes"]),
        "failed": sum(1 for p in res["passes"] if not p["digest_ok"]),
        "metrics": {m: {"value": v, "unit": units[m]} for m, v in values.items()},
    }))


if __name__ == "__main__":
    main()
