#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload {wordcount,query_mix} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. Builds the engine and the benchmark program
(perfbench/build.sbt) when their sources changed, generates the seeded
inputs (cached under .perfbench/data), runs the benchmark JVM for the timed
window, checks every job's output against DuckDB outside the timed region,
and prints a report followed by one JSON line: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("wordcount", "query_mix")
# query_mix: among SparkEntry's queries numbered 5 mod 6, the first one
# below q60 that calls each operator module, then the first interchange
# (file round-trip) query, as (query, operator module). A fixed list, so
# the parent and a change always run the same jobs.
QUERY_MIX = [
    ("q05_topk", "Relational"), ("q11_dedup_exact", "Dedup"), ("q17_ann_lsh", "Similarity"),
    ("q23_stream_window", "EventStream"), ("q35_bigrams", "TextAnalysis"),
    ("q47_cluster_reps", "Pipeline"), ("q53_shard_pack", "Packing"),
    ("q239_csv_roundtrip_agg", "Interchange"),
]
# the first streaming execution query (``*_exec``) of the same list, which
# traced runs time as a probe
QUERY_MIX_STREAM = "q113_stream_join_exec"
JVM_HEAP = "3g"
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 150


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build(root, work):
    """Compile the engine and the benchmark program; reuse the last build
    while no source of either changed. Returns the runtime classpath."""
    h = hashlib.sha256()
    tracked = [os.path.join(root, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for base in (os.path.join(root, "src", "main"), os.path.join(root, "project"),
                 os.path.join(HERE, "src"), os.path.join(HERE, "project")):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            tracked += [os.path.join(d, f) for f in sorted(files)]
    for p in tracked:
        if os.path.isfile(p):
            h.update(p.encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    cp_file = os.path.join(work, "classpath.txt")
    stamp_file = os.path.join(work, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        classpath = open(cp_file).read().strip()
        if all(os.path.exists(e) for e in classpath.split(os.pathsep)):
            return classpath
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    t0 = time.monotonic()
    log = os.path.join(work, "build.log")
    rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                    "export Runtime/fullClasspath"],
                   HERE, env, log, BUILD_TIMEOUT_S, "build")
    with open(log) as f:
        lines = [ln for ln in f.read().splitlines() if ln.strip()]
    if rc != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        with open(log + ".err") as f:
            sys.stderr.write("\n".join(lines[-40:]) + "\n" + f.read()[-4000:])
        fail("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"build: {time.monotonic() - t0:.1f} s")
    return lines[-1].strip()


ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def run_group(cmd, cwd, env, log_path, timeout_s, what):
    """Runs ``cmd`` in its own process group, stdout to ``log_path`` and
    stderr to ``log_path``.err; on timeout the whole group is killed and
    reaped."""
    with open(log_path, "w") as log, open(log_path + ".err", "w") as err:
        proc = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=log, stderr=err,
                                start_new_session=True)
        try:
            return proc.wait(timeout=max(1.0, timeout_s))
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"{what} exceeded its time limit")


def run_jvm(classpath, run_dir, args, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{JVM_HEAP}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in ADD_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main"] + args
    rc = run_group(cmd, run_dir, None, os.path.join(run_dir, "jvm.log"),
                   deadline - time.monotonic(), "benchmark JVM")
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log.err")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"benchmark JVM exited with {rc}")


def main():
    t_start = time.monotonic()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/compare.py"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"{need} not found: run from the root of a graft checkout")
    work = os.path.join(root, ".perfbench")
    os.makedirs(work, exist_ok=True)
    classpath = build(root, work)
    t_built = time.monotonic()

    t0 = time.monotonic()
    data, props, cached = gen.GENERATORS[a.workload](a.seed, os.path.join(work, "data"))
    gen_s = time.monotonic() - t0
    print(f"input {a.workload} seed={a.seed}: generated in {gen_s:.2f} s"
          f"{' (cached)' if cached else ''}; " + ", ".join(f"{k}={v}" for k, v in sorted(props.items())))

    run_dir = os.path.join(work, "runs", f"{a.workload}-s{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    jvm_args = ["--workload", a.workload, "--data", data, "--out", os.path.join(run_dir, "out"),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                # traced runs with an odd seed start with a traced pass
                "--traced-first", str(a.seed % 2)]
    modules = {}
    if a.workload == "query_mix":
        modules = dict(QUERY_MIX)
        jvm_args += ["--jobs", ",".join(n for n, _ in QUERY_MIX), "--stream", QUERY_MIX_STREAM]
    run_jvm(classpath, run_dir, jvm_args, t_built + RUN_TIMEOUT_S)
    with open(os.path.join(run_dir, "out", "raw.json")) as f:
        raw = json.load(f)

    import check  # DuckDB is only needed from here on
    verdicts, problems = check.check(root, a.workload, data, raw)
    for name, msg in sorted(problems.items()):
        print(f"FAILED {name}: {msg}")

    report, result = metrics.compute(a.workload, raw, verdicts, props, modules, a.trace == 1,
                                     run_dir)
    print(report)
    # job outputs and Spark's scratch are large; keep raw samples, spans
    # and the report
    shutil.rmtree(os.path.join(run_dir, "out"))
    shutil.rmtree(os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "raw.json"), "w") as f:
        json.dump(raw, f)
    with open(os.path.join(run_dir, "report.txt"), "w") as f:
        f.write(report + "\n")
    print(f"run: {time.monotonic() - t_start:.1f} s (build {t_built - t_start:.1f} s)",
          file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
