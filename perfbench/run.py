#!/usr/bin/env python3
"""The pipeline benchmark: one closed-loop workload, one run.

    python3 perfbench/run.py --workload lakehouse_transform --seed 1 \
        --seconds 20 --trace 0

Builds the engine together with the benchmark's driver (sbt, once per
source tree, cached under .bench_build/ with a class-data-sharing archive
that shortens JVM start), runs one JVM with `local[4]` for the workload,
checks the outputs, and prints the metrics as the last line of standard
output:

    {"correct": true, "attempted": 6, "failed": 0, "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones BENCHMARK.json lists (see README.md). A run whose outputs are wrong prints
correct=false, counts every op as failed and exits with status 1.
"""

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave no caches in the checkout

import analysis  # noqa: E402
import gates  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
# a first run (build, archive, run) must end within 900 s, any other in 180 s
BUILD_TIMEOUT_S = 450
TRAIN_TIMEOUT_S = 200
RUN_TIMEOUT_S = 170
# a fixed heap: the peak resident set then tracks what the program touches,
# not how far the collector chose to grow the heap in this run
HEAP = "2g"

# what Spark needs on JDK 17 outside spark-submit (as in the root build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files.extend(os.path.join(d, n) for n in names)
    return sorted(files)


def build():
    """Compile once per source tree; returns the runtime classpath."""
    digest = hashlib.sha256()
    for f in source_files():
        digest.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            digest.update(fh.read())
    stamp = digest.hexdigest()
    cp_file = os.path.join(BUILD, "classpath")
    stamp_file = os.path.join(BUILD, "stamp")
    if all(os.path.exists(f) for f in (cp_file, stamp_file, ARCHIVE)):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as fh:
                    return fh.read()
    shutil.rmtree(BUILD, ignore_errors=True)
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={os.path.expanduser('~/.sbt/repositories')} "
                   "-Dsbt.offline=true -Xmx2g")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=BUILD_TIMEOUT_S)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or "perfbench_" not in lines[-1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit("build failed")
    cp = lines[-1].strip()
    log(f"built in {time.time() - t0:.0f} s; recording the class-data archive")
    os.makedirs(BUILD)
    train(cp)
    with open(cp_file, "w") as fh:
        fh.write(cp)
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return cp


def train(cp):
    """One short transform run that dumps the classes it loaded into the
    archive every later run maps at start. The build fails unless the
    archive then loads, so all runs start the same way."""
    work = os.path.join(WORK, "train")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    args = argparse.Namespace(workload="lakehouse_transform", seed=0, seconds=0, trace=0)
    try:
        run_jvm(cp, args, work, time.time() + TRAIN_TIMEOUT_S,
                [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    check = subprocess.run(
        ["java", "-Xshare:on", f"-XX:SharedArchiveFile={ARCHIVE}", "-cp", cp, "-version"],
        stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if check.returncode != 0:
        sys.stderr.write(check.stdout)
        raise SystemExit("build failed: the class-data archive does not load")


def run_jvm(cp, args, work, deadline, jvm_flags=None):
    """One JVM run of graft.perfbench.Main; returns its result JSON."""
    out = os.path.join(work, "result.json")
    local = os.path.join(work, "spark-local")
    os.makedirs(local)
    if jvm_flags is None:
        jvm_flags = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData", *jvm_flags,
           f"-Djava.io.tmpdir={local}",
           f"-Dspark.local.dir={local}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", os.path.join(work, "data"), "--out", out]
    jvm_log = os.path.join(work, "jvm.log")
    with open(jvm_log, "w") as fh:
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT)
        try:
            proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit("the workload run timed out")
    if proc.returncode != 0 or not os.path.exists(out):
        with open(jvm_log) as fh:
            sys.stderr.write("".join(fh.readlines()[-60:]))
        raise SystemExit(f"the workload run failed (exit {proc.returncode})")
    with open(jvm_log) as fh:
        for line in fh:
            if "[perfbench]" in line:
                sys.stderr.write(line)
    with open(out) as fh:
        return json.load(fh)


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=[
        "lakehouse_transform", "lakehouse_poll", "curation_stream"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = p.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        raise SystemExit("the engine sources (src/main/scala) are not here")
    cp = build()
    deadline = time.time() + RUN_TIMEOUT_S
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(cp, args, work, deadline)
        mismatches = list(result["mismatches"])
        if args.workload == "lakehouse_transform":
            mismatches += gates.transform(result["work"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for m in mismatches:
        log(f"CORRECTNESS MISMATCH: {m}")
    correct = not mismatches

    e2e, attempted, failed, detail = analysis.end_to_end_metrics(result, correct)
    detail = dict(detail, setup=dict(
        session_s=result["session_s"], generate_s=result["generate_s"],
        open_s=result["open_s"], warmup_s=result["warmup_s"]),
        gate_s=result["gate_s"],
        op_s=[o["s"] for o in result["ops"]])
    if args.trace:
        # the result line carries the per-layer metrics BENCHMARK.json
        # lists; the detail line carries all of them (the `ingest` and
        # `etl.incremental` layers only work in lakehouse_poll)
        values = detail["per_layer"] = analysis.per_layer_metrics(result)
        units = analysis.PER_LAYER_UNITS
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            listed = [m["name"] for m in json.load(fh)["per_layer"]]
        values = {k: values[k] for k in listed}
    else:
        values = e2e
        units = analysis.END_TO_END_UNITS
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
