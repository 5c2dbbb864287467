#!/usr/bin/env python3
"""Benchmark runner for graft: builds the harness once, runs one workload
in one directly launched JVM, checks its outputs in DuckDB and prints one
JSON result line.

    python3 perfbench/run.py --workload migrate_jdbc --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(BENCH_DIR, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "bench-classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "bench-sources.sha256")
WORKLOADS = ("migrate_jdbc", "curate_llm")
# every run ends within this many seconds (a first run also builds)
RUN_LIMIT_S = 170
HEAP = "3g"


def jvm_flags():
    """The root build.sbt's `javaOptions` (its `jdk17AddOpens` list and
    the `-D` properties), read from the file so the two cannot drift, with
    the benchmark's fixed heap in place of the build's default one."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        sbt = f.read()
    opens = re.search(r"val jdk17AddOpens = Seq\((.*?)\)\.flatMap", sbt, re.S)
    props = re.search(r"javaOptions \+\+= jdk17AddOpens \+\+ Seq\((.*?)\n\)", sbt, re.S)
    if not opens or not props:
        log("build.sbt's jdk17AddOpens or javaOptions not found; update jvm_flags()")
        sys.exit(2)
    pkgs = re.findall(r'"([^"]+)"', opens.group(1))
    defines = [d for d in re.findall(r'"([^"]+)"', props.group(1)) if d.startswith("-D")]
    return ([a for p in pkgs for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + defines + [f"-Xmx{HEAP}", "-Duser.timezone=UTC"])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """Hash of every file the harness build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH_DIR, "src"),
             os.path.join(BENCH_DIR, "project")]
    files = [os.path.join(BENCH_DIR, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, f) for f in sorted(fs)
                      if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness with sbt unless the sources are
    unchanged since the last build; return the runtime classpath."""
    stamp = sources_stamp()
    if os.path.exists(CLASSPATH_FILE) and os.path.exists(STAMP_FILE):
        with open(STAMP_FILE) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH_FILE) as c:
                    return c.read().strip()
    log("building graft and the harness with sbt")
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(os.path.join(BUILD_DIR, "sbt-build.log"), "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdout=subprocess.PIPE, stderr=out, text=True,
            timeout=800)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        log(f"build failed (exit {p.returncode}); see {out.name}")
        sys.exit(2)
    classpath = lines[-1].strip()
    with open(CLASSPATH_FILE, "w") as f:
        f.write(classpath)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return classpath


def run_jvm(classpath, args, work, deadline, extra=()):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    cmd = ([java] + jvm_flags()
           + [f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
              f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
              "-cp", classpath, "graft.bench.BenchMain",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--cpus", str(len(os.sched_getaffinity(0))),
              "--data", os.path.join(BENCH_DIR, "data", "sf0.01"),
              "--work", work,
              "--config", os.path.join(BENCH_DIR, "config", "config.yaml")]
           + list(extra))
    with open(os.path.join(work, "jvm.log"), "w") as out:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=out,
                             stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log("the JVM ran out of time and was stopped")
            return None
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            tail = f.read()[-4000:]
        log(f"the JVM exited with {code}:\n{tail}")
        return None
    result = os.path.join(work, "result.json")
    if not os.path.exists(result):
        return {}
    with open(result) as f:
        return json.load(f)


def fresh_dir(path):
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))
    return path


def main():
    start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        log(f"no graft sources under {ROOT}; run from the root of a graft checkout")
        sys.exit(2)
    t_build = time.time()
    classpath = build()
    t_build = time.time() - t_build
    work = fresh_dir(os.path.join(BUILD_DIR, "runs",
                                  f"{args.workload}-{args.seed}-{args.trace}-{os.getpid()}"))
    # a run that also built gets the build's time on top of its own
    deadline = start + t_build + RUN_LIMIT_S
    t_jvm = time.time()
    res = run_jvm(classpath, args, work, deadline)
    if res is None:
        sys.exit(1)
    t_jvm = time.time() - t_jvm
    t_check = time.time()

    import check
    errors = list(res["errors"]) + list(res["coverage_failures"])
    if args.workload == "migrate_jdbc":
        errors += check.check_migrate(os.path.join(work, "out"), res["checks"])
    else:
        with open(check.ORACLES) as f:
            oracles = json.load(f)
        errors += check.check_register(args.workload, os.path.join(work, "out"),
                                       res["checks"]["query_dir"], res["rows"], oracles)
    for e in errors:
        log(f"CHECK: {e}")
    log(f"build {t_build:.1f}s jvm {t_jvm:.1f}s check {time.time() - t_check:.1f}s")
    if args.trace:
        # every per-layer metric; a layer this workload does not call reads 0
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in benchmark_spec()["per_layer"]}
    else:
        metrics = {
            "setup_s": {"value": res["setup_s"], "unit": "s"},
            "first_pass_s": {"value": res["first_pass_s"], "unit": "s"},
            "pass_s": {"value": res["pass_s"], "unit": "s"},
            "peak_heap_mb": {"value": res["peak_heap_mb"], "unit": "MB"},
        }
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        kept = os.path.join(BUILD_DIR, "spans", f"{args.workload}-{args.seed}.jsonl")
        os.makedirs(os.path.dirname(kept), exist_ok=True)
        shutil.move(spans, kept)
        log(f"spans written to {kept}")
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"correct": not errors, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


if __name__ == "__main__":
    sys.path.insert(0, BENCH_DIR)
    main()
