#!/usr/bin/env python3
"""Benchmark runner for the corpus pipeline engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload indic_funnel --seed 1 --seconds 20 --trace 0

It builds the engine and the harness from source (sbt, offline, once per
source state), generates the workload's inputs from the seed in one JVM,
measures in a second, fresh JVM, and prints the result object as the last
line of standard output. Everything it writes stays under the checkout:
build output in perfbench/target, inputs and temporary files in .bench_work/.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

WORKLOADS = ("indic_funnel", "crawl_dupskew")
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 165
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


T0 = time.monotonic()


def log(msg):
    print(f"[perfbench] {time.monotonic() - T0:7.1f}s {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    trees = [os.path.join(root, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for t in trees:
        for d, _, fs in os.walk(t):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root):
    """Compile once per source state; returns the runtime classpath."""
    target = os.path.join(HERE, "target")
    stamp_file = os.path.join(target, "bench-build.json")
    stamp = source_stamp(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            prev = json.load(fh)
        if prev.get("stamp") == stamp:
            return prev["classpath"]
    log("building engine and harness from source")
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories") +
                       " -Dsbt.offline=true -Dsbt.server.autostart=false -Xmx2g -XX:-UsePerfData")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True, timeout=800)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if l.startswith("/") and ".jar" in l]
    sys.stderr.write("".join(l + "\n" for l in lines if l not in cp))
    if p.returncode != 0:
        raise SystemExit("build failed")
    if not cp:
        raise SystemExit("build printed no classpath")
    os.makedirs(target, exist_ok=True)
    with open(stamp_file, "w") as fh:
        json.dump({"stamp": stamp, "classpath": cp[-1]}, fh)
    return cp[-1]


def jvm(root, classpath, work, args, deadline):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Dspark.sql.warehouse.dir=" + os.path.join(work, "warehouse"), "-Dderby.system.home=" + tmp]
    for m in ADD_OPENS:
        cmd += ["--add-opens", m + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "perfbench.Main"] + args
    timeout = max(1.0, deadline - time.monotonic())
    try:
        p = subprocess.run(cmd, cwd=root, env=env, stdout=sys.stdout, stderr=sys.stderr,
                           timeout=timeout)
    except subprocess.TimeoutExpired:
        raise SystemExit("benchmark JVM timed out")
    if p.returncode != 0:
        raise SystemExit(f"benchmark JVM exited with {p.returncode}")


def to_parquet(work):
    """Convert the generator's JSON lines to the parquet the program reads:
    the corpus as 8 files (doc_id order), the ground truth as one."""
    import pyarrow as pa
    import pyarrow.json as pj
    import pyarrow.parquet as pq
    corpus = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("url", pa.string())])
    truth = pa.schema([("doc_id", pa.int64()), ("cluster", pa.int64())])
    for name, schema, parts in (("corpus", corpus, 8), ("truth", truth, 1)):
        src = os.path.join(work, name + ".jsonl")
        table = pj.read_json(src, parse_options=pj.ParseOptions(explicit_schema=schema))
        out = os.path.join(work, "input" if name == "corpus" else name)
        os.makedirs(out)
        step = -(-table.num_rows // parts)
        for i in range(parts):
            pq.write_table(table.slice(i * step, step), os.path.join(out, f"part-{i:05d}.parquet"))
        os.remove(src)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala")):
        raise SystemExit("no engine sources under ./src/main/scala: run from the root of a checkout")
    classpath = build(root)
    deadline = time.monotonic() + JVM_TIMEOUT_S
    work = os.path.join(root, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        common = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                  "--trace", str(a.trace), "--work", work]
        log("generating inputs")
        jvm(root, classpath, work, ["--phase", "gen"] + common, deadline)
        to_parquet(work)
        log("measuring")
        out = os.path.join(work, "result.json")
        jvm(root, classpath, work,
            ["--phase", "run", "--out", out] + common, deadline)
        log("done")
        with open(out) as fh:
            result = json.load(fh)
        if a.trace:
            shutil.copy(os.path.join(work, "spans.jsonl"),
                        os.path.join(root, ".bench_work", f"spans-{a.workload}-{a.seed}.jsonl"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.flush()
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
