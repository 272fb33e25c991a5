#!/usr/bin/env python3
"""Benchmark command for the curation engine.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. It builds the engine from src/main/scala
and the benchmark from perfbench/src (cached under .bench_build/),
generates the workload's inputs from the seed, runs the workload in a
fresh JVM, checks its outputs and prints every metric by name and unit.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. The exit code is 0 only
when every operation succeeded and every check passed. See README.md.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # leave no caches in the checkout
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
TIME_LIMIT_S = 175
HEAP = "2g"
YOUNG = "512m"  # a fixed young generation keeps the resident set comparable
# Spark on JDK 17 outside spark-submit (same list as build.sbt).
ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", p + "=ALL-UNNAMED")]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """The Spark jar directory the sbt build compiles against."""
    sbt = os.path.join(ROOT, "build.sbt")
    if os.path.isfile(sbt):
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', open(sbt).read())
        if m and os.path.isdir(m.group(1)):
            return m.group(1)
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    fail("no Spark jars: build.sbt names none and SPARK_HOME is unset")


def scala_files(d):
    return sorted(os.path.join(r, f) for r, _, fs in os.walk(d)
                  for f in fs if f.endswith(".scala"))


def source_hash(*dirs):
    h = hashlib.sha256()
    for d in dirs:
        for f in scala_files(d):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(jars):
    """Compile engine and benchmark with scalac; each is skipped while
    its sources are unchanged."""
    engine_src = os.path.join(ROOT, "src", "main", "scala")
    bench_src = os.path.join(HERE, "src")
    if not os.path.isdir(engine_src):
        fail("no engine sources under src/main/scala")
    jar_cp = sorted(glob.glob(os.path.join(jars, "*.jar")))
    compiler = [j for j in jar_cp if re.search(r"/scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    if len(compiler) != 3:
        fail("no Scala compiler among the Spark jars")
    classes = os.path.join(BUILD, "classes")
    outs, srcs = [], []
    for name, src in (("engine", engine_src), ("bench", bench_src)):
        srcs.append(src)  # the bench stamp covers the engine too
        digest = source_hash(*srcs)
        out = os.path.join(classes, name)
        stamp = out + ".stamp"
        if not (os.path.isfile(stamp) and open(stamp).read() == digest):
            shutil.rmtree(out, ignore_errors=True)
            os.makedirs(out)
            args = out + ".args"
            with open(args, "w") as fh:
                fh.write("\n".join(scala_files(src)) + "\n")
            t0 = time.time()
            r = subprocess.run(
                ["java", "-Xss16m", "-Xmx2g", "-cp", ":".join(compiler),
                 "scala.tools.nsc.Main", "-nowarn", "-d", out,
                 "-classpath", ":".join(outs + jar_cp), "@" + args])
            if r.returncode != 0:
                fail("compiling %s failed" % os.path.relpath(src, ROOT))
            resources = os.path.join(src, "..", "resources")
            if name == "engine" and os.path.isdir(resources):
                shutil.copytree(resources, out, dirs_exist_ok=True)
            with open(stamp, "w") as fh:
                fh.write(digest)
            print("perfbench: compiled %s in %.0f s" % (os.path.relpath(src, ROOT),
                                                        time.time() - t0), file=sys.stderr)
        outs.append(out)
    return outs


def write_inputs(workload, seed):
    """Generate both input sets twice, require byte-identical files, and
    require the same bytes as any earlier run of this seed with the same
    generator and sizes."""
    fn, params, warm = gen.GENERATORS[workload]
    dirs = []
    for tag, p in (("run", params), ("warm", warm)):
        files = fn(seed, p)
        digest = hashlib.sha256()
        for name in sorted(files):
            digest.update(name.encode() + b"\0" + hashlib.sha256(files[name]).digest())
        again = fn(seed, p)
        if sorted(again) != sorted(files) or any(again[k] != files[k] for k in files):
            fail("input generation is not deterministic for seed %d" % seed)
        d = os.path.join(BUILD, "inputs", "%s-%d-%s" % (workload, seed, tag))
        with open(gen.__file__, "rb") as fh:  # same generator, same sizes
            version = hashlib.sha256(fh.read() + json.dumps(p, sort_keys=True).encode())
        known = "%s-%s.sha256" % (d, version.hexdigest()[:12])
        if os.path.isfile(known) and open(known).read() != digest.hexdigest():
            fail("seed %d generated different inputs than on an earlier run" % seed)
        shutil.rmtree(d, ignore_errors=True)
        for name, data in files.items():
            path = os.path.join(d, name)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "wb") as fh:
                fh.write(data)
        with open(known, "w") as fh:
            fh.write(digest.hexdigest())
        dirs.append((d, digest.hexdigest()))
    return dirs


def check_digest(workload, seed, in_digest, out_digest):
    """Outputs of one input set must not change: not from run to run of
    one benchmark version (kept under .bench_build/digests, keyed without
    the engine sources), and not from the digests recorded in
    reference_digests.json for the seeds listed there, whatever the
    engine version. A change of engine output therefore fails the run."""
    if not out_digest:
        return ["no output digest"]
    checks = []
    ref = json.load(open(os.path.join(HERE, "reference_digests.json"))).get(workload, {})
    rec = ref.get(str(seed))
    if rec and rec["inputs"] != in_digest:
        checks.append("seed %d generated other inputs than recorded in reference_digests.json" % seed)
    elif rec and rec["outputs"] != out_digest:
        checks.append("outputs differ from those recorded for seed %d in reference_digests.json" % seed)
    known = os.path.join(BUILD, "digests", "%s-%s-%s" % (
        workload, in_digest[:16], source_hash(os.path.join(HERE, "src"))[:16]))
    if os.path.isfile(known) and open(known).read() != out_digest:
        checks.append("outputs differ from an earlier run of this seed")
    os.makedirs(os.path.dirname(known), exist_ok=True)
    with open(known, "w") as fh:
        fh.write(out_digest)
    return checks


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(jars, classes, args, out, deadline):
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()), SPARK_LOCAL_DIRS=tmp)
    cmd = ["java", "-Xms" + HEAP, "-Xmx" + HEAP, "-Xmn" + YOUNG, *ADD_OPENS,
           "-Dspark.ui.enabled=false",
           "-Dspark.sql.warehouse.dir=" + os.path.join(out, "warehouse"),
           "-Dspark.local.dir=" + tmp,
           "-Dspark.hadoop.hadoop.tmp.dir=" + tmp,
           "-Djava.io.tmpdir=" + tmp,
           "-Dlog4j2.configurationFile=" + os.path.join(HERE, "log4j2.properties"),
           "-cp", ":".join([classes[1], classes[0], os.path.join(jars, "*")]),
           "graft.bench.Main", *args]
    with open(os.path.join(out, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env,
                             cwd=out, start_new_session=True)
        try:
            return p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail("the benchmark JVM ran out of time; see %s" % os.path.join(out, "jvm.log"))


def main():
    start = time.time()
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root (no BENCHMARK.json here)")
    spec = json.load(open(spec_path))
    jars = spark_jars()
    t_build = time.time()
    classes = build(jars)
    # the limit excludes a build, which only the first run in a checkout does
    deadline = start + TIME_LIMIT_S + (time.time() - t_build)
    (run_in, in_digest), (warm_in, _) = write_inputs(a.workload, a.seed)

    out = os.path.join(BUILD, "runs", "%s-%d-t%d" % (a.workload, a.seed, a.trace))
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(out)
    code = run_jvm(jars, classes, ["--workload", a.workload, "--input", run_in,
                                   "--warm", warm_in, "--out", out,
                                   "--seconds", str(a.seconds), "--trace", str(a.trace)],
                   out, deadline)
    res_path = os.path.join(out, "result.json")
    if code != 0 or not os.path.isfile(res_path):
        with open(os.path.join(out, "jvm.log"), errors="replace") as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail("the benchmark JVM exited with code %d" % code)
    res = json.load(open(res_path))

    checks = list(res["failed_checks"]) + check_digest(a.workload, a.seed, in_digest, res["digest"])

    section = "per_layer" if a.trace else "end_to_end"
    measured = res[section]
    metrics = {}
    for m in spec[section]:
        v = measured.get(m["name"])
        if v is None and section == "per_layer":
            v = 0.0  # the layer does no work on this workload
        if v is None:
            checks.append("metric %s was not measured" % m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}

    print("workload %s, seed %d, %s" % (a.workload, a.seed,
                                         "traced" if a.trace else "untraced"))
    print("  inputs sha256  %s" % in_digest)
    print("  outputs digest %s" % res["digest"])
    for name, m in metrics.items():
        print("  %-34s %14.6g %s" % (name, m["value"], m["unit"]))
    units = {"audio_s_per_s": "s/s", "commit_tail_s": "s", "commit_tail_pct": "%",
             "commit_samples": "count", "error_rate": "ratio", "iterations": "count",
             "traced_iterations": "count"}
    for name, v in res["extra"].items():
        if v is not None:
            print("  %-34s %14.6g %s" % (name, v, units.get(name, "")))
    if a.trace:
        print("  trace: %s (spans with self time; see README.md)"
              % os.path.relpath(os.path.join(out, "trace.jsonl"), ROOT))
    for e in res["errors"]:
        print("  FAILED operation: " + e)
    for c in checks:
        print("  FAILED check: " + c)
    correct = not checks and res["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
