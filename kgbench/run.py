#!/usr/bin/env python3
"""Knowledge-graph benchmark: build throughput, dashboard latency and
small-batch ingest over the graft engine.

    python3 kgbench/run.py --workload dashboard_mix --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run compiles the engine
(src/main/scala) together with the benchmark (kgbench/src/main/scala)
into .bench_build/ (or $CARGO_TARGET_DIR), using the Scala compiler that
ships with Spark ($SPARK_HOME/jars), and records a class-data-sharing
archive for the JVMs that follow. One JVM then runs the workload on
local[nproc] and this script prints a table and, as its last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 1 the metrics are the per-layer ones. --workload all runs every
workload in turn. See kgbench/README.md.

    python3 kgbench/run.py --self-test        # the benchmark's Scala checks
    python3 kgbench/run.py --write-expected   # regenerate kgbench/expected.tsv
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
import zipfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
EXPECTED = os.path.join(HERE, "expected.tsv")
sys.path.insert(0, HERE)

import analysis  # noqa: E402

WORKLOADS = ("build_full", "dashboard_mix", "ingest_small")
RUN_LIMIT_S = 175      # an invocation must end within 180 s
BUILD_LIMIT_S = 880    # ... or 900 s when it also builds
HEAP = ["-Xms3g", "-Xmx3g"]
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


class BenchError(Exception):
    pass


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit))) if submit else None
    jars = os.path.join(home, "jars") if home else None
    if not jars or not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise BenchError("no Spark with a Scala compiler found (set SPARK_HOME)")
    return jars


def sources():
    roots = [os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src", "main", "scala")]
    files = sorted(f for r in roots for f in glob.glob(os.path.join(r, "**", "*.scala"), recursive=True))
    if not any(f.startswith(roots[0]) for f in files):
        raise BenchError("engine sources not found under %s" % roots[0])
    return files


def build_root():
    return os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "kgbench")


def java_cmd(jars, jar, args, tmp, main="graft.kgbench.Main", flags=()):
    cmd = ["java"] + ["--add-opens=java.base/%s=ALL-UNNAMED" % p for p in ADD_OPENS]
    # soft references die at every GC, so heap samples count live data only
    cmd += HEAP + ["-XX:+UseParallelGC", "-XX:SoftRefLRUPolicyMSPerMB=0",
                   "-XX:-UsePerfData", "-Djava.io.tmpdir=" + tmp,
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
            "-Dkgbench.expected=" + EXPECTED]
    cmd += list(flags)
    cmd += ["-cp", jar + os.pathsep + os.path.join(jars, "*"), main] + args
    return cmd


def java_env(tmp):
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    return env


def run_java(cmd, env, log, deadline):
    """Run one JVM to completion (killed at the deadline); True on exit 0."""
    with open(log, "w") as out:
        proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env, cwd=ROOT)
        try:
            return proc.wait(timeout=max(1.0, deadline - time.time())) == 0
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            return False


def build(deadline):
    """Compile engine + benchmark into a jar keyed by the sources' hash,
    then record a class-data-sharing archive of the classes a run loads,
    from one `record-expected` pass (a base build and every pool call).
    The archive cuts ~10 s of class loading from each benchmark JVM,
    which the run budget needs (README.md, "Run time"). Done once per
    source state. Returns the Spark jars directory, the jar, the archive
    and whether this call built."""
    jars = spark_jars()
    files = sources()
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    out = os.path.join(build_root(), h.hexdigest()[:16])
    jar = os.path.join(out, "kgbench.jar")
    archive = os.path.join(out, "classes.jsa")
    if os.path.exists(archive):
        return jars, jar, archive, False
    shutil.rmtree(out, ignore_errors=True)
    classes = os.path.join(out, "classes")
    os.makedirs(classes)
    print("kgbench: compiling %d sources" % len(files), file=sys.stderr)
    listing = os.path.join(out, "sources.txt")
    with open(listing, "w") as f:
        f.write("\n".join(files))
    rc = subprocess.call(["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
                          "scala.tools.nsc.Main", "-usejavacp", "-nowarn",
                          "-d", classes, "@" + listing], cwd=ROOT)
    if rc != 0:
        raise BenchError("compilation failed")
    with zipfile.ZipFile(jar, "w", zipfile.ZIP_DEFLATED) as z:
        for base, _, names in os.walk(classes):
            for n in names:
                p = os.path.join(base, n)
                z.write(p, os.path.relpath(p, classes))
    shutil.rmtree(classes, ignore_errors=True)
    print("kgbench: recording the class-data archive", file=sys.stderr)
    tmp = os.path.join(out, "tmp")
    os.makedirs(tmp)
    log = os.path.join(out, "archive.log")
    ok = run_java(java_cmd(jars, jar, ["record-expected", "0", "0", "0", str(cores()), os.path.join(tmp, "out")],
                           tmp, flags=["-XX:ArchiveClassesAtExit=" + archive + ".part"]),
                  java_env(tmp), log, deadline)
    shutil.rmtree(tmp, ignore_errors=True)
    if not ok or not os.path.exists(archive + ".part"):
        with open(log) as f:
            tail = f.read()[-3000:]
        raise BenchError("recording the class-data archive failed; log tail:\n" + tail)
    os.replace(archive + ".part", archive)
    return jars, jar, archive, True


def cores():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_workload(workload, seed, seconds, trace, deadline_fn, collect=None):
    jars, jar, archive, built = build(deadline_fn(True))
    run_dir = os.path.join(build_root(), "runs", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    out = os.path.join(run_dir, "out")
    log = os.path.join(run_dir, "jvm.log")
    try:
        ok = run_java(java_cmd(jars, jar, [workload, str(seed), str(seconds), str(trace), str(cores()), out], tmp,
                               flags=["-XX:SharedArchiveFile=" + archive]),
                      java_env(tmp), log, deadline_fn(built))
        result_file = os.path.join(out, "result.json")
        if not ok or not os.path.exists(result_file):
            with open(log) as f:
                tail = f.read()[-3000:]
            raise BenchError("benchmark JVM failed for %s; log tail:\n%s" % (workload, tail))
        if collect:
            collect(out)
        with open(result_file) as f:
            result = json.load(f)
        trace_data = analysis.Trace.load(out) if trace else None
        # keep the raw record (and the trace) of the latest run per workload and seed
        keep = os.path.join(build_root(), "records", "%s-seed%d%s" % (workload, seed, "-traced" if trace else ""))
        shutil.rmtree(keep, ignore_errors=True)
        os.makedirs(keep)
        for n in ("result.json", "spans.jsonl", "jobs.jsonl", "tasks.jsonl", "counters.jsonl"):
            if os.path.exists(os.path.join(out, n)):
                shutil.copy(os.path.join(out, n), keep)
        return result, trace_data
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def self_test():
    """Run the benchmark's Scala checks (graft.kgbench.SelfTest)."""
    jars, jar, _, _ = build(time.time() + BUILD_LIMIT_S)
    tmp = os.path.join(build_root(), "self-test-%d" % os.getpid())
    os.makedirs(tmp)
    try:
        return subprocess.call(java_cmd(jars, jar, [], tmp, main="graft.kgbench.SelfTest"),
                               env=java_env(tmp), cwd=ROOT)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def fmt(v):
    return "%.4g" % v if isinstance(v, float) else str(v)


def report(result, trace):
    """Print the table for one run; return its final JSON object."""
    w = result["workload"]
    metrics, attempted, failed, extra = analysis.end_to_end(result)
    ok = analysis.correct(result)
    print("== %s  seed %d  %s  %d ops (%d failed, error_rate %.3f)  correct=%s" % (
        w, result["seed"], "traced" if trace else "untraced", attempted, failed,
        extra["error_rate"], ok))
    for c in result["checks"]:
        if not c["ok"]:
            print("   check failed: %s: %s" % (c["name"], c["detail"]))
    for o in result["ops"]:
        if not o["ok"]:
            print("   op failed: %s %s: %s" % (o["kind"], o["name"], o["error"]))
    aliases = analysis.ALIASES[w]
    for name, (unit, _) in analysis.END_TO_END.items():
        alias = aliases.get(name)
        print("   %-22s %12s %-5s%s" % (name, fmt(metrics[name]), unit,
                                        "  (%s)" % alias if alias else ""))
    print("   setup parts: session %.2f s, %s" % (result["session_s"], ", ".join(
        "%s %.2f s" % kv for kv in result.get("setup_parts", {}).items())))
    print("   samples %d op / %d read; op_p90_ms %s; error_rate %.3f" % (
        extra["samples"], extra["read_samples"],
        fmt(extra["op_p90_ms"]) if extra["op_p90_ms"] is not None else "-", extra["error_rate"]))
    if extra["drift"]:
        a, b = extra["drift"]
        print("   drift: op median %.4g s (first half) -> %.4g s (second half), x%.3f" % (a, b, b / a))
    if trace is None:
        out = {name: {"value": metrics[name], "unit": unit}
               for name, (unit, _) in analysis.END_TO_END.items()}
    else:
        layers = analysis.per_layer(trace)
        units = analysis.per_layer_names()
        for name, unit in units.items():
            print("   %-40s %12s %s" % (name, fmt(layers[name]), unit))
        acc = analysis.accounting(trace)
        if acc:
            wall, selfs, rem = acc
            print("   traced wall %.3f s = span self times %.3f s + unattributed %.3f s" % (wall, selfs, rem))
        over = analysis.tracing_overhead(result)
        if over:
            print("   tracing overhead: +%.3f s per %s (untraced median %.3f s)" % (
                over[0], analysis.PRIMARY[w], over[1]))
        out = {name: {"value": layers[name], "unit": unit} for name, unit in units.items()}
    return {"correct": ok, "attempted": attempted, "failed": failed, "metrics": out}


def main(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS + ("all",))
    p.add_argument("--seed", type=int)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true", help="run the Scala checks and exit")
    p.add_argument("--write-expected", action="store_true",
                   help="record the program's output digests into kgbench/expected.tsv")
    a = p.parse_args(argv)
    if not (a.self_test or a.write_expected) and None in (a.workload, a.seed, a.seconds):
        p.error("--workload, --seed and --seconds are required")
    start = time.time()

    def deadline(built, t=start):
        return t + (BUILD_LIMIT_S if built else RUN_LIMIT_S)

    try:
        if a.self_test:
            return self_test()
        if a.write_expected:
            run_workload("record-expected", 0, 0, 0, deadline,
                         collect=lambda out: shutil.copy(os.path.join(out, "expected.tsv"), EXPECTED))
            print("kgbench: wrote %s" % os.path.relpath(EXPECTED, ROOT))
        elif a.workload == "all":
            # one JVM per workload, each with its own run budget
            lines = {}
            for w in WORKLOADS:
                t = time.time()
                result, trace = run_workload(w, a.seed, a.seconds, a.trace,
                                             lambda built, t=t: deadline(built, t))
                lines[w] = report(result, trace)
            print(json.dumps(lines))
        else:
            result, trace = run_workload(a.workload, a.seed, a.seconds, a.trace, deadline)
            print(json.dumps(report(result, trace)))
    except (BenchError, analysis.MissingSample) as e:
        print("kgbench: %s" % e, file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
