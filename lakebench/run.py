#!/usr/bin/env python3
"""Lake benchmark entry point.

    python3 lakebench/run.py --workload ingest|curate --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine's sources
(src/main/scala) together with the harness (lakebench/src) with sbt, into
lakebench/target, and records the classpath and a class-data sharing archive
under .bench_build/lakebench/. Later runs reuse both while the sources are
unchanged.

Each run starts one JVM (Spark local[N], N = the number of processors) in a
fresh work directory under .bench_build/lakebench/, deletes it afterwards,
and prints one metric line per metric followed by the result as one JSON
object on the last line.
Spark's own output goes to .bench_build/lakebench/logs/. With --trace 1 the
spans and counters of the traced run are written to
.bench_build/lakebench/traces/; `python3 lakebench/trace_report.py FILE`
prints them as a per-layer table.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "lakebench")
ENGINE_SRC = os.path.join(ROOT, "src", "main")
ARCHIVE = os.path.join(OUT, "classes.jsa")
RUN_TIMEOUT_S = 170
HEAP = "3g"
BUILD_TIMEOUT_S = 540
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
E2E_ORDER = ["setup_s", "op_p50_s", "op_tail_s", "throughput_rows_per_s"]


def fail(msg):
    print("lakebench: " + msg, file=sys.stderr)
    sys.exit(2)


def source_stamp():
    h = hashlib.sha256()
    for top in (ENGINE_SRC, os.path.join(BENCH, "src")):
        for d, dirs, files in os.walk(top):
            dirs.sort()
            for f in sorted(files):
                p = os.path.join(d, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        with open(os.path.join(BENCH, f), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        exe = shutil.which("spark-submit")
        if exe:
            home = os.path.dirname(os.path.dirname(os.path.realpath(exe)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation found (set SPARK_HOME)")
    return os.path.join(home, "jars")


def build():
    """Compile with sbt if the sources changed and record a class-data archive;
    return the runtime classpath."""
    stamp_f = os.path.join(OUT, "build.stamp")
    cp_f = os.path.join(OUT, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_f) and os.path.exists(cp_f):
        with open(stamp_f) as fh:
            if fh.read().strip() == stamp:
                with open(cp_f) as fh:
                    return fh.read().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        fail("sbt not found on PATH")
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, "build.log")
    cmd = [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "-Dsbt.global.base=" + os.path.join(OUT, "sbt-global"),
           "-Dlakebench.sparkJars=" + spark_jars(), "export Runtime/fullClasspathAsJars"]
    with open(log, "w") as fh:
        rc = run_child(cmd, BENCH, fh, BUILD_TIMEOUT_S)
    with open(log) as fh:
        lines = [l.strip() for l in fh]
    cps = [l for l in lines if ".jar" in l and os.pathsep in l and not l.startswith("[")]
    if rc != 0 or not cps:
        fail("build failed (exit %s); see %s" % (rc, log))
    record_archive(cps[-1])
    with open(cp_f, "w") as fh:
        fh.write(cps[-1])
    with open(stamp_f, "w") as fh:
        fh.write(stamp)
    return cps[-1]


def record_archive(cp):
    """Run one `ingest` set-up (no measured ops) that dumps the classes it
    loaded into a class-data sharing archive. Runs map it instead of loading
    those classes one by one, which took about 3 s of session start and 3-4 s
    of the first lake build per run on the 4-core VM this was written on.
    Runs go on without it if the dump fails."""
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    work = new_work("archive")
    try:
        with open(os.path.join(OUT, "archive.log"), "w") as log:
            run_child(java_cmd(cp, work, ["-XX:ArchiveClassesAtExit=" + ARCHIVE],
                               ["--workload", "ingest", "--seed", "0", "--seconds", "0"]),
                      ROOT, log, RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        shutil.rmtree(work, ignore_errors=True)


def new_work(tag):
    """A fresh work directory (with its JVM tmp dir) under OUT."""
    work = os.path.join(OUT, "work-%s-%d-%d" % (tag, os.getpid(), int(time.time() * 1000)))
    os.makedirs(os.path.join(work, "tmp"))
    return work


def java_cmd(cp, work, jvm_args, main_args):
    cmd = ["java", "-Xmx" + HEAP, "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + jvm_args
    for p in JVM_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    return cmd + ["-cp", cp, "lakebench.Main"] + main_args + [
        "--work", work, "--out", os.path.join(work, "result.json")]


def run_child(cmd, cwd, out, timeout):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ingest", "curate"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        fail("engine sources (src/main/scala) not found next to lakebench/")
    cp = build()

    tag = "%s-seed%d-trace%d" % (args.workload, args.seed, args.trace)
    work = new_work(tag)
    os.makedirs(os.path.join(OUT, "logs"), exist_ok=True)
    result_f = os.path.join(work, "result.json")
    trace_f = os.path.join(OUT, "traces", tag + ".json")
    jvm_args = ["-XX:SharedArchiveFile=" + ARCHIVE] if os.path.exists(ARCHIVE) else []
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace)]
    if args.trace:
        main_args += ["--trace-out", trace_f]
    cmd = java_cmd(cp, work, jvm_args, main_args)
    try:
        with open(os.path.join(OUT, "logs", tag + ".log"), "w") as log:
            rc = run_child(cmd, ROOT, log, RUN_TIMEOUT_S)
        if rc != 0 or not os.path.exists(result_f):
            fail("benchmark JVM exited with %s; see %s" % (rc, os.path.join(OUT, "logs", tag + ".log")))
        with open(result_f) as fh:
            res = json.load(fh)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    info = res.get("info", {})
    print("lakebench: info %s" % json.dumps(info), file=sys.stderr)
    metrics = res["metrics"]
    for name in E2E_ORDER + sorted(k for k in metrics if k not in E2E_ORDER):
        if name not in metrics:
            continue
        m = metrics[name]
        note = ""
        if name == "op_p50_s":
            note = "  (n=%d)" % info.get("samples", 0)
        elif name == "op_tail_s":
            note = "  (p%g, n=%d, %d beyond)" % (100 * info.get("tail_percentile", 1.0),
                                                info.get("samples", 0), info.get("tail_beyond", 0))
        print("%s %.6g %s%s" % (name, m["value"], m["unit"], note))
    if not args.trace:
        print("failed_ratio %.6g  (%d/%d ops)" % (info.get("failed_ratio", 0.0), res["failed"],
                                                  res["attempted"]))
    else:
        print("lakebench: trace written to %s" % os.path.relpath(trace_f, ROOT), file=sys.stderr)
    for f in info.get("failures", []):
        print("lakebench: check failed: %s" % f.replace("\n", " "), file=sys.stderr)
    print("correct %s" % ("true" if res["correct"] else "false"))
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
