#!/usr/bin/env python3
"""Run one perfbench workload and print its result.

  python3 perfbench/run.py --workload live_t1 --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds the library and the
benchmark (`perfbench/build.sbt`) into `.bench_build/`; later runs reuse the
build while the sources are unchanged. Each run generates its inputs from
the seed, starts a fresh JVM (Spark `local[nproc]`, or `local[nproc-1]`
beside the live generator), checks the output against a reference computation,
deletes its inputs, checkpoints and state, and prints one JSON line last:
end-to-end metrics with `--trace 0`, per-layer metrics with `--trace 1`
(the traced run also writes its spans to `.bench_build/traces/`).
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "sbt-target", "scala-2.13", "classes")
JVM_TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(2)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("no Spark installation (set SPARK_HOME)")
    return home


def sources_digest():
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                   glob.glob("perfbench/src/**/*.scala", recursive=True) +
                   ["perfbench/build.sbt", "perfbench/project/build.properties"])
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(home):
    """Compile library + benchmark unless the same sources already are."""
    digest = sources_digest()
    stamp = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp) and open(stamp).read() == digest:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=home)
    with open(os.path.join(BUILD, "build.log"), "w") as log:
        rc = subprocess.call(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd="perfbench", env=env, stdout=log, stderr=log,
                             stdin=subprocess.DEVNULL)
    if rc != 0:
        fail("build failed, see %s/build.log" % BUILD)
    with open(stamp, "w") as f:
        f.write(digest)


def box(workload):
    """The machine, and the Spark threads: all cpus, less one for the live
    generator, which runs beside Spark."""
    ncpu = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    mem_gb = mem_kb / 1048576.0
    heap_gb = max(1, min(4, int(mem_gb // 4)))
    return {"nproc": ncpu, "mem_total_gb": round(mem_gb, 1),
            "heap": "%dg" % heap_gb,
            "spark_threads": max(1, ncpu - 1) if workload == "live_t1" else ncpu}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not (os.path.isfile("BENCHMARK.json") and os.path.isdir("src/main/scala/graft")):
        fail("run from the repository root: the library sources are missing")
    with open("BENCHMARK.json") as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail("unknown workload %s" % a.workload)
    home = spark_home()
    build(home)

    b = box(a.workload)
    run_dir = os.path.abspath(os.path.join(
        BUILD, "runs", "%s-%d-%d" % (a.workload, a.seed, os.getpid())))
    trace_out = os.path.abspath(os.path.join(
        BUILD, "traces", "%s-%d.json" % (a.workload, a.seed)))
    os.makedirs(os.path.join(run_dir, "tmp"))
    os.makedirs(os.path.dirname(trace_out), exist_ok=True)
    try:
        if a.workload == "backlog_refmix":
            gen.run_backlog(a.seed, os.path.join(run_dir, "backlog_in"),
                            os.path.join(run_dir, "backlog_manifest.json"))
        elif a.workload == "curate_corpus":
            gen.run_curate(a.seed, os.path.join(run_dir, "curate_in"),
                           os.path.join(run_dir, "curate_manifest.json"))
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        tmp = os.path.join(run_dir, "tmp")
        cmd = [java, "-Xmx" + b["heap"], "-Duser.timezone=UTC",
               "-Djava.io.tmpdir=" + tmp,
               "-Dspark.local.dir=" + tmp,
               "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse")]
        cmd += ["--add-opens=%s=ALL-UNNAMED" % p for p in ADD_OPENS]
        cmd += ["-cp", os.path.abspath(CLASSES) + os.pathsep + os.path.join(home, "jars", "*"),
                "perfbench.Main",
                "--workload", a.workload, "--dir", run_dir,
                "--seconds", str(a.seconds), "--seed", str(a.seed),
                "--trace", str(a.trace), "--threads", str(b["spark_threads"]),
                "--gap", str(gen.LIVE_GAP_S), "--flush-user", str(gen.FLUSH_USER),
                "--python", sys.executable, "--gen", os.path.join(HERE, "gen.py"),
                "--trace-out", trace_out]
        env = dict(os.environ, SPARK_LOCAL_DIRS=tmp)
        log_path = os.path.join(BUILD, "last-run.log")
        started = time.time()
        with open(log_path, "w") as log:
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                    stdin=subprocess.DEVNULL, env=env, text=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.communicate()
                fail("workload timed out after %d s, see %s" % (JVM_TIMEOUT_S, log_path))
        lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
        if proc.returncode != 0 or not lines:
            fail("workload failed (exit %d), see %s" % (proc.returncode, log_path))
        res = json.loads(lines[-1][len("PERFBENCH_RESULT "):])
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    e2e = res["e2e"]
    missing = [m["name"] for m in spec["end_to_end"] if e2e.get(m["name"]) is None]
    if missing:
        fail("no value for %s" % ", ".join(missing))
    attempted, failed = int(res["attempted"]), int(res["failed"])
    flags = res["flags"]
    print("box: nproc=%d mem_total=%.1fGB heap=%s spark=local[%d] wall=%.1fs" % (
        b["nproc"], b["mem_total_gb"], b["heap"], b["spark_threads"], time.time() - started))
    for k, v in sorted(res["info"].items()):
        print("%s: %s" % (k, v))
    for k in ("gen.hot_key_share", "gen.malformed_share", "gen.neardup_share", "gen.late_p99_ms"):
        if res["layer"].get(k):
            print("%s: %.4f" % (k, res["layer"][k]))
    for m in spec["end_to_end"]:
        print("%-22s %14.6f %s" % (m["name"], e2e[m["name"]], m["unit"]))
    print("%-22s %14.6f ratio (%d failed of %d; flags: %s)" % (
        "fail_ratio", failed / float(max(1, attempted)), failed, attempted,
        ",".join(flags) or "none"))
    if a.trace:
        print("trace: %s" % trace_out)
        metrics = {m["name"]: {"value": res["layer"].get(m["name"]) or 0.0, "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": failed == 0 and not flags, "attempted": max(1, attempted),
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
