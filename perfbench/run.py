#!/usr/bin/env python3
"""graft pipeline benchmark: one command per run.

    python3 perfbench/run.py --workload export_stream --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all            # every workload, in turn

A run builds the program and the benchmark from source (cached under
.bench_build/ by source hash), stages the workload's seeded inputs with
gen.py in a separate process, launches one JVM on them (graftbench.Main),
checks the committed output (check.py) and prints, as its last stdout
line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1.  A human-readable table goes to stderr.  See README.md.
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
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import check  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ["export_stream", "corpus_ingest"]
RUN_LIMIT_S = 170.0
# Serial GC: heap growth follows allocation alone (no pause-time-driven
# adaptive sizing and no concurrent GC threads), so peak RSS and process
# CPU measure the program; with G1 both swung ~20% between identical runs.
JVM_FLAGS = ["-Xmx2g", "-XX:+UseSerialGC"]
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if not submit:
            raise SystemExit("SPARK_HOME is unset and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars")
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        raise SystemExit("no Spark/Scala jars under " + jars)
    return jars


def sources():
    main = sorted(glob.glob(os.path.join(ROOT, "src/main/scala/**/*.scala"), recursive=True))
    bench = sorted(glob.glob(os.path.join(HERE, "src/**/*.scala"), recursive=True))
    if not main:
        raise SystemExit("program sources (src/main/scala) not found")
    return main, bench


def scalac(jars, classpath, out, srcs):
    os.makedirs(out, exist_ok=True)
    argfile = out + ".args"
    with open(argfile, "w") as f:
        f.write("\n".join(srcs))
    cmd = ["java", "-Xss8m", "-Xmx2g", "-cp", os.path.join(jars, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", out, "-classpath", classpath,
           "@" + argfile]
    r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-4000:])
        raise SystemExit("compilation failed")


def build(jars):
    """Compile the program, then the benchmark against it; reuse a build
    whose sources hash the same."""
    main, bench = sources()
    h = hashlib.sha256()
    for p in main + bench:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    h.update("\n".join(sorted(os.listdir(jars))).encode())
    base = os.path.join(ROOT, ".bench_build")
    out = os.path.join(base, "graftbench-" + h.hexdigest()[:16])
    if os.path.exists(os.path.join(out, "ok")):
        return out
    log("building %d program + %d benchmark sources" % (len(main), len(bench)))
    tmp = "%s.tmp%d" % (out, os.getpid())
    shutil.rmtree(tmp, ignore_errors=True)
    jar_cp = os.path.join(jars, "*")
    scalac(jars, jar_cp, os.path.join(tmp, "program"), main)
    scalac(jars, os.path.join(tmp, "program") + os.pathsep + jar_cp,
           os.path.join(tmp, "bench"), bench)
    open(os.path.join(tmp, "ok"), "w").close()
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out


def jvm_command(jars, build_dir, run_dir, workload, seconds, trace, launch_ms):
    cp = os.pathsep.join([os.path.join(build_dir, "bench"),
                          os.path.join(build_dir, "program"), os.path.join(jars, "*")])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    flags = JVM_FLAGS + ["-Djava.io.tmpdir=" + tmp,
             "-Dspark.local.dir=" + tmp,
             "-Dspark.sql.warehouse.dir=" + os.path.join(run_dir, "warehouse"),
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.streaming.numRecentProgressUpdates=100000",
             "-Dspark.driver.bindAddress=127.0.0.1", "-Dspark.driver.host=localhost"]
    for p in ADD_OPENS:
        flags += ["--add-opens", p + "=ALL-UNNAMED"]
    return ["java"] + flags + ["-cp", cp, "graftbench.Main", workload, run_dir,
                               str(seconds), "1" if trace else "0", str(launch_ms)]


def run_one(workload, seed, seconds, trace):
    """One run; returns the result object (raises SystemExit on failure).
    The run directory is deleted after a correct run and kept otherwise."""
    jars = spark_jars()
    build_dir = build(jars)
    t_start = time.time()
    run_dir = os.path.join(ROOT, ".bench_runs", "%s-%d-%d" % (workload, seed, os.getpid()))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    keep = True
    try:
        subprocess.run([sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--out", run_dir],
                       check=True, timeout=120)
        with open(os.path.join(run_dir, "expect.json")) as f:
            expect = json.load(f)
        t_gen = time.time()
        launch_ms = int(t_gen * 1000)
        cmd = jvm_command(jars, build_dir, run_dir, workload, seconds, trace, launch_ms)
        with open(os.path.join(run_dir, "jvm.log"), "w") as jlog:
            # task slots and local dirs come from the command line only
            env = {k: v for k, v in os.environ.items()
                   if k not in ("SPARK_LOCAL_DIRS", "SPARK_GRAFT_CPUS")}
            p = subprocess.Popen(cmd, stdout=jlog, stderr=subprocess.STDOUT,
                                 stdin=subprocess.DEVNULL, env=env)
            try:
                rc = p.wait(timeout=max(10.0, RUN_LIMIT_S - (time.time() - t_start)))
            except subprocess.TimeoutExpired:
                p.kill()
                p.wait()
                rc = "timeout"
        res_path = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(res_path):
            with open(os.path.join(run_dir, "jvm.log")) as f:
                sys.stderr.write("".join(f.readlines()[-60:]))
            raise SystemExit("JVM run failed (%s)" % rc)
        t_jvm = time.time()
        with open(res_path) as f:
            result = json.load(f)
        if not result["units"]:
            raise SystemExit("no unit completed")
        failed, problems, fs = check.check(workload, expect, result, seed)
        for pr in problems:
            log("CHECK FAILED %s: %s" % (workload, pr))
        attempted = len(result["units"])
        failed_n = sum(1 for u in result["units"] if u["id"] in failed)
        spec = metrics.load_spec()
        if trace:
            values = metrics.per_layer(result, fs)
            names = [m["name"] for m in spec["per_layer"]]
        else:
            values = metrics.end_to_end(result)
            names = [m["name"] for m in spec["end_to_end"]]
        out = metrics.output_line(not problems and failed_n == 0, attempted, failed_n,
                                  values, names)
        log("%s seed=%d trace=%d units=%d failed=%d correct=%s (generate %.1f s, "
            "jvm %.1f s of which session start %.1f s, check %.1f s)" % (
                workload, seed, trace, attempted, failed_n, out["correct"],
                t_gen - t_start, t_jvm - t_gen, result["session_s"], time.time() - t_jvm))
        for n in names:
            log("  %-28s %14.4f %s" % (n, out["metrics"][n]["value"], out["metrics"][n]["unit"]))
        ms = [u["ms"] for u in result["units"]]
        tail = metrics.tail_percentile(len(ms))
        log("  batch ms over %d batches: p50 %.1f%s" % (
            len(ms), metrics.percentile(ms, 50),
            ", p%d %.1f" % (tail, metrics.percentile(ms, tail)) if tail
            else "; no tail percentile has ten samples beyond it"))
        keep = not out["correct"]
        return out
    finally:
        if keep:
            log("run directory kept: " + run_dir)
        else:
            shutil.rmtree(run_dir, ignore_errors=True)


def main(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=check.DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args(argv)
    seconds = a.seconds if a.seconds is not None else metrics.load_spec()["run_seconds"]
    if a.workload != "all":
        print(json.dumps(run_one(a.workload, a.seed, seconds, a.trace == 1)))
        return
    # every workload in turn: one line each, then one combined object
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for w in WORKLOADS:
        out = run_one(w, a.seed, seconds, a.trace == 1)
        print(w + " " + json.dumps(out))
        combined["correct"] &= out["correct"]
        combined["attempted"] += out["attempted"]
        combined["failed"] += out["failed"]
        for k, v in out["metrics"].items():
            combined["metrics"]["%s.%s" % (w, k)] = v
    print(json.dumps(combined))


if __name__ == "__main__":
    main(sys.argv[1:])
