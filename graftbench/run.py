#!/usr/bin/env python3
"""graft's benchmark: one command per workload.

    python3 graftbench/run.py --workload <rag_lifecycle|curate> \
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the harness together
with graft's sources (sbt, offline); later runs reuse the build until a
source changes. Each run gets a fresh work dir under graftbench/.work,
removed at exit along with the /tmp stores the program keys on it.

Stdout: one detail line (every named figure of the workload, with units),
then, as the last line, the result object
{"correct", "attempted", "failed", "metrics"}. --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer ones (see README.md).
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
HARNESS_SRC = os.path.join(HERE, "src", "main", "scala")
CLASSPATH = os.path.join(HERE, "target", "classpath.txt")
STAMP = os.path.join(HERE, "target", "graftbench.stamp")
WORKLOADS = ("rag_lifecycle", "curate")
RUN_LIMIT_S = 170  # the JVM is killed past this; a run must end in 180 s

# Spark on JDK 17 outside spark-submit needs these (as in the root build).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for base in (PROGRAM_SRC, HARNESS_SRC):
        for d, _, names in os.walk(base):
            files += [os.path.join(d, n) for n in names if n.endswith((".scala", ".java"))]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def child_env():
    # the program's own tuning and history hooks must not leak into a run
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env.setdefault("COURSIER_MODE", "offline")
    return env


def build():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read() == stamp:
                return
    log = os.path.join(HERE, ".out", "build.log")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    with open(log, "w") as out:
        rc = subprocess.call(
            ["sbt", "-batch", "-Dsbt.offline=true", "-Dsbt.server.autostart=false", "writeClasspath"],
            cwd=HERE, env=child_env(), stdout=out, stderr=subprocess.STDOUT,
            stdin=subprocess.DEVNULL, timeout=840)
    if rc != 0 or not os.path.exists(CLASSPATH):
        fail(f"build failed (see {log})", 3)
    with open(STAMP, "w") as fh:
        fh.write(stamp)


def tmp_stores(keys):
    """The program's /tmp stores for a corpus dir (AnnStore.defaultPath)."""
    out = []
    for k in keys:
        digest = hashlib.md5(k.encode()).hexdigest()
        out += glob.glob(f"/tmp/graft_*_index_v1_{digest}*")
    return out


def clean(work, keys):
    for p in tmp_stores(keys):
        shutil.rmtree(p, ignore_errors=True)
    shutil.rmtree(work, ignore_errors=True)


def listed_metrics(trace):
    bench = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench):
        return None
    with open(bench) as fh:
        spec = json.load(fh)
    return [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.exists(os.path.join(PROGRAM_SRC, "graft", "Graft.scala")):
        fail(f"graft's sources are not at {PROGRAM_SRC}; run from a full checkout")
    build()

    work = os.path.join(HERE, ".work", f"{a.workload}-{a.seed}-{os.getpid()}")
    keys = [os.path.join(work, "graft"), os.path.join(work, "sf")]
    clean(work, keys)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(HERE, ".out", f"result-{a.workload}-{a.seed}-{a.trace}.json")
    if os.path.exists(result_file):
        os.remove(result_file)
    log = os.path.join(HERE, ".out", f"run-{a.workload}-{a.seed}-{a.trace}.log")
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp", "-Dspark.callstack.depth=80",
            "-Dspark.ui.enabled=false"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "graftbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
              "--out", result_file])
    # a SIGTERM from the caller still stops the JVM and cleans up
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = None
    try:
        with open(log, "w") as out:
            proc = subprocess.Popen(cmd, cwd=work, env=child_env(), stdout=out,
                                    stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                                    start_new_session=True)
            rc = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail(f"run exceeded {RUN_LIMIT_S} s (log: {log})", 4)
    finally:
        if proc is not None and proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        clean(work, keys)
    if rc != 0 or not os.path.exists(result_file):
        fail(f"harness exited with {rc} (log: {log})", 5)
    with open(result_file) as fh:
        res = json.load(fh)
    result = res["result"]
    want = listed_metrics(a.trace)
    if want is not None and sorted(result["metrics"]) != sorted(want):
        fail(f"metrics {sorted(result['metrics'])} do not match BENCHMARK.json {sorted(want)}", 6)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                      "detail": res["detail"], "problems": res["problems"]}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
