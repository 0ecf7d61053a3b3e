#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one JVM.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. It compiles the repository's main
sources together with the benchmark's, in one scalac run against the jars
the root build names, the first time or when a source file changed, into
.bench_build/; it needs no sbt. Then it runs the workload in one JVM and
prints, as its last stdout line, one JSON object: `correct`, `attempted`,
`failed` and `metrics`. With --trace 0 the metrics are BENCHMARK.json's
`end_to_end` list, with --trace 1 its `per_layer` list; a layer the
workload does not call reads 0. The line before it
names the workload's own figures (see perfbench/METRICS.md). The traced
run also writes its spans, jobs and stream progress to
.bench_build/perfbench/trace-<workload>-<seed>.json. It reports tracing
overhead as its op_p50_s less the median op_p50_s of the untraced runs of
the same build made so far in this checkout
(.bench_build/perfbench/untraced-<workload>-<build stamp>.jsonl), or 0
when there are none yet.

Exit status: 0 when every operation succeeded and every output check held,
1 otherwise, 2 when the checkout has no program to measure.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HERE = os.path.dirname(os.path.abspath(__file__))
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def die(msg, code):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def run_group(cmd, timeout, **kw):
    """Runs cmd in its own process group; on return or timeout, stops
    whatever the group left behind and waits for cmd to end."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()


def spark_jars():
    """The jars the root build compiles against: its `unmanagedBase`
    directory (the image's Spark distribution, Scala compiler included)."""
    with open(os.path.join(ROOT, "build.sbt")) as f:
        m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', f.read())
    jars = sorted(glob.glob(os.path.join(m.group(1), "*.jar"))) if m else []
    if not jars:
        die("no jars in the root build's unmanagedBase", 2)
    return jars


def sources():
    """Every Scala file the build compiles, in a stable order."""
    picks = []
    for base in ("src/main", "perfbench/src/main"):
        for d, dirs, files in os.walk(os.path.join(ROOT, base)):
            dirs.sort()
            picks += [os.path.join(d, f) for f in sorted(files) if f.endswith(".scala")]
    return picks


def tail(path, n=30):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def build():
    """Compiles the repository's main sources and the benchmark's in one
    scalac pass (the root build sets no compiler options) when a source
    changed; returns the runtime classpath and the stamp of the sources."""
    jars = spark_jars()
    srcs = sources()
    h = hashlib.sha256()
    for f in srcs:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    h.update("\n".join(jars).encode())
    stamp = h.hexdigest()
    classes = os.path.join(BUILD, "classes")
    cp = os.pathsep.join([classes] + jars)
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isdir(classes) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                return cp, stamp
    shutil.rmtree(classes, ignore_errors=True)
    fresh = classes + ".new"
    shutil.rmtree(fresh, ignore_errors=True)
    tmp = os.path.join(BUILD, "scalac-tmp")
    os.makedirs(fresh)
    os.makedirs(tmp, exist_ok=True)
    args = os.path.join(BUILD, "scalac.args")
    with open(args, "w") as f:
        f.write("\n".join(["-classpath", os.pathsep.join(jars), "-d", fresh] + srcs) + "\n")
    compiler = [j for j in jars if re.match(r"scala-(compiler|library|reflect)-",
                                             os.path.basename(j))]
    log_path = os.path.join(BUILD, "build.log")
    with open(log_path, "w") as log:
        code = run_group(["java", "-Xmx2g", "-Xss8m", "-XX:-UsePerfData",
                          f"-Djava.io.tmpdir={tmp}", "-cp", os.pathsep.join(compiler),
                          "scala.tools.nsc.Main", "@" + args],
                         BUILD_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
    if code != 0:
        die(f"build failed (exit {code}); {log_path} ends:\n{tail(log_path)}", 1)
    os.rename(fresh, classes)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp, stamp


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("run me from the root of a checkout (no BENCHMARK.json here)", 2)
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.exists(os.path.join(ROOT, "build.sbt")):
        die("no program to measure: src/main/scala/graft and build.sbt are missing", 2)
    with open(bench_json) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        die(f"unknown workload {a.workload}", 2)
    if shutil.which("java") is None:
        die("java is required", 2)

    os.makedirs(BUILD, exist_ok=True)
    cp, stamp = build()

    work = os.path.join(BUILD, f"work-{a.workload}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result = os.path.join(work, "result.json")
    sidecar = os.path.join(BUILD, f"trace-{a.workload}-{a.seed}.json")
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", work, "--out", result, "--sidecar", sidecar,
              "--oracle", os.path.join(HERE, "oracle.py")])
    t0 = time.time()
    run_log = os.path.join(BUILD, f"run-{a.workload}.log")
    with open(run_log, "w") as log:
        code = run_group(cmd, JVM_TIMEOUT_S, cwd=ROOT, stdout=log, stderr=subprocess.STDOUT)
    wall = time.time() - t0
    if not os.path.exists(result):
        die(f"{a.workload} produced no result (exit {code}, {wall:.0f} s); "
            f"{run_log} ends:\n{tail(run_log)}", 1)
    with open(result) as f:
        r = json.load(f)
    shutil.rmtree(work, ignore_errors=True)

    listed = spec["per_layer"] if a.trace == "1" else spec["end_to_end"]
    got = r["metrics"]
    unknown = sorted(set(got) - {m["name"] for m in listed})
    if unknown:
        die(f"metrics missing from BENCHMARK.json: {unknown}", 1)
    if a.trace == "0":
        missing = [m["name"] for m in listed if got.get(m["name"], {}).get("value") is None]
        if missing and r["correct"]:
            die(f"no value for {missing}", 1)
    history = os.path.join(BUILD, f"untraced-{a.workload}-{stamp[:16]}.jsonl")
    if a.trace == "1" and r["op_p50_s"] is not None and os.path.exists(history):
        with open(history) as f:
            base = statistics.median(json.loads(x)["op_p50_s"] for x in f if x.strip())
        got["trace.overhead_s"] = {"value": r["op_p50_s"] - base}
        got["trace.overhead_frac"] = {"value": (r["op_p50_s"] - base) / base}
    metrics = {m["name"]: {"value": (got.get(m["name"]) or {}).get("value") or 0.0,
                           "unit": m["unit"]} for m in listed}

    rep = ", ".join(f"{k}={v['value']:.4g} {v['unit']}" for k, v in r["report"].items()
                    if v["value"] is not None)
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace} wall={wall:.1f}s "
          f"ops={r['attempted']} failed={r['failed']} samples={r['samples']}: {rep}")
    for f_ in r["failures"]:
        print(f"  FAILED {f_}")
    ok = bool(r["correct"]) and code == 0
    if not ok:
        print(f"perfbench: {a.workload} failed (exit {code}): {r['failures']}; "
              f"{run_log} ends:\n{tail(run_log)}", file=sys.stderr)
    if ok and a.trace == "0":
        with open(history, "a") as f:
            f.write(json.dumps({"seed": a.seed, "op_p50_s": r["op_p50_s"]}) + "\n")
    print(json.dumps({"correct": ok, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
