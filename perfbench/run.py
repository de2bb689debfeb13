#!/usr/bin/env python3
"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload paper_pipeline --seed 1 \
        --seconds 20 --trace 0

Run from the repository root. The first run in a checkout builds the
engine and the harness from source (perfbench/build.sbt); later runs
reuse the build while the sources hash the same. Inputs are generated
from --seed (perfbench/gen.py), the JVM side (perfbench.Main) runs the
workload for about --seconds, and the last stdout line is
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics of
BENCHMARK.json with --trace 0, its per-layer metrics with --trace 1.
Each run also leaves its full result, spans included when traced, in
.bench_work/results/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 160
BUILD_TIMEOUT_S = 800

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the same set build.sbt passes to forked runs.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout and
    reap it either way, so nothing outlives the benchmark."""
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


def classpath():
    """The harness classpath (jars), building first when the sources
    changed. A rebuild drops the class-data archives made for the old
    jars."""
    stamp = os.path.join(BUILD, "classpath.json")
    want = source_hash()
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("hash") == want:
            return s["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    for name in os.listdir(BUILD):
        if name.endswith(".jsa"):
            os.remove(os.path.join(BUILD, name))
    log = os.path.join(BUILD, "build.log")
    print("perfbench: building (log in .bench_build/build.log)", file=sys.stderr)
    with open(log, "w") as out:
        rc = run_group(["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                        "export Runtime/fullClasspathAsJars"],
                       BUILD_TIMEOUT_S, cwd=HERE, stdout=out,
                       stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines:
        die(f"build failed (exit {rc}); see .bench_build/build.log")
    cp = lines[-1]
    with open(stamp, "w") as f:
        json.dump({"hash": want, "classpath": cp}, f)
    return cp


def class_data_flags(workload):
    """JVM flags for the workload's application class-data archive.

    Loading Spark's classes from jars is a large, noisy share of a short
    run's start-up. The first run of a workload in a checkout records
    the classes it loaded into .bench_build/<workload>.jsa as it exits;
    later runs map that archive instead of loading the classes again.
    Returns (flags, path the JVM writes, path to publish it at)."""
    jsa = os.path.join(BUILD, f"{workload}.jsa")
    if os.path.exists(jsa):
        return [f"-XX:SharedArchiveFile={jsa}"], None, None
    tmp = f"{jsa}.{os.getpid()}"
    return [f"-XX:ArchiveClassesAtExit={tmp}"], tmp, jsa


def percentile(xs, q):
    """Nearest-rank q-quantile of xs. A tail quantile (q > 0.5) is None
    unless at least 10 samples lie strictly beyond it."""
    s = sorted(xs)
    if not s:
        return None
    v = s[max(0, math.ceil(q * len(s)) - 1)]
    if q > 0.5 and sum(x > v for x in s) < 10:
        return None
    return v


def main():
    # a SIGTERM unwinds through the finally blocks that stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(ENGINE_SRC):
        die(f"engine sources not found at {os.path.relpath(ENGINE_SRC, ROOT)}; "
            "run from the root of a repository checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "session.json")) as f:
        session = json.load(f)
    cp = classpath()

    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(WORK, f"{tag}-{os.getpid()}")
    results = os.path.join(WORK, "results")
    os.makedirs(results, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    cds_tmp = None
    try:
        t = time.perf_counter()
        facts, digest = gen.generate(a.workload, a.seed, os.path.join(work, "input"))
        gen_s = time.perf_counter() - t
        out = os.path.join(results, f"{tag}.json")
        if os.path.exists(out):
            os.remove(out)
        os.makedirs(os.path.join(work, "tmp"))
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
            if os.environ.get("JAVA_HOME") else "java"
        cds, cds_tmp, cds_final = class_data_flags(a.workload)
        cmd = [java, f"-Xms{session['heap']}", f"-Xmx{session['heap']}",
               f"-Djava.io.tmpdir={work}/tmp"] + cds
        cmd += [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
        cmd += ["-cp", cp, "perfbench.Main",
                "--workload", a.workload, "--input", os.path.join(work, "input"),
                "--work", work, "--seconds", str(a.seconds),
                "--trace", str(a.trace), "--out", out]
        for k, v in session["conf"].items():
            cmd += ["--conf", f"{k}={v}"]
        for k, v in facts.items():
            cmd += ["--fact", f"{k}={v}"]
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        with open(os.path.join(WORK, f"{tag}.log"), "w") as log:
            rc = run_group(cmd, JVM_TIMEOUT_S, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, env=env)
        if cds_tmp and rc == 0 and os.path.exists(cds_tmp):
            os.replace(cds_tmp, cds_final)
        if rc != 0 and cds_tmp and os.path.exists(out):
            # the result is complete; only recording the archive failed
            print(f"perfbench: class-data archive not written (exit {rc})",
                  file=sys.stderr)
        elif rc != 0 or not os.path.exists(out):
            die(f"workload JVM exit {rc}; see .bench_work/{tag}.log")
        with open(out) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if cds_tmp and os.path.exists(cds_tmp):
            os.remove(cds_tmp)

    e2e = res["e2e"]
    e2e_metrics = {
        "setup_s": gen_s + e2e["session_s"] + e2e["prepare_s"],
        "pass_s": e2e["pass_s"],
        "ops_per_s": e2e["ops_per_s"],
        "ops_ok_ratio": e2e["ops_ok_ratio"],
    }
    res.update(seed=a.seed, input_sha256=digest, facts=facts,
               e2e_metrics=e2e_metrics, gen_s=gen_s)
    res["percentiles"] = {
        k: {"n": len(v), "p50": percentile(v, 0.5), "p90": percentile(v, 0.9)}
        for k, v in res["samples"].items()}
    with open(out, "w") as f:
        json.dump(res, f, indent=1)

    specs = spec["per_layer"] if a.trace else spec["end_to_end"]
    values = res["layers"] if a.trace else e2e_metrics
    missing = {m["name"] for m in specs} ^ set(values)
    if missing:
        die(f"metric set differs from BENCHMARK.json: {sorted(missing)}")
    for msg in res["failures"]:
        print(f"perfbench: failed op: {msg}", file=sys.stderr)
    print(f"perfbench: input sha256 {digest}; result in "
          f"{os.path.relpath(out, ROOT)}", file=sys.stderr)
    print(json.dumps({
        "correct": res["failed"] == 0 and res["attempted"] > 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in specs},
    }))


if __name__ == "__main__":
    main()
