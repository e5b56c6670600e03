#!/usr/bin/env python3
"""Benchmark of the graft engine: one command per workload and seed.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
engine (src/main/scala) together with the benchmark program (perfbench/src)
with sbt, and generates the input tables (perfbench/datagen.py); both land
in .bench_build/ and are reused while their sources are unchanged.

Workloads (see perfbench/NOTES.md):
  mart_refresh   Registry DAG of the gap mart: one full build, then refreshes
                 after seed-drawn claim batches land through Warehouse.append
  query_mix      read-only SparkEntry queries at sf0.1 in seed-shuffled order

The engine runs in one local Spark JVM with one client in a closed loop on
min(nproc, 4) cores. The last stdout line is the result object; the line
before it is the full report (units, sample counts, seed, source version,
session configuration, per-workload details). With --trace 1 the timed
section runs twice, untraced then traced, and the result carries the
per-layer counters; spans go to .bench_build/out/<run>/spans.jsonl.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
BUILD = ROOT / ".bench_build"
ENGINE_SRC = ROOT / "src" / "main" / "scala"
WORKLOADS = ("mart_refresh", "query_mix")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def tree_digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if base.is_file() else sorted(p for p in base.rglob("*") if p.is_file())
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def build():
    """Compiles engine + benchmark once per source state; returns the classpath."""
    stamp = tree_digest([ENGINE_SRC, BENCH / "src", BENCH / "build.sbt",
                         BENCH / "project" / "build.properties"])
    stamp_file, cp_file = BUILD / "build.stamp", BUILD / "classpath.txt"
    if stamp_file.exists() and cp_file.exists() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip(), stamp
    if not shutil.which("sbt"):
        fail("sbt not found on PATH")
    jars = spark_jars()
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            "-XX:-UsePerfData", f"-Dgraftbench.sparkJars={jars}"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.exists():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    BUILD.mkdir(exist_ok=True)
    log = BUILD / "build.log"
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                                "printClasspath"], cwd=BENCH, env=env, stdout=out,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            fail(f"build timed out; see {log}", 3)
    lines = [l for l in log.read_text().splitlines() if l.startswith("CLASSPATH=")]
    if r.returncode != 0 or not lines:
        fail(f"build failed; see {log}", 3)
    cp = lines[-1][len("CLASSPATH="):]
    cp_file.write_text(cp)
    stamp_file.write_text(stamp)
    return cp, stamp


def spark_jars():
    """The Spark installation's jars: $SPARK_HOME/jars, else next to spark-submit."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        fail("no Spark installation found: set SPARK_HOME")
    return Path(home) / "jars"


def ensure_data():
    stamp = tree_digest([BENCH / "datagen.py"])
    for sf in ("0.1", "0.001"):
        d = BUILD / "data" / f"sf{sf}"
        done = d / "_STAMP"
        if not (done.exists() and done.read_text() == stamp):
            shutil.rmtree(d, ignore_errors=True)
            subprocess.run([sys.executable, str(BENCH / "datagen.py"), str(d), sf], check=True)
            done.write_text(stamp)
    return BUILD / "data"


def source_version(stamp):
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        if r.returncode == 0:
            return r.stdout.strip()
    except (OSError, subprocess.SubprocessError):
        pass
    return "source-sha256:" + stamp[:16]


def cores():
    """Cores for the local session: nproc, at most 4."""
    return max(1, min(4, nproc()))


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def jvm_args(cp):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    args = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={BUILD / 'tmp'}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        args += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return args + ["-cp", cp, "graftbench.Main"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()
    if not (ENGINE_SRC / "graft" / "SparkEntry.scala").exists():
        fail(f"engine sources not found under {ENGINE_SRC}; run from a full checkout")
    if a.seconds < 1:
        fail("--seconds must be at least 1")

    cp, stamp = build()
    data = ensure_data()
    run_dir = BUILD / "out" / f"{a.workload}-seed{a.seed}-trace{a.trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    run_dir.mkdir(parents=True)
    scratch = BUILD / "scratch" / f"{os.getpid()}"
    (BUILD / "tmp").mkdir(exist_ok=True)
    cmd = jvm_args(cp) + [
        "run", "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--cores", str(cores()), "--data", str(data),
        "--scratch", str(scratch), "--out", str(run_dir),
        "--golden", str(BENCH / "golden.json")]
    t0 = time.time()
    with open(run_dir / "jvm.log", "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            shutil.rmtree(scratch, ignore_errors=True)
            fail(f"run exceeded {JVM_TIMEOUT_S} s; see {run_dir / 'jvm.log'}", 4)
    shutil.rmtree(scratch, ignore_errors=True)
    results = [l[len("RESULT "):] for l in out.splitlines() if l.startswith("RESULT ")]
    if proc.returncode != 0 or not results:
        sys.stderr.write(out[-2000:])
        fail(f"benchmark JVM exited with {proc.returncode}; see {run_dir / 'jvm.log'}", 5)
    r = json.loads(results[-1])

    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    n_ops = r["detail"]["ops"]
    samples = {"setup_s": len(r["detail"]["setup_samples"]), "wall_s": 1}
    e2e = {m["name"]: {"value": r["end_to_end"].pop(m["name"]), "unit": m["unit"],
                       "n": samples.get(m["name"], n_ops)} for m in spec["end_to_end"]}
    r["detail"].update(r["end_to_end"])  # measured but not gated, e.g. heap_retained_mb
    layers = {m["name"]: {"value": r["per_layer"][m["name"]], "unit": m["unit"]}
              for m in spec["per_layer"]} if a.trace else {}
    report = {
        "workload": a.workload, "seed": a.seed, "trace": a.trace, "seconds": a.seconds,
        "source": source_version(stamp), "nproc": nproc(), "cores": cores(),
        "correct": r["correct"], "checks_failed": r["checks_failed"],
        "attempted": r["attempted"], "failed": r["failed"],
        "failed_ratio": r["failed"] / max(1, r["attempted"]), "errors": r["errors"],
        "end_to_end": e2e, "detail": r["detail"], "per_layer": layers,
        "inputs": r["inputs"], "session_conf": r["session_conf"], "ops": r["op_seconds"],
        "jvm_seconds": round(time.time() - t0, 3), "spans": str(run_dir / "spans.jsonl")
        if a.trace else None}
    (run_dir / "report.json").write_text(json.dumps(report, indent=1))
    print(json.dumps(report))
    metrics = layers if a.trace else {k: {"value": v["value"], "unit": v["unit"]}
                                      for k, v in e2e.items()}
    print(json.dumps({"correct": r["correct"], "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))
    if not r["correct"]:
        print("perfbench: OUTPUT MISMATCH: " + "; ".join(r["checks_failed"]), file=sys.stderr)
        sys.exit(1)


if __name__ == "__main__":
    main()
