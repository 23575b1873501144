#!/usr/bin/env python3
"""Benchmark of the radiation pipeline: ad-hoc ingest and pruned serving.

One run:
    python3 perfbench/run.py --workload ingest_adhoc --seed 1 --seconds 30 --trace 0

Every workload once, untraced then traced, with every metric by name and
unit, the tracing overhead and the slowest operations; exits non-zero when
a check fails:
    python3 perfbench/run.py --all --seed 1 --seconds 30

The first run in a checkout builds the program and the benchmark with sbt
(offline) and keeps the classpath under perfbench/.work; later runs reuse
it until a source or build file changes. Everything a run writes (grids,
serving tables, checkpoints, ledgers, warehouse, Spark scratch) lives under
perfbench/.work/run-<pid> and is deleted when the run ends; traced runs
leave their span files in perfbench/traces.
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

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
TRACES = BENCH / "traces"
WORKLOADS = ["ingest_adhoc", "serve_pruned"]

# Pinned run settings (also listed in perfbench/README.md).
HEAP = "3g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
# Spark 4 on JDK 17 outside spark-submit needs the module openings that
# org.apache.spark.launcher.JavaModuleOptions would add.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_stamp():
    """Hash of every input of the build: sources and build definitions."""
    h = hashlib.sha256()
    inputs = [ROOT / "build.sbt", BENCH / "build.sbt"]
    for d in (ROOT / "project", BENCH / "project", ROOT / "src" / "main", BENCH / "src" / "main"):
        inputs += sorted(p for p in d.rglob("*") if p.is_file() and "target" not in p.parts)
    for p in inputs:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["COURSIER_MODE"] = "offline"
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = Path.home() / ".sbt" / "repositories"
    if repos.is_file():
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    return env


def classpath():
    """Build once per source state; return the runtime classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala").is_dir():
        fail("the program's sources are not next to the benchmark; run from a full checkout")
    stamp = source_stamp()
    cp_file = WORK / "classpath.txt"
    if cp_file.is_file():
        saved_stamp, _, cp = cp_file.read_text().partition("\n")
        if saved_stamp == stamp:
            return cp.strip()
    WORK.mkdir(parents=True, exist_ok=True)
    t0 = time.time()
    try:
        out = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in out.stdout.splitlines() if l and not l.startswith("[")]
    if out.returncode != 0 or not lines:
        sys.stderr.write(out.stdout[-4000:] + out.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    cp_file.write_text(stamp + "\n" + cp + "\n")
    print(f"perfbench: built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp


def run_jvm(cp, workload, seed, seconds, trace):
    """One run in its own JVM and scratch root; returns the JVM's result object."""
    run_dir = WORK / f"run-{os.getpid()}-{workload}-{trace}"
    shutil.rmtree(run_dir, ignore_errors=True)
    for sub in ("data", "tmp", "local", "warehouse"):
        (run_dir / sub).mkdir(parents=True)
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_GRAFT_")}
    env["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [
        f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+UseG1GC",
        f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        f"-Dspark.sql.warehouse.dir={run_dir / 'warehouse'}",
        "-cp", cp, "perfbench.Main",
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--work", str(run_dir / "data"), "--trace-out", str(TRACES),
    ]
    proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    try:
        out, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        fail(f"{workload} did not finish within {JVM_TIMEOUT_S} s")
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for l in err.splitlines():
        if l.startswith("perfbench:"):
            print(l, file=sys.stderr)
    lines = [l for l in out.splitlines() if l.startswith("{")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(err[-6000:])
        fail(f"{workload} exited with {proc.returncode}")
    return json.loads(lines[-1])


def print_metrics(title, metrics):
    print(title)
    for name, m in metrics.items():
        v = "n/a" if m["value"] is None else f"{m['value']:.4f}"
        print(f"  {name:40s} {v:>14s} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--all", action="store_true", help="run every workload untraced and traced")
    a = ap.parse_args()
    if not a.all and a.workload is None:
        ap.error("--workload or --all is required")
    cp = classpath()

    if not a.all:
        res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace)
        print_metrics(f"{a.workload} detail", res["detail"])
        for m in res["mismatches"]:
            print(f"  check failed: {m}")
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return

    from trace_summary import summarize
    ok = True
    for w in WORKLOADS:
        plain = run_jvm(cp, w, a.seed, a.seconds, 0)
        traced = run_jvm(cp, w, a.seed, a.seconds, 1)
        print(f"== {w} (seed {a.seed}, {a.seconds} s)")
        print(f"  attempted {plain['attempted']}, failed {plain['failed']}, correct {plain['correct']}")
        for m in plain["mismatches"] + traced["mismatches"]:
            print(f"  check failed: {m}")
        ok = ok and plain["correct"] and traced["correct"]
        print_metrics("end to end", plain["metrics"])
        print_metrics("detail", plain["detail"])
        print_metrics("per layer (traced run)", traced["metrics"])
        base = TRACES / f"{w}-seed{a.seed}"
        traced_e2e = json.loads(Path(f"{base}.traced_e2e.json").read_text())["end_to_end"]
        print("tracing overhead (traced minus untraced)")
        for name, m in plain["metrics"].items():
            d = traced_e2e[name]["value"] - m["value"]
            print(f"  {name:40s} {d:>+14.4f} {m['unit']}  ({d / m['value'] * 100:+.1f}%)")
        print(summarize(Path(f"{base}.spans.json")))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
