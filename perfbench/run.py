#!/usr/bin/env python3
"""Benchmark launcher.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles the
repository's main sources together with the benchmark program (perfbench/src)
with sbt, offline; later runs reuse the build while no source changed. Each
run then starts one JVM that executes the workload and prints one JSON result
line, which is the last line of this script's standard output. Spans of a
traced run go to perfbench/out/. Everything the run writes stays inside the
checkout.
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
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = HERE / "target"
STAMP = BUILD / "perfbench.stamp"
CLASSPATH = BUILD / "perfbench.classpath"
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 outside spark-submit needs these (same list as the root
# build's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(
        list((ROOT / "src" / "main").rglob("*.scala"))
        + list((HERE / "src").rglob("*.scala"))
        + [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build():
    stamp = source_stamp()
    if STAMP.exists() and CLASSPATH.exists() and STAMP.read_text() == stamp:
        return CLASSPATH.read_text().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.exists():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    log("building (sbt compile)")
    t0 = time.time()
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True, timeout=840)
    sys.stderr.write(r.stderr[-4000:])
    if r.returncode != 0:
        sys.stderr.write(r.stdout[-8000:])
        log("build failed")
        sys.exit(3)
    cp = [l for l in r.stdout.splitlines() if ".jar" in l and not l.startswith("[")]
    if not cp:
        log("build printed no classpath")
        sys.exit(3)
    CLASSPATH.write_text(cp[-1].strip())
    STAMP.write_text(stamp)
    log(f"built in {time.time() - t0:.1f} s")
    return cp[-1].strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", choices=["0", "1"], required=True)
    a = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        log(f"no program sources under {ROOT / 'src'}; run from a full checkout")
        sys.exit(2)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if a.workload not in names:
        log(f"unknown workload {a.workload!r}; expected one of {names}")
        sys.exit(2)

    cp = build()
    work = HERE / ".work" / f"{a.workload}-{os.getpid()}"
    spawn_ms = time.time() * 1000.0
    cmd = (["java", "-Xmx3g", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Dperfbench.spawnMs={spawn_ms:.3f}",
              f"-Djava.io.tmpdir={work / 'tmp'}",
              f"-Dspark.local.dir={work / 'spark-local'}",
              f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
              "-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", a.trace, "--work", str(work), "--out", str(HERE / "out")])
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=dict(os.environ, MALLOC_ARENA_MAX="2"),
                            stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, text=True)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        shutil.rmtree(work, ignore_errors=True)
        sys.exit(128 + signum)

    signal.signal(signal.SIGTERM, stop)
    signal.signal(signal.SIGINT, stop)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"run exceeded {RUN_TIMEOUT_S} s")
        sys.exit(4)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        log(f"run failed (exit {proc.returncode})")
        sys.exit(proc.returncode or 5)
    result = json.loads(lines[-1])
    declared = [m["name"] for m in spec["per_layer" if a.trace == "1" else "end_to_end"]]
    if sorted(result["metrics"]) != sorted(declared):
        log(f"printed metrics {sorted(result['metrics'])} differ from BENCHMARK.json {sorted(declared)}")
        sys.exit(6)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
