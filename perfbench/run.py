#!/usr/bin/env python3
"""Order-unify benchmark.

    python3 perfbench/run.py --workload steady_mix|backlog_drain \
        --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program and
the benchmark's JVM side with sbt (perfbench/build.sbt compiles against
the checkout's main sources); later runs reuse the build while the
sources are unchanged. Everything the run writes goes under
`.bench_build/` in the checkout.

The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end metrics of BENCHMARK.json, with --trace 1 the
per-layer metrics of one traced run. The exit code is non-zero when an
output is wrong or the run could not complete.
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
BUILD = ROOT / ".bench_build"
WORKLOADS = ("steady_mix", "backlog_drain")
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"unifybench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_fingerprint():
    h = hashlib.sha256()
    parts = [ROOT / "build.sbt", ROOT / "project", ROOT / "src" / "main",
             HERE / "build.sbt", HERE / "project", HERE / "src"]
    for p in parts:
        files = [p] if p.is_file() else sorted(
            f for f in p.rglob("*") if f.is_file() and "target" not in f.parts)
        for f in files:
            h.update(str(f.relative_to(ROOT)).encode())
            h.update(f.read_bytes())
    return h.hexdigest()


def build():
    """Compiles with sbt once per source state; returns the classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "build.sbt").is_file():
        fail("the program's sources (src/main/scala, build.sbt) are not in this checkout")
    BUILD.mkdir(exist_ok=True)
    stamp, cp_file = BUILD / "unifybench.stamp", BUILD / "unifybench.classpath"
    fp = source_fingerprint()
    if stamp.is_file() and cp_file.is_file() and stamp.read_text() == fp:
        return cp_file.read_text().strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
           "compile", "export Runtime/fullClasspath"]
    r = run_child(cmd, cwd=HERE, timeout=840, stdout=subprocess.PIPE)
    out = r[1]
    (BUILD / "build.log").write_text(out)
    lines = [l for l in out.splitlines() if ".jar" in l and not l.startswith("[")]
    if r[0] != 0 or not lines:
        print(out[-3000:], file=sys.stderr)
        fail(f"build failed (exit {r[0]})")
    cp_file.write_text(lines[-1].strip())
    stamp.write_text(fp)
    return lines[-1].strip()


def run_child(cmd, cwd, timeout, stdout, env=None, stderr=subprocess.STDOUT):
    """Runs a child in its own process group, kills the group on timeout
    or interrupt, and always waits for it."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, text=True,
                         env=env, start_new_session=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out or ""
    except BaseException:
        try:
            os.killpg(p.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        p.wait()
        raise


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # a terminated run still stops its children (see run_child)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    wanted = bench["per_layer" if a.trace else "end_to_end"]

    cp = build()
    work = BUILD / f"run-{a.workload}-{a.trace}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)

    spawn_ms = int(time.time() * 1000)

    env = dict(os.environ, SPARK_LOCAL_DIRS=str(work / "spark-local"))
    cmd = ["java", *[x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Xms2g", "-Xmx2g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work / 'tmp'}", "-cp", cp, "unifybench.Main",
           a.workload, str(a.seed), str(a.seconds), str(a.trace), str(work), str(spawn_ms)]
    with open(work / "jvm.log", "w") as log:
        rc, out = run_child(cmd, cwd=work, timeout=100 + 2 * a.seconds,
                            stdout=subprocess.PIPE, env=env, stderr=log)
    lines = [l for l in out.splitlines() if l.startswith("RESULT ")]
    if rc != 0 or not lines:
        print(out[-2000:], file=sys.stderr)
        fail(f"benchmark JVM exited {rc} without a result (log: {work / 'jvm.log'})")
    res = json.loads(lines[-1][len("RESULT "):])
    metrics, notes = res["metrics"], res["notes"]
    attempted, failed = res["attempted"], res["failed"]


    for n in notes:
        print(f"[unifybench] {n}")
    print(f"[unifybench] {a.workload} seed={a.seed} error_ratio={failed / max(1, attempted):.6f} "
          f"({failed} of {attempted})")
    missing = [m["name"] for m in wanted if metrics.get(m["name"], {}).get("value") is None]
    if missing:
        print(f"[unifybench] metrics not measured: {missing}")
        failed += len(missing)
    for m in wanted:
        if m["name"] in metrics and metrics[m["name"]]["value"] is not None:
            print(f"[unifybench] {m['name']} = {metrics[m['name']]['value']} {m['unit']}")
    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": max(1, attempted), "failed": failed,
        "metrics": {m["name"]: {"value": metrics[m["name"]]["value"], "unit": m["unit"]}
                    for m in wanted if m["name"] not in missing}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
