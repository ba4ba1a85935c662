#!/usr/bin/env python3
"""The repository benchmark: one command, two workloads.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
harness from source with sbt (perfbench/build.sbt); later runs reuse the
build while the sources are unchanged. Each run starts one fresh JVM with
local[<cores>], runs workload W single-client and closed-loop, checks its
outputs, and prints one JSON object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics; --trace 1 registers the Spark
listeners and reports the per-layer metrics, and also writes the spans and
the per-layer table to .bench_build/traces/.

--record adds this run's outputs to the committed expected values
(perfbench/expected.json) where none are committed yet: per input
instance (seed mod 16) the LimeQO trace digest and the graph's edge
fingerprint after the first measured fold cycle. Nothing is recorded
from a run whose other checks fail, such as a folded graph that differs
from its full rebuild.
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
EXPECTED = HERE / "expected.json"
WORKLOADS = ["limeqo_loop", "graph_fold"]
RUN_TIMEOUT_S = 170

sys.dont_write_bytecode = True
sys.path.insert(0, str(HERE))
import metrics  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of everything the build reads from the checkout."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in [ROOT / "src" / "main", HERE / "src" / "main"]:
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def classpath():
    """Build with sbt unless a build of the same sources exists."""
    stamp = BUILD / "classpath.json"
    digest = source_digest()
    if stamp.is_file():
        cached = json.loads(stamp.read_text())
        if cached.get("digest") == digest:
            return cached["classpath"]
    log("building engine and harness with sbt")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    for flag in ["-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 "-Dsbt.server.autostart=false"]:
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
        timeout=840)
    sys.stderr.write("\n".join(ln for ln in proc.stdout.splitlines()[-20:] if ".jar" not in ln) + "\n")
    if proc.returncode != 0:
        raise SystemExit(f"sbt build failed with code {proc.returncode}")
    lines = [ln for ln in proc.stdout.splitlines() if ".jar" in ln and "classes" in ln]
    if not lines:
        raise SystemExit("sbt printed no classpath")
    cp = lines[-1].strip()
    BUILD.mkdir(exist_ok=True)
    stamp.write_text(json.dumps({"digest": digest, "classpath": cp}))
    return cp


def run_jvm(cp, args, work):
    out = work / "raw.json"
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", args.workload,
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--confirm", str(int(args.record)),
            "--work", str(work), "--out", str(out)]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=work, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark JVM exceeded {RUN_TIMEOUT_S} s")
    finally:
        # also reached on SIGTERM (see main): never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    if code != 0:
        raise SystemExit(f"benchmark JVM exited with code {code}")
    return json.loads(out.read_text())


def mem_total_kb():
    with open("/proc/meminfo") as f:
        return int(next(ln for ln in f if ln.startswith("MemTotal:")).split()[1])


def with_recorded(raw, expected):
    """The expected values plus this run's outputs where none are
    committed yet; values already committed win."""
    out = raw["outputs"]
    w = raw["workload"]
    if w == "limeqo_loop":
        section, new = "limeqo", {str(raw["instance"]): e["trace_sha256"]
                                  for e in out["episodes"][:1]}
    else:
        # only a golden confirmed against a full rebuild
        section, new = "graph", {str(raw["instance"]): fp
                                 for fp in out["cycle_fingerprints"][:1] if fp and out["rebuilt"]}
    return {**expected, section: {**new, **expected.get(section, {})}}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record", action="store_true")
    args = ap.parse_args()
    # turn SIGTERM into an exception so that child processes are stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        log(f"no engine sources next to {HERE.name}/: run from a full checkout")
        return 2

    cp = classpath()
    work = BUILD / "work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    work.mkdir(parents=True)
    t0 = time.time()
    try:
        raw = run_jvm(cp, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    log(f"JVM finished in {time.time() - t0:.1f} s")

    expected = json.loads(EXPECTED.read_text()) if EXPECTED.is_file() else {}
    if args.record:
        expected = with_recorded(raw, expected)
    problems = metrics.check(raw, expected)
    for p in problems:
        log(f"check failed: {p}")
    if args.record and not problems:
        EXPECTED.write_text(json.dumps(expected, indent=1, sort_keys=True) + "\n")

    if args.trace:
        values = metrics.per_layer(raw)
        for p in metrics.reconcile(raw, values):
            log(f"per-layer numbers do not reconcile: {p}")
            problems.append(p)
        units = dict(metrics.PER_LAYER)
        traces = BUILD / "traces"
        traces.mkdir(parents=True, exist_ok=True)
        dump = traces / f"{args.workload}-{args.seed}.json"
        host = {**raw["host"], "cores": raw["cores"], "mem_total_kb": mem_total_kb()}
        dump.write_text(json.dumps({"host": host, "spans": raw["spans"],
                                    "per_span": metrics.span_table(raw),
                                    "per_layer": values}, indent=1))
        log(f"spans and per-layer table written to {dump.relative_to(ROOT)}")
        for name, _ in metrics.PER_LAYER:
            log(f"  {name:34s} {values[name]:.6g} {units[name]}")
    else:
        values = metrics.end_to_end(raw)
        units = dict(metrics.END_TO_END)
    spans = raw["spans"]
    result = {
        "correct": not problems,
        "attempted": len(spans),
        "failed": sum(1 for s in spans if not s["ok"]),
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
