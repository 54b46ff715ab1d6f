#!/usr/bin/env python3
"""Benchmark of the random-forest engine: the forest's train and score jobs
and a fifteen-op full-output mix.

    python3 perfbench/run.py --workload rf_fit|ops_mix \
        --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It builds the program and the harness
from source with sbt (cached under .bench_build/ by a hash of the sources),
generates the seeded forest inputs (cached by seed), runs one workload in
one JVM on local[4] with a fixed heap, checks the outputs, and prints as its
last line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A line before it carries the host context. See README.md.
"""

import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import gen  # noqa: E402
import metrics  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

ROOT = HERE.parent
WORK = ROOT / ".bench_build" / "perfbench"
SOURCES = [ROOT / "src" / "main" / "scala", HERE / "src",
           HERE / "build.sbt", HERE / "project" / "build.properties"]
CLASSPATH = HERE / "target" / "classpath.txt"
SF_DIR = "/root/testdata/sf0.01"  # the fixed tables of TESTDATA.md
HEAP = "4g"
BUILD_TIMEOUT_S = 600
RUN_TIMEOUT_S = 165

JVM_OPTS = [
    f"-Xms{HEAP}", f"-Xmx{HEAP}",
    "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=1g",
    "-Dspark.ui.enabled=false",
] + [a for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for a in ("--add-opens", f"{p}=ALL-UNNAMED")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    for src in SOURCES:
        files = sorted(src.rglob("*")) if src.is_dir() else [src]
        for f in files:
            if f.is_file():
                h.update(str(f.relative_to(ROOT)).encode())
                h.update(f.read_bytes())
    return h.hexdigest()


def run_quiet(cmd, log, timeout, env=None, cwd=None):
    """Run cmd in its own process group, output to log; kill the group on
    timeout and wait for it. Returns the exit code."""
    with open(log, "wb") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                             cwd=cwd, env=env, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build():
    """Compile the program and harness unless this source tree was built."""
    stamp = WORK / "build.stamp"
    digest = source_hash()
    if CLASSPATH.exists() and stamp.exists() and stamp.read_text() == digest:
        return
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   f"-Dsbt.repository.config={Path.home() / '.sbt' / 'repositories'} "
                   "-Dsbt.offline=true -Xmx2g")
    rc = run_quiet(["sbt", "--batch", "-Dsbt.log.noformat=true",
                    "-Dsbt.server.autostart=false", "writeClasspath"],
                   WORK / "build.log", BUILD_TIMEOUT_S, env=env, cwd=HERE)
    if rc != 0 or not CLASSPATH.exists():
        fail(f"build failed (exit {rc}); see {WORK / 'build.log'}")
    stamp.write_text(digest)


def input_rows(workload, data):
    """Input rows of one iteration, from the generator's meta.json or the
    fixed tables' parquet footers; never from the program's own scans."""
    if workload == "ops_mix":
        return metrics.ops_input_rows({
            t: pq.read_metadata(Path(SF_DIR, f"{t}.parquet")).num_rows
            for t in metrics.TABLES})
    meta = json.loads((data / "meta.json").read_text())
    return meta["train_rows"] + meta["test_rows"] + meta["score_rows"]


def cpu_times():
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=gen.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (ROOT / "src" / "main" / "scala" / "graft" / "RandomForestApp.scala").exists():
        fail(f"no program sources under {ROOT / 'src'}")
    for d in ("local", "tmp", "runs"):
        (WORK / d).mkdir(parents=True, exist_ok=True)
    build()

    gen_s = 0.0
    data = WORK / "data" / f"seed-{a.seed}"
    if a.workload != "ops_mix":
        gen_s = gen.ensure(data, a.seed)
    elif not Path(SF_DIR, "lineitem.parquet").exists():
        fail(f"ops_mix needs the fixed tables in {SF_DIR}")

    tag = f"{a.workload}-{a.seed}-t{a.trace}"
    out = WORK / "runs" / f"{tag}.json"
    out.unlink(missing_ok=True)
    cmd = ["java", *JVM_OPTS, f"-Djava.io.tmpdir={WORK / 'tmp'}",
           "-cp", CLASSPATH.read_text().strip(), "perfbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", str(data), "--sf", SF_DIR, "--ops", ",".join(metrics.OPS),
           "--work", str(WORK), "--out", str(out)]
    steal0, total0 = cpu_times()
    rc = run_quiet(cmd, WORK / "runs" / f"{tag}.log", RUN_TIMEOUT_S, cwd=ROOT)
    steal1, total1 = cpu_times()
    if rc != 0 or not out.exists():
        fail(f"harness failed (exit {rc}); see {WORK / 'runs' / (tag + '.log')}")
    raw = json.loads(out.read_text())

    pinned = json.loads((HERE / "digests.json").read_text())
    attempted, failures = metrics.outcome(raw, pinned)
    if a.trace:
        values = metrics.per_layer(raw)
        (WORK / "traces").mkdir(exist_ok=True)
        (WORK / "traces" / f"{tag}.json").write_text(
            json.dumps({"spans": raw["spans"], "jobs": raw["jobs"]}))
    else:
        values = metrics.end_to_end(raw, input_rows(a.workload, data),
                                    attempted, len(failures))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = spec["per_layer" if a.trace else "end_to_end"]
    result = {
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
                    for m in names},
    }
    context = {
        "workload": a.workload, "seed": a.seed, "cores": raw["cores"],
        "heap_mb": raw["heap_max_mb"], "generate_s": round(gen_s, 3),
        "session_s": raw["session_s"],
        "steal_pct": round(100.0 * (steal1 - steal0) / max(total1 - total0, 1), 2),
        "setup_wall_s": raw["setup_wall_s"],
        "iterations": len(raw["iterations"]),
        "iter_wall_s": round(metrics.median(
            [it["wall_s"] for it in raw["iterations"] if not it["traced"]]), 4),
        "failures": failures,
    }
    if a.workload == "ops_mix":
        context["family_s"] = metrics.family_seconds(raw)
    if a.trace:
        context["self_s"] = metrics.self_time(raw)
    print(json.dumps({"context": context}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
