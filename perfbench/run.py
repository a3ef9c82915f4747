#!/usr/bin/env python3
"""Run one benchmark workload against the program in this checkout.

Usage (from the checkout root):

  python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --workload all [--seed N] [--seconds S]

W is one of ingest_full, ingest_cdc, query_mix, embed_gateway. The first
run builds the program and the harness from source with sbt (into
.bench_build/) and generates the query tables; later runs reuse both
until a source file changes. The harness prints a report line and, as
the last line of stdout, the result object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1 (which also writes
the run's spans to .bench_build/trace/<workload>-<seed>.jsonl).

`--workload all` runs every workload in turn and prints every reported
metric by name, with its unit, as one table.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ["ingest_full", "ingest_cdc", "query_mix", "embed_gateway"]
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 880
HEAP = "2g"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def tree_digest(paths) -> str:
    """SHA-256 over the relative names and bytes of every file under `paths`."""
    h = hashlib.sha256()
    for top in paths:
        if os.path.isfile(top):
            files = [top]
        else:
            files = sorted(os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run `cmd` in its own process group; kill the group past `limit_s`."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=limit_s)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        fail(f"{cmd[0]} exceeded {limit_s:.0f} s")
    return proc.returncode, out


def build() -> str:
    """Compile program + harness once per source state; return the classpath."""
    src = os.path.join(ROOT, "src", "main")
    if not os.path.isdir(os.path.join(src, "scala", "graft")):
        fail(f"no program sources under {src}; run from a checkout of the repository")
    stamp = tree_digest([src, os.path.join(BENCH, "src", "main"), os.path.join(BENCH, "build.sbt"),
                         os.path.join(BENCH, "project", "build.properties")])
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved_stamp, cp = fh.read().split("\n", 1)
        if saved_stamp == stamp:
            return cp.strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_LIMIT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr, text=True)
    lines = [ln.strip() for ln in out.splitlines()]
    cps = [ln for ln in lines if ln.startswith("/") and "spark-core" in ln]
    if code != 0 or not cps:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    with open(cp_file, "w") as fh:
        fh.write(stamp + "\n" + cps[-1])
    return cps[-1]


def tables() -> str:
    """Generate the fixed query tables once per generator version."""
    out = os.path.join(BUILD, "tables", "sf0.1")
    gen = os.path.join(BENCH, "gen_tables.py")
    stamp = tree_digest([gen])
    stamp_file = os.path.join(out, "_STAMP")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return out
    shutil.rmtree(out, ignore_errors=True)
    code, _ = run_bounded([sys.executable, gen, out], 300)
    if code != 0:
        fail("table generation failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    return out


def unit_of(name: str) -> str:
    """Unit of a report value, from its name's suffix."""
    for suffix, unit in [("per_s", "1/s"), ("_mb", "MB"), ("_frac", "ratio"),
                         ("per_chunk", "B"), ("_s", "s"), (".s", "s")]:
        if name.endswith(suffix):
            return unit
    return "count"


def cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_one(workload, seed, seconds, trace, cp, limit_s):
    """Run the harness JVM once; return (report, result) parsed from stdout."""
    work = os.path.join(BUILD, "run", f"{workload}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    trace_dir = os.path.join(BUILD, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xmx{HEAP}", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace), "--work", work,
            "--tables", tables(), "--bench-dir", BENCH, "--cores", str(cores()),
            "--spans", os.path.join(trace_dir, f"{workload}-{seed}.jsonl")]
    try:
        code, out = run_bounded(cmd, limit_s, cwd=ROOT, stdout=subprocess.PIPE,
                                stderr=sys.stderr, text=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in out.splitlines() if ln.strip()]
    if code != 0 or len(lines) < 2:
        sys.stderr.write(out[-4000:])
        fail(f"{workload} exited with code {code}")
    return json.loads(lines[-2])["report"], json.loads(lines[-1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    t0 = time.time()
    cp = build()
    tables()
    built = time.time() - t0 > 30
    limit = (BUILD_LIMIT_S if built else RUN_LIMIT_S) - (time.time() - t0)
    if a.workload != "all":
        report, result = run_one(a.workload, a.seed, a.seconds, a.trace, cp, limit)
        print(json.dumps({"report": report}))
        print(json.dumps(result))
        return 0
    table = []
    for w in WORKLOADS:
        report, result = run_one(w, a.seed, a.seconds, a.trace, cp, RUN_LIMIT_S)
        print(json.dumps({"report": report}))
        print(json.dumps(result))
        table += [(w, k, m["value"], m["unit"], "") for k, m in result["metrics"].items()]
        for k, v in report.items():
            if isinstance(v, dict) and "value" in v:
                table.append((w, k, v["value"], unit_of(k), f"p{v['percentile']:g} of {v['samples']}"))
            elif type(v) in (int, float) and k != "seed" and k not in result["metrics"]:
                table.append((w, k, v, unit_of(k), ""))
    for w, k, v, unit, note in table:
        print(f"{w:14} {k:32} {v:>14.6g} {unit:6} {note}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
