#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one JSON line.

Usage (from the repository root):
    python3 perfbench/run.py --workload batch|stream --seed N
                             --seconds S --trace 0|1
    python3 perfbench/run.py --dump-oracle FILE

It builds the engine and the harness from source with sbt (cached in
.bench_build/perfbench until a source file changes), runs the harness
JVM on local[k], prints the run's report and, as the last line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, and the span file lands next to the results.

Every run is appended to .bench_build/perfbench/results.jsonl (or to
--results FILE); compare.py reads two such files.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
DATA = os.path.join(HERE, "data", "sf0.1")
EXPECTED = os.path.join(HERE, "expected.tsv")
WORKLOADS = ("batch", "stream")
RUN_TIMEOUT_S = 175
JDK17_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def cores():
    return max(1, min(4, os.cpu_count() or 1))


def source_digest():
    """Hash of everything the build reads, so a stale build is redone."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
             os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project"), os.path.join(HERE, "src")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(r)
            for f in fs if "target" not in d.split(os.sep)
            and not d.endswith(os.sep + "project" + os.sep + "project"))
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt and return the runtime classpath."""
    digest = source_digest()
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(cp_file):
        with open(cp_file) as fh:
            saved, cp = fh.read().split("\n", 1)
        if saved == digest:
            return cp.strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        die("sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g",
            "-Dsbt.global.base=" + os.path.join(BUILD, "sbt-global")]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join(opts)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            [sbt, "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
             "perfbench/compile", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            stdin=subprocess.DEVNULL, timeout=840)
    lines = [ln for ln in proc.stdout.splitlines() if ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:])
        die(f"build failed (exit {proc.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as fh:
        fh.write(digest + "\n" + cp)
    return cp


def java_cmd(cp, main_args, tmp):
    opens = [x for p in JDK17_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    # C1 only: a run lasts well under a minute, too short for C2 to
    # finish, and its compiler threads would compete with the k task
    # threads for the same cores, which made timings slower and noisier.
    return (["java"] + opens + [
        "-Xms3g", "-Xmx3g", "-XX:ReservedCodeCacheSize=512m", "-XX:TieredStopAtLevel=1",
        "-Duser.timezone=UTC",
        "-Djava.io.tmpdir=" + tmp, "-Dspark.local.dir=" + tmp,
        "-Dspark.sql.warehouse.dir=" + os.path.join(tmp, "warehouse"),
        "-Dderby.system.home=" + tmp,
        "-cp", cp, "perfbench.Main"] + main_args)


def run_jvm(cmd, tmp, timeout):
    """Run the harness JVM; its stderr goes to a log, stdout is echoed."""
    log = os.path.join(BUILD, "last_run.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=tmp, stdout=subprocess.PIPE,
                                stderr=err, stdin=subprocess.DEVNULL, text=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            die(f"run exceeded {timeout:.0f} s; see {log}")
    sys.stdout.write(out)
    if proc.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        die(f"harness exited {proc.returncode}; see {log}")


def overhead_lines(result, results_file):
    """Traced minus untraced, per end-to-end metric, against the
    untraced runs of the same workload recorded so far."""
    base = {}
    if os.path.exists(results_file):
        with open(results_file) as fh:
            for line in fh:
                r = json.loads(line)
                if r["workload"] == result["workload"] and r["trace"] == 0:
                    for k, m in r["metrics"].items():
                        base.setdefault(k, []).append(m["value"])
    if not base:
        return [f"{result['workload']:<10} tracing overhead: no untraced run recorded yet"]
    out = []
    for k, m in result["metrics"].items():
        if k in base:
            b = statistics.median(base[k])
            d = m["value"] - b
            out.append(f"{result['workload']:<10} overhead.{k:<20} {d:+14.4f} {m['unit']}"
                       f" ({100 * d / b:+.1f} % vs median of {len(base[k])} untraced)")
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--results", default=None)
    ap.add_argument("--dump-oracle", default=None)
    a = ap.parse_args()

    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft")):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"not a graft checkout: {need} is missing under {ROOT}")
    if not os.path.isdir(DATA) or not os.path.exists(EXPECTED):
        die("benchmark data or expected fingerprints are missing")
    if a.workload is None and a.dump_oracle is None:
        die("--workload is required")
    os.makedirs(BUILD, exist_ok=True)
    cp = build()
    started = time.monotonic()  # a first run may build for longer than this budget

    tmp = os.path.join(BUILD, f"tmp-{os.getpid()}")
    os.makedirs(tmp)
    try:
        if a.dump_oracle:
            run_jvm(java_cmd(cp, ["--dump-oracle", os.path.abspath(a.dump_oracle)], tmp),
                    tmp, RUN_TIMEOUT_S)
            return
        stem = f"{a.workload}-seed{a.seed}-trace{a.trace}"
        out = os.path.join(BUILD, stem + ".json")
        spans = os.path.join(BUILD, stem + "-spans.json")
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--cores", str(cores()), "--data", DATA, "--expected", EXPECTED,
                "--out", out]
        if a.trace:
            args += ["--spans", spans]
        remaining = RUN_TIMEOUT_S - (time.monotonic() - started)
        run_jvm(java_cmd(cp, args, tmp), tmp, max(30, remaining))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    with open(out) as fh:
        result = json.load(fh)
    results_file = a.results or os.path.join(BUILD, "results.jsonl")
    if a.trace:
        for line in overhead_lines(result, results_file):
            print(line)
        print(f"{a.workload:<10} spans: {os.path.relpath(spans, ROOT)}")
    with open(results_file, "a") as fh:
        fh.write(json.dumps(result, sort_keys=True) + "\n")
    metrics = result["layers"] if a.trace else result["metrics"]
    print(json.dumps({
        "correct": result["failed"] == 0,
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": metrics}))


if __name__ == "__main__":
    main()
