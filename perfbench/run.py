#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result.

    python3 perfbench/run.py --workload queries|ingest \
        --seed N --seconds S --trace 0|1 [--smoke]

Run from the root of a checkout. The first run builds the program and the
benchmark from source with sbt (offline) into `perfbench/target` and the
root project's `target`; later runs reuse the build while the sources are
unchanged. Each run gets its own directory under `perfbench/target/runs`
(JVM temp dir, Spark local dir, table stores), deleted when the run ends.
A traced run keeps its span file in `perfbench/target/traces`.

The last line of stdout is one JSON object with the keys `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics with
`--trace 0`, the per-layer metrics with `--trace 1`. The line before it,
prefixed `record:`, holds the full result: host shape, failures and every
figure measured.
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
TARGET = os.path.join(BENCH, "target")
DATA = os.path.join(BENCH, "data", "sf0.01")
EXPECTED = os.path.join(BENCH, "expected", "sf0.01.tsv")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

# JDK 17 module opens Spark needs outside spark-submit (the root build's
# javaOptions carry the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_files():
    """Every file the build reads: both sbt builds and all main sources."""
    files = []
    for base in (ROOT, BENCH):
        for f in ("build.sbt", os.path.join("project", "build.properties")):
            p = os.path.join(base, f)
            if os.path.isfile(p):
                files.append(p)
        src = os.path.join(base, "src", "main")
        for d, _, names in os.walk(src):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def source_hash():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Classpath of the benchmark, building first when sources changed."""
    stamp = os.path.join(TARGET, "perfbench-build.json")
    want = source_hash()
    if os.path.isfile(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("sources") == want:
            return s["classpath"], want
    print("perfbench: building with sbt", file=sys.stderr)
    r = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=sbt_env(), capture_output=True, text=True,
        timeout=BUILD_TIMEOUT_S)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[")]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        fail("build failed")
    cp = lines[-1].strip()
    os.makedirs(TARGET, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"sources": want, "classpath": cp}, f)
    return cp, want


def heap_gib():
    """Half of host memory, clamped to 2..8 GiB (the Tier-1 sizing)."""
    try:
        with open("/proc/meminfo") as f:
            kib = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return max(2, min(8, kib // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 2


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def run_jvm(cp, args, rundir, stderr_path):
    cmd = (["java", f"-Xmx{heap_gib()}g"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={rundir}/tmp",
              f"-Dspark.local.dir={rundir}/spark-local",
              "-cp", cp, "perfbench.Main"] + args)
    with open(stderr_path, "w") as err:
        proc = subprocess.Popen(cmd, cwd=rundir, stdout=subprocess.PIPE,
                                stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    return proc.returncode, out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["queries", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="tiny run that only proves every metric is emitted")
    a = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail(f"no program sources next to {BENCH}; run from a full checkout")
    for p in (DATA, EXPECTED):
        if not os.path.exists(p):
            fail(f"missing {p}")

    # a SIGTERM should stop the JVM and remove the run directory too
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cp, sources = build()
    rundir = os.path.join(TARGET, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(rundir, ignore_errors=True)
    for d in ("tmp", "spark-local", "out"):
        os.makedirs(os.path.join(rundir, d))
    try:
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace),
                "--data", DATA, "--expected", EXPECTED,
                "--out", os.path.join(rundir, "out"),
                "--smoke", "1" if a.smoke else "0"]
        t0 = time.time()
        rc, out = run_jvm(cp, args, rundir, os.path.join(rundir, "stderr.log"))
        sys.stdout.write(out)
        result_path = os.path.join(rundir, "out", "result.json")
        if rc != 0 or not os.path.isfile(result_path):
            with open(os.path.join(rundir, "stderr.log")) as f:
                sys.stderr.write(f.read()[-6000:])
            fail(f"benchmark JVM exited with {rc}")
        with open(result_path) as f:
            res = json.load(f)
        if a.trace:
            traces = os.path.join(TARGET, "traces")
            os.makedirs(traces, exist_ok=True)
            spans = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.jsonl")
            shutil.copyfile(os.path.join(rundir, "out", "spans.jsonl"), spans)
            print(f"spans: {os.path.relpath(spans, ROOT)}")
    finally:
        shutil.rmtree(rundir, ignore_errors=True)

    res.update(git_commit=git_commit(), sources_sha256=sources,
               run_wall_s=round(time.time() - t0, 3))
    metrics = res["per_layer"] if a.trace else res["end_to_end"]
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    missing = [m["name"] for m in declared if m["name"] not in metrics]
    if missing:
        fail(f"metrics not measured: {missing}")
    print("record: " + json.dumps(res, sort_keys=True))
    print(json.dumps({
        "correct": res["failed"] == 0,
        "attempted": res["attempted"],
        "failed": res["failed"],
        "metrics": {m["name"]: metrics[m["name"]] for m in declared},
    }))


if __name__ == "__main__":
    main()
