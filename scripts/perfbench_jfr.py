#!/usr/bin/env python3
"""Profile one perfbench workload run under Java Flight Recorder.

    python3 scripts/perfbench_jfr.py --workload ingest [--seed 1] \\
        [--seconds 15] [--top 25] [--threads REGEX] [--keep rec.jfr]

Run from the repository. It builds and starts the benchmark JVM exactly
as `perfbench/run.py` does (that module's build, heap size and JVM
arguments, imported and used read-only) with
`-XX:StartFlightRecording` added (the `profile` settings: a CPU sample
of each running Java thread every 10 ms), then prints from the
recording:

  - the process starts (`jdk.ProcessStart`) counted by command: a fork
    the JVM makes on the hot path (Hadoop's `chmod` without libhadoop,
    for one) shows here;
  - the top CPU frames (`jdk.ExecutionSample`) on the workload threads,
    both self (the sampled top frame) and inclusive (anywhere in the
    sampled stack). The workload threads are by default the perfbench
    client pools' (`pool-N-thread-M`) and Spark's task threads
    (`Executor task launch worker ...`); `--threads` takes another
    regular expression over the thread names.

The benchmark's own result line is printed too, so the profiled run's
`correct`/`failed` is visible. The recording costs CPU of its own: do
not quote the profiled run's figures as benchmark results.
"""
import argparse
import collections
import importlib.util
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DEFAULT_THREADS = r"^(pool-\d+-thread-\d+|Executor task launch worker.*)$"


def load_run():
    """perfbench/run.py as a module (its build and JVM arguments)."""
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def jfr_events(recording, event):
    """The events named `event` in `recording`, as parsed JSON, with
    stacks up to 64 frames deep."""
    r = subprocess.run(["jfr", "print", "--json", "--stack-depth", "64",
                        "--events", event, recording],
                       capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"perfbench_jfr: jfr print failed: {r.stderr[-2000:]}")
    return json.loads(r.stdout)["recording"]["events"]


def frame_name(frame):
    m = frame["method"]
    return f'{m["type"]["name"]}.{m["name"]}'


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["queries", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--top", type=int, default=25)
    ap.add_argument("--threads", default=DEFAULT_THREADS)
    ap.add_argument("--keep", help="copy the recording to this path")
    a = ap.parse_args()

    run = load_run()
    cp, _ = run.build()
    rundir = tempfile.mkdtemp(prefix="perfbench_jfr_")
    try:
        for d in ("tmp", "spark-local", "out"):
            os.makedirs(os.path.join(rundir, d))
        recording = os.path.join(rundir, "run.jfr")
        cmd = (["java", f"-Xmx{run.heap_gib()}g",
                f"-XX:StartFlightRecording=filename={recording},"
                "settings=profile,dumponexit=true"]
               + [x for p in run.ADD_OPENS
                  for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + [f"-Djava.io.tmpdir={rundir}/tmp",
                  f"-Dspark.local.dir={rundir}/spark-local",
                  "-cp", cp, "perfbench.Main",
                  "--workload", a.workload, "--seed", str(a.seed),
                  "--seconds", str(a.seconds), "--trace", "0",
                  "--data", run.DATA, "--expected", run.EXPECTED,
                  "--out", os.path.join(rundir, "out"), "--smoke", "0"])
        with open(os.path.join(rundir, "stderr.log"), "w") as err:
            proc = subprocess.run(cmd, cwd=rundir, stdout=subprocess.PIPE,
                                  stderr=err, text=True,
                                  timeout=run.RUN_TIMEOUT_S + 60)
        result = os.path.join(rundir, "out", "result.json")
        if proc.returncode != 0 or not os.path.isfile(result):
            with open(os.path.join(rundir, "stderr.log")) as f:
                sys.stderr.write(f.read()[-4000:])
            sys.exit(f"perfbench_jfr: benchmark JVM exited with "
                     f"{proc.returncode}")
        with open(result) as f:
            res = json.load(f)
        print(json.dumps({"correct": res["failed"] == 0,
                          "attempted": res["attempted"],
                          "failed": res["failed"],
                          "end_to_end": res["end_to_end"]}))
        if a.keep:
            shutil.copyfile(recording, a.keep)

        starts = collections.Counter(
            os.path.basename((e["values"].get("command") or "?").split()[0])
            for e in jfr_events(recording, "jdk.ProcessStart"))
        print(f"\nprocess starts: {sum(starts.values())}")
        for cmd_name, n in starts.most_common():
            print(f"{n:8d}  {cmd_name}")

        wanted = re.compile(a.threads)
        self_n, incl_n = collections.Counter(), collections.Counter()
        total = 0
        for e in jfr_events(recording, "jdk.ExecutionSample"):
            v = e["values"]
            thread = (v.get("sampledThread") or {}).get("javaName") or ""
            frames = ((v.get("stackTrace") or {}).get("frames")) or []
            if not frames or not wanted.search(thread):
                continue
            total += 1
            names = [frame_name(f) for f in frames]
            self_n[names[0]] += 1
            incl_n.update(set(names))
        print(f"\nCPU samples on workload threads: {total}")
        for title, counts in (("self", self_n), ("inclusive", incl_n)):
            print(f"\ntop {a.top} frames, {title}:")
            for name, n in counts.most_common(a.top):
                print(f"{n:8d}  {100.0 * n / max(total, 1):5.1f}%  {name}")
    finally:
        shutil.rmtree(rundir, ignore_errors=True)


if __name__ == "__main__":
    main()
