#!/usr/bin/env python3
"""A/B two git revisions on one perfbench workload, in alternating order.

    python3 scripts/perfbench_ab.py PARENT CHANGE --workload ingest \\
        [--seed 1] [--pairs 10] [--seconds 15] [--trace 0] [--control] \\
        [--workdir /tmp/perfbench_ab]

Run from the repository. Each revision (anything `git archive` takes: a
commit, a branch, or `$(git stash create)` for staged, uncommitted work)
is exported with `git archive` into its own directory under `--workdir`,
and its first run builds it there. Pair i runs both revisions with seed
`--seed + i`; the parent goes first in even pairs and the change first in
odd ones, so a drift in host load falls on both sides alike.

For every metric of the result line (end-to-end with `--trace 0`,
per-layer with `--trace 1`) it prints the median (q1, q3) of each
revision, the change/parent ratio of the medians, and in how many pairs
the change was better, in the direction `BENCHMARK.json` declares. The
parent's interquartile range is printed next to the difference of the
medians: a gain is resolved only when that difference is larger.

`--control` adds an A/A arm: each pair also runs the parent a second
time (as `control`, from the same build), with the change between the
two parent runs (parent, change, control in even pairs; control, change,
parent in odd ones). Next to each metric's change/parent ratio it then
prints the same ratio for control/parent and the band (min, max) of
the per-pair control/parent ratios: the spread that two runs of
identical code show on this host. A change's ratio inside that band
is not told apart from noise. A run
that is not `correct`, or that fails, is flagged; the script then exits 1.

Host contention: the `cpu` line of `/proc/stat` is read before and after
each run, and the run's CPU steal % and iowait % (shares of all CPU time
over the run, build included) are printed with it. A run above
STEAL_FLAG_PCT % steal is marked `STEAL` and listed at the end; it stays
in the medians. Every run's result line is also kept, with its steal and
iowait, in `<workdir>/<workload>.results.jsonl`.

Each run's `run_wall_s` (the benchmark JVM's wall time, build excluded,
from perfbench's `record:` line) is printed with it, and its median per
revision at the end.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
STEAL_FLAG_PCT = 10.0


def cpu_times():
    """user, nice, system, idle, iowait, irq, softirq, steal jiffies of
    `/proc/stat`'s aggregate `cpu` line (guest time is inside user)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def contention(before, after):
    """(steal %, iowait %) of all CPU time between two `cpu_times()`."""
    d = [b - a for a, b in zip(before, after)]
    total = sum(d) or 1
    return 100.0 * d[7] / total, 100.0 * d[4] / total


def export(rev, workdir, label):
    """`git archive` `rev` into `workdir/label`; returns (dir, full sha)."""
    sha = subprocess.check_output(
        ["git", "rev-parse", "--verify", rev + "^{commit}"],
        cwd=ROOT, text=True).strip()
    d = os.path.join(workdir, label)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(d)
    archive = subprocess.Popen(["git", "archive", sha], cwd=ROOT,
                               stdout=subprocess.PIPE)
    subprocess.check_call(["tar", "-x", "-C", d], stdin=archive.stdout)
    if archive.wait() != 0:
        sys.exit(f"git archive {rev} failed")
    return d, sha


def run(checkout, workload, seed, seconds, trace):
    """One perfbench run; returns its result line, or None if it failed.
    Metric values arrive as {"value", "unit"} and are reduced to the value;
    `run_wall_s` is taken from the `record:` line.
    """
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-3000:])
        return None
    res = json.loads(lines[-1])
    res["metrics"] = {k: v["value"] if isinstance(v, dict) else v
                      for k, v in res["metrics"].items()}
    records = [l[len("record: "):] for l in lines if l.startswith("record: ")]
    if records:
        res["run_wall_s"] = json.loads(records[-1]).get("run_wall_s")
    return res


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def main():
    ap = argparse.ArgumentParser(
        description=__doc__, formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("parent")
    ap.add_argument("change")
    ap.add_argument("--workload", required=True, choices=["queries", "ingest"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--control", action="store_true",
                    help="also run the parent a second time in each pair")
    ap.add_argument("--workdir", default="/tmp/perfbench_ab")
    a = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    better = {m["name"]: m["better"] for m in declared}

    dirs = {}
    for label, rev in (("parent", a.parent), ("change", a.change)):
        dirs[label], sha = export(rev, a.workdir, label)
        print(f"{label}: {rev} = {sha[:12]} in {dirs[label]}", flush=True)

    dirs["control"] = dirs["parent"]
    results = {"parent": [], "change": [], "control": []}
    run_walls = {"parent": [], "change": [], "control": []}
    flagged, contended = [], []
    log = open(os.path.join(a.workdir, f"{a.workload}.results.jsonl"), "w")
    for i in range(a.pairs):
        seed = a.seed + i
        if a.control:
            order = (("parent", "change", "control") if i % 2 == 0 else
                     ("control", "change", "parent"))
        else:
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        for label in order:
            before = cpu_times()
            r = run(dirs[label], a.workload, seed, a.seconds, a.trace)
            steal, iowait = contention(before, cpu_times())
            ok = r is not None and r["correct"] and r["failed"] == 0
            if not ok:
                flagged.append(f"{label} seed {seed}: " + (
                    "run failed" if r is None else
                    f"correct={r['correct']} failed={r['failed']}"))
            stolen = steal > STEAL_FLAG_PCT
            if stolen:
                contended.append(f"{label} seed {seed}: steal {steal:.1f} %")
            results[label].append(r["metrics"] if r is not None else None)
            if r is not None and r.get("run_wall_s") is not None:
                run_walls[label].append(r["run_wall_s"])
            log.write(json.dumps({"rev": label, "seed": seed,
                                  "steal_pct": round(steal, 2),
                                  "iowait_pct": round(iowait, 2),
                                  "result": r}) + "\n")
            log.flush()
            print(f"pair {i + 1}/{a.pairs} seed {seed} {label}: " +
                  ("FAILED" if r is None else
                   " ".join(f"{k}={v:.4g}" for k, v in r["metrics"].items()
                            if k in ("op_p50_ms", "op_tail_ms", "wall_s")) +
                   f" run_wall_s={r.get('run_wall_s')}") +
                  f" steal={steal:.1f}% iowait={iowait:.1f}%" +
                  ("  <-- STEAL" if stolen else "") +
                  ("" if ok else "  <-- NOT CORRECT"), flush=True)

    ctl = results["control"] if a.control else [{}] * a.pairs
    triples = [(p, c, k) for p, c, k in
               zip(results["parent"], results["change"], ctl)
               if p is not None and c is not None and k is not None]
    print(f"\n{a.workload}, {len(triples)} pairs, seeds {a.seed}.."
          f"{a.seed + a.pairs - 1}, {a.seconds:g} s runs, "
          f"trace {a.trace}: median (q1, q3)")
    print(f"{'metric':32} {'parent':>28} {'change':>28} {'ratio':>6} "
          f"{'wins':>5} {'|diff|':>9} {'par IQR':>9}" +
          (f" {'A/A':>6} {'A/A band':>13} {'A/A|diff|':>9}"
           if a.control else ""))
    for name in better:
        have = [(p[name], c[name], k.get(name)) for p, c, k in triples
                if p.get(name) is not None and c.get(name) is not None]
        if not have:
            continue
        ps = sorted(p for p, _, _ in have)
        cs = sorted(c for _, c, _ in have)
        p1, pm, p3 = quartiles(ps)
        c1, cm, c3 = quartiles(cs)
        sign = 1 if better[name] == "higher" else -1
        wins = sum(1 for p, c, _ in have if sign * (c - p) > 0)
        ratio = f"{cm / pm:.3f}" if pm else "-"
        line = (f"{name:32} {f'{pm:.4g} ({p1:.4g}, {p3:.4g})':>28} "
                f"{f'{cm:.4g} ({c1:.4g}, {c3:.4g})':>28} {ratio:>6} "
                f"{f'{wins}/{len(have)}':>5} {abs(cm - pm):>9.4g} "
                f"{p3 - p1:>9.4g}")
        ks = [k for _, _, k in have if k is not None]
        if a.control and ks and pm:
            km = statistics.median(ks)
            band = [k / p for p, _, k in have if k is not None and p]
            line += (f" {km / pm:>6.3f} "
                     f"{f'{min(band):.3f}-{max(band):.3f}':>13} "
                     f"{abs(km - pm):>9.4g}")
        print(line)
    print("run_wall_s median: " + ", ".join(
        f"{label} {statistics.median(w):.4g} s"
        for label, w in run_walls.items() if w))
    if contended:
        print(f"\nruns above {STEAL_FLAG_PCT:g} % steal (kept in the medians):"
              "\n  " + "\n  ".join(contended))
    if flagged:
        print("\nruns not correct:\n  " + "\n  ".join(flagged))
        sys.exit(1)


if __name__ == "__main__":
    main()
