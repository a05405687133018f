#!/usr/bin/env python3
"""Derive perfbench/expected/sf0.01.tsv, the expected result of every
registry query and every table read on the benchmark's data.

    python3 perfbench/make_expected.py

Runs `perfbench.Record` (every query's row count and content hash), then
the repository's own correctness path: `graft.Verify` writes each registry
query's result and oracle SQL, and `scripts/check_oracle.py --skip-verify`
replays the oracle SQL in DuckDB and compares. Each line of the output is
`name<TAB>rows<TAB>hash<TAB>source`, where source is
  duckdb           DuckDB agrees with the program's result (for
                   `tr_stream_hll`: its result equals `sketch_hll_stream`'s,
                   which DuckDB agrees with);
  seed-commit      no oracle SQL: the program's result at this commit;
  duckdb-mismatch  the program disagrees with DuckDB (the hash column
                   then holds the reason); the benchmark counts the
                   query as failed on every run.
Run it at the commit whose results define correctness, never to make a
failing query pass.
"""
import os
import re
import shutil
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import run  # noqa: E402

# table reads whose result must equal a DuckDB-checked registry query's
SAME_AS = {"tr_stream_hll": "sketch_hll_stream"}

VERDICT = re.compile(r"^(OK|SCHEMA|TYPES|ROWCOUNT|VALUES|ERROR|MISSING)\s+(\w+)(?: \((\d+) rows\))?")


def java(cp, cls, args, cwd):
    subprocess.run(
        ["java", f"-Xmx{run.heap_gib()}g"]
        + [x for p in run.ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
        + [f"-Djava.io.tmpdir={cwd}/tmp", "-cp", cp, cls] + args,
        cwd=cwd, check=True, stderr=subprocess.DEVNULL)


def oracle_verdicts(verify_dir):
    """name -> (tag, rows) from scripts/check_oracle.py's report."""
    r = subprocess.run(
        [sys.executable, os.path.join(run.ROOT, "scripts", "check_oracle.py"),
         run.DATA, verify_dir, "--skip-verify"],
        capture_output=True, text=True)
    out = {}
    for line in r.stdout.splitlines():
        m = VERDICT.match(line)
        if m:
            out[m.group(2)] = (m.group(1), int(m.group(3)) if m.group(3) else None)
    return out


def main():
    cp, _ = run.build()
    out = os.path.join(run.TARGET, "record")
    shutil.rmtree(out, ignore_errors=True)
    os.makedirs(os.path.join(out, "tmp"))
    java(cp, "perfbench.Record", ["--data", run.DATA, "--out", out], out)
    verify_dir = os.path.join(out, "verify")
    java(cp, "graft.Verify", [run.DATA, verify_dir], out)
    verdicts = oracle_verdicts(verify_dir)

    recorded = {}
    with open(os.path.join(out, "hashes.tsv")) as f:
        for line in f.read().splitlines():
            name, rows, digest = line.split("\t")
            recorded[name] = (int(rows), digest)
    entries = {}
    for name, (rows, digest) in recorded.items():
        tag, vrows = verdicts.get(name, (None, None))
        if rows < 0:
            entries[name] = (rows, digest.replace(" ", "_"), "duckdb-mismatch")
        elif name in SAME_AS:
            continue
        elif tag is None:
            entries[name] = (rows, digest, "seed-commit")
        elif tag != "OK":
            entries[name] = (rows, f"oracle_{tag}", "duckdb-mismatch")
        elif vrows != rows:
            entries[name] = (rows, f"rows_{rows}_vs_verify_{vrows}", "duckdb-mismatch")
        else:
            entries[name] = (rows, digest, "duckdb")
    for name, ref in SAME_AS.items():
        rows, digest = recorded[name]
        same = entries.get(ref, (None, None, None))
        ok = rows >= 0 and same[2] == "duckdb" and same[:2] == (rows, digest)
        entries[name] = (rows, digest if ok else f"differs_from_{ref}",
                         "duckdb" if ok else "duckdb-mismatch")

    lines = ["# name\trows\thash\tsource (written by perfbench/make_expected.py)"]
    counts = {}
    for name in sorted(entries, key=lambda n: (not n.startswith("tr_"), n)):
        rows, digest, source = entries[name]
        counts[source] = counts.get(source, 0) + 1
        lines.append(f"{name}\t{rows}\t{digest}\t{source}")
    os.makedirs(os.path.dirname(run.EXPECTED), exist_ok=True)
    with open(run.EXPECTED, "w") as f:
        f.write("\n".join(lines) + "\n")
    shutil.rmtree(out, ignore_errors=True)
    print(f"{run.EXPECTED}: {counts}")


if __name__ == "__main__":
    main()
