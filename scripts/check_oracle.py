#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify at a
scale factor, then run each oracle_sql.json entry in DuckDB over the same
fixture tables and compare (schema-insensitively: columns sorted by name,
rows sorted, values normalized). Usage:
    python3 scripts/check_oracle.py [sfdir] [outdir] [--skip-verify]
"""
import sys, os, json, math, subprocess, glob
import duckdb

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

def norm(v):
    if isinstance(v, float):
        if math.isnan(v): return "NaN"
        return f"{v:.10g}"
    return repr(v)

def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = sorted(tuple(norm(r[i]) for i in order) for r in rows)
    return [cols[i] for i in order], out, order

# The driver's value hash is TYPE-SENSITIVE to width classes beyond
# int64: a DuckDB HUGEINT (int128, e.g. from sum() over BIGINT) hashes
# differently from a Spark LONG even when every value is equal
# (CORRECTNESS_r07: sketch_hll / sketch_kmv_jaccard). Within int64 the
# driver hash is width-insensitive (16 green r7 rows pair Spark INTEGER
# with DuckDB BIGINT and vice versa), so normalize that family — but NOT
# HUGEINT/UBIGINT, which must be CAST in the oracle SQL.
def normtype(t):
    t = str(t).upper()
    return {"TINYINT": "INT64", "SMALLINT": "INT64", "INTEGER": "INT64",
            "BIGINT": "INT64", "UTINYINT": "INT64", "USMALLINT": "INT64",
            "UINTEGER": "INT64",
            "TIMESTAMP WITH TIME ZONE": "TIMESTAMP",
            "TIMESTAMP_NS": "TIMESTAMP"}.get(t, t)

def compare(sfdir, outdir):
    """Replay outdir/oracle_sql.json in DuckDB over sfdir's fixture tables
    and compare each entry with the Spark output under outdir. Prints one
    line per query and a summary; returns the names that failed."""
    con = duckdb.connect()
    for p in glob.glob(f"{sfdir}/*.parquet"):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")

    oracle = json.load(open(f"{outdir}/oracle_sql.json"))

    fails = []
    for name, sql in sorted(oracle.items()):
        spark_dir = f"{outdir}/{name}"
        if not os.path.isdir(spark_dir):
            print(f"MISSING  {name} (no spark output)"); fails.append(name); continue
        try:
            s = con.sql(f"SELECT * FROM '{spark_dir}/*.parquet'")
            scols, srows, sorder = canon(s.columns, s.fetchall())
            d = con.sql(sql)
            dcols, drows, dorder = canon(d.columns, d.fetchall())
            stypes = [normtype(s.types[i]) for i in sorder]
            dtypes = [normtype(d.types[i]) for i in dorder]
        except Exception as e:
            print(f"ERROR    {name}: {e}"); fails.append(name); continue
        if scols != dcols:
            print(f"SCHEMA   {name}: spark={scols} duckdb={dcols}")
            fails.append(name); continue
        if stypes != dtypes:
            bad = [(c, a, b) for c, a, b in zip(scols, stypes, dtypes) if a != b]
            print(f"TYPES    {name}: {['%s spark=%s duckdb=%s' % x for x in bad]}")
            fails.append(name); continue
        if len(srows) != len(drows):
            print(f"ROWCOUNT {name}: spark={len(srows)} duckdb={len(drows)}")
            fails.append(name); continue
        if srows != drows:
            bad = next(i for i, (a, b) in enumerate(zip(srows, drows)) if a != b)
            print(f"VALUES   {name}: first diff row {bad}:")
            print(f"  spark : {srows[bad]}")
            print(f"  duckdb: {drows[bad]}")
            fails.append(name); continue
        print(f"OK       {name} ({len(srows)} rows)")

    all_q = [os.path.basename(p) for p in glob.glob(f"{outdir}/*") if os.path.isdir(p)]
    rows_only = sorted(set(all_q) - set(oracle))
    for name in rows_only:
        try:
            n = con.sql(f"SELECT count(*) FROM '{outdir}/{name}/*.parquet'").fetchone()[0]
            print(f"ROWSONLY {name} ({n} rows)")
        except Exception as e:
            print(f"ERROR    {name}: {e}"); fails.append(name)

    print(f"\n{len(oracle) - len([f for f in fails if f in oracle])}/{len(oracle)} oracle-checked OK; "
          f"{len(rows_only)} rows-only; {len(fails)} FAILED")
    return fails


def main(argv):
    sfdir = argv[1] if len(argv) > 1 else "/root/testdata/sf0.001"
    outdir = argv[2] if len(argv) > 2 else "/tmp/graft_verify"
    if "--skip-verify" not in argv:
        r = subprocess.run(
            ["sbt", "-batch", f'runMain graft.Verify {sfdir} {outdir}'],
            cwd=REPO, capture_output=True, text=True, timeout=1800)
        sys.stdout.write(r.stdout[-3000:])
        if r.returncode != 0:
            print(r.stderr[-3000:])
            return 1
    return 1 if compare(sfdir, outdir) else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
