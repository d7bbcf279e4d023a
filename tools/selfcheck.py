#!/usr/bin/env python3
"""Local mimic of the driver's correctness gate: run graft.Verify via sbt,
then execute each oracle SQL in DuckDB over the same parquet tables and
compare row sets (columns sorted by name, rows sorted, values hashed).

Usage: python3 tools/selfcheck.py [sfdir] [outdir] [--no-run] [names...]

Named queries restrict both the Verify dump and the comparison. Each
OK/FAIL line carries the engine output's row count and the SHA-1 of its
normalised rows, so two dumps (say, before and after a refactor) can be
diffed line for line.
"""
import hashlib, json, os, subprocess, sys, math
import duckdb

sfdir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
outdir = sys.argv[2] if len(sys.argv) > 2 else "/tmp/graft_verify"
rest = sys.argv[3:]
run = "--no-run" not in rest
only = [a for a in rest if not a.startswith("--")]

if run:
    r = subprocess.run(
        ["sbt", "-batch", " ".join(["runMain graft.Verify", sfdir, outdir] + only)],
        capture_output=True, text=True)
    tail = "\n".join((r.stdout + r.stderr).splitlines()[-30:])
    if r.returncode != 0:
        print(tail)
        sys.exit(1)
    for line in (r.stdout + r.stderr).splitlines():
        if "[verify]" in line:
            print(line)

con = duckdb.connect()
tables = "region nation customer supplier part orders lineitem events documents embeddings".split()
for t in tables:
    # a workload snapshot carries only the tables it reads, some sharded
    path = f"{sfdir}/{t}.parquet"
    if os.path.isdir(path):
        path += "/*.parquet"
    if os.path.exists(f"{sfdir}/{t}.parquet"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")

oracle = json.load(open(f"{outdir}/oracle_sql.json"))

def norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0: v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out

def tag(rows):
    """Row count and SHA-1 of normalised rows, for a line-for-line dump diff."""
    return f"{len(rows)} rows sha1 {hashlib.sha1(chr(10).join(rows).encode()).hexdigest()}"

fail = 0
skipped = 0
names = only if only else sorted(oracle.keys())
for name in names:
    if name not in oracle:
        print(f"SKIP {name}: rows-only (no oracle SQL)")
        skipped += 1
        continue
    sql = oracle[name]
    try:
        spark_rel = con.execute(f"SELECT * FROM '{outdir}/{name}/*.parquet'")
        spark_cols = [d[0] for d in spark_rel.description]
        spark_rows = spark_rel.fetchall()
        duck_rel = con.execute(sql)
        duck_cols = [d[0] for d in duck_rel.description]
        duck_rows = duck_rel.fetchall()
    except Exception as e:
        print(f"FAIL {name}: {str(e)[:200]}")
        fail += 1
        continue
    a = norm(spark_rows, spark_cols)
    if sorted(spark_cols) != sorted(duck_cols):
        print(f"FAIL {name} ({tag(a)}): columns spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        fail += 1
        continue
    b = norm(duck_rows, duck_cols)
    if a == b:
        print(f"OK   {name} ({tag(a)})")
    else:
        fail += 1
        print(f"FAIL {name} ({tag(a)}): spark {len(a)} rows vs duck {len(b)} rows")
        sa, sb = set(a), set(b)
        for x in list(sa - sb)[:3]: print(f"  spark-only: {x[:160]}")
        for x in list(sb - sa)[:3]: print(f"  duck-only:  {x[:160]}")

checked = len(names) - skipped
print(f"\n{checked - fail}/{checked} oracle-checked queries match"
      + (f" ({skipped} skipped)" if skipped else ""))
sys.exit(1 if fail else 0)
