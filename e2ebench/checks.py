"""Output check: a digest of every op's result from the run's first pass,
compared with the DuckDB oracle where the op has one, else with the op's
output from the run's last pass, and at the default seed with the
committed expected digests.

A digest is the row count plus a SHA-256 over the sorted, normalised rows,
so it does not depend on row order. Normalisation follows the repository's
oracle self-check: columns sorted by name, floats rounded to 9 decimals,
-0.0 folded into 0.0, each value rendered with repr().
"""
import hashlib
import json
import os

import duckdb

TABLES = ("documents", "embeddings", "events")


def norm_rows(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = round(v, 9)
                if v == -0.0:
                    v = 0.0
            vals.append(repr(v))
        out.append("|".join(vals))
    out.sort()
    return out


def digest(rows, cols):
    """(row count, hex digest) of a result given as rows and column names."""
    lines = norm_rows(rows, cols)
    h = hashlib.sha256()
    h.update(("|".join(sorted(cols)) + "\n").encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "sha256": h.hexdigest()}


def read_dir(con, path):
    rel = con.execute(f"SELECT * FROM read_parquet('{path}/*.parquet')")
    return rel.fetchall(), [d[0] for d in rel.description]


def table_views(con, data_dir):
    for t in TABLES:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.isdir(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
        elif os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")


def check_outputs(ops, oracle, out_first, out_last, data_dir, expected=None):
    """Check every op's output from the run's first pass: against the DuckDB
    oracle where the op has one, else against the op's output from the
    run's last pass; and against `expected` digests when given. Returns
    {op: {"digest", "oracle": "match"|"mismatch"|"error"|"none", "problems"}};
    an op with problems has failed."""
    con = duckdb.connect()
    table_views(con, data_dir)
    report = {}
    for op in ops:
        problems = []
        state = "none"
        d_first = None
        try:
            d_first = digest(*read_dir(con, os.path.join(out_first, op)))
            if op in oracle:
                d_oracle = digest(*_fetch(con, oracle[op]))
                state = "match" if d_oracle == d_first else "mismatch"
                if state == "mismatch":
                    problems.append(f"differs from the DuckDB oracle: {d_first} vs {d_oracle}")
            else:
                d_last = digest(*read_dir(con, os.path.join(out_last, op)))
                if d_last != d_first:
                    problems.append(f"digest differs between passes: {d_first} vs {d_last}")
        except Exception as e:  # a missing output or a failing oracle is a failure
            problems.append(f"check failed: {str(e)[:200]}")
        if expected is not None and d_first:
            want = expected.get(op)
            if want is None:
                problems.append("no expected digest committed")
            elif {"rows": want["rows"], "sha256": want["sha256"]} != d_first:
                problems.append(f"differs from the expected digest: {d_first} vs {want}")
        report[op] = {"digest": d_first, "oracle": state, "problems": problems}
    con.close()
    return report


def _fetch(con, sql):
    rel = con.execute(sql)
    return rel.fetchall(), [d[0] for d in rel.description]


def load_expected(path, seed):
    """Expected digests when `path` exists and was made at `seed`, else None."""
    if not os.path.exists(path):
        return None
    with open(path) as f:
        exp = json.load(f)
    return exp["ops"] if exp.get("seed") == seed else None
