#!/usr/bin/env python3
"""Local stand-in for the driver's correctness gate.

Usage: python3 tools/check.py [sfdir] [outdir] [--no-run] [--only a,b]

Runs graft.Verify via sbt at sfdir (default sf0.01), then replays every
oracle_sql.json query in DuckDB over the same parquet tables and
compares value-by-value (columns sorted by name, rows sorted by all
columns, floats compared to 1e-9 relative — stricter than a hash, and
tells you WHERE it diverged).

--only a,b runs graft.Verify with its query-name filter and compares only
those names; a subset run does not rewrite CORRECTNESS_LOCAL.json.
"""
import json, math, subprocess, sys
from pathlib import Path

import duckdb

args = sys.argv[1:]
ONLY = args.pop(args.index("--only") + 1).split(",") if "--only" in args else None
pos = [a for a in args if not a.startswith("--")]
SF = pos[0] if pos else "/root/testdata/sf0.01"
OUT = pos[1] if len(pos) > 1 else "/tmp/graft_verify"
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()

if "--no-run" not in sys.argv:
    main = f"runMain graft.Verify {SF} {OUT}" + (f" {','.join(ONLY)}" if ONLY else "")
    r = subprocess.run(["sbt", "-batch", main],
                       capture_output=True, text=True, timeout=1800)
    if "[success]" not in r.stdout:
        print(r.stdout[-4000:]); print(r.stderr[-4000:]); sys.exit(1)
    for line in r.stderr.splitlines():
        if "[verify]" in line: print(line)

con = duckdb.connect()
for t in TABLES:
    p = Path(SF) / f"{t}.parquet"
    if p.exists():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

oracle = json.loads(Path(OUT, "oracle_sql.json").read_text())

def norm(v):
    if isinstance(v, float):
        return round(v, 9) if math.isfinite(v) else str(v)
    if hasattr(v, "isoformat"): return v.isoformat()
    if isinstance(v, (bytes, bytearray)): return v.hex()
    if isinstance(v, list): return tuple(norm(x) for x in v)
    try:
        import decimal
        if isinstance(v, decimal.Decimal): return float(v)
    except Exception: pass
    return v

def approx_eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            af, bf = float(a), float(b)
        except (TypeError, ValueError):
            return a == b
        if math.isnan(af) and math.isnan(bf): return True
        return math.isclose(af, bf, rel_tol=1e-9, abs_tol=1e-9)
    return a == b

def skey(row):
    # NULL-safe row ordering: None sorts before any value of the column's
    # type without ever being compared to it (Python refuses None < int).
    return tuple((v is None, 0 if v is None else v) for v in row)

fails, passes, skips = [], [], []
entries = {}  # driver-shaped CORRECTNESS rows -> CORRECTNESS_LOCAL.json
def record(name, rows_match=None, schema_match=None, hash_match=None,
           spark_rows=None, oracle_rows=None, err=None):
    entries[name] = {"rows_match": rows_match, "schema_match": schema_match,
                     "hash_match": hash_match, "spark_rows": spark_rows,
                     "oracle_rows": oracle_rows, "err": err}
names = ONLY or (oracle | {p.name: None for p in Path(OUT).iterdir() if p.is_dir()})
for name in sorted(names):
    res_dir = Path(OUT) / name
    if not res_dir.is_dir():
        fails.append((name, "no spark output"))
        record(name, err="no_spark_output"); continue
    got = con.execute(f"SELECT * FROM read_parquet('{res_dir}/*.parquet')").fetchall()
    cols = [d[0] for d in con.description]
    if oracle.get(name) is None:
        skips.append((name, len(got)))
        record(name, spark_rows=len(got), err="no_oracle"); continue
    try:
        exp = con.execute(oracle[name]).fetchall()
        ecols = [d[0] for d in con.description]
    except Exception as e:
        fails.append((name, f"oracle sql error: {e}"))
        record(name, spark_rows=len(got), err=f"oracle sql error: {e}"); continue
    gi = sorted(range(len(cols)), key=lambda i: cols[i])
    ei = sorted(range(len(ecols)), key=lambda i: ecols[i])
    if sorted(cols) != sorted(ecols):
        fails.append((name, f"columns differ: spark={sorted(cols)} duck={sorted(ecols)}"))
        record(name, schema_match=False, spark_rows=len(got), oracle_rows=len(exp)); continue
    g = sorted([tuple(norm(r[i]) for i in gi) for r in got], key=skey)
    e = sorted([tuple(norm(r[i]) for i in ei) for r in exp], key=skey)
    if len(g) != len(e):
        fails.append((name, f"row count: spark={len(g)} duck={len(e)}"))
        record(name, rows_match=False, schema_match=True,
               spark_rows=len(g), oracle_rows=len(e)); continue
    bad = None
    for rg, re_ in zip(g, e):
        if not all(approx_eq(a, b) for a, b in zip(rg, re_)):
            bad = (rg, re_); break
    if bad:
        fails.append((name, f"value diff:\n  spark={bad[0]}\n  duck ={bad[1]}"))
        record(name, rows_match=True, schema_match=True, hash_match=False,
               spark_rows=len(g), oracle_rows=len(e))
    else:
        passes.append(name)
        record(name, rows_match=True, schema_match=True, hash_match=True,
               spark_rows=len(g), oracle_rows=len(e))

# the driver-shaped per-query artifact: lets a round close with PROOF the
# builder-side oracle state matches what the driver will compute, so an
# oracle regression is caught before the driver runs (committed at round
# close next to BENCH_DETAIL.json)
if ONLY is None:
    Path("CORRECTNESS_LOCAL.json").write_text(
        json.dumps(dict(sorted(entries.items())), indent=1) + "\n")
print(f"\nPASS ({len(passes)}): {' '.join(passes)}")
for n, rows in skips: print(f"SKIP (rows-only, {rows} rows): {n}")
for n, why in fails: print(f"FAIL: {n}: {why}")
sys.exit(1 if fails else 0)
