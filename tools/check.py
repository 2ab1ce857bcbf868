#!/usr/bin/env python3
"""Local stand-in for the driver's DuckDB-oracle correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir> [--strict]
Reads <verifyOutDir>/oracle_sql.json, registers the sfDir parquet
tables in DuckDB, runs each oracle, loads the matching Spark result
parquet, sorts columns by name and rows by all columns, and compares
values exactly. Dev tool only — the engine itself has no Python.

--strict additionally canonicalizes driver-style: every value is
string-rendered (decimals at their full declared scale, floats via
repr, None as a fixed token) and the row sets are compared as string
tuples + a sha256 over the whole rendering. This catches what plain
value-compare hides — a Decimal('1.10') vs Decimal('1.1') scale
difference, an int 5 vs double 5.0 type drift — so builder-local
green implies driver green (the r7 lesson: psi/kl passed value-
compare locally but failed the driver's hash).

Per query, stderr gets one "TIME <name> oracle=… fetch=… compare=…"
line: seconds spent running the DuckDB oracle, reading the Spark
result parquet, and comparing (including the --strict rendering).
stdout is unaffected.
"""
import json, sys, math, hashlib, time
from decimal import Decimal
import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

def canon(rows):
    out = []
    for r in rows:
        out.append(tuple(x if not isinstance(x, float) else x for x in r))
    return sorted(out, key=lambda t: tuple((v is None, str(v)) for v in t))

def render(v):
    """Driver-style string rendering of one value."""
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return repr(v)
    if isinstance(v, Decimal):
        return str(v)  # full declared scale, e.g. '1.100000000'
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)

def strict_rows(rows):
    return sorted(tuple(render(v) for v in r) for r in rows)

def main(sf_dir, out_dir, strict=False):
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracles = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_ok = n_bad = 0
    for name, sql in sorted(oracles.items()):
        t = [time.perf_counter()]  # start, then the end of each phase
        try:
            try:
                oracle = con.sql(sql)
                ocols = [c.lower() for c in oracle.columns]
                orows = oracle.fetchall()
                t.append(time.perf_counter())
            except Exception as e:
                print(f"FAIL {name}: oracle error: {e}")
                n_bad += 1
                continue
            try:
                mine = con.sql(f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
                mcols = [c.lower() for c in mine.columns]
                mrows = mine.fetchall()
                t.append(time.perf_counter())
            except Exception as e:
                print(f"FAIL {name}: spark result missing: {e}")
                n_bad += 1
                continue
            # sort columns by name (driver behavior)
            oidx = sorted(range(len(ocols)), key=lambda i: ocols[i])
            midx = sorted(range(len(mcols)), key=lambda i: mcols[i])
            if sorted(ocols) != sorted(mcols):
                print(f"FAIL {name}: columns differ: oracle={sorted(ocols)} spark={sorted(mcols)}")
                n_bad += 1
                continue
            osort = canon([tuple(r[i] for i in oidx) for r in orows])
            msort = canon([tuple(r[i] for i in midx) for r in mrows])
            if len(osort) != len(msort):
                print(f"FAIL {name}: row count oracle={len(osort)} spark={len(msort)}")
                n_bad += 1
                continue
            bad = None
            for i, (a, b) in enumerate(zip(osort, msort)):
                if a != b:
                    eq = all(
                        (x == y) or (isinstance(x, float) and isinstance(y, float)
                                     and math.isnan(x) and math.isnan(y))
                        for x, y in zip(a, b))
                    if not eq:
                        bad = (i, a, b)
                        break
            if bad:
                print(f"FAIL {name}: first diff at sorted row {bad[0]}:")
                print(f"  oracle: {bad[1]}")
                print(f"  spark : {bad[2]}")
                n_bad += 1
                continue
            if strict:
                osr = strict_rows([tuple(r[i] for i in oidx) for r in orows])
                msr = strict_rows([tuple(r[i] for i in midx) for r in mrows])
                if osr != msr:
                    first = next((i, a, b) for i, (a, b) in
                                 enumerate(zip(osr, msr)) if a != b)
                    print(f"FAIL {name}: STRICT render diff at sorted row {first[0]}:")
                    print(f"  oracle: {first[1]}")
                    print(f"  spark : {first[2]}")
                    n_bad += 1
                    continue
                oh = hashlib.sha256(repr(osr).encode()).hexdigest()[:16]
                print(f"OK   {name} ({len(osort)} rows, strict hash {oh})")
                n_ok += 1
            else:
                print(f"OK   {name} ({len(osort)} rows)")
                n_ok += 1
        finally:
            t += [time.perf_counter()] * (4 - len(t))
            print(f"TIME {name} oracle={t[1] - t[0]:.2f} fetch={t[2] - t[1]:.2f}"
                  f" compare={t[3] - t[2]:.2f}", file=sys.stderr)
    print(f"== {n_ok} ok, {n_bad} fail ==")
    return 1 if n_bad else 0

if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2],
                  strict="--strict" in sys.argv[3:]))
