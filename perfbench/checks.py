"""Output checks. Each returns {"ok", "problems", ...}; a failed check
makes the run's verdict FAIL and counts its operations as failed.

qc: the planted anomalies must surface (sentinel codes in meta, flat
and zero runs in the events table, out-of-range spikes flagged in the
timeseries), the four tables' digests must agree across every pass
of the run, traced and untraced, and with any earlier run of the same
seed, and the traced run's outcome counts must equal the planted ones.

registry: every query must run on every pass with the row count of
its DuckDB oracle on the same tables, and the values it returns on the
warm-up tables must equal the oracle's there.
"""
import csv
import glob
import hashlib
import json
import math
import os

import gen

HERE = os.path.dirname(os.path.abspath(__file__))
DIGEST_FILE = os.path.join(HERE, ".work", "digests.json")
TABLES = ["timeseries", "events", "seasonal", "meta"]


def _read_csv_dir(path):
    rows = []
    for f in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(f, newline="") as fh:
            rows += list(csv.DictReader(fh))
    return rows


def qc_anomalies(out_dir, manifest):
    """Problems per table: planted anomalies the outputs do not show."""
    bad = {t: [] for t in TABLES}
    meta = {(r["station"], r["variable"]): r["sentinel_used"]
            for r in _read_csv_dir(os.path.join(out_dir, "tables", "meta.csv"))}
    events = _read_csv_dir(os.path.join(out_dir, "tables", "events_all.csv"))
    ev = {}
    for r in events:
        ev.setdefault((r["station"], r["variable"], r["type"]), []).append(r)
    for a in manifest["station_anoms"]:
        st = a["station"]
        sv = a["sentinel"]["variable"]
        used = meta.get((st, sv))
        if used is None or "-9999" not in used:
            bad["meta"].append(f"{st}/{sv}: sentinel_used={used!r}, planted -9999")
        f = a["flat"]
        hit = [r for r in ev.get((st, f["variable"], "flat_values"), [])
               if _ts(r["start"]) <= _ts(f["end"]) and _ts(r["end"]) >= _ts(f["start"])]
        if not hit:
            bad["events"].append(f"{st}/{f['variable']}: no flat_values event "
                                 f"over planted {f['start']}..{f['end']}")
        z = a["zero"]
        hit = [r for r in ev.get((st, z["variable"], "binary_switch"), [])
               if _ts(r["start"]) == _ts(z["start"])]
        if not hit:
            bad["events"].append(f"{st}/{z['variable']}: no binary_switch event "
                                 f"at planted zero run {z['start']}")
    bad["timeseries"] += _spikes_flagged(out_dir, manifest)
    return bad


def _ts(s):
    # CSV timestamps render as ISO with 'T' and an offset or not
    return s.replace("T", " ")[:19]


def _spikes_flagged(out_dir, manifest):
    import pyarrow.dataset as ds
    path = os.path.join(out_dir, "processed", "qc_timeseries.parquet")
    data = ds.dataset(path, format="parquet", partitioning="hive")
    probs = []
    for a in manifest["station_anoms"]:
        sp = a["spike"]
        col = f"{sp['variable']}__saqc_flag"
        t = data.to_table(columns=["ts", col],
                          filter=ds.field("station") == a["station"])
        flags = {str(ts)[:19]: f for ts, f in
                 zip(t.column("ts").to_pylist(), t.column(col).to_pylist())}
        for ts in sp["ts"]:
            if not flags.get(ts):
                probs.append(f"{a['station']}/{sp['variable']}: spike at {ts} "
                             f"not flagged ({flags.get(ts)!r})")
    return probs


def qc(res, manifest, w, trace):
    problems = []
    failed = set()
    # digests: every checked pass of the run, traced or not, must agree
    seen = [p["digests"] for p in res["passes"] + res["traced"] if "digests" in p]
    seen.append(res["checks"]["digests"])
    ref = seen[0]
    for d in seen[1:]:
        for t in TABLES:
            if d.get(t) != ref.get(t):
                failed.add(t)
                problems.append(f"{t}: digest {d.get(t)} != {ref.get(t)} within the run")
    # ... and with an earlier run of the same seed and shape
    with open(gen.__file__, "rb") as f:
        gen_id = hashlib.sha256(f.read()).hexdigest()[:12]
    key = f"{gen_id}:{manifest['seed']}:{manifest['stations']}x" \
          f"{manifest['days']}:{','.join(sorted(w['sentem']))}"
    store = {}
    if os.path.exists(DIGEST_FILE):
        with open(DIGEST_FILE) as f:
            store = json.load(f)
    if key in store:
        for t in TABLES:
            if store[key].get(t) != ref.get(t):
                failed.add(t)
                problems.append(f"{t}: digest {ref.get(t)} != {store[key].get(t)} "
                                f"of an earlier run of this seed")
    elif not failed:
        store[key] = ref
        os.makedirs(os.path.dirname(DIGEST_FILE), exist_ok=True)
        with open(DIGEST_FILE, "w") as f:
            json.dump(store, f, indent=0)
    for t, probs in qc_anomalies(res["checks"]["out"], manifest).items():
        if probs:
            failed.add(t)
            problems += probs
    if trace:
        n_st = manifest["stations"]
        n_var = len(manifest["variables"])
        want = {"sources.rows_in": manifest["rows_in"],
                "sources.dup_dropped": n_st * gen.N_DUP * n_var,
                "operators.clean.rows_masked_sentinel": n_st * gen.N_SENTINEL,
                "operators.clean.rows_masked_gap": n_st * n_var}
        for t in res["traced"]:
            for k, v in want.items():
                if t["outcomes"].get(k) != v:
                    problems.append(f"{k} = {t['outcomes'].get(k)}, planted {v}")
                    failed.add("timeseries")
    return {"ok": not problems, "problems": problems,
            "failed_tables": sorted(failed)}


def compare_rows(oracle_cols, oracle_rows, mine_cols, mine_rows):
    """None if the two results are equal as sets of rows with columns
    matched by name, else the first difference."""
    oc = [c.lower() for c in oracle_cols]
    mc = [c.lower() for c in mine_cols]
    if sorted(oc) != sorted(mc):
        return f"columns differ: oracle={sorted(oc)} engine={sorted(mc)}"
    oi = sorted(range(len(oc)), key=lambda i: oc[i])
    mi = sorted(range(len(mc)), key=lambda i: mc[i])

    def canon(rows, idx):
        return sorted((tuple(r[i] for i in idx) for r in rows),
                      key=lambda t: tuple((v is None, str(v)) for v in t))

    o, m = canon(oracle_rows, oi), canon(mine_rows, mi)
    if len(o) != len(m):
        return f"row count oracle={len(o)} engine={len(m)}"
    for a, b in zip(o, m):
        if a != b and not all(
                x == y or (isinstance(x, float) and isinstance(y, float)
                           and math.isnan(x) and math.isnan(y))
                for x, y in zip(a, b)):
            return f"first differing row: oracle={a} engine={b}"
    return None


def registry(res, data_dir, warm_dir, oracle_override=None):
    """Values are compared on the warm-up tables, whose results the
    first set-up wrote; row counts of the timed passes on the timed
    tables."""
    import duckdb
    problems = []
    bad_queries = {}
    n_passes = len(res["passes"]) + len(res["traced"])
    rows = {}
    for p in res["passes"] + res["traced"]:
        for q in p["queries"]:
            if q["error"]:
                bad_queries[q["name"]] = n_passes
                problems.append(f"{q['name']}: {q['error']}")
            rows.setdefault(q["name"], set()).add(q["rows"])
    for name, rs in rows.items():
        if len(rs) > 1:
            bad_queries[name] = n_passes
            problems.append(f"{name}: row counts differ across passes {sorted(rs)}")

    def connect(d):
        con = duckdb.connect()
        for t in glob.glob(os.path.join(d, "*.parquet")):
            name = os.path.basename(t)[:-len(".parquet")]
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{t}')")
        return con

    timed, warm = connect(data_dir), connect(warm_dir)
    chk = res["checks"]
    oracles = dict(chk["oracle_sql"], **(oracle_override or {}))
    for name in sorted(rows):
        sql = oracles.get(name)
        if sql is None:
            diff = "no oracle"
        elif name in chk["dump_errors"]:
            diff = f"result dump failed: {chk['dump_errors'][name]}"
        else:
            try:
                o = warm.sql(sql)
                m = warm.sql(f"SELECT * FROM read_parquet('{chk['dump_dir']}/{name}/*.parquet')")
                diff = compare_rows(o.columns, o.fetchall(), m.columns, m.fetchall())
                n = timed.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0]
                if diff is None and rows[name] != {n}:
                    diff = f"timed passes returned {sorted(rows[name])} rows, oracle {n}"
            except Exception as e:  # an oracle or read error is a failed check
                diff = f"compare error: {e}"
        if diff:
            bad_queries[name] = n_passes
            problems.append(f"{name}: {diff}")
    return {"ok": not problems, "problems": problems,
            "failed_ops": sum(bad_queries.values()),
            "failed_queries": sorted(bad_queries)}
