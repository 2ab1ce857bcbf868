"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of its arguments: the same seed and
shape give byte-identical files.

* ``qc_csv`` writes the wide multi-station sensor CSV the QC workloads
  ingest and returns a manifest of the anomalies it planted.
* ``registry_tables`` writes the parquet tables the registry queries
  read (``events``, ``documents``, ``embeddings``, ``lineitem``) in the
  schemas the engine's readers expect.
"""
import datetime as dt

import numpy as np

# name, (range lo, range hi), base level, diurnal amplitude, noise sd
VARIABLES = [
    ("O2", (0.0, 40.0), 9.0, 1.5, 0.15),
    ("pH", (0.0, 13.0), 7.6, 0.2, 0.02),
    ("Turbidity", (0.0, 4000.0), 25.0, 6.0, 1.5),
    ("NO3_Trios", (0.0, 35.0), 5.0, 0.6, 0.08),
    ("NO3_YSI", (0.0, 35.0), 5.2, 0.6, 0.08),
]
VAR_NAMES = [v[0] for v in VARIABLES]
RANGES = {v[0]: v[1] for v in VARIABLES}
STEP_MIN = 15
START = dt.datetime(2024, 3, 1)

# planted-anomaly sizes (steps of STEP_MIN minutes)
N_DUP = 2          # duplicate timestamps per station
N_SENTINEL = 6     # -9999 cells per station (>= the engine's min count, 5)
N_EMPTY = 8        # empty cells per station
GAP_STEPS = 12     # 3 h of missing rows: one gap > 2 h per station
FLAT_STEPS = 16    # 4 h constant: one flat run > 2 h per station
ZERO_STEPS = 4     # 1 h of exact zeros fenced by non-zero values
N_SPIKE = 3        # out-of-range cells per station


def _ts(i):
    return START + dt.timedelta(minutes=STEP_MIN * int(i))


def _iso(t):
    return t.strftime("%Y-%m-%d %H:%M:%S")


def qc_csv(path, seed, stations, days):
    """Write the wide CSV (timestamp, station, one column per variable)
    and return the manifest of planted anomalies."""
    rng = np.random.default_rng(seed)
    n = days * 24 * 60 // STEP_MIN
    t = np.arange(n)
    manifest = {"seed": seed, "stations": stations, "days": days,
                "variables": VAR_NAMES, "rows_in": 0, "station_anoms": []}
    lines = ["timestamp,station," + ",".join(VAR_NAMES)]
    # one segment per planted anomaly, so no two overlap
    seg = n // 6
    for s in range(stations):
        name = f"st{s:04d}"
        vals = np.empty((len(VARIABLES), n))
        for j, (_, _, base, amp, sd) in enumerate(VARIABLES):
            phase = rng.uniform(0, 2 * np.pi)
            level = base * rng.uniform(0.8, 1.2)
            vals[j] = (level + amp * np.sin(2 * np.pi * t / 96 + phase)
                       + rng.normal(0, sd, n))
        vals = np.round(np.abs(vals), 3) + 0.001

        def pick(k, width):
            lo = k * seg + 4
            return int(rng.integers(lo, lo + seg - width - 8))

        a = {"station": name}
        # flat run (segment 0)
        j = int(rng.integers(len(VARIABLES)))
        i0 = pick(0, FLAT_STEPS)
        vals[j, i0:i0 + FLAT_STEPS] = vals[j, i0]
        a["flat"] = {"variable": VAR_NAMES[j], "start": _iso(_ts(i0)),
                     "end": _iso(_ts(i0 + FLAT_STEPS - 1))}
        # zero run fenced by non-zero values (segment 1)
        j = int(rng.integers(len(VARIABLES)))
        i0 = pick(1, ZERO_STEPS)
        vals[j, i0:i0 + ZERO_STEPS] = 0.0
        a["zero"] = {"variable": VAR_NAMES[j], "start": _iso(_ts(i0)),
                     "end": _iso(_ts(i0 + ZERO_STEPS - 1))}
        # out-of-range spikes (segment 2)
        j = int(rng.integers(len(VARIABLES)))
        hi = RANGES[VAR_NAMES[j]][1]
        i0 = pick(2, 7 * N_SPIKE)
        idx = [i0 + 7 * k for k in range(N_SPIKE)]
        for i in idx:
            vals[j, i] = round(hi * 1.5, 3)
        a["spike"] = {"variable": VAR_NAMES[j],
                      "ts": [_iso(_ts(i)) for i in idx]}
        text = np.char.mod("%.3f", vals).astype(object)
        # sentinel cells, never adjacent (segment 3)
        j = int(rng.integers(len(VARIABLES)))
        i0 = pick(3, 2 * N_SENTINEL)
        idx = [i0 + 2 * k for k in range(N_SENTINEL)]
        for i in idx:
            text[j, i] = "-9999"
        a["sentinel"] = {"variable": VAR_NAMES[j], "count": N_SENTINEL}
        # empty cells (segment 4)
        lo = pick(4, 2 * N_EMPTY)
        for k in range(N_EMPTY):
            text[int(rng.integers(len(VARIABLES))), lo + 2 * k] = ""
        a["empty"] = N_EMPTY
        # a gap: rows removed (segment 5)
        g0 = pick(5, GAP_STEPS)
        keep = np.ones(n, dtype=bool)
        keep[g0:g0 + GAP_STEPS] = False
        a["gap"] = {"after": _iso(_ts(g0 - 1)),
                    "resume": _iso(_ts(g0 + GAP_STEPS))}
        # duplicate timestamps: the second copy carries other values
        dup_at = sorted(int(i) for i in
                        rng.choice(np.arange(4, seg), N_DUP, replace=False))
        a["dups"] = [_iso(_ts(i)) for i in dup_at]
        stamps = [_iso(_ts(i)) for i in range(n)]
        rows = 0
        for i in range(n):
            if not keep[i]:
                continue
            lines.append(f"{stamps[i]},{name}," + ",".join(text[:, i]))
            rows += 1
            if i in dup_at:
                lines.append(f"{stamps[i]},{name}," + ",".join(
                    "%.3f" % (v + 1.0) for v in vals[:, i]))
                rows += 1
        manifest["rows_in"] += rows * len(VARIABLES)
        manifest["station_anoms"].append(a)
    with open(path, "w") as f:
        f.write("\n".join(lines) + "\n")
    return manifest


WORDS = ("the a fast slow big small key value row column table scan join "
         "hash sort merge group agg window filter query data line batch "
         "stream spark vector part order customer").split()
LANGS = ["en", "zh", "es", "de", "fr"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


def registry_tables(out_dir, seed, n_events, n_users, n_docs, n_vecs,
                    n_lineitem):
    """Write the registry input tables as parquet under out_dir and
    return their row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed)
    epoch = np.datetime64("2024-01-01T00:00:00", "us")
    span_us = 30 * 24 * 3600 * 1_000_000
    ts = epoch + np.sort(rng.integers(0, span_us, n_events)).astype(
        "timedelta64[us]")
    ev = pa.table({
        "event_id": pa.array(np.arange(n_events, dtype=np.int64)),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_events)),
        "event_type": pa.array(
            [EVENT_TYPES[i] for i in rng.integers(0, 5, n_events)]),
        "value": pa.array(np.round(rng.exponential(50.0, n_events), 2) + 0.01),
        "props": pa.array(
            ['{"k": %d}' % k for k in rng.integers(0, 100, n_events)]),
    })
    lens = rng.integers(8, 100, n_docs)
    words = np.array(WORDS)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # a few exact and near duplicates, as a crawled corpus has
    for i in range(0, n_docs - 1, 37):
        texts[i + 1] = texts[i]
    for i in range(5, n_docs - 1, 41):
        w = texts[i].split()
        w[len(w) // 2] = "spark"
        texts[i + 1] = " ".join(w)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], dtype=np.int64)),
    })
    labels = rng.integers(0, 10, n_vecs).astype(np.int32)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] + rng.normal(0, 1.5, (n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels),
    })
    qty = rng.integers(1, 51, n_lineitem).astype(np.float64)
    price = np.round(qty * rng.uniform(900, 2100, n_lineitem), 2)
    day0 = np.datetime64("1995-01-01", "us")
    li = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_lineitem // 4, n_lineitem)),
        "l_partkey": pa.array(rng.integers(0, 2000, n_lineitem)),
        "l_suppkey": pa.array(rng.integers(0, 100, n_lineitem)),
        "l_linenumber": pa.array(
            rng.integers(1, 8, n_lineitem).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_lineitem) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_lineitem) / 100.0),
        "l_returnflag": pa.array(
            [("A", "N", "R")[i] for i in rng.integers(0, 3, n_lineitem)]),
        "l_linestatus": pa.array(
            [("F", "O")[i] for i in rng.integers(0, 2, n_lineitem)]),
        "l_shipdate": pa.array(
            day0 + (rng.integers(0, 2500, n_lineitem) * 86_400_000_000
                    ).astype("timedelta64[us]"), type=pa.timestamp("us")),
    })
    tables = {"events": ev, "documents": docs, "embeddings": emb,
              "lineitem": li}
    for name, tab in tables.items():
        pq.write_table(tab, f"{out_dir}/{name}.parquet")
    return {name: tab.num_rows for name, tab in tables.items()}

