#!/usr/bin/env python3
"""Self-test of the benchmark's own pieces; needs no JVM.

    python3 perfbench/selftest.py

* the input generators are deterministic: the same seed gives
  byte-identical files, another seed different ones;
* every output check fails when it is fed a deliberately wrong
  expected value, so a broken engine cannot pass silently;
* artifacts from different core counts are refused by compare.py.
"""
import hashlib
import json
import os
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import compare  # noqa: E402
import gen  # noqa: E402


def sha(path):
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_generators(tmp):
    a, b, c = (os.path.join(tmp, f"{n}.csv") for n in "abc")
    ma = gen.qc_csv(a, 7, 3, 4)
    mb = gen.qc_csv(b, 7, 3, 4)
    gen.qc_csv(c, 8, 3, 4)
    assert sha(a) == sha(b), "same seed, different CSV bytes"
    assert ma == mb, "same seed, different anomaly manifest"
    assert sha(a) != sha(c), "different seeds, same CSV"
    with open(a) as f:
        body = f.read()
    assert body.count("-9999") == 3 * gen.N_SENTINEL
    shape = dict(n_events=500, n_users=5, n_docs=60, n_vecs=30, n_lineitem=200)
    d1, d2 = os.path.join(tmp, "r1"), os.path.join(tmp, "r2")
    os.makedirs(d1)
    os.makedirs(d2)
    gen.registry_tables(d1, 7, **shape)
    gen.registry_tables(d2, 7, **shape)
    for t in ("events", "documents", "embeddings", "lineitem"):
        assert sha(f"{d1}/{t}.parquet") == sha(f"{d2}/{t}.parquet"), t


def test_compare_rows():
    cols = ["k", "v"]
    rows = [(1, 0.5), (2, None)]
    assert checks.compare_rows(cols, rows, ["v", "k"], [(None, 2), (0.5, 1)]) is None
    assert checks.compare_rows(cols, rows, cols, [(1, 0.5), (2, 1.0)]) is not None
    assert checks.compare_rows(cols, rows, cols, rows[:1]) is not None
    assert checks.compare_rows(cols, rows, ["k", "w"], rows) is not None


def test_registry_check(tmp):
    """A correct oracle passes; a wrong expected value fails."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    data = os.path.join(tmp, "data")
    dump = os.path.join(tmp, "dump", "q_x")
    os.makedirs(data)
    os.makedirs(dump)
    pq.write_table(pa.table({"k": [1, 2, 3]}), f"{data}/events.parquet")
    pq.write_table(pa.table({"n": [3]}), f"{dump}/part-0.parquet")
    res = {"passes": [{"queries": [{"name": "q_x", "rows": 1, "error": None}]}],
           "traced": [],
           "checks": {"dump_dir": os.path.join(tmp, "dump"), "dump_errors": {},
                      "oracle_sql": {"q_x": "SELECT count(*) AS n FROM events"}}}
    assert checks.registry(res, data, data)["ok"]
    wrong = checks.registry(res, data, data,
                            oracle_override={"q_x": "SELECT 4 AS n"})
    assert not wrong["ok"] and wrong["failed_ops"] == 1, wrong
    res["passes"][0]["queries"][0]["rows"] = 2
    assert not checks.registry(res, data, data)["ok"], "row count mismatch passed"


def _write_part(d, header, rows):
    os.makedirs(d)
    with open(os.path.join(d, "part-00000.csv"), "w") as f:
        f.write(",".join(header) + "\n")
        for r in rows:
            f.write(",".join(r) + "\n")


def test_qc_anomaly_check(tmp):
    """The planted-anomaly check passes on outputs that show every
    anomaly and fails when the expected sentinel or event is moved."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    out = os.path.join(tmp, "qc")
    anom = {"station": "st0000",
            "sentinel": {"variable": "pH", "count": 6},
            "flat": {"variable": "O2", "start": "2024-03-01 01:00:00",
                     "end": "2024-03-01 05:00:00"},
            "zero": {"variable": "Turbidity", "start": "2024-03-02 00:00:00",
                     "end": "2024-03-02 01:00:00"},
            "spike": {"variable": "pH", "ts": ["2024-03-03 00:00:00"]}}
    manifest = {"station_anoms": [anom]}
    _write_part(os.path.join(out, "tables", "meta.csv"),
                ["station", "variable", "step_us", "sentinel_used", "wrtds_ok"],
                [["st0000", "pH", "900000000", '"[-9999.0]"', "false"],
                 ["st0000", "O2", "900000000", "[]", "false"]])
    _write_part(os.path.join(out, "tables", "events_all.csv"),
                ["station", "variable", "start", "end", "type"],
                [["st0000", "O2", "2024-03-01T01:15:00.000Z",
                  "2024-03-01T05:00:00.000Z", "flat_values"],
                 ["st0000", "Turbidity", "2024-03-02T00:00:00.000Z",
                  "2024-03-02T01:00:00.000Z", "binary_switch"]])
    part = os.path.join(out, "processed", "qc_timeseries.parquet", "station=st0000")
    os.makedirs(part)
    import datetime as dt
    pq.write_table(pa.table({
        "ts": pa.array([dt.datetime(2024, 3, 3)], type=pa.timestamp("us")),
        "pH__saqc_flag": [True]}), os.path.join(part, "part-0.parquet"))
    bad = checks.qc_anomalies(out, manifest)
    assert not any(bad.values()), bad
    wrong = json.loads(json.dumps(manifest))
    wrong["station_anoms"][0]["sentinel"]["variable"] = "O2"
    wrong["station_anoms"][0]["zero"]["start"] = "2024-03-02 00:15:00"
    wrong["station_anoms"][0]["spike"]["ts"] = ["2024-03-03 00:15:00"]
    bad = checks.qc_anomalies(out, wrong)
    assert bad["meta"] and bad["events"] and bad["timeseries"], bad


def test_compare_refuses_other_cores():
    a = {"nproc": 4, "master": "local[4]", "workload": "w", "trace": 0}
    assert compare.comparable(a, dict(a)) == []
    assert compare.comparable(a, dict(a, nproc=32, master="local[32]"))


def main():
    work = os.path.join(HERE, ".work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        tests = [(test_generators, (tmp,)), (test_compare_rows, ()),
                 (test_registry_check, (tmp,)), (test_qc_anomaly_check, (tmp,)),
                 (test_compare_refuses_other_cores, ())]
        failed = 0
        for t, args in tests:
            try:
                t(*args)
                print(f"ok   {t.__name__}")
            except AssertionError as e:
                failed += 1
                print(f"FAIL {t.__name__}: {e}")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
