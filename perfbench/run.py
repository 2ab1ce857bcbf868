#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload qc_stations --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. The first run builds the
engine and the benchmark's JVM program with sbt (cached under
perfbench/.work/build). Every run generates its input from --seed,
starts a fresh JVM, sets up a session, times passes of the workload
for --seconds, checks the outputs, and prints one line per metric and
then, as the last line, one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. A full artifact (host stamp, raw passes, spans, checks)
is written under perfbench/.work/artifacts.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402
import registry  # noqa: E402

# Workload shapes. Sizes are fixed per workload, so every seed does the
# same amount of work; the seed only changes values and anomaly spots.
WORKLOADS = {
    "qc_stations": {"kind": "qc", "stations": 6, "days": 4,
                    "warm": (6, 4), "sentem": {}},
    "qc_sentem": {"kind": "qc", "stations": 1, "days": 12, "warm": (1, 3),
                  "sentem": {"O2": (400, False), "pH": (410, False),
                             "NO3_Trios": (2477034, True),
                             "Turbidity": (157787, False)}},
    "registry_sweep": {"kind": "registry",
                       "tables": dict(n_events=20000, n_users=40,
                                      n_docs=1000, n_vecs=600,
                                      n_lineitem=20000),
                       "warm": dict(n_events=2000, n_users=8, n_docs=120,
                                    n_vecs=100, n_lineitem=2000)},
}

END_TO_END = [("wall_s", "s"), ("obs_per_s", "1/s"), ("query_p50_s", "s"),
              ("query_p90_s", "s"), ("task_cpu_s", "s"), ("cached_mb", "MB"),
              ("setup_s", "s")]
SPAN_LAYERS = ["sources", "operators.clean", "operators.events",
               "operators.seasonal", "operators.qc_suite", "sentem",
               "pipeline.build", "pipeline.write", "registry.build",
               "registry.plan", "registry.exec"]
SPAN_METRICS = [("wall_s", "s"), ("task_cpu_s", "s"), ("busy_frac", "frac"),
                ("peak_task_s", "s"), ("shuffle_write_mb", "MB"),
                ("spill_mb", "MB"), ("stages", "count"), ("tasks", "count")]
OUTCOMES = [("sources.rows_in", "rows"), ("sources.dup_dropped", "rows"),
            ("operators.clean.rows_masked_sentinel", "rows"),
            ("operators.clean.rows_masked_gap", "rows"),
            ("operators.events.events_out", "rows"),
            ("operators.qc_suite.rows_flagged", "rows"),
            ("sentem.rows_flagged", "rows"),
            ("pipeline.write.bytes_out", "bytes"),
            ("pipeline.write.files_out", "count")]
REGISTRY = [("registry.build_s", "s"), ("registry.plan_s", "s"),
            ("registry.exec_s", "s"), ("registry.driver_s", "s"),
            ("registry.jobs", "count"), ("registry.exchanges", "count")]
ENGINE = [("spark.gc_s", "s"), ("spark.task_fail_frac", "frac"),
          ("trace.overhead_s", "s")]


def per_layer_metrics():
    out = [(f"{l}.{m}", u) for l in SPAN_LAYERS for m, u in SPAN_METRICS]
    out += OUTCOMES + REGISTRY
    for f in registry.FAMILY_ORDER:
        out += [(f"family.{f}.wall_s", "s"), (f"family.{f}.task_cpu_s", "s")]
    return out + ENGINE


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_key():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(deadline):
    """Compile the engine and the driver; return the runtime classpath."""
    key = source_key()
    cp_file = os.path.join(WORK, "build", f"{key}.classpath")
    if os.path.exists(cp_file):
        return open(cp_file).read().strip(), key, False
    os.makedirs(os.path.dirname(cp_file), exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "-Dsbt.offline" not in env.get("SBT_OPTS", ""):
        env["SBT_OPTS"] = (env.get("SBT_OPTS", "") + " -Dsbt.offline=true").strip()
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
           "export Runtime/fullClasspath"]
    # own process group, so a timed-out build leaves no JVM behind
    p = subprocess.Popen(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=max(60, deadline - time.time()))
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        die("build timed out")
    lines = [l for l in out.splitlines()
             if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:] + err[-4000:])
        die("build failed")
    with open(cp_file, "w") as f:
        f.write(lines[-1].strip())
    return lines[-1].strip(), key, True


# ---------------------------------------------------------------- run

JVM_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(cp, args, run_dir, deadline):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Xms4g", "-Xmx4g",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.hadoop.hadoop.tmp.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-cp", cp, "perfbench.Main"] + args
    log = open(os.path.join(run_dir, "jvm.log"), "w")
    p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=subprocess.STDOUT)
    try:
        rc = p.wait(timeout=max(5, deadline - time.time()))
    except subprocess.TimeoutExpired:
        p.kill()
        p.wait()
        log.close()
        die("workload timed out; see " + log.name, 1)
    log.close()
    if rc != 0:
        sys.stderr.write(open(log.name).read()[-6000:])
        die(f"JVM exited with {rc}", 1)


def median(xs):
    return statistics.median(xs) if xs else 0.0


def pct(xs, q):
    """q-th percentile (q in 1..99) by statistics.quantiles."""
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def main():
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        die("engine sources not found next to perfbench/ (need build.sbt "
            "and src/main/scala at the checkout root)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        die("sbt and java must be on PATH")

    cp, key, built = build(t_start + 880)
    # a run that had to build may take longer; the workload itself not
    deadline = (time.time() if built else t_start) + 170
    w = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    result_file = os.path.join(run_dir, "result.json")
    args = ["--out", run_dir, "--result", result_file,
            "--seconds", str(a.seconds), "--trace", str(a.trace)]

    if w["kind"] == "qc":
        csv = os.path.join(run_dir, "input.csv")
        warm = os.path.join(run_dir, "warm.csv")
        manifest = gen.qc_csv(csv, a.seed, w["stations"], w["days"])
        gen.qc_csv(warm, a.seed + 1_000_003, *w["warm"])
        ranges = ",".join(f"{v}={lo}:{hi}" for v, (lo, hi) in gen.RANGES.items())
        sentem = ",".join(f"{v}={c}:{int(n)}" for v, (c, n) in w["sentem"].items())
        args += ["--kind", "qc", "--input", csv, "--warm", warm,
                 "--vars", ",".join(gen.VAR_NAMES), "--ranges", ranges,
                 "--sentem", sentem]
        shape = {"stations": w["stations"], "days": w["days"],
                 "observations": manifest["rows_in"]}
    else:
        data = os.path.join(run_dir, "data")
        warm = os.path.join(run_dir, "warm")
        os.makedirs(data)
        os.makedirs(warm)
        rows = gen.registry_tables(data, a.seed, **w["tables"])
        gen.registry_tables(warm, a.seed + 1_000_003, **w["warm"])
        queries = sorted(registry.SWEEP)
        args += ["--kind", "registry", "--input", data, "--warm", warm,
                 "--queries", ",".join(f"{q}={registry.FAMILIES[q]}"
                                       for q in queries)]
        shape = {"tables": rows, "queries": len(queries)}

    t_jvm = time.time()
    run_jvm(cp, args, run_dir, deadline)
    t_check = time.time()
    res = json.load(open(result_file))
    passes, traced = res["passes"], res["traced"]

    if w["kind"] == "qc":
        verdict = checks.qc(res, manifest, w, trace=a.trace == 1)
        n_ops = 4 * (len(passes) + len(traced))
        failed = len(verdict["failed_tables"]) * (len(passes) + len(traced))
        obs = manifest["rows_in"]
        op_walls = [p["wall_s"] for p in passes]
        obs_per_s = median([obs / p["wall_s"] for p in passes])
    else:
        verdict = checks.registry(res, data, warm)
        n_ops = sum(len(p["queries"]) for p in passes + traced)
        failed = verdict["failed_ops"]
        per_q = {}
        for p in passes:
            for q in p["queries"]:
                per_q.setdefault(q["name"], []).append(q["wall_s"])
        op_walls = [median(v) for v in per_q.values()]
        sweep_obs = sum(rows[t] for q in registry.SWEEP
                        for t in registry.SWEEP[q])
        obs_per_s = median([sweep_obs / p["wall_s"] for p in passes])

    walls = [p["wall_s"] for p in passes]
    if a.trace == 0:
        values = {
            "wall_s": median(walls),
            "obs_per_s": obs_per_s,
            "query_p50_s": pct(op_walls, 50),
            "query_p90_s": pct(op_walls, 90),
            "task_cpu_s": median([p["task_cpu_s"] for p in passes]),
            "cached_mb": median([p["cached_mb"] for p in passes]),
            "setup_s": median(res["setup_s"]),
        }
        units = dict(END_TO_END)
    else:
        values = layer_values(traced, walls)
        units = dict(per_layer_metrics())
        values = {k: values.get(k, 0.0) for k in units}

    correct = verdict["ok"] and failed == 0
    timing = {"prepare_s": t_jvm - t_start, "jvm_s": t_check - t_jvm,
              "check_s": time.time() - t_check}
    host = dict(res["host"], seed=a.seed, workload=a.workload,
                source_key=key, git_head=git_head(), shape=shape,
                trace=a.trace, seconds=a.seconds)
    artifact = {"host": host, "metrics": values, "units": units,
                "correct": correct, "checks": verdict, "timing": timing,
                "setup_s": res["setup_s"], "passes": passes,
                "traced": traced}
    art_dir = os.path.join(WORK, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    art = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art, "w") as f:
        json.dump(artifact, f, indent=1)

    print(f"# {a.workload} seed={a.seed} trace={a.trace} nproc={host['nproc']} "
          f"master={host['master']} passes={len(passes)} traced={len(traced)}")
    for k, v in values.items():
        print(f"{k:44s} {v:14.6g} {units[k]}")
    print(f"check: {'PASS' if correct else 'FAIL'} attempted={n_ops} "
          f"failed={failed} failed_frac={failed / max(1, n_ops):.4f}")
    for msg in verdict["problems"][:20]:
        print(f"  problem: {msg}")
    print(f"artifact: {os.path.relpath(art, ROOT)}")
    shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({
        "correct": correct, "attempted": max(1, n_ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()}}))


def layer_values(traced, plain_walls):
    """Per-layer metrics: medians over the traced passes."""
    per = []
    for t in traced:
        m = dict(t["layers"])
        m.update(t.get("outcomes", {}))
        qs = t.get("queries", [])
        if qs:
            for ph in ("build", "plan", "exec"):
                m[f"registry.{ph}_s"] = median([q[f"{ph}_s"] for q in qs])
            m["registry.exchanges"] = sum(q["exchanges"] for q in qs)
            for f in registry.FAMILY_ORDER:
                m[f"family.{f}.wall_s"] = sum(
                    q["wall_s"] for q in qs if q["family"] == f)
        m["spark.gc_s"] = t["gc_s"]
        m["spark.task_fail_frac"] = t["failed_tasks"] / max(1, t["tasks"])
        m["trace.overhead_s"] = t["wall_s"] - median(plain_walls)
        per.append(m)
    keys = set().union(*per) if per else set()
    return {k: median([m.get(k, 0.0) for m in per]) for k in keys}


def git_head():
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


if __name__ == "__main__":
    main()
