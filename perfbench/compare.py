#!/usr/bin/env python3
"""Compare two benchmark artifacts metric by metric.

    python3 perfbench/compare.py BASE.json NEW.json

Artifacts are the JSON files run.py writes under perfbench/.work/artifacts.
Two artifacts are comparable only when they were taken on the same
shape of host: the same core count and Spark master, the same workload
and trace mode. Anything else is refused with exit code 2, because a
time measured on another core count is not a baseline.
"""
import json
import sys

SAME = ("nproc", "master", "workload", "trace")


def comparable(a, b):
    """Reasons the two host stamps cannot be compared (empty if none)."""
    return [f"{k}: {a.get(k)!r} vs {b.get(k)!r}" for k in SAME
            if a.get(k) != b.get(k)]


def main(argv):
    if len(argv) != 3:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    base, new = (json.load(open(p)) for p in argv[1:])
    why = comparable(base["host"], new["host"])
    if why:
        print("refused: artifacts come from different setups: " + "; ".join(why),
              file=sys.stderr)
        return 2
    for k in ("jdk", "spark", "heap_mb", "shape"):
        if base["host"].get(k) != new["host"].get(k):
            print(f"note: {k} differs: {base['host'].get(k)!r} vs "
                  f"{new['host'].get(k)!r}")
    print(f"{'metric':44s} {'base':>12s} {'new':>12s} {'change':>9s}")
    for k, v in base["metrics"].items():
        n = new["metrics"].get(k)
        if n is None:
            continue
        ch = f"{(n - v) / v:+.1%}" if v else "-"
        print(f"{k:44s} {v:12.5g} {n:12.5g} {ch:>9s} {base['units'][k]}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
