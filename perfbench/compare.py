"""Compare two sets of benchmark records (``run.py --record``).

    python3 perfbench/compare.py --base a1.json a2.json --new b1.json b2.json

Prints, per metric, the median of each side and new/base. Records from
hosts with a different core count or engine parallelism are not
comparable: the script refuses them (exit code 2) instead of printing a
ratio. Records of different workloads are refused the same way.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys


def _load(paths: list[str]) -> list[dict]:
    out = []
    for p in paths:
        with open(p) as fh:
            out.append(json.load(fh))
    return out


def _host_key(r: dict) -> tuple:
    return (r["host"]["nproc"], r["host"]["spark_graft_cpus"], r["workload"])


def compare(base: list[dict], new: list[dict]) -> dict:
    """``{metric: (base median, new median, new/base)}``; raises
    ``ValueError`` when the records are not comparable."""
    keys = {_host_key(r) for r in base + new}
    if len(keys) != 1:
        raise ValueError(f"records differ in (nproc, SPARK_GRAFT_CPUS, workload): {sorted(keys)}")
    out = {}
    section = "per_layer" if all("per_layer" in r for r in base + new) else "end_to_end"
    for name in base[0][section]:
        a = statistics.median(r[section][name]["value"] for r in base)
        b = statistics.median(r[section][name]["value"] for r in new)
        out[name] = (a, b, b / a if a else None)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--base", nargs="+", required=True)
    ap.add_argument("--new", nargs="+", required=True)
    args = ap.parse_args(argv)
    try:
        rows = compare(_load(args.base), _load(args.new))
    except ValueError as e:
        print(f"refused: {e}", file=sys.stderr)
        return 2
    for name, (a, b, ratio) in rows.items():
        shown = f"{ratio:.3f}" if ratio is not None else "n/a"
        print(f"{name:55s} {a:14.4f} {b:14.4f} {shown}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
