"""Summarise benchmark records, and compare two sets of them.

    python3 perfbench/compare.py .perfbench/records/*.json
    python3 perfbench/compare.py --base base/*.json --head head/*.json

For each workload and end-to-end metric this prints the median, the
quartiles and the spread (q3 - q1) / median over the records given. With
``--base`` and ``--head`` it also prints head's median over base's.
Records whose host fingerprints differ are never compared: the command
refuses and exits with status 1.
"""

from __future__ import annotations

import argparse
import json
import statistics
import sys
from collections import defaultdict


def load(paths: list[str]) -> list[dict]:
    recs = []
    for p in paths:
        with open(p) as f:
            r = json.load(f)
        if not r.get("trace"):
            recs.append(r)
    return recs


def summary(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def table(recs: list[dict]) -> dict[tuple[str, str], list[float]]:
    out: dict[tuple[str, str], list[float]] = defaultdict(list)
    for r in recs:
        for metric, v in r["end_to_end"].items():
            out[(r["workload"], metric)].append(v)
    return out


def main(argv: list[str]) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("records", nargs="*")
    p.add_argument("--base", nargs="*", default=[])
    p.add_argument("--head", nargs="*", default=[])
    args = p.parse_args(argv)
    base = load(args.base or args.records)
    head = load(args.head)
    hosts = {json.dumps(r["host"], sort_keys=True) for r in base + head}
    if len(hosts) > 1:
        print("refusing to compare records from different hosts:", file=sys.stderr)
        for h in sorted(hosts):
            print(f"  {h}", file=sys.stderr)
        return 1
    tb, th = table(base), table(head)
    print(f"{'workload':14s} {'metric':12s} {'n':>3s} {'median':>10s} "
          f"{'q1':>10s} {'q3':>10s} {'spread':>7s}" + ("  head/base" if head else ""))
    for key in sorted(tb):
        med, q1, q3, spread = summary(tb[key])
        line = (f"{key[0]:14s} {key[1]:12s} {len(tb[key]):3d} {med:10.4f} "
                f"{q1:10.4f} {q3:10.4f} {spread:7.3f}")
        if key in th:
            line += f"  {summary(th[key])[0] / med:9.3f}"
        print(line)
    failed = sum(r["failed"] for r in base + head)
    attempted = sum(r["attempted"] for r in base + head)
    print(f"op_fail_ratio {failed}/{attempted}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
