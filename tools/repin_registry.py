"""Compute the next round's verification-debt-first registry pin.

Round-start ritual (see registry.py's docstring): the driver hashes
only ~50 entries per round in registry order, so each round re-pins
_DEBT_FIRST as
  1. entries never driver-green (cumulatively, across every
     CORRECTNESS_r*.json), cheapest-first by measured local time so the
     time-based window stretches furthest;
  2. driver-green entries, stalest-first (last green round ascending).

This tool prints the computed ordering as ready-to-paste Python list
literals with timing/staleness comments. It does NOT edit registry.py -
the pin stays a reviewed, committed artifact.

Usage:
  python tools/check_oracle.py /root/testdata/sf0.01 > sweep.log  # times
  python tools/repin_registry.py sweep.log
(without a sweep log, never-green entries keep their current relative
order instead of sorting by time).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from python_etl_rest_api_spark.registry import QUERIES

    green_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(path.split("_r")[-1].split(".")[0])
        for name, rec in json.load(open(path)).items():
            if rec.get("rows_match") and rec.get("schema_match") \
                    and rec.get("hash_match"):
                green_round[name] = max(green_round.get(name, 0), rnd)

    times: dict[str, float] = {}
    if len(sys.argv) > 1:
        for line in open(sys.argv[1]):
            m = re.search(r"(?:OK|ok\?)\s+(\w+): .*spark (\d+\.\d+)s"
                          r"(?:, duck (\d+\.\d+)s)?", line)
            if m:
                times[m.group(1)] = (float(m.group(2))
                                     + float(m.group(3) or 0))

    order = list(QUERIES)
    never = [n for n in order if n not in green_round]
    if times:
        never.sort(key=lambda n: (times.get(n, 9e9), n))
    greens = sorted((n for n in order if n in green_round),
                    key=lambda n: (green_round[n], order.index(n)))

    print(f"# never driver-green: {len(never)}  "
          f"(cumulative green: {len(greens)})")
    print("_DEBT_FIRST = [")
    if never:
        print("    # -- never driver-verified, measured-cheapest-first --")
    for n in never:
        t = f"  # {times[n]:.1f}s" if n in times else ""
        print(f'    "{n}",{t}')
    last = None
    for n in greens:
        if green_round[n] != last:
            last = green_round[n]
            print(f"    # -- last green in r{last} --")
        print(f'    "{n}",')
    print("]")


if __name__ == "__main__":
    main()
