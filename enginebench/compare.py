"""Flag host-independent count regressions between two traced records.

    python3 enginebench/compare.py BEFORE.json AFTER.json

Both files are records written by ``run.py --trace 1 --record PATH``
for the same workload and seed (the seed shapes the data, and with it
some counts). For every op type the record holds per-op
means of counts that do not depend on host speed: Spark jobs and
tasks, data files the writer added, checkpoints written and files DML
rewrote. Any such count that rises from BEFORE to AFTER is printed and
the exit code is 1; otherwise it is 0. The calibration probes of both
records are printed too, so a wall-time difference can be set against
the ratio of host speeds.
"""

from __future__ import annotations

import json
import sys

from harness import REGRESSION_COUNTS


def regressions(before: dict, after: dict) -> list[str]:
    out = []
    for kind, row in sorted(after["per_op"].items()):
        old = before["per_op"].get(kind)
        if old is None:
            out.append(f"{kind}: op type not in the earlier record")
            continue
        for name in REGRESSION_COUNTS:
            if row[name] > old[name] + 1e-9:
                out.append(f"{kind}: {name} rose {old[name]:g} -> {row[name]:g} per op")
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 2:
        print(__doc__.strip(), file=sys.stderr)
        return 2
    before, after = (json.load(open(p)) for p in argv)
    if (before["workload"], before["seed"]) != (after["workload"], after["seed"]):
        print("records are of different workloads or seeds", file=sys.stderr)
        return 2
    for label, rec in (("before", before), ("after", after)):
        print(f"{label}: calibration {rec.get('calibration')}")
    found = regressions(before, after)
    for line in found:
        print("COUNT ROSE", line)
    if not found:
        print("no count rose")
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
