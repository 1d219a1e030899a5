"""Regenerate registry.DRIVER_PRIORITY for the next round's driver window.

Policy:
  1. queries never driver-checked (no row in any CORRECTNESS_r*.json) first,
     in current registration order;
  2. the designated head: the two markov queries, whose driver-side replay
     (functions/exactmath.py) has not yet had a driver oracle row;
  3. every remaining query, STALEST-FIRST by its latest driver correctness
     row (ties: the round file's row order) — except the two hash-typing
     canaries, pinned at the very bottom (their question is closed; the
     permanent guard is tests/test_output_typing.py).

Prints the python tuple body (one quoted name per line with group comments)
to paste into registry.py, plus where the 50-slot line falls.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from distributed_mapreduce_in_docker_rpyc_spark import registry

HEAD = (
    "events_markov_stationary",
    "events_markov_attribution",
)

# Spent diagnostics: keep below the line permanently.
SPENT_TAIL = (
    "probe_hash_typing_hugeint",
    "probe_hash_typing_decimal38",
)


def main() -> None:
    registry.load_all()
    latest: dict[str, int] = {}
    first: dict[str, int] = {}
    order_in_round: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(os.path.dirname(__file__), "..", "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r(\d+)\.json$", path).group(1))
        rows = json.load(open(path))
        for i, name in enumerate(rows):
            if name not in first:
                first[name] = rnd
            if rnd >= latest.get(name, -1):
                latest[name] = rnd
                order_in_round[name] = i
    excluded = set(registry.DRIVER_DEMOTE) | set(HEAD) | set(SPENT_TAIL)
    names = [n for n in registry.QUERIES if n not in excluded]
    never = [n for n in names if n not in latest]
    rest = sorted(
        (n for n in names if n in latest),
        key=lambda n: (latest[n], order_in_round[n]),
    )
    out = []
    if never:
        out.append("# (0) never driver-checked")
        out += never
    out.append("# (1) head: driver-side markov replay, first driver row")
    out += list(HEAD)
    cur = None
    for n in rest:
        if latest[n] != cur:
            cur = latest[n]
            out.append(f"# --- latest driver row: r{cur} ---")
        out.append(n)
    out.append("# --- spent diagnostics (pinned last) ---")
    out += list(SPENT_TAIL)
    slot = 0
    for line in out:
        if line.startswith("#"):
            print(f"{line}")
        else:
            slot += 1
            marker = "   # <-- 50-slot line" if slot == 50 else ""
            print(f'    "{line}",{marker}')
    print(
        f"# total listed: {slot}; never={len(never)} head={len(HEAD)} "
        f"spent_tail={len(SPENT_TAIL)}",
        file=sys.stderr,
    )


if __name__ == "__main__":
    main()
