"""Derive the next driver-window rotation from CORRECTNESS history.

The correctness driver verifies the FIRST 50 entries of
``registry.all_queries()`` each round, and ``registry.WINDOW`` leads
that order. The rotation policy is mechanical: after the active window
runs, re-green the 50 names whose latest driver CORRECTNESS row is
OLDEST, ties broken alphabetically. This tool computes that list.

Usage:
    python scripts/window_plan.py            # print the next-50 plan

To rotate, paste the printed names into ``registry.WINDOW`` and set
``registry.WINDOW_ROWS_ONLY`` to those of them that have no oracle.

Assumes the ACTIVE window (the head of the registry iteration order)
refreshes before the next one runs, i.e. its names drop to the bottom
of the staleness order.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from louvain_modularity_spark import registry  # noqa: E402

WINDOW_SIZE = 50


def latest_driver_round() -> dict[str, int]:
    """query name -> most recent round with a driver CORRECTNESS row."""
    latest: dict[str, int] = {}
    for path in sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json"))):
        rnd = int(re.search(r"r0*(\d+)\.json$", path).group(1))
        with open(path) as fh:
            data = json.load(fh)
        for name in data.get("queries", data):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest


def next_window(active: list[str] | None = None) -> list[str]:
    """The 50 stalest names once the active window refreshes."""
    if active is None:
        # the active window IS the head of the registry iteration
        # order — derive it so this tool needs no per-round edit
        active = list(registry.all_queries())[:WINDOW_SIZE]
    latest = latest_driver_round()
    # names the active window is about to refresh sort last
    horizon = 1 + max(latest.values(), default=0)
    for name in active:
        latest[name] = horizon
    # never-windowed names sort first
    for name in registry.all_queries():
        latest.setdefault(name, -1)
    order = sorted(latest, key=lambda n: (latest[n], n))
    return order[:WINDOW_SIZE]


def main() -> int:
    latest = latest_driver_round()
    for name in next_window():
        print(f"{name}  # last driver row: r{latest.get(name, '-')}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
