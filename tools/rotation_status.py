#!/usr/bin/env python
"""Print the verification-window rotation status (VERDICT r9 ask #6):
the staleness histogram over the committed CORRECTNESS_r{N}.json
artifacts, the current head's composition by section, and the
post-round histogram ASSUMING the next driver round verifies the head
— the line rounds 8/9 recorded by hand in __spark_entry__.py comments,
now computed from the same generator the driver ordering uses.

Usage: python tools/rotation_status.py   (no Spark session needed)
"""

from __future__ import annotations

import os
import sys
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entry  # noqa: E402


def main() -> None:
    names = list(entry.queries())
    newest, latest = entry._newest_driver_rows()
    head, tail = entry._compute_rotation(names)

    def hist(rows: dict) -> str:
        c = Counter(rows.get(q, 0) for q in names)
        return " / ".join(
            f"{'never' if r == 0 else f'r{r}'}:{n}" for r, n in sorted(c.items())
        )

    backlog = [q for q in names if newest.get(q, 0) <= latest - 2]
    in_head = set(head)
    print(f"registry: {len(names)} queries; latest artifact: r{latest}")
    print(f"staleness now: {hist(newest)}")
    n_backlog = sum(q in set(backlog) for q in head)
    print(
        f"head ({len(head)} slots): {n_backlog} backlog + "
        f"{len(head) - n_backlog} filler"
    )
    missed = [q for q in backlog if q not in in_head]
    print(f"backlog outside head: {missed if missed else 'none'}")
    assumed = {q: (latest + 1 if q in in_head else newest.get(q, 0)) for q in names}
    print(f"post-round staleness (head verified as r{latest + 1}): {hist(assumed)}")


if __name__ == "__main__":
    main()
