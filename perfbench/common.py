"""Small pieces shared by the runner and the workloads."""

from __future__ import annotations

import sys


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


class Op:
    """One timed operation. ``prepare`` builds its input outside the timed
    region; ``run`` is what gets timed; ``rows`` counts the rows it handles
    (set by ``prepare`` when the input fixes it)."""

    def __init__(self, name: str, run, prepare=None, kind: str = "query") -> None:
        self.name, self.run, self.prepare, self.kind = name, run, prepare, kind
        self.rows = 0
