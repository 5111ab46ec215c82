"""Guard: no copy-pasted code blocks in the plan and operator layers.

A shared relation (a CTE chain in an oracle, a Spark builder step) gets
ONE definition that every consumer imports.  This scan fails when any
10-line window of normalised source lines appears twice under
``plans/`` or ``operators/``.

Rule: lines are compared with whitespace runs collapsed; a window counts
only when at least 9 of its 10 lines are longer than 3 characters and do
not start with ``#``, ``\"\"\"``, ``from `` or ``import `` (so import
blocks, comment banners and docstring fences never match).
"""

from __future__ import annotations

import os
from collections import defaultdict

from .conftest import REPO_ROOT

_PKG = os.path.join(REPO_ROOT, "stock_data_warehouse_analytics_spark")
_WINDOW = 10
_MIN_COUNTED = 9
_SKIP_PREFIXES = ("#", '"""', "from ", "import ")


def _counts(line: str) -> bool:
    return len(line) > 3 and not line.startswith(_SKIP_PREFIXES)


def repeated_windows() -> dict[tuple[str, ...], list[tuple[str, int]]]:
    """{window: [(path, first line number), ...]} for every counted
    window that occurs more than once."""
    seen: dict[tuple[str, ...], list[tuple[str, int]]] = defaultdict(list)
    for sub in ("plans", "operators"):
        d = os.path.join(_PKG, sub)
        for fn in sorted(os.listdir(d)):
            if not fn.endswith(".py"):
                continue
            with open(os.path.join(d, fn), encoding="utf-8") as f:
                lines = [" ".join(raw.split()) for raw in f]
            for i in range(len(lines) - _WINDOW + 1):
                w = tuple(lines[i : i + _WINDOW])
                if sum(map(_counts, w)) >= _MIN_COUNTED:
                    seen[w].append((f"{sub}/{fn}", i + 1))
    return {w: locs for w, locs in seen.items() if len(locs) > 1}


def test_no_repeated_ten_line_windows():
    dups = repeated_windows()
    report = [f"{locs} starting {w[0]!r}" for w, locs in sorted(dups.items(), key=lambda kv: kv[1])]
    assert not dups, (
        f"{len(dups)} repeated 10-line windows — give the shared relation "
        "one definition and import it:\n" + "\n".join(report[:20])
    )
