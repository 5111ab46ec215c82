#!/usr/bin/env python
"""Regenerate QUERIES.md from the plan registry.

Run after adding/changing a registered query:
    python tools/gen_queries_md.py

``tests/test_properties.py`` compares the committed file with
``render()``, so a stale catalog fails the suite.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from stock_data_warehouse_analytics_spark.plans import QUERIES  # noqa: E402
from stock_data_warehouse_analytics_spark.plans.registry import (  # noqa: E402
    _ensure_loaded,
)

MAX_DOC = 155
OUT = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "QUERIES.md")


def render() -> str:
    """The full QUERIES.md text for the live registry."""
    _ensure_loaded()
    n = len(QUERIES)
    n_oracle = sum(1 for s in QUERIES.values() if s.oracle is not None)
    lines = [
        "# Query catalog (auto-generated by tools/gen_queries_md.py)",
        "",
        f"{n} registered queries; {n_oracle} DuckDB-oracle-checked "
        "bit-exact at BOTH scale factors — reproduce the sf0.01 half "
        "with the default suite (`pytest tests/test_queries_oracle.py` "
        "or `python tools/driver_sim.py`, the committed driver-contract "
        "check) and the sf0.1 half with "
        "`pytest tests/test_queries_oracle.py -m sf01`; "
        f"{n - n_oracle} rows-only (approximate sketches / iterative ML / "
        "recall-bounded ANN — reasons in each docstring).",
        "",
        "| query | oracle | tags | what it covers |",
        "|---|---|---|---|",
    ]
    for name in sorted(QUERIES):
        spec = QUERIES[name]
        # Read the LIVE fn.__doc__, not the decoration-time snapshot in
        # spec.doc: many queries run `fn.__doc__ = fn.__doc__.format(...)`
        # AFTER @register, so the snapshot shows literal '{days}'-style
        # placeholders (round-7 ADVICE item #1).
        doc = re.sub(r"\s+", " ", (spec.fn.__doc__ or spec.doc or "").strip())
        doc = doc.replace("|", "\\|")
        if len(doc) > MAX_DOC:
            doc = doc[:MAX_DOC] + "..."
        kind = "exact" if spec.oracle is not None else "rows-only"
        lines.append(f"| `{name}` | {kind} | {', '.join(spec.tags)} | {doc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(OUT, "w") as f:
        f.write(render())
    print(f"wrote {OUT}: {len(QUERIES)} queries")


if __name__ == "__main__":
    main()
