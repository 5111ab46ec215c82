"""The benchmark's workloads and the rules that pick their operations.

Lists are fixed by a rule written here and in ``BENCHMARK.json``, never
by timing.  The seed only permutes the order of each repeat pass (and,
for the stock pipeline, writes the price files); a first pass always runs
in the list's own order.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

# The warehouse the registry workload queries: a copy of the seed-42
# sf0.01 test tables TESTDATA.md describes (60k lineitems), only the
# seven tables the queries below read.  sf0.01 keeps
# a cold pass plus three repeat passes inside one run; see README.md for
# the per-run time budget behind the choice.
DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")

@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "registry" (query ops) or "pipeline" (stage-call ops)
    # whole passes every run makes, whatever ``--seconds`` says, so that
    # the work per run, and its cold/repeat mix, never depends on the
    # machine
    passes: int
    queries: tuple[str, ...] = ()


WORKLOADS = {
    w.name: w
    for w in (
        # Rule: the six queries ROADMAP.md names as open performance
        # candidates (item 5), four relational and two text/ML.  Together
        # they cover the join spines (q5, q7), the ranked histogram, the
        # size-gated quantile and connected-components driver paths, and
        # the 13-gram staged substrate's first payer.  Four passes: a cold
        # one in this order, where first-payer staging shows (the same
        # query pays first in every run), and three seed-shuffled repeat
        # ones, where staged hits do and which make 18 of the 24
        # operations warm.
        Workload(
            "registry",
            "registry",
            4,
            (
                "q5_region_nation_revenue",
                "q7_nation_pair_volume",
                "olap_histogram_equi_depth",
                "dq_approx_vs_exact_quantiles",
                "contamination_chunk_level",
                "dedup_clusters_cc",
            ),
        ),
        # The paper's own path: raw CSV ETL → OLAP → mining → charts.  It
        # touches no plans/ module, so plan-build and staging changes are
        # predicted not to move it.  One pass, as the paper's program runs
        # it once per process; a second would push a run past the time
        # budget in README.md.
        Workload("stock_pipeline", "pipeline", 1),
    )
}

PIPELINE_STAGES = ("etl", "olap", "mining", "charts")
