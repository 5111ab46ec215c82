"""Pins for the one per-session memo (``session.session_memo``) and the
one driver-fast-path gate (``operators.localrel``).

- every staged substrate is built once per session and served as the
  identical object afterwards; a fresh session builds its own;
- a source-scan guard keeps hand-rolled session caches and the removed
  stats-probe env knobs from coming back.
"""

from __future__ import annotations

import os
import re

import pytest

from tests.conftest import SF_SMALL

PKG = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "stock_data_warehouse_analytics_spark",
)


def _accessor(name):
    """(module, call) for one staged-substrate accessor."""
    from stock_data_warehouse_analytics_spark.plans import (
        ab_testing,
        dedup_store,
        quantile_store,
        tokenizer,
    )

    return {
        "staged_candidates": (
            dedup_store,
            lambda s: dedup_store.staged_candidates(s, SF_SMALL),
        ),
        "quantile_panel": (
            quantile_store,
            lambda s: quantile_store.quantile_panel(
                s, SF_SMALL, "lineitem", "l_returnflag", "l_quantity"
            ),
        ),
        "trained_bpe": (
            tokenizer,
            lambda s: tokenizer.trained_bpe(s, SF_SMALL),
        ),
        "user_day_purchases": (
            ab_testing,
            lambda s: ab_testing.user_day_purchases(s, SF_SMALL),
        ),
    }[name]


@pytest.mark.parametrize(
    "name",
    ["staged_candidates", "quantile_panel", "trained_bpe", "user_day_purchases"],
)
def test_session_memo_builds_once_per_session(spark, monkeypatch, name):
    from stock_data_warehouse_analytics_spark import session as S

    module, call = _accessor(name)
    builds: list[object] = []

    def counting_memo(spark_, key, build):
        def counted():
            builds.append(key)
            return build()

        return S.session_memo(spark_, key, counted)

    monkeypatch.setattr(module, "session_memo", counting_memo)

    # fresh sessions over the shared context: earlier tests may already
    # have staged these substrates in the suite's own session.  An
    # accessor may stage the substrates it is built from too (the
    # candidates read the staged signatures), each under its own key.
    s1 = S.tune_for_engine(spark.newSession())
    first = call(s1)
    n = len(builds)
    assert n >= 1 and len(set(builds)) == n  # every key built once
    assert call(s1) is first
    assert len(builds) == n

    s2 = S.tune_for_engine(spark.newSession())
    again = call(s2)
    assert builds[n:] == builds[:n]  # the fresh session builds again
    assert again is not first
    assert call(s2) is again
    assert len(builds) == 2 * n


def test_no_hand_rolled_session_caches_or_size_knobs():
    allowed_weak = {
        os.path.join(PKG, "session.py"),
        os.path.join(PKG, "operators", "stock_olap.py"),
    }
    knob = re.compile(r"""["'][A-Z0-9_]*_SMALL_BYTES["']""")
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if not fn.endswith(".py"):
                continue
            path = os.path.join(root, fn)
            with open(path, encoding="utf-8") as fh:
                src = fh.read()
            if "WeakKeyDictionary" in src and path not in allowed_weak:
                offenders.append(f"{path}: WeakKeyDictionary")
            if knob.search(src):
                offenders.append(f"{path}: *_SMALL_BYTES env var")
    assert not offenders, offenders
