"""Pure helpers: failure share, span self time."""

from __future__ import annotations


def failed_frac(ops: list[dict]) -> float:
    """Share of attempted operations that raised or failed their output
    check (``error`` or ``check_error`` set)."""
    if not ops:
        raise ValueError("no operations attempted")
    bad = sum(1 for op in ops if op.get("error") or op.get("check_error"))
    return bad / len(ops)


def self_time(span: dict, children: list[dict]) -> float:
    """A span's duration minus the part of it its children cover (the
    union of their intervals, clipped to the span)."""
    lo, hi = span["start"], span["end"]
    cover, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        s, e = max(c["start"], lo), min(c["end"], hi)
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                cover += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        cover += cur_e - cur_s
    return (hi - lo) - cover
