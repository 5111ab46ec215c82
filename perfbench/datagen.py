"""Seeded raw stock price CSVs, the stock pipeline's input.

:func:`write_stock_csvs` writes raw daily price files for three tickers
in the Vietnamese export format the ETL parses (UTF-8 BOM, quoted
Vietnamese headers, newest row first, ``dd/MM/yyyy`` dates, thousands
separators, ``K``/``M`` volume suffixes, ``%`` changes).  Its contents
come from the run's seed, and it returns the ground truth the cleaned
``All.csv`` must reproduce.

The registry workload generates nothing: it reads the seed-42 sf0.01
warehouse tables stored under ``data/sf0.01/`` in this directory.
"""

from __future__ import annotations

import datetime as dt
import math
import os

import numpy as np

# three, not the package's six: every ticker adds Spark jobs to each
# pipeline pass (a cold pass over six takes ~45 s on four cores, over
# three ~30 s), and run_mining's k-means (k = 3) needs at least three
STOCK_TICKERS = ["HVN", "VJC", "VTR"]
STOCK_FIRST_DAY = dt.date(2024, 1, 2)
STOCK_DAYS = 500  # trading days: 2024-01-02 into late 2025
STOCK_HEADER = ["Ngày", "Lần cuối", "Mở", "Cao", "Thấp", "KL", "% Thay đổi"]


def _fmt_volume(v: int) -> str:
    if v >= 1_000_000:
        return f"{v / 1_000_000:.2f}M"
    return f"{v / 1_000:.2f}K"


def _parse_volume(s: str) -> int:
    """The ETL's volume rule: float multiply, then truncate toward zero."""
    mult = {"K": 1_000.0, "M": 1_000_000.0}[s[-1]]
    return int(float(s[:-1]) * mult)


def trading_days(n: int = STOCK_DAYS) -> list[dt.date]:
    days, d = [], STOCK_FIRST_DAY
    while len(days) < n:
        if d.weekday() < 5:
            days.append(d)
        d += dt.timedelta(days=1)
    return days


def write_stock_csvs(seed: int, out_dir: str) -> list[dict]:
    """Write ``{ticker}.csv`` for each ticker and return the ground
    truth: one dict per (ticker, day) with the cleaned fact columns the
    ETL must produce (``Date Close Open High Low Volume ChangePercent
    Ticker Return Average Volatility LogReturn``)."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    days = trading_days()
    truth: list[dict] = []
    for t in STOCK_TICKERS:
        price = float(rng.uniform(8_000.0, 60_000.0))
        prev_close = price
        lines = []
        for d in days:
            open_ = round(prev_close * (1 + rng.normal(0, 0.004)), 2)
            close = round(open_ * (1 + rng.normal(0, 0.018)), 2)
            high = round(max(open_, close) * (1 + abs(rng.normal(0, 0.006))), 2)
            low = round(min(open_, close) * (1 - abs(rng.normal(0, 0.006))), 2)
            vol_s = _fmt_volume(int(rng.lognormal(13.0, 0.8)))
            chg = round((close / prev_close - 1) * 100, 2)
            prev_close = close
            lines.append(
                [
                    d.strftime("%d/%m/%Y"),
                    f"{close:,.2f}",
                    f"{open_:,.2f}",
                    f"{high:,.2f}",
                    f"{low:,.2f}",
                    vol_s,
                    f"{chg:.2f}%",
                ]
            )
            truth.append(
                {
                    "Date": d,
                    "Close": close,
                    "Open": open_,
                    "High": high,
                    "Low": low,
                    "Volume": _parse_volume(vol_s),
                    "ChangePercent": chg,
                    "Ticker": t,
                    "Return": (close - open_) / open_ * 100,
                    "Average": (high + low) / 2,
                    "Volatility": high - low,
                    "LogReturn": math.log(close) - math.log(open_),
                }
            )
        path = os.path.join(out_dir, f"{t}.csv")
        with open(path, "w", encoding="utf-8", newline="") as f:
            f.write("\ufeff" + ",".join(f'"{h}"' for h in STOCK_HEADER) + "\n")
            for row in reversed(lines):  # newest first, as exported
                f.write(",".join(f'"{c}"' for c in row) + "\n")
    return truth
