"""Output checks, run after the timed region.

Registry operations are checked the way ``tools/driver_sim.py`` checks
the registry: column names sorted, every cell normalized, rows sorted,
the matrix sha256-hashed and compared with the DuckDB oracle's hash over
the same parquet tables (computed once per query per run).  Queries
without an oracle must return the same row count on every pass.

Stock-pipeline operations are checked against the data generator's
ground truth (``All.csv``) and against a pandas recomputation of the
four OLAP result tables; the mining tables must exist (and, but for the
anomaly list, be non-empty) and every chart must be a PNG.

Each check writes ``check_error`` on the operation it condemns.
"""

from __future__ import annotations

import importlib.util
import os

import numpy as np
import pandas as pd


def load_matrix_hash(root: str):
    """``_matrix_hash`` from the checkout's ``tools/driver_sim.py``."""
    path = os.path.join(root, "tools", "driver_sim.py")
    spec = importlib.util.spec_from_file_location("_perfbench_driver_sim", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod._matrix_hash


def check_registry_ops(
    ops: list[dict], oracles: dict[str, str], data_dir: str, matrix_hash
) -> None:
    import duckdb

    con = duckdb.connect()
    try:
        for fn in sorted(os.listdir(data_dir)):
            if fn.endswith(".parquet"):
                con.execute(
                    f"CREATE VIEW {fn[:-len('.parquet')]} AS SELECT * FROM "
                    f"read_parquet('{os.path.join(data_dir, fn)}')"
                )
        expected: dict[str, tuple] = {}
        first_rows: dict[str, int] = {}
        for op in ops:
            if op.get("error"):
                continue
            name = op["query"]
            cols, rows = op.pop("columns"), op.pop("rows")
            if name not in oracles:
                n0 = first_rows.setdefault(name, len(rows))
                if len(rows) != n0:
                    op["check_error"] = f"rows {len(rows)} != first pass {n0}"
                continue
            if name not in expected:
                cur = con.execute(oracles[name])
                o_cols = [d[0] for d in cur.description]
                o_rows = cur.fetchall()
                expected[name] = (
                    sorted(o_cols),
                    len(o_rows),
                    matrix_hash(o_cols, o_rows),
                )
            o_cols, o_n, o_hash = expected[name]
            if sorted(cols) != o_cols:
                op["check_error"] = f"schema {sorted(cols)} != oracle {o_cols}"
            elif len(rows) != o_n:
                op["check_error"] = f"rows {len(rows)} != oracle {o_n}"
            elif matrix_hash(cols, rows) != o_hash:
                op["check_error"] = "value-hash mismatch vs oracle"
    finally:
        con.close()


# --------------------------------------------------------------------------
# stock pipeline

FACT_COLS = [
    "Date", "Close", "Open", "High", "Low", "Volume", "ChangePercent",
    "Ticker", "Return", "Average", "Volatility", "LogReturn",
]
OLAP_FILES = (
    "01_quarterly_price.csv",
    "02_growth_24_25.csv",
    "03_monthly_volume.csv",
    "04_stats_2025.csv",
)
MINING_FILES = (
    "01_regression_same_day.csv",
    "02_regression_next_day.csv",
    "03_kmeans_clusters.csv",
    "04_anomalies.csv",
)
PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def _frames_close(got: pd.DataFrame, want: pd.DataFrame, atol: float = 0.0) -> str:
    """'' when equal (floats to rtol 1e-9 plus ``atol``), else a reason."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    for c in want.columns:
        a, b = got[c].to_numpy(), want[c].to_numpy()
        if b.dtype.kind in "fi" and a.dtype.kind in "fi":
            a, b = a.astype(float), b.astype(float)
            ok = (np.isnan(a) & np.isnan(b)) | np.isclose(
                a, b, rtol=1e-9, atol=atol + 1e-12
            )
            if not ok.all():
                i = int(np.argmin(ok))
                return f"{c}[{i}]: {a[i]!r} != {b[i]!r}"
        elif [str(x) for x in a] != [str(x) for x in b]:
            return f"{c} differs"
    return ""


def truth_frame(truth: list[dict]) -> pd.DataFrame:
    df = pd.DataFrame(truth, columns=FACT_COLS)
    df["Date"] = pd.to_datetime(df["Date"])
    return df.sort_values(["Ticker", "Date"]).reset_index(drop=True)


def expected_olap(fact: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """The four OLAP tables recomputed with pandas from the ground truth
    (filter Year ≥ 2024; quarterly mean Close rounded to 2; 2024→2025
    growth; monthly mean Volume rounded to 0; 2025 stats panel)."""
    df = fact[fact["Date"].dt.year >= 2024].copy()
    df["Year"] = df["Date"].dt.year
    df["Quarter"] = df["Date"].dt.quarter
    df["Month"] = df["Date"].dt.month
    q = df.pivot_table(index=["Year", "Quarter"], columns="Ticker", values="Close", aggfunc="mean")
    q = q.round(2).reset_index()
    g = df[df["Year"].isin([2024, 2025])].pivot_table(
        index="Ticker", columns="Year", values="Close", aggfunc="mean"
    )
    g.columns = [str(c) for c in g.columns]
    g["Growth 24-25 (%)"] = (g["2025"] / g["2024"] - 1) * 100
    g = g.reset_index()
    m = df.pivot_table(index=["Year", "Month"], columns="Ticker", values="Volume", aggfunc="mean")
    m = m.round(0).fillna(0).astype("int64").reset_index()
    s = df[df["Year"] == 2025].groupby("Ticker").agg(
        Gia_TB=("Close", "mean"),
        Volume_TB=("Volume", "mean"),
        Bien_Dong_Std=("Close", "std"),
    )
    s["Bien_Dong_Pct (%)"] = s["Bien_Dong_Std"] / s["Gia_TB"] * 100
    s = s.reset_index()
    return dict(zip(OLAP_FILES, (q, g, m, s)))


def _sorted(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    return df.sort_values(keys).reset_index(drop=True)


def check_stock_ops(ops: list[dict], truth: list[dict]) -> None:
    """Check each stage call's outputs in its own pass directory."""
    want_fact = truth_frame(truth)
    want_olap = expected_olap(want_fact)
    keys = {
        OLAP_FILES[0]: ["Year", "Quarter"],
        OLAP_FILES[1]: ["Ticker"],
        OLAP_FILES[2]: ["Year", "Month"],
        OLAP_FILES[3]: ["Ticker"],
    }
    # the monthly-volume and quarterly-price cells are rounded means:
    # a last-digit difference in the mean may flip the rounding by one unit
    atol = {OLAP_FILES[0]: 0.01, OLAP_FILES[2]: 1.0}
    n_tickers = want_fact["Ticker"].nunique()
    for op in ops:
        if op.get("error"):
            continue
        out = op["out_dir"]
        stage = op["query"]
        try:
            if stage == "etl":
                got = pd.read_csv(os.path.join(out, "cleaned", "All.csv"), parse_dates=["Date"])
                per = [f for f in os.listdir(os.path.join(out, "cleaned")) if f != "All.csv" and f.endswith(".csv")]
                err = _frames_close(_sorted(got, ["Ticker", "Date"]), want_fact)
                if not err and len(per) != n_tickers:
                    err = f"{len(per)} per-ticker files, expected {n_tickers}"
            elif stage == "olap":
                err = ""
                for fn in OLAP_FILES:
                    got = pd.read_csv(os.path.join(out, "olap_results", fn))
                    want = want_olap[fn]
                    got.columns = [str(c) for c in got.columns]
                    err = _frames_close(
                        _sorted(got, keys[fn]), _sorted(want, keys[fn]), atol.get(fn, 0.0)
                    )
                    if err:
                        err = f"{fn}: {err}"
                        break
            elif stage == "mining":
                err = ""
                # the anomaly table may be empty: a price path with no
                # |z| > 2 day is a valid input, so only its file must exist
                *tables, anomalies = MINING_FILES
                for fn in tables:
                    got = pd.read_csv(os.path.join(out, "datamining_results", fn))
                    if got.empty:
                        err = f"{fn} is empty"
                        break
                if not os.path.exists(os.path.join(out, "datamining_results", anomalies)):
                    err = err or f"{anomalies} missing"
            else:  # charts
                pngs = op.get("written") or []
                bad = [p for p in pngs if not _is_png(p)]
                err = f"not a PNG: {bad[:3]}" if bad else ""
                if not pngs:
                    err = "no charts written"
        except (OSError, ValueError, KeyError) as e:
            err = f"{type(e).__name__}: {e}"
        if err:
            op["check_error"] = err


def _is_png(path: str) -> bool:
    with open(path, "rb") as f:
        return f.read(8) == PNG_MAGIC and os.path.getsize(path) > 64
