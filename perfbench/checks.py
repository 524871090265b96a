"""Output checks, run outside the timed region.

Registry queries are compared with their DuckDB oracle over the same
parquet files: columns sorted by name, rows sorted, values normalized,
then equal or not. Two money values, both rounded to cents, may differ
by one cent: on some seeds the engine and DuckDB round the same revenue
sum to neighbouring cents. A daily load batch is compared with the
truth the input generator recorded.
"""

from __future__ import annotations

import datetime as dt
import math
import os
from decimal import Decimal

import numpy as np
import pandas as pd

from datagen import Truth


def _norm(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (np.bool_, bool)):
        return bool(v)
    if isinstance(v, (np.integer, int)):
        return int(v)
    if isinstance(v, (np.floating, float)):
        return None if math.isnan(v) else float(v)
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, (pd.Timestamp, dt.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, dt.date):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, bytes):
        return v.hex()
    return v


def canonical(pdf: pd.DataFrame) -> tuple[tuple[str, ...], list[tuple]]:
    """(sorted lower-case column names, sorted normalized rows)."""
    cols = sorted(pdf.columns, key=str.lower)
    rows = [
        tuple(_norm(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return tuple(c.lower() for c in cols), rows


def oracle_results(sf_dir: str, oracles: dict[str, str]) -> dict[str, tuple]:
    """Canonical DuckDB result of each oracle over the parquet in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for f in sorted(os.listdir(sf_dir)):
            if f.endswith(".parquet"):
                path = os.path.join(sf_dir, f)
                con.execute(
                    f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                )
        return {name: canonical(con.execute(sql).df()) for name, sql in oracles.items()}
    finally:
        con.close()


def _same(a, b) -> bool:
    if a == b:
        return True
    if isinstance(a, float) and isinstance(b, float):
        cents = round(a, 2) == a and round(b, 2) == b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=0.0100001 if cents else 0.0)
    if isinstance(a, tuple) and isinstance(b, tuple):
        return len(a) == len(b) and all(map(_same, a, b))
    return False


def result_mismatch(got: pd.DataFrame, expected: tuple) -> str | None:
    """None when ``got`` equals the canonical ``expected``; else why not."""
    cols, rows = canonical(got)
    exp_cols, exp_rows = expected
    if cols != exp_cols:
        return f"columns {cols} != {exp_cols}"
    if len(rows) != len(exp_rows):
        return f"{len(rows)} rows != {len(exp_rows)}"
    bad = sum(not _same(a, b) for a, b in zip(rows, exp_rows))
    return f"{bad} rows differ" if bad else None


def _cents(v) -> int:
    return int((Decimal(str(v)) * 100).to_integral_value())


def batch_mismatch(results, metrics, distribuidores, text: str, truth: Truth) -> str | None:
    """None when one daily batch's load results and report match the
    generator's truth; else the first difference found."""
    for r in results:
        if not r.ok:
            return f"{r.table}: load failed"
        want = (truth.inserted[r.table], truth.ignored[r.table])
        if (r.inserted, r.ignored) != want:
            return f"{r.table}: inserted/ignored {(r.inserted, r.ignored)} != {want}"
    if len(results) != len(truth.inserted):
        return f"{len(results)} tables loaded != {len(truth.inserted)}"
    got = (_cents(metrics["diaria"]), _cents(metrics["acumulado_mes"]))
    if got != (truth.daily_cents, truth.month_cents):
        return f"report daily/month {got} != {(truth.daily_cents, truth.month_cents)}"
    by_dist = {r["nombre_distribuidor"]: _cents(r["total_prestamos"]) for r in distribuidores}
    if by_dist != truth.by_distributor_cents:
        return "report by-distributor totals differ"
    if "ACUMULADO MENSUAL" not in text:
        return "report text lacks the month-to-date line"
    return None
