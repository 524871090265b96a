"""Seeded inputs for the engine benchmark.

Two families, both a pure function of ``(seed, size)``:

* :func:`write_tables` writes the TPC-H-ish star schema plus the
  ``events``/``documents``/``embeddings`` side tables that the registry
  queries read, one parquet file per table, with the same column names,
  physical types and value domains as the engine's test data.
* :func:`pipeline_sources` builds the reference pipeline's four sources
  (the Clientes and Transacciones sheets, the mixed Varios sheet and the
  recomendados JSON file) for a run of daily batches, and records the
  truth the load and the report must reproduce.

Nothing is downloaded; only NumPy and pandas are used.
"""

from __future__ import annotations

import datetime as dt
import json
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "old", "red", "small", "new", "hot", "large", "cold"]
PART_NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "en", "de", "es", "fr", "zh"]  # en twice: 2/6 of documents
WORDS = (
    "a the data spark query table column row value key hash join merge sort "
    "filter group agg scan window stream batch order line part customer "
    "small big fast slow vector"
).split()

#: Base row counts at scale factor 1 (the engine's test data uses the same).
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}
EMBED_DIM = 64
#: Share of documents that are a one-word edit of an earlier original, so
#: the near-duplicate operators have clusters to find.
NEAR_DUP_SHARE = 0.05


def _days(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    offs = rng.integers(0, int((hi - lo).astype(int)) + 1, n)
    return (lo + offs).astype("datetime64[us]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0


def _documents(rng: np.random.Generator, n: int) -> pd.DataFrame:
    vocab = np.array(WORDS)
    texts: list[str] = []
    originals: list[int] = []
    for i in range(n):
        if originals and rng.random() < NEAR_DUP_SHARE:
            # edit an original, never a copy: clusters stay stars, so the
            # fixed-point loops need the same number of rounds for any seed
            words = texts[originals[int(rng.integers(0, len(originals)))]].split()
            words[int(rng.integers(0, len(words)))] = str(rng.choice(vocab))
        else:
            words = list(rng.choice(vocab, int(rng.integers(8, 106))))
            originals.append(i)
        texts.append(" ".join(words))
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame(
        {
            "doc_id": ids,
            "text": texts,
            "lang": np.array(LANGS)[rng.integers(0, len(LANGS), n)],
            "source": [f"src{i % 20}" for i in ids],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def make_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """Every table the registry queries read, as pandas frames."""
    rng = np.random.default_rng(seed)
    n = {k: max(1, round(v * sf)) for k, v in ROWS_PER_SF.items()}
    i32, i64 = np.int32, np.int64

    region = pd.DataFrame(
        {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS}
    )
    nation = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype=i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(i32),
        }
    )
    nc = n["customer"]
    customer = pd.DataFrame(
        {
            "c_custkey": np.arange(nc, dtype=i64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, nc),
            "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, nc)],
        }
    )
    ns = n["supplier"]
    supplier = pd.DataFrame(
        {
            "s_suppkey": np.arange(ns, dtype=i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, ns),
        }
    )
    np_ = n["part"]
    pkeys = np.arange(np_, dtype=i64)
    part = pd.DataFrame(
        {
            "p_partkey": pkeys,
            "p_name": [
                f"{PART_ADJ[a]} {PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, np_), rng.integers(0, 8, np_))
            ],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, np_)],
            "p_type": np.array(PART_TYPES)[rng.integers(0, 6, np_)],
            "p_size": rng.integers(1, 51, np_).astype(i32),
            "p_retailprice": np.round(900.0 + (pkeys % 1000) * 0.1, 2),
        }
    )
    no = n["orders"]
    orders = pd.DataFrame(
        {
            "o_orderkey": np.arange(no, dtype=i64),
            "o_custkey": rng.integers(0, nc, no).astype(i64),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, no)],
            "o_totalprice": _money(rng, 1000.0, 500000.0, no),
            "o_orderdate": _days(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, no)],
        }
    )
    nl = n["lineitem"]
    discount = rng.integers(0, 11, nl) / 100.0
    tax = rng.integers(0, 9, nl) / 100.0
    lineitem = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(i64),
            "l_partkey": rng.integers(0, np_, nl).astype(i64),
            "l_suppkey": rng.integers(0, ns, nl).astype(i64),
            "l_linenumber": rng.integers(1, 8, nl).astype(i32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, nl),
            "l_discount": discount,
            "l_tax": tax,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, nl)],
            "l_shipdate": _days(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    ne = n["events"]
    start = np.datetime64("2024-01-01T00:00:00", "us")
    ts = np.sort(start + rng.integers(0, 30 * 86_400_000_000, ne).astype("timedelta64[us]"))
    events = pd.DataFrame(
        {
            "event_id": np.arange(ne, dtype=i64),
            "ts": ts,
            "user_id": rng.integers(0, max(1, nc // 10), ne).astype(i64),
            "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, ne)],
            "value": np.round(rng.exponential(50.0, ne), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    documents = _documents(rng, n["documents"])
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, EMBED_DIM)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pd.DataFrame(
        {
            "vec_id": np.arange(nv, dtype=i64),
            "embedding": list(vecs),
            "label": rng.integers(0, 10, nv).astype(i32),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "supplier": supplier,
        "part": part,
        "orders": orders,
        "lineitem": lineitem,
        "events": events,
        "documents": documents,
        "embeddings": embeddings,
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    """Write every table as ``<out_dir>/<name>.parquet``; returns ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, pdf in make_tables(seed, sf).items():
        pdf.to_parquet(os.path.join(out_dir, f"{name}.parquet"), index=False)
    return out_dir


# ---------------------------------------------------------------- pipeline

#: Column labels of the Transacciones sheet; the engine reads it by position.
TXN_COLUMNS = ["IDCLIENTE", "FECHA", "IDTIPO", "IDTRX", "MONTO", "FEE", "IDSEDE"]
N_SEDES = 20
N_TIPOS = 6
#: A tipo id present in the transactions but absent from the Varios sheet,
#: so every batch exercises the orphan-key repair.
ORPHAN_TIPO = N_TIPOS + 1
N_DISTRIBUTORS = 12
FIRST_DAY = dt.date(2025, 6, 10)


@dataclass
class Truth:
    """What one daily batch must produce, in integer cents."""

    inserted: dict[str, int]
    ignored: dict[str, int]
    daily_cents: int
    month_cents: int
    by_distributor_cents: dict[str, int]


@dataclass
class PipelineSources:
    clientes: pd.DataFrame
    varios: pd.DataFrame
    recomendados: list[dict]
    transacciones: list[pd.DataFrame]  # one sheet per day
    cut_dates: list[str]
    truth: list[Truth]

    def write_json(self, path: str) -> str:
        with open(path, "w", encoding="utf-8") as f:
            json.dump(self.recomendados, f, ensure_ascii=False)
        return path


def _varios_sheet() -> pd.DataFrame:
    """The mixed sheet: two stacked tables with 'ID' header rows and dirty
    rows (null and non-numeric ids) inside each."""
    rows: list[tuple] = [("ID", "SEDE")]
    rows += [(i, f"Sede {i:02d}") for i in range(1, N_SEDES + 1)]
    rows += [(None, "sin id"), ("abc", "fila basura")]
    rows += [("ID", "TIPO")]
    rows += [(i, f"Tipo {i}") for i in range(1, N_TIPOS + 1)]
    rows += [("x1", "basura"), (None, None)]
    return pd.DataFrame(rows, dtype=object)


def pipeline_sources(
    seed: int,
    days: int,
    clients: int = 50_000,
    txn_per_day: int = 100_000,
    resend_share: float = 0.10,
) -> PipelineSources:
    """Sources for ``days`` daily batches plus the truth for each batch.

    Day ``d``'s Transacciones sheet holds ``txn_per_day`` new rows dated
    that day and a re-sent copy of ``resend_share`` of the rows of earlier
    days (already loaded, so the load must ignore them). The Clientes
    sheet, the Varios sheet and the JSON file are the same every day, so
    from day 2 on every dimension row is a re-send.
    """
    rng = np.random.default_rng(seed)
    ids = np.arange(1, clients + 1, dtype=np.int64)
    dates = pd.Series(_days(rng, clients, "2019-01-01", "2025-05-31")).dt.strftime("%Y-%m-%d")
    afil = dates.to_numpy(dtype=object)
    prim = afil.copy()
    dirty = rng.random(clients) < 0.01
    afil[dirty] = "sin fecha"
    clientes = pd.DataFrame(
        {"IDCLIENTE": ids, "fechaafiliacion": afil, "fechaprimertrx": prim}
    )

    # recomendados: ~80% of clients have a distributor; names vary between
    # records of one distributor, and the dimension keeps the FIRST one.
    has_dist = rng.random(clients) < 0.8
    dist_of = rng.integers(1, N_DISTRIBUTORS + 1, clients)
    recomendados: list[dict] = []
    first_name: dict[int, str] = {}
    for cid, d in zip(ids[has_dist], dist_of[has_dist]):
        name = f"Distribuidora {int(d):02d}"
        if rng.random() < 0.1:
            name += " S.A.C."
        first_name.setdefault(int(d), name)
        recomendados.append(
            {
                "IDCLIENTE": int(cid),
                "IDDISTRIBUIDOR": int(d),
                "NOMBRE DISTRIBUIDOR": name,
                "TELEFONO": int(900_000_000 + cid),
                "categoría": ["A", "B", "C"][int(cid) % 3],
                "recomendados": int(cid % 7),
            }
        )
    # client id -> distributor name as the report will resolve it
    name_of = {
        int(c): first_name[int(d)] for c, d in zip(ids[has_dist], dist_of[has_dist])
    }

    varios = _varios_sheet()
    n_dims = {
        "dim_sedes": N_SEDES,
        "dim_tipo_transaccion": N_TIPOS + 1,  # + the repaired orphan
        "dim_distribuidores": len(first_name),
        "dim_clientes": clients,
    }

    sheets: list[pd.DataFrame] = []
    truth: list[Truth] = []
    cut_dates: list[str] = []
    history: list[pd.DataFrame] = []
    month_cents = 0
    next_id = 1
    for day in range(days):
        date = FIRST_DAY + dt.timedelta(days=day)
        n = txn_per_day
        cents = rng.integers(1_000, 500_000, n)
        # 1% of rows reference a client that is in neither source
        cli = np.where(
            rng.random(n) < 0.01,
            clients + 1_000 + rng.integers(0, 100, n),
            rng.integers(1, clients + 1, n),
        )
        secs = rng.integers(0, 86_400, n)
        stamp = pd.Timestamp(date) + pd.to_timedelta(secs, unit="s")
        new = pd.DataFrame(
            {
                "IDCLIENTE": cli,
                "FECHA": stamp.strftime("%Y-%m-%d %H:%M:%S").to_numpy(dtype=object),
                "IDTIPO": rng.integers(1, ORPHAN_TIPO + 1, n),
                "IDTRX": np.arange(next_id, next_id + n, dtype=np.int64),
                "MONTO": cents / 100.0,
                "FEE": np.round(cents * 0.02) / 100.0,
                "IDSEDE": rng.integers(1, N_SEDES + 1, n),
            }
        )
        next_id += n
        old = pd.concat(history) if history else new.iloc[:0]
        resent = old.sample(frac=resend_share, random_state=int(rng.integers(2**31))) if len(old) else old
        sheet = pd.concat([new, resent]).sample(
            frac=1.0, random_state=int(rng.integers(2**31))
        ).reset_index(drop=True)
        history.append(new)

        daily = int(cents.sum())
        month_cents = daily if date.day == 1 else month_cents + daily
        by_dist: dict[str, int] = {}
        for c, v in zip(cli, cents):
            k = name_of.get(int(c), "Venta Directa")
            by_dist[k] = by_dist.get(k, 0) + int(v)
        first = day == 0
        inserted = {t: (k if first else 0) for t, k in n_dims.items()}
        ignored = {t: (0 if first else k) for t, k in n_dims.items()}
        inserted["fct_transacciones"] = n
        ignored["fct_transacciones"] = len(resent)
        sheets.append(sheet)
        cut_dates.append(date.isoformat())
        truth.append(Truth(inserted, ignored, daily, month_cents, by_dist))
    return PipelineSources(clientes, varios, recomendados, sheets, cut_dates, truth)
