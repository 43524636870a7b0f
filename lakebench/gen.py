"""Seeded input generators.

Every input the program sees is derived from the ``--seed`` argument:
the mock SharePoint library (bytes and mtimes), each ingest cycle's
change set, the silver seed table and its upsert batches, and the
analytic tables the query keys read.  The same seed gives byte-identical
inputs; the self-test compares sha256 manifests across seeds.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# The library's folders are the program's FOLDER_CONFIG folder names;
# the caller passes them in so this module never imports the program.
BASE_MTIME = 1_700_000_000  # 2023-11-14, UTC; every library mtime sits after it
CHANGE_MTIME = BASE_MTIME + 10_000_000  # cycle c's edits land at CHANGE_MTIME + c * 1000


@dataclass(frozen=True)
class SourceFile:
    folder: str
    name: str
    data: bytes
    mtime: int

    @property
    def sha256(self) -> str:
        return hashlib.sha256(self.data).hexdigest()


def _rng(seed: int, *tag) -> random.Random:
    # str seeds hash through sha512, so the stream is stable across runs
    return random.Random(":".join(map(str, (seed,) + tag)))


def _size(r: random.Random, lo: int = 1 << 10, hi: int = 128 << 10) -> int:
    """Log-uniform file size in [lo, hi]."""
    return int(math.exp(r.uniform(math.log(lo), math.log(hi))))


def library(seed: int, folders: list[str], n_files: int) -> list[SourceFile]:
    """The initial mock document library.  One name in fifty carries an
    apostrophe, which the program's target-name sanitizer rewrites."""
    r = _rng(seed, "library")
    out = []
    for i in range(n_files):
        name = f"doc'{i:05d}.bin" if i % 50 == 7 else f"doc_{i:05d}.bin"
        out.append(
            SourceFile(folders[i % len(folders)], name, r.randbytes(_size(r)), BASE_MTIME + 37 * i)
        )
    return out


def change_set(
    seed: int, cycle: int, current: dict[tuple[str, str], SourceFile], folders: list[str], frac: float
) -> list[SourceFile]:
    """Files changed before ingest cycle ``cycle``: ``frac`` of the
    library, half appended to (same name, new bytes, new mtime) and half
    new.  In one cycle of four, one extra new file keeps a backdated
    mtime, like a copy that preserves its original modified time; it
    pulls the program's min-mtime watermark back to the library's start.
    """
    r = _rng(seed, "cycle", cycle)
    n = max(2, round(frac * len(current)))
    keys = sorted(current)
    mtime = CHANGE_MTIME + 1000 * cycle
    out = []
    for j, k in enumerate(r.sample(keys, n // 2)):
        old = current[k]
        out.append(SourceFile(old.folder, old.name, old.data + r.randbytes(_size(r, 64, 8 << 10)), mtime + j))
    for j in range(n - n // 2):
        out.append(
            SourceFile(folders[j % len(folders)], f"new_c{cycle:03d}_{j:03d}.bin", r.randbytes(_size(r)), mtime + j)
        )
    if cycle % 4 == 3:
        out.append(
            SourceFile(folders[cycle % len(folders)], f"copied_c{cycle:03d}.bin", r.randbytes(_size(r)), BASE_MTIME - 86_400)
        )
    return out


def write_files(root: str, files: list[SourceFile]) -> None:
    for f in files:
        d = os.path.join(root, f.folder)
        os.makedirs(d, exist_ok=True)
        p = os.path.join(d, f.name)
        with open(p, "wb") as fh:
            fh.write(f.data)
        os.utime(p, (f.mtime, f.mtime))


def manifest(files) -> list[tuple[str, str, int, int, str]]:
    """(folder, name, size, mtime, sha256) rows, sorted: what the
    program's ingestion log must record for these files."""
    return sorted((f.folder, f.name, len(f.data), f.mtime, f.sha256) for f in files)


# --------------------------------------------------------------------------
# silver: an orders-shaped table partitioned by year, and its upsert batches

ORDER_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority", "order_year"]
_STATUS = np.array(["F", "O", "P"])
_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_DAY0 = np.datetime64("1995-01-01", "D")
_N_DAYS = int((np.datetime64("2001-12-31", "D") - _DAY0).astype(int)) + 1  # 7 years: 1995..2001


def _orders_frame(g: np.random.Generator, keys: np.ndarray, days: np.ndarray | None = None) -> pd.DataFrame:
    n = len(keys)
    if days is None:
        days = g.integers(0, _N_DAYS, n)
    dates = _DAY0 + days.astype("timedelta64[D]")
    cents = g.integers(100_000, 50_000_000, n)
    return pd.DataFrame(
        {
            "o_orderkey": keys.astype(np.int64),
            "o_custkey": g.integers(0, 1500, n).astype(np.int64),
            "o_orderstatus": _STATUS[g.integers(0, 3, n)],
            "o_totalprice": cents / 100.0,
            "o_orderdate": dates.astype("datetime64[us]"),
            "o_orderpriority": _PRIORITY[g.integers(0, 5, n)],
            "order_year": (dates.astype("datetime64[Y]").astype(int) + 1970).astype(np.int32),
        }
    )


def silver_seed(seed: int, base_rows: int, replicas: int) -> pd.DataFrame:
    """``base_rows`` orders replicated ``replicas`` times with offset keys
    (each replica keeps its own prices), as the year-partitioned target's
    initial contents."""
    g = np.random.default_rng([seed, 1])
    base = _orders_frame(g, np.arange(base_rows))
    parts = []
    for r in range(replicas):
        p = base.copy()
        p["o_orderkey"] += r * 10_000_000
        p["o_totalprice"] = g.integers(100_000, 50_000_000, base_rows) / 100.0
        parts.append(p)
    return pd.concat(parts, ignore_index=True)


def merge_batch(seed: int, b: int, current: pd.DataFrame, next_key: int) -> pd.DataFrame:
    """Upsert batch ``b``: even batches are narrow (one year, 1% of its
    keys updated plus 0.2% of its size inserted), odd batches wide (5% of
    all keys updated plus 0.5% inserted).  Updated rows keep their key's
    year; inserted keys start at ``next_key``."""
    g = np.random.default_rng([seed, 2, b])
    if b % 2 == 0:
        years = np.sort(current["order_year"].unique())
        year = years[g.integers(0, len(years))]
        pool = current.index[current["order_year"].to_numpy() == year]
        n_upd, n_ins = max(1, len(pool) // 100), max(1, len(pool) // 500)
        start = np.datetime64(f"{year}-01-01", "D")
        span = int((np.datetime64(f"{year + 1}-01-01", "D") - start).astype(int))
        ins_days = (start - _DAY0).astype(int) + g.integers(0, span, n_ins)
    else:
        pool = current.index
        n_upd, n_ins = max(1, len(pool) // 20), max(1, len(pool) // 200)
        ins_days = None
    upd = current.loc[g.choice(pool, n_upd, replace=False)].copy()
    upd["o_totalprice"] = g.integers(100_000, 50_000_000, n_upd) / 100.0
    upd["o_orderstatus"] = _STATUS[g.integers(0, 3, n_upd)]
    ins = _orders_frame(g, np.arange(next_key, next_key + n_ins), ins_days)
    return pd.concat([upd, ins], ignore_index=True)[ORDER_COLS]


def apply_batch(current: pd.DataFrame, batch: pd.DataFrame) -> pd.DataFrame:
    """The expected table after upserting ``batch``: an independent
    pandas model of MERGE (update matched keys, insert the rest)."""
    cur = current.set_index("o_orderkey")
    new = batch.set_index("o_orderkey")
    cur = pd.concat([cur.drop(new.index, errors="ignore"), new])
    return cur.reset_index()[ORDER_COLS]


# --------------------------------------------------------------------------
# analytic tables (the program's TABLE_NAMES), sized like the sf0.01 fixture

_WORDS = (
    "a the data table row column key value join merge agg group order line part customer "
    "query scan filter sort window batch stream spark hash vector fast slow big small"
).split()
_LANGS = np.array(["en", "en", "en", "de", "fr", "es", "zh"])


def _write(d: str, name: str, df: pd.DataFrame, schema: pa.Schema) -> None:
    pq.write_table(pa.Table.from_pandas(df, schema=schema, preserve_index=False), os.path.join(d, f"{name}.parquet"))


def tables(seed: int, d: str, scale: float = 1.0) -> None:
    """Write region..embeddings parquet files into ``d``.  ``scale`` 1.0
    matches the sf0.01 fixture's row counts and column domains."""
    g = np.random.default_rng([seed, 3])
    os.makedirs(d, exist_ok=True)
    n_cust, n_supp, n_part = int(1500 * scale), int(100 * scale), int(2000 * scale)
    n_ord, n_li, n_ev, n_docs, n_emb = int(15000 * scale), int(60000 * scale), int(10000 * scale), 500, 500
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(d, "region", pd.DataFrame({"r_regionkey": np.arange(5), "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]}),
           pa.schema([("r_regionkey", i32), ("r_name", s)]))
    _write(d, "nation", pd.DataFrame({"n_nationkey": np.arange(25), "n_name": [f"NATION_{i}" for i in range(25)], "n_regionkey": np.arange(25) % 5}),
           pa.schema([("n_nationkey", i32), ("n_name", s), ("n_regionkey", i32)]))
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    _write(d, "customer", pd.DataFrame({
        "c_custkey": np.arange(n_cust), "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust), "c_acctbal": g.integers(-99_999, 999_999, n_cust) / 100.0,
        "c_mktsegment": segs[g.integers(0, 5, n_cust)]}),
        pa.schema([("c_custkey", i64), ("c_name", s), ("c_nationkey", i32), ("c_acctbal", f64), ("c_mktsegment", s)]))
    _write(d, "supplier", pd.DataFrame({
        "s_suppkey": np.arange(n_supp), "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp), "s_acctbal": g.integers(-99_999, 999_999, n_supp) / 100.0}),
        pa.schema([("s_suppkey", i64), ("s_name", s), ("s_nationkey", i32), ("s_acctbal", f64)]))
    adj = np.array(["small", "red", "blue", "green", "large", "shiny"])
    noun = np.array(["ring", "widget", "bolt", "gear", "panel", "valve"])
    ptype = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM"])
    _write(d, "part", pd.DataFrame({
        "p_partkey": np.arange(n_part),
        "p_name": np.char.add(np.char.add(adj[g.integers(0, 6, n_part)], " "), noun[g.integers(0, 6, n_part)]),
        "p_brand": np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)),
        "p_type": ptype[g.integers(0, 5, n_part)], "p_size": g.integers(1, 51, n_part),
        "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0}),
        pa.schema([("p_partkey", i64), ("p_name", s), ("p_brand", s), ("p_type", s), ("p_size", i32), ("p_retailprice", f64)]))
    o = _orders_frame(g, np.arange(n_ord)).drop(columns="order_year")
    o["o_custkey"] = g.integers(0, n_cust, n_ord)
    _write(d, "orders", o, pa.schema([("o_orderkey", i64), ("o_custkey", i64), ("o_orderstatus", s), ("o_totalprice", f64), ("o_orderdate", ts), ("o_orderpriority", s)]))
    ship = _DAY0 + g.integers(1, _N_DAYS, n_li).astype("timedelta64[D]")
    _write(d, "lineitem", pd.DataFrame({
        "l_orderkey": g.integers(0, n_ord, n_li), "l_partkey": g.integers(0, n_part, n_li),
        "l_suppkey": g.integers(0, n_supp, n_li), "l_linenumber": g.integers(1, 8, n_li),
        "l_quantity": g.integers(1, 51, n_li).astype(float), "l_extendedprice": g.integers(90_000, 10_000_000, n_li) / 100.0,
        "l_discount": g.integers(0, 11, n_li) / 100.0, "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[g.integers(0, 3, n_li)], "l_linestatus": np.array(["F", "O"])[g.integers(0, 2, n_li)],
        "l_shipdate": ship.astype("datetime64[us]")}),
        pa.schema([("l_orderkey", i64), ("l_partkey", i64), ("l_suppkey", i64), ("l_linenumber", i32), ("l_quantity", f64),
                   ("l_extendedprice", f64), ("l_discount", f64), ("l_tax", f64), ("l_returnflag", s), ("l_linestatus", s), ("l_shipdate", ts)]))
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = t0 + np.sort(g.integers(0, 30 * 86_400_000_000, n_ev)).astype("timedelta64[us]")
    _write(d, "events", pd.DataFrame({
        "event_id": np.arange(n_ev), "ts": ev_ts, "user_id": g.integers(0, 150, n_ev),
        "event_type": np.array(["click", "signup", "error", "view", "purchase"])[g.integers(0, 5, n_ev)],
        "value": g.integers(1, 49_002, n_ev) / 100.0, "props": [f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]}),
        pa.schema([("event_id", i64), ("ts", ts), ("user_id", i64), ("event_type", s), ("value", f64), ("props", s)]))
    # documents: every tenth is a near-copy of the original nine places
    # before it (a few words swapped), so the dedup keys find the same
    # cluster structure under every seed
    texts = []
    for i in range(n_docs):
        if i % 10 == 9:
            w = texts[i - 9].split()
            for _ in range(2):
                w[int(g.integers(0, len(w)))] = _WORDS[int(g.integers(0, len(_WORDS)))]
        else:
            w = [_WORDS[k] for k in g.integers(0, len(_WORDS), int(g.integers(10, 100)))]
        texts.append(" ".join(w))
    _write(d, "documents", pd.DataFrame({
        "doc_id": np.arange(n_docs), "text": texts, "lang": _LANGS[g.integers(0, len(_LANGS), n_docs)],
        "source": [f"src{k}" for k in g.integers(0, 20, n_docs)], "n_chars": [len(t) for t in texts]}),
        pa.schema([("doc_id", i64), ("text", s), ("lang", s), ("source", s), ("n_chars", i64)]))
    centers = g.normal(0, 1, (10, 64))
    labels = g.integers(0, 10, n_emb)
    vecs = (centers[labels] + g.normal(0, 0.8, (n_emb, 64))) / 8.0
    _write(d, "embeddings", pd.DataFrame({"vec_id": np.arange(n_emb), "embedding": list(vecs.astype(np.float32)), "label": labels}),
           pa.schema([("vec_id", i64), ("embedding", pa.list_(pa.float32())), ("label", i32)]))
