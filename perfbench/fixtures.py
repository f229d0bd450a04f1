"""Seeded fixture generator for the benchmark.

The benchmark runs from a bare checkout, so it makes its own inputs: the
ten tables of the engine's star schema (``eclypsium_etl_spark.schemas``)
with the same domains, key shapes and text/embedding structure as the
engine's reference fixtures, and a sharded "10x" corpus derived from them.

``base(out, sf, seed)`` writes one scale factor. Row counts follow the
reference fixtures: lineitem 6M x sf, orders 1.5M x sf, events 1M x sf,
documents/embeddings never fewer than 500.

``sharded(src, out, n_shards, seed)`` writes ``n_shards`` decorrelated
copies of a base fixture:

- documents: shard k maps every token ``w`` to ``f"{w}k{k}"`` (a
  vocabulary bijection), so each shard keeps the base corpus's shingle
  and duplicate structure while cross-shard overlap is zero;
- embeddings: shard k applies one random orthogonal rotation, which keeps
  every intra-shard cosine and sends cross-shard cosines towards 0;
- events: shard k gets a disjoint user range and fresh event ids on the
  original timeline;
- customer: shard k maps the digits of ``c_name`` into a disjoint
  alphabet and offsets ``c_custkey`` by a span that keeps every %30
  residue;
- lineitem/orders: shard k offsets both order keys by ONE shared span,
  so every shard's line items still join to that shard's orders;
- region/nation/supplier/part stay 1x (lookup dimensions).

The seed drives every random draw, so the same seed gives byte-identical
parquet. Each output directory is built aside and renamed into place with
a ``_SUCCESS`` marker, so an interrupted build is never read.
"""

from __future__ import annotations

import os
import shutil
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
_LANGS = ["en", "es", "de", "fr", "zh"]
_LANG_P = [0.40, 0.15, 0.15, 0.15, 0.15]
_DUP_SHARE = 0.05  # documents that are a near-copy ("<text> dup") of another
_DIM = 64


def is_built(path: str) -> bool:
    return os.path.exists(os.path.join(path, "_SUCCESS"))


def _write(df: pd.DataFrame, path: str) -> None:
    # one file, one row group, timestamps as naive microseconds: the
    # physical layout of the reference fixtures
    table = pa.Table.from_pandas(df, preserve_index=False)
    pq.write_table(table, path, row_group_size=max(1, len(df)))


def _days(rng, n: int, start: str, end: str) -> np.ndarray:
    lo = np.datetime64(start, "D")
    span = int((np.datetime64(end, "D") - lo).astype(int))
    return (lo + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _tables(sf: float, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    n_cust = max(150, round(150_000 * sf))
    n_supp = max(10, round(10_000 * sf))
    n_part = max(200, round(200_000 * sf))
    n_ord = max(1_500, round(1_500_000 * sf))
    n_line = max(6_000, round(6_000_000 * sf))
    n_ev = max(1_000, round(1_000_000 * sf))
    n_users = max(15, round(15_000 * sf))
    n_docs = max(500, round(50_000 * sf))
    n_emb = max(500, round(20_000 * sf))

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pd.DataFrame({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    })
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
    })
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pd.DataFrame({
        "p_partkey": pk,
        "p_name": [
            f"{_ADJ[a]} {_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_ev))
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]"),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    vocab = np.array(_VOCAB)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 100))])
        for _ in range(n_docs)
    ]
    is_dup = rng.random(n_docs) < _DUP_SHARE
    originals = np.flatnonzero(~is_dup)
    for i in np.flatnonzero(is_dup):
        texts[i] = texts[originals[rng.integers(0, len(originals))]] + " dup"
    ids = np.arange(n_docs, dtype=np.int64)
    t["documents"] = pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": rng.choice(_LANGS, n_docs, p=_LANG_P),
        "source": [f"src{i % 20}" for i in ids],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    vecs = rng.standard_normal((n_emb, _DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vecs),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def _shards(src: str, n_shards: int, seed: int) -> dict[str, pd.DataFrame]:
    rng = np.random.default_rng(seed)
    read = lambda name: pd.read_parquet(f"{src}/{name}.parquet")  # noqa: E731
    out: dict[str, pd.DataFrame] = {}

    docs = read("documents")
    parts = [docs]
    for k in range(1, n_shards):
        d = docs.copy()
        d["text"] = d["text"].map(
            lambda s, k=k: " ".join(f"{w}k{k}" for w in s.split(" "))
        )
        d["doc_id"] = d["doc_id"] + len(docs) * k
        d["n_chars"] = d["text"].str.len().astype(np.int64)
        parts.append(d)
    out["documents"] = pd.concat(parts, ignore_index=True)

    emb = read("embeddings")
    mat = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    parts = [emb]
    for k in range(1, n_shards):
        q, _ = np.linalg.qr(rng.standard_normal((_DIM, _DIM)))
        e = emb.copy()
        e["embedding"] = list((mat @ q).astype(np.float32))
        e["vec_id"] = e["vec_id"] + len(emb) * k
        parts.append(e)
    out["embeddings"] = pd.concat(parts, ignore_index=True)

    ev = read("events")
    user_span = int(ev["user_id"].max()) + 1
    event_span = int(ev["event_id"].max()) + 1
    parts = [ev]
    for k in range(1, n_shards):
        e = ev.copy()
        e["user_id"] = e["user_id"] + user_span * k
        e["event_id"] = e["event_id"] + event_span * k
        parts.append(e)
    # keep the file in event-time order, like a replayed log
    out["events"] = pd.concat(parts, ignore_index=True).sort_values(
        ["ts", "event_id"], kind="stable", ignore_index=True
    )

    cust = read("customer")
    span = (int(cust["c_custkey"].max()) // 30 + 1) * 30
    parts = [cust]
    for k in range(1, n_shards):
        c = cust.copy()
        trans = str.maketrans(
            {str(d): chr(0x100 + (k - 1) * 10 + d) for d in range(10)}
        )
        c["c_name"] = c["c_name"].str.translate(trans)
        c["c_custkey"] = c["c_custkey"] + span * k
        parts.append(c)
    out["customer"] = pd.concat(parts, ignore_index=True)

    orders, lines = read("orders"), read("lineitem")
    key_span = int(max(orders["o_orderkey"].max(), lines["l_orderkey"].max())) + 1
    for name, frame, key in (
        ("orders", orders, "o_orderkey"), ("lineitem", lines, "l_orderkey"),
    ):
        parts = [frame]
        for k in range(1, n_shards):
            f = frame.copy()
            f[key] = f[key] + key_span * k
            if name == "orders":
                f["o_custkey"] = f["o_custkey"] + span * k
            parts.append(f)
        out[name] = pd.concat(parts, ignore_index=True)
    for name in ("region", "nation", "supplier", "part"):
        out[name] = read(name)
    return out


def _build(out: str, make) -> str:
    if is_built(out):
        return out
    os.makedirs(os.path.dirname(out), exist_ok=True)
    tmp = f"{out}.tmp-{os.getpid()}-{uuid.uuid4().hex[:8]}"
    os.makedirs(tmp)
    try:
        for name, df in make().items():
            _write(df, f"{tmp}/{name}.parquet")
        open(f"{tmp}/_SUCCESS", "w").close()
        try:
            os.rename(tmp, out)
        except OSError:
            if not is_built(out):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out


def base(out: str, sf: float, seed: int) -> str:
    """Write (once) the ten tables at scale factor ``sf`` under ``out``."""
    return _build(out, lambda: _tables(sf, seed))


def sharded(src: str, out: str, n_shards: int, seed: int) -> str:
    """Write (once) ``n_shards`` decorrelated copies of the fixture at ``src``."""
    return _build(out, lambda: _shards(src, n_shards, seed))
