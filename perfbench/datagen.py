"""Seeded synthetic inputs for the benchmark.

Writes the four source tables the engine's views and curation jobs read
(``lineitem``, ``events``, ``documents``, ``embeddings``) as parquet, in
the same schemas as the TPC-H-ish test data the package documents
(TESTDATA.md, FIXTURES.md), and builds the ingest batches.  The same seed
gives byte-identical tables; sizes are fixed constants, only values vary
with the seed, so runs on different seeds do the same amount of work.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

NS = 10**9
DAY_NS = 86_400 * NS

#: lineitem rows → 3 metric series families (price/qty/disc) × 6 tag sets
N_LINEITEM = 30_000
LI_FIRST_DAY = dt.date(1996, 1, 1)
LI_DAYS = 731  # 1996-01-01 .. 1997-12-31

#: events rows → app.<type> series with tag user=user_id%8 (40 series)
N_EVENTS = 20_000
EV_START = dt.datetime(2024, 1, 1)
EV_SPAN_S = 28 * 86_400  # four whole weeks: 2024-01-01 .. 2024-01-29
EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 150

N_DOCS = 400
N_VECS = 400
VEC_DIM = 64

_WORDS = (
    "the a of and to in is for on with data table value row column scan "
    "query join group sort merge hash key part order line customer spark "
    "stream batch window filter agg fast slow big small vector index"
).split()


def epoch_ns(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp()) * NS


EV_START_NS = epoch_ns(EV_START)
EV_END_NS = EV_START_NS + EV_SPAN_S * NS
LI_START_NS = epoch_ns(dt.datetime.combine(LI_FIRST_DAY, dt.time()))
LI_END_NS = LI_START_NS + LI_DAYS * DAY_NS


def _lineitem(rng: np.random.Generator) -> pa.Table:
    n = N_LINEITEM
    qty = rng.integers(1, 51, n).astype("float64")
    price = np.round(qty * rng.uniform(900.0, 2100.0, n), 2)
    days = rng.integers(0, LI_DAYS, n)
    ship = np.datetime64(LI_FIRST_DAY, "us") + days.astype("timedelta64[D]")
    return pa.table({
        "l_orderkey": rng.integers(0, n // 4, n),
        "l_partkey": rng.integers(0, 2000, n),
        "l_suppkey": rng.integers(0, 100, n),
        "l_linenumber": rng.integers(1, 8, n).astype("int32"),
        "l_quantity": qty,
        "l_extendedprice": price,
        "l_discount": np.round(rng.integers(0, 11, n) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n),
        "l_linestatus": rng.choice(np.array(["F", "O"]), n),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    })


def _events(rng: np.random.Generator) -> pa.Table:
    n = N_EVENTS
    # distinct µs offsets, sorted: event time is the stream's arrival order
    offs = np.sort(rng.choice(EV_SPAN_S * 1_000_000, n, replace=False))
    ts = np.datetime64(EV_START, "us") + offs.astype("timedelta64[us]")
    return pa.table({
        "event_id": np.arange(n, dtype="int64"),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": rng.integers(0, N_USERS, n),
        "event_type": rng.choice(np.array(EVENT_TYPES), n),
        "value": np.round(rng.exponential(50.0, n) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n)],
    })


def _documents(rng: np.random.Generator) -> pa.Table:
    """Word-salad documents with planted exact and near duplicates, so
    every dedup job has pairs to find."""
    texts: list[str] = []
    for i in range(N_DOCS):
        if i >= 20 and i % 10 == 0:  # exact copy of an earlier doc
            texts.append(texts[int(rng.integers(0, i))])
        elif i >= 20 and i % 10 == 5:  # near copy: a few words changed
            ws = texts[int(rng.integers(0, i))].split(" ")
            for j in rng.integers(0, len(ws), max(1, len(ws) // 25)):
                ws[j] = _WORDS[int(rng.integers(0, len(_WORDS)))]
            texts.append(" ".join(ws))
        else:
            k = int(rng.integers(20, 90))
            texts.append(" ".join(_WORDS[j] for j in rng.integers(0, len(_WORDS), k)))
    return pa.table({
        "doc_id": np.arange(N_DOCS, dtype="int64"),
        "text": texts,
        "lang": rng.choice(np.array(["en", "de", "fr", "es", "it"]), N_DOCS),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, N_DOCS)],
        "n_chars": np.array([len(t) for t in texts], dtype="int64"),
    })


def _embeddings(rng: np.random.Generator) -> pa.Table:
    centers = rng.normal(size=(8, VEC_DIM))
    label = rng.integers(0, 8, N_VECS)
    v = centers[label] + 0.6 * rng.normal(size=(N_VECS, VEC_DIM))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype("float32")
    return pa.table({
        "vec_id": np.arange(N_VECS, dtype="int64"),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": label.astype("int32"),
    })


def write_tables(seed: int, out_dir: str) -> None:
    """Write the four source tables for ``seed`` under ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    makers = (("lineitem", _lineitem), ("events", _events),
              ("documents", _documents), ("embeddings", _embeddings))
    for i, (name, make) in enumerate(makers):
        rng = np.random.default_rng([seed, i])
        pq.write_table(make(rng), os.path.join(out_dir, f"{name}.parquet"))


def ingest_batch(seed: int, k: int, n: int) -> list[tuple]:
    """Batch ``k`` (≥ 1) of ``n`` new ``app.*`` samples in engine schema
    rows ``(series, metric, ts_ns, value)``, covering the k-th hour after
    the generated events end.  Timestamps are distinct within a batch and
    batches never overlap, so every appended point is new."""
    rng = np.random.default_rng([seed, 100 + k])
    lo = EV_END_NS + (k - 1) * 3600 * NS
    ts = lo + np.sort(rng.choice(3600 * 1_000_000, n, replace=False)) * 1000
    types = rng.choice(np.array(EVENT_TYPES), n)
    users = rng.integers(0, 8, n)
    vals = np.round(rng.exponential(50.0, n) + 0.01, 2)
    return [
        (f"app.{t} user={u}", f"app.{t}", int(t_ns), float(v))
        for t, u, t_ns, v in zip(types, users, ts, vals)
    ]


def batch_range(k: int) -> tuple[int, int]:
    lo = EV_END_NS + (k - 1) * 3600 * NS
    return lo, lo + 3600 * NS
