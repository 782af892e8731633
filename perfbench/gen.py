"""Seeded input generator for the benchmark's three workloads.

Every table is written as one parquet file per table under the run's data
directory, in the same schemas the query registry reads (catalog.TABLE_NAMES).
The same ``(workload, seed, scale)`` always yields the same values.
Only numpy, pyarrow and the standard library are used: the program under
test never sees anything but the files.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Generator parameters per workload and scale. ``full`` is what the timed
#: runs use; ``tiny`` is the smoke check's size.
PARAMS = {
    "ingest_hourly": {
        "full": {"symbols": 3, "hours": 6, "poll_s": 5},
        "tiny": {"symbols": 2, "hours": 3, "poll_s": 5},
    },
    "star_analytics": {
        "full": {"customers": 1500, "suppliers": 100, "parts": 2000,
                 "orders": 15000, "events": 10000},
        "tiny": {"customers": 150, "suppliers": 10, "parts": 200,
                 "orders": 1500, "events": 1000},
    },
    "dedup_curation": {
        "full": {"documents": 200, "embeddings": 600, "near_dup_share": 0.3,
                 "exact_dup_share": 0.05, "dim": 64},
        "tiny": {"documents": 120, "embeddings": 120, "near_dup_share": 0.3,
                 "exact_dup_share": 0.05, "dim": 64},
    },
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "hot", "old", "red", "small", "green", "big", "cold"]
PART_NOUN = ["bolt", "gear", "gizmo", "ring", "widget", "nut", "pipe", "valve"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
SYMBOLS = ["BTC", "ETH", "SOL", "ADA", "XRP"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.6, 0.1, 0.1, 0.1, 0.1]

EPOCH = dt.datetime(1970, 1, 1)
ORDER_START = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404  # through 2001-08-01, so o_orderdate + 29 years stays in 2024-2030
EVENTS_START = dt.datetime(2024, 1, 1)
#: Ticks start three hours before midnight, so the bronze and silver writes
#: always touch at least two date partitions.
TICKS_START = dt.datetime(2024, 1, 1, 21)


def _us(t: dt.datetime) -> int:
    return (t - EPOCH) // dt.timedelta(microseconds=1)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.int64()).cast(pa.timestamp("us"))


def _money(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def _write(out_dir: str, name: str, cols: dict) -> int:
    tbl = pa.table(cols)
    pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return tbl.num_rows


def _events(rng, n: int) -> dict:
    """Events over 30 days of 2024 from 150 users, with distinct timestamps
    (ts ties would make arg_min/arg_max and as-of joins order-dependent)."""
    span = 30 * 86_400_000_000
    ts = np.sort(rng.choice(span, size=n, replace=False)) + _us(EVENTS_START)
    et = rng.integers(0, len(EVENT_TYPES), n)
    value = _money(rng.uniform(0.01, 490.0, n))
    return {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, 150, n).astype("int64")),
        "event_type": pa.array([EVENT_TYPES[i] for i in et]),
        "value": pa.array(value),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    }


def gen_ingest_hourly(rng, out: str, p: dict) -> dict:
    """Tick stream: each symbol polled every ``poll_s`` seconds (jittered
    inside its slot, so timestamps never tie) for ``hours`` hours, prices a
    positive random walk — the reference collector's raw_prices feed,
    events-shaped (event_type = symbol, value = price)."""
    n_sym, hours, poll = p["symbols"], p["hours"], p["poll_s"]
    slots = hours * 3600 // poll
    rows_ts, rows_sym, rows_val = [], [], []
    slot_us = poll * 1_000_000
    for s in range(n_sym):
        base = _us(TICKS_START) + np.arange(slots, dtype="int64") * slot_us
        # symbol s polls in its own sub-slot, so ts is distinct across symbols
        width = slot_us // n_sym
        jitter = rng.integers(0, width, slots) + s * width
        steps = rng.normal(0.0, 0.002, slots)
        price = _money((100.0 * (s + 1) ** 2) * np.exp(np.cumsum(steps)))
        rows_ts.append(base + jitter)
        rows_sym.append(np.full(slots, s))
        rows_val.append(np.maximum(price, 0.01))
    ts = np.concatenate(rows_ts)
    order = np.argsort(ts, kind="stable")
    ts = ts[order]
    sym = np.concatenate(rows_sym)[order]
    val = np.concatenate(rows_val)[order]
    n = len(ts)
    _write(out, "events", {
        "event_id": pa.array(np.arange(n, dtype="int64")),
        "ts": _ts(ts),
        "user_id": pa.array(sym.astype("int64")),
        "event_type": pa.array([SYMBOLS[i] for i in sym]),
        "value": pa.array(val),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
    })
    return {"events": n}


def gen_star_analytics(rng, out: str, p: dict) -> dict:
    """TPC-H-shaped star schema plus events, every foreign key drawn from
    the referenced table's key range so joins are non-empty."""
    nc, ns, npart, no = p["customers"], p["suppliers"], p["parts"], p["orders"]
    counts = {}
    counts["region"] = _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype="int32")),
        "r_name": pa.array(REGIONS),
    })
    counts["nation"] = _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="int32")),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype("int32")),
    })
    counts["customer"] = _write(out, "customer", {
        "c_custkey": pa.array(np.arange(nc, dtype="int64")),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
        "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
        "c_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, nc))),
        "c_mktsegment": pa.array([SEGMENTS[i] for i in rng.integers(0, 5, nc)]),
    })
    counts["supplier"] = _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
        "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
        "s_acctbal": pa.array(_money(rng.uniform(-999.99, 9999.99, ns))),
    })
    counts["part"] = _write(out, "part", {
        "p_partkey": pa.array(np.arange(npart, dtype="int64")),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, 8, npart), rng.integers(0, 8, npart))]),
        "p_brand": pa.array([f"Brand#{i}" for i in rng.integers(1, 26, npart)]),
        "p_type": pa.array([PART_TYPES[i] for i in rng.integers(0, 6, npart)]),
        "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2)),
    })
    day_us = 86_400_000_000
    odate = _us(ORDER_START) + rng.integers(0, ORDER_DAYS, no) * day_us
    counts["orders"] = _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(no, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in rng.integers(0, 3, no)]),
        "o_totalprice": pa.array(_money(rng.uniform(1000.0, 500000.0, no))),
        "o_orderdate": _ts(odate),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in rng.integers(0, 5, no)]),
    })
    lines = rng.integers(1, 8, no)
    lkey = np.repeat(np.arange(no, dtype="int64"), lines)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    nl = len(lkey)
    qty = rng.integers(1, 51, nl).astype("float64")
    pkey = rng.integers(0, npart, nl).astype("int64")
    ship = odate[lkey] + rng.integers(1, 122, nl) * day_us
    counts["lineitem"] = _write(out, "lineitem", {
        "l_orderkey": pa.array(lkey),
        "l_partkey": pa.array(pkey),
        "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_money(qty * (900.0 + (pkey % 1000) / 10.0)
                                           * rng.uniform(0.95, 2.1, nl))),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": pa.array([("A", "N", "R")[i] for i in rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array([("F", "O")[i] for i in rng.integers(0, 2, nl)]),
        "l_shipdate": _ts(ship),
    })
    counts["events"] = _write(out, "events", _events(rng, p["events"]))
    return counts


def _vocab(rng, size: int) -> list[str]:
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = set()
    while len(words) < size:
        k = int(rng.integers(2, 9))
        words.add("".join(rng.choice(letters, k)))
    return sorted(words)


def gen_dedup_curation(rng, out: str, p: dict) -> dict:
    """Documents with planted near-duplicate clusters and exact copies, and
    embeddings with planted near-duplicate vectors.

    ``near_dup_share`` of the documents are edited copies of an earlier
    base document (1 token in 40 replaced, so token-set Jaccard stays at or
    above ~0.9 and shingle Jaccard near 0.8): that share is the candidate
    volume the similarity joins must verify. ``exact_dup_share`` are
    byte-identical copies (the exact-dedup ops' groups). The same
    near-duplicate share of embeddings are a base vector plus small noise.
    """
    nd, ne, dim = p["documents"], p["embeddings"], p["dim"]
    vocab = _vocab(rng, 3000)
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 1.05
    zipf /= zipf.sum()
    kind = rng.choice(3, size=nd, p=[1 - p["near_dup_share"] - p["exact_dup_share"],
                                     p["near_dup_share"], p["exact_dup_share"]])
    kind[0] = 0
    texts: list[str] = []
    bases: list[int] = []
    for i in range(nd):
        if kind[i] == 0 or not bases:
            n_tok = int(rng.integers(10, 90))
            toks = list(rng.choice(len(vocab), n_tok, p=zipf))
            texts.append(" ".join(vocab[t] for t in toks))
            bases.append(i)
            continue
        src = texts[bases[int(rng.integers(0, len(bases)))]]
        if kind[i] == 2:
            texts.append(src)
            continue
        toks = src.split(" ")
        for j in range(len(toks)):
            if rng.random() < 0.025:
                toks[j] = vocab[int(rng.integers(0, len(vocab)))]
        texts.append(" ".join(toks))
    _write(out, "documents", {
        "doc_id": pa.array(np.arange(nd, dtype="int64")),
        "text": pa.array(texts),
        "lang": pa.array([LANGS[i] for i in rng.choice(5, nd, p=LANG_P)]),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, nd)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="int64")),
    })
    centers = rng.normal(0.0, 1.0, (10, dim))
    label = rng.integers(0, 10, ne)
    emb = centers[label] * 0.3 + rng.normal(0.0, 1.0, (ne, dim))
    near = rng.random(ne) < p["near_dup_share"]
    near[0] = False
    for i in np.nonzero(near)[0]:
        j = int(rng.integers(0, i))
        emb[i] = emb[j] + rng.normal(0.0, 0.05, dim)
        label[i] = label[j]
    emb /= np.linalg.norm(emb, axis=1, keepdims=True) * 4.0
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(ne, dtype="int64")),
        "embedding": pa.array(list(emb.astype("float32")), type=pa.list_(pa.float32())),
        "label": pa.array(label.astype("int32")),
    })
    return {"documents": nd, "embeddings": ne,
            "near_dup_docs": int((kind == 1).sum()),
            "exact_dup_docs": int((kind == 2).sum()),
            "near_dup_vectors": int(near.sum())}


GENERATORS = {
    "ingest_hourly": gen_ingest_hourly,
    "star_analytics": gen_star_analytics,
    "dedup_curation": gen_dedup_curation,
}


def generate(workload: str, seed: int, out_dir: str, scale: str = "full") -> dict:
    """Write ``workload``'s tables for ``seed`` into ``out_dir``; returns
    row counts and planted-duplicate counts."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    return GENERATORS[workload](rng, out_dir, PARAMS[workload][scale])
