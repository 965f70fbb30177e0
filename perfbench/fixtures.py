"""Seeded, benchmark-owned inputs.

Everything the program reads is generated here from ``--seed`` with
NumPy and written with pyarrow, so the same seed gives byte-identical
files and a content hash in the run record proves it. The shapes follow
the synthetic star schema of TESTDATA.md and the reference's bronze and
tick records (FIXTURES.md); sizes scale with ``sf`` the way those tables
do (sf0.1 = 600k lineitem rows).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
SEGMENTS = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO"]
TICKERS = ["BP", "COP", "SHEL", "XOM"]
NEWS_SITES = ["wnp.pl", "wysokienapiecie.pl", "beurs.nl", "cbsnews", "reuters", "ft"]

_EPOCH = np.datetime64("1970-01-01", "D")


def _days(start: str, end: str) -> tuple[int, int]:
    lo = (np.datetime64(start, "D") - _EPOCH).astype(int)
    hi = (np.datetime64(end, "D") - _EPOCH).astype(int)
    return int(lo), int(hi)


def _ts_days(rng, n: int, start: str, end: str) -> pa.Array:
    lo, hi = _days(start, end)
    us = rng.integers(lo, hi + 1, n).astype("int64") * 86_400_000_000
    return pa.array(us, pa.timestamp("us"))


def _pick(rng, vocab: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(vocab), n, p=p)
    return pa.DictionaryArray.from_arrays(
        pa.array(idx, pa.int32()), pa.array(vocab)
    ).cast(pa.string())


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _numbered(fmt: str, n: int) -> pa.Array:
    return pa.array([fmt % i for i in range(n)])


def star_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """TPC-H-ish tables plus events: the analyst/dashboard inputs."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_users = max(100, int(15_000 * sf))
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS),
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype="int64")),
        "c_name": _numbered("Customer#%09d", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("int32")),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _pick(rng, SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype="int64")),
        "s_name": _numbered("Supplier#%09d", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("int32")),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    pk = np.arange(n_part, dtype="int64")
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": _pick(rng, names, n_part),
        "p_brand": _pick(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _pick(rng, PART_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("int32")),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 2)),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype="int64")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype("int64")),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
        "o_orderdate": _ts_days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": _pick(rng, PRIORITIES, n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype("int64")),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line).astype("int64")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype("int64")),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype("int32")),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype("float64")),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
        "l_linestatus": _pick(rng, ["O", "F"], n_line),
        "l_shipdate": _ts_days(rng, n_line, "1995-01-02", "2001-11-04"),
    })
    start_us = 1_704_067_200_000_000  # 2024-01-01
    span_us = 30 * 86_400_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)) + start_us
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype="int64")),
        "ts": pa.array(ts.astype("int64"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev).astype("int64")),
        "event_type": _pick(rng, EVENT_TYPES, n_ev),
        "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
    })
    return t


def corpus_tables(seed: int, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """Documents (with exact and near duplicates) and unit embeddings.

    The corpus's shape (document lengths and languages, which documents
    duplicate which) is the same for every seed, so every seed gives the
    dedup operators the same amount of work; the seed draws the words
    and the vectors. The embedding ids are a seeded permutation, so which
    vectors the ANN queries use as their queries (the lowest ids) is
    seed-derived."""
    rng = np.random.default_rng([seed, 2])
    shape = np.random.default_rng([n_docs, 2])
    texts: list[str] = []
    for i in range(n_docs):
        r = shape.random()
        if i > 10 and r < 0.05:  # near duplicate of an earlier doc
            texts.append(texts[int(shape.integers(0, i))] + " dup")
        elif i > 10 and r < 0.052:  # exact duplicate
            texts.append(texts[int(shape.integers(0, i))])
        else:
            n = int(shape.integers(10, 101))
            texts.append(" ".join(rng.choice(WORDS, n)))
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype="int64")),
        "text": pa.array(texts),
        "lang": _pick(shape, LANGS, n_docs, p=LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(s) for s in texts], pa.int64()),
    })
    v = rng.standard_normal((n_vecs, 64)).astype("float32")
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(rng.permutation(n_vecs).astype("int64")),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype("int32")),
    })
    return {"documents": docs, "embeddings": emb}


def bronze_tables(seed: int, n_dumps: int, updates_per_dump: int,
                  n_news: int) -> dict[str, pa.Table]:
    """The reference's bronze layer: nested yfinance dumps (one array of
    update structs per ticker; consecutive dumps overlap, and every
    tenth dump is landed twice, so silver has duplicates to drop) and
    scraped news (with exact duplicate rows)."""
    rng = np.random.default_rng([seed, 3])
    upd_t = pa.struct([
        ("price", pa.float64()), ("volume", pa.int64()),
        ("volatility", pa.float64()), ("bid_ask_spread", pa.float64()),
        ("market_sentiment", pa.float64()), ("trading_activity", pa.float64()),
        ("timestamp", pa.string()), ("source", pa.string()),
    ])
    t0 = dt.datetime(2024, 1, 1)
    cols: dict[str, list] = {"timestamp": []}
    pools = {}
    for tk in TICKERS:
        n = n_dumps * updates_per_dump
        base = float(rng.uniform(50, 150))
        pools[tk] = [
            {
                "price": round(base + float(p), 4),
                "volume": int(vol),
                "volatility": round(float(vl), 4),
                "bid_ask_spread": round(float(sp), 4),
                "market_sentiment": round(float(se), 4),
                "trading_activity": round(float(ac), 4),
                "timestamp": (t0 + dt.timedelta(minutes=7 * j)).isoformat(),
                "source": "real" if j % 3 else "simulated",
            }
            for j, (p, vol, vl, sp, se, ac) in enumerate(zip(
                np.cumsum(rng.normal(0, 0.5, n)), rng.integers(1000, 10**6, n),
                rng.uniform(0.1, 3.0, n), rng.uniform(0.01, 0.5, n),
                rng.uniform(-1, 1, n), rng.uniform(0, 100, n),
            ))
        ]
        cols[f"updates_{tk}"] = []
    step = updates_per_dump * 3 // 4  # 25% overlap between dumps
    for d in range(n_dumps):
        cols["timestamp"].append((t0 + dt.timedelta(minutes=10 * d)).isoformat())
        for tk in TICKERS:
            cols[f"updates_{tk}"].append(
                pools[tk][d * step: d * step + updates_per_dump]
            )
    for d in range(0, n_dumps, 10):  # re-landed dumps: exact duplicates
        for k in cols:
            cols[k].append(cols[k][d])
    yf = pa.table({
        k: pa.array(v) if k == "timestamp" else pa.array(v, pa.list_(upd_t))
        for k, v in cols.items()
    })
    rows = []
    for i in range(n_news):
        if i > 5 and rng.random() < 0.05:
            rows.append(dict(rows[int(rng.integers(0, i))]))
            continue
        words = list(rng.choice(WORDS, int(rng.integers(5, 30))))
        rows.append({
            "title": f"title {i} {words[0]}",
            "text": " ".join(words),
            "date": (dt.date(2024, 1, 1)
                     + dt.timedelta(days=int(rng.integers(0, 60)))).isoformat(),
            "keywords": [str(w) for w in rng.choice(WORDS, int(rng.integers(0, 5)))],
            "is_premium": bool(rng.random() < 0.2),
            "source_site": NEWS_SITES[int(rng.integers(0, len(NEWS_SITES)))],
            "url": f"https://example.invalid/{i}",
            "random": str(int(rng.integers(0, 1_000_001))),
        })
    news = pa.Table.from_pylist(rows, schema=pa.schema([
        ("title", pa.string()), ("text", pa.string()), ("date", pa.string()),
        ("keywords", pa.list_(pa.string())), ("is_premium", pa.bool_()),
        ("source_site", pa.string()), ("url", pa.string()),
        ("random", pa.string()),
    ]))
    return {"bronze_yf": yf, "bronze_news": news}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """Write each table as ``<name>.parquet`` and return a content hash
    over the written bytes (same seed, same pyarrow -> same hash)."""
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name in sorted(tables):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(tables[name], path)
        h.update(name.encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


class TickFeed:
    """Deterministic tick records for the streaming app.

    Tick ``i`` belongs to symbol ``TICKERS[i % 4]`` and carries event
    time ``start_ms + (i // 4) * step_ms`` (all in the past, so the
    pipeline's no-future gate admits them); prices are a seeded random
    walk per symbol. ``lines(a, b)`` renders ticks [a, b) as the JSON
    lines a Kafka topic dump would hold."""

    def __init__(self, seed: int, n: int, start_ms: int = 1_704_067_200_000,
                 step_ms: int = 1000):
        rng = np.random.default_rng([seed, 4])
        self.n, self.start_ms, self.step_ms = n, start_ms, step_ms
        walk = np.cumsum(rng.normal(0, 0.05, n)).round(4)
        base = np.array([100.0, 80.0, 60.0, 120.0])[np.arange(n) % 4]
        self.price = (base + walk).round(4)
        self.volume = rng.integers(1000, 100_000, n).astype("float64")
        self.volatility = rng.uniform(0.1, 3.0, n).round(4)
        self.sentiment = rng.uniform(-1.0, 1.0, n).round(4)
        self.activity = rng.uniform(0.0, 100.0, n).round(4)

    def symbol(self, i: int) -> str:
        return TICKERS[i % 4]

    def ts(self, i: int) -> int:
        return self.start_ms + (i // 4) * self.step_ms

    def lines(self, a: int, b: int) -> str:
        out = []
        for i in range(a, b):
            out.append(json.dumps({
                "symbol": self.symbol(i), "timestamp": self.ts(i),
                "source": "YLIFE_FEED", "data_type": "MARKET_DATA",
                "bid": -1.0, "ask": -1.0, "price": float(self.price[i]),
                "volume": float(self.volume[i]), "spread_raw": -1.0,
                "spread_table": -1.0, "volatility": float(self.volatility[i]),
                "market_sentiment": float(self.sentiment[i]),
                "trading_activity": float(self.activity[i]),
            }))
        return "\n".join(out) + "\n"

    def digest(self) -> str:
        h = hashlib.sha256()
        for a in (self.price, self.volume, self.volatility, self.sentiment,
                  self.activity):
            h.update(a.tobytes())
        h.update(f"{self.n}:{self.start_ms}:{self.step_ms}".encode())
        return h.hexdigest()[:16]

    def window_averages(self, symbol: str, idx: range,
                        window_ms: int = 600_000) -> dict[int, float]:
        """Per 10-minute event-time window (start, epoch ms): the mean
        price of ``symbol``'s ticks among ``idx`` — the label the
        backfiller must publish."""
        sums: dict[int, list[float]] = {}
        for i in idx:
            if self.symbol(i) == symbol:
                w = self.ts(i) // window_ms * window_ms
                sums.setdefault(w, []).append(float(self.price[i]))
        return {w: sum(v) / len(v) for w, v in sums.items()}
