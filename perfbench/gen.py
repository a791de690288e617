"""Seeded input generator for the benchmark.

Writes the same tables, schemas and marginal distributions as
``tools/gen_fixture.py`` (TPC-H-shaped relational tables, a time-sorted
event log with nanosecond timestamps, a planted-duplicate text corpus and
unit-norm 64-dim embeddings), but every random stream is derived from the
``seed`` argument, so a seed fixes the inputs and a new seed gives new
ones.  Sizes are a multiple ``mult`` of the sf0.1 fixture's row counts.
"""

from __future__ import annotations

import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DAY_MS = 86_400_000
HOUR_US = 3_600_000_000

VOCAB = [
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window",
]
ADJS = ["large", "hot", "blue", "small", "cold", "red", "green", "dim"]
NOUNS = ["ring", "bolt", "screw", "plate", "rod", "gear", "cap", "disk"]
TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ETYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_W = [0.148, 0.41, 0.148, 0.147, 0.147]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# sf0.1 row counts; a table's size is round(mult * base)
BASE_ROWS = {
    "supplier": 1_000, "customer": 15_000, "part": 20_000, "orders": 150_000,
    "lineitem": 600_000, "events": 100_000, "documents": 5_000, "embeddings": 2_000,
}


def rng(seed: int, name: str) -> np.random.Generator:
    h = hashlib.md5(f"perfbench:{seed}:{name}".encode()).hexdigest()
    return np.random.default_rng(int(h[:15], 16))


def _days_ms(r, lo_day: str, hi_day: str, n: int) -> np.ndarray:
    lo = np.datetime64(lo_day, "D").astype(np.int64)
    hi = np.datetime64(hi_day, "D").astype(np.int64)
    return r.integers(lo, hi + 1, n) * DAY_MS


def _pick(r, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values)[r.integers(0, len(values), n)])


def row_count(mult: float, name: str) -> int:
    return max(1, round(mult * BASE_ROWS[name]))


def _events(r, n: int, n_users: int, start_us: int, span_us: int) -> dict:
    ts_us = np.sort(r.integers(start_us, start_us + span_us, n))
    return {
        "ts": ts_us,
        "user_id": r.integers(0, n_users, n),
        "event_type": np.array(ETYPES)[r.integers(0, 5, n)],
        "value": np.round(r.exponential(50.0, n), 2),
        "props": [f'{{"k": {k}}}' for k in r.integers(0, 100, n)],
    }


def _events_table(ids, ev: dict) -> pa.Table:
    return pa.table({
        "event_id": pa.array(ids, pa.int64()),
        # TIMESTAMP(NANOS), as in the fixture: the engine's nanos-as-long
        # read path is part of what is measured
        "ts": pa.array(np.asarray(ev["ts"]) * 1000, pa.timestamp("ns")),
        "user_id": pa.array(ev["user_id"], pa.int64()),
        "event_type": pa.array(ev["event_type"]),
        "value": pa.array(ev["value"], pa.float64()),
        "props": pa.array(ev["props"]),
    })


def make_table(name: str, seed: int, mult: float) -> pa.Table:
    r = rng(seed, name)
    n_cust, n_part, n_supp, n_ord = (
        row_count(mult, t) for t in ("customer", "part", "supplier", "orders")
    )
    n = row_count(mult, name) if name in BASE_ROWS else 0
    if name == "region":
        return pa.table({"r_regionkey": pa.array(range(5), pa.int32()), "r_name": REGIONS})
    if name == "nation":
        return pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        })
    if name == "supplier":
        return pa.table({
            "s_suppkey": pa.array(range(n), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n)],
            "s_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "s_acctbal": np.round(r.uniform(-1000, 10000, n), 2),
        })
    if name == "customer":
        return pa.table({
            "c_custkey": pa.array(range(n), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n)],
            "c_nationkey": pa.array(r.integers(0, 25, n), pa.int32()),
            "c_acctbal": np.round(r.uniform(-1000, 10000, n), 2),
            "c_mktsegment": _pick(r, SEGMENTS, n),
        })
    if name == "part":
        pk = np.arange(n, dtype=np.int64)
        return pa.table({
            "p_partkey": pa.array(pk, pa.int64()),
            "p_name": [
                f"{ADJS[a]} {NOUNS[b]}"
                for a, b in zip(r.integers(0, 8, n), r.integers(0, 8, n))
            ],
            "p_brand": pa.array([f"Brand#{i}" for i in r.integers(0, 25, n)]),
            "p_type": _pick(r, TYPES, n),
            "p_size": pa.array(r.integers(1, 51, n), pa.int32()),
            "p_retailprice": np.round(900.0 + 0.1 * (pk % 1000), 2),
        })
    if name == "orders":
        return pa.table({
            "o_orderkey": pa.array(range(n), pa.int64()),
            "o_custkey": pa.array(r.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": _pick(r, ["F", "O", "P"], n),
            "o_totalprice": np.round(r.uniform(1000, 500000, n), 2),
            "o_orderdate": pa.array(
                _days_ms(r, "1995-01-01", "2001-08-01", n), pa.timestamp("ms")
            ),
            "o_orderpriority": _pick(r, PRIORITIES, n),
        })
    if name == "lineitem":
        return pa.table({
            "l_orderkey": pa.array(r.integers(0, n_ord, n), pa.int64()),
            "l_partkey": pa.array(r.integers(0, n_part, n), pa.int64()),
            "l_suppkey": pa.array(r.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(r.integers(1, 8, n), pa.int32()),
            "l_quantity": r.integers(1, 51, n).astype(np.float64),
            "l_extendedprice": np.round(r.uniform(900, 105000, n), 2),
            "l_discount": r.integers(0, 11, n) / 100.0,
            "l_tax": r.integers(0, 9, n) / 100.0,
            "l_returnflag": _pick(r, ["A", "N", "R"], n),
            "l_linestatus": _pick(r, ["F", "O"], n),
            "l_shipdate": pa.array(
                _days_ms(r, "1995-01-02", "2001-11-04", n), pa.timestamp("ms")
            ),
        })
    if name == "events":
        jan1 = np.datetime64("2024-01-01", "us").astype(np.int64)
        ev = _events(r, n, max(1, round(1500 * mult)), jan1, 30 * 24 * HOUR_US)
        return _events_table(range(n), ev)
    if name == "documents":
        return _documents(r, n, planted_pairs=max(1, round(8 * mult)))
    if name == "embeddings":
        return _embeddings(r, n, planted_pairs=max(1, round(4 * mult)))
    raise KeyError(name)


def _documents(r, n: int, planted_pairs: int) -> pa.Table:
    lens = r.integers(10, 101, n)
    vocab = np.array(VOCAB)
    texts = []
    for i in range(n):
        t = " ".join(vocab[r.integers(0, len(vocab), lens[i])])
        if r.random() < 0.05:  # rare tail token
            t += " dup"
        texts.append(t)
    langs = np.array(LANGS)[r.choice(5, n, p=LANG_W)]
    sources = np.array([f"src{i}" for i in r.integers(0, 20, n)])
    # planted exact duplicates share lang and source with their original
    used: set[int] = set()
    planted = 0
    while planted < min(planted_pairs, n // 2):
        a, b = (int(x) for x in r.integers(0, n, 2))
        if a == b or a in used or b in used:
            continue
        texts[b], langs[b], sources[b] = texts[a], langs[a], sources[a]
        used.update((a, b))
        planted += 1
    return pa.table({
        "doc_id": pa.array(range(n), pa.int64()),
        "text": texts,
        "lang": pa.array(langs),
        "source": pa.array(sources),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(r, n: int, planted_pairs: int) -> pa.Table:
    vecs = r.standard_normal((n, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    # planted near-duplicate pairs with cosine just above 0.5
    used: set[int] = set()
    planted = 0
    while planted < min(planted_pairs, n // 2):
        a, b = (int(x) for x in r.integers(0, n, 2))
        if a == b or a in used or b in used:
            continue
        t_cos = 0.505 + 0.03 * r.random()
        va = vecs[a].astype(np.float64)
        u = r.standard_normal(64)
        u -= (u @ va) * va
        u /= np.linalg.norm(u)
        vb = t_cos * va + np.sqrt(1.0 - t_cos * t_cos) * u
        vecs[b] = (vb / np.linalg.norm(vb)).astype(np.float32)
        used.update((a, b))
        planted += 1
    return pa.table({
        "vec_id": pa.array(range(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, n), pa.int32()),
    })


def write_tables(out: str, seed: int, mult: float, names: tuple[str, ...]) -> int:
    """Write ``names`` as ``<out>/<name>.parquet``; returns total bytes."""
    os.makedirs(out, exist_ok=True)
    total = 0
    for name in names:
        path = os.path.join(out, f"{name}.parquet")
        pq.write_table(make_table(name, seed, mult), path)
        total += os.path.getsize(path)
    return total


def _hour_events(seed: int, hour: int, per_file: int) -> pa.Table:
    r = rng(seed, f"stream:{hour}")
    jan1 = np.datetime64("2024-01-01", "us").astype(np.int64)
    ev = _events(r, per_file, 1500, jan1 + hour * HOUR_US, HOUR_US)
    return _events_table(range(hour * per_file, (hour + 1) * per_file), ev)


def event_file(out: str, seed: int, hour: int, per_file: int, dup_rate: float = 0.02) -> int:
    """Write hour ``hour`` of an event feed to ``out``: ``per_file`` events
    of that hour plus redelivered copies of ~``dup_rate`` of the previous
    hour's events (same id and timestamp, inside the dedup watermark).
    The file's mtime is its hour, the order the file source reads files
    in.  Returns the file's bytes."""
    t = _hour_events(seed, hour, per_file)
    if hour > 0:
        prev = _hour_events(seed, hour - 1, per_file)
        r = rng(seed, f"stream-dups:{hour}")
        t = pa.concat_tables([t, prev.take(r.choice(per_file, int(dup_rate * per_file),
                                                    replace=False))])
    pq.write_table(t, out)
    os.utime(out, (MTIME0 + hour, MTIME0 + hour))
    return os.path.getsize(out)


def sentinel_files(out_dir: str, after_hour: int) -> None:
    """Two one-row far-future sentinel files, read after hour
    ``after_hour``: they push the watermark past every real event so all
    windows flush.  Their event ids are negative."""
    for day in (1, 2):
        far = np.datetime64("2030-01-01", "us").astype(np.int64) + day * 24 * HOUR_US
        sentinel = {
            "ts": [far], "user_id": [-1], "event_type": ["__sentinel__"],
            "value": [0.0], "props": ["{}"],
        }
        path = os.path.join(out_dir, f"zz-sentinel-{day}.parquet")
        pq.write_table(_events_table([-day], sentinel), path)
        mtime = MTIME0 + after_hour + 2 * day
        os.utime(path, (mtime, mtime))


MTIME0 = 1_700_000_000
