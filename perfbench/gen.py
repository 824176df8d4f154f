"""Seeded generator for the benchmark's input tables.

Writes one parquet file per table in the layout `graft.Tables` reads
(`<dir>/<name>.parquet`): the TPC-H-like star (region, nation, customer,
supplier, part, orders, lineitem), the `events` stream and the corpus
tables (`documents`, `embeddings`). Schemas and value ranges follow
FIXTURES.md section B; the same (seed, scale) always gives byte-identical
values. Row counts scale with `sf` like the fixture tables do
(lineitem = 6M * sf); the corpus tables take their own counts.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.14, 0.15]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
# near-duplicates are copies of a long enough document plus this
# suffix, so their 8-byte-shingle Jaccard stays well above the
# curation threshold (0.9)
DUP_SUFFIX = " dup"
DUP_FRAC = 0.05
DUP_MIN_WORDS = 40


def _us(d: dt.datetime) -> int:
    return int(d.replace(tzinfo=dt.timezone.utc).timestamp() * 1_000_000)


def _days(rng, n, start, end):
    """Midnight timestamps (microseconds) uniform over [start, end]."""
    days = (end - start).days
    return _us(start) + rng.integers(0, days + 1, n) * 86_400_000_000


def _ts(values):
    return pa.array(values, type=pa.int64()).cast(pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(out, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"),
                   compression="snappy")


def star(rng, out, sf):
    n_cust = max(1, int(round(150_000 * sf)))
    n_supp = max(1, int(round(10_000 * sf)))
    n_part = max(1, int(round(200_000 * sf)))
    n_ord = max(1, int(round(1_500_000 * sf)))
    n_li = max(1, int(round(6_000_000 * sf)))
    _write(out, "region", {
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    _write(out, "nation", {
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})
    _write(out, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": [SEGMENTS[i] for i in rng.integers(0, 5, n_cust)]})
    _write(out, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)})
    keys = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": keys,
        "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": [PART_TYPES[i] for i in rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1)})
    _write(out, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": [("F", "O", "P")[i] for i in rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _ts(_days(rng, n_ord, dt.datetime(1995, 1, 1),
                                 dt.datetime(2001, 8, 1))),
        "o_orderpriority": [PRIORITIES[i] for i in rng.integers(0, 5, n_ord)]})
    _write(out, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": _money(rng, 0.0, 0.1, n_li),
        "l_tax": _money(rng, 0.0, 0.08, n_li),
        "l_returnflag": [("A", "N", "R")[i] for i in rng.integers(0, 3, n_li)],
        "l_linestatus": [("F", "O")[i] for i in rng.integers(0, 2, n_li)],
        "l_shipdate": _ts(_days(rng, n_li, dt.datetime(1995, 1, 2),
                                dt.datetime(2001, 11, 4)))})
    n_ev = max(1, int(round(1_000_000 * sf)))
    n_users = max(1, int(round(15_000 * sf)))
    start = _us(dt.datetime(2024, 1, 1))
    span = 30 * 86_400_000_000
    _write(out, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": _ts(np.sort(start + rng.integers(0, span, n_ev))),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": [EVENT_TYPES[i] for i in rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]})


def corpus(rng, out, n_docs, n_emb):
    texts = []
    for _ in range(n_docs):
        words = rng.integers(0, len(VOCAB), rng.integers(10, 100))
        texts.append(" ".join(VOCAB[w] for w in words))
    # plant near-duplicates: a later document repeats a long earlier one
    # with a suffix appended
    long_ids = [i for i, t in enumerate(texts) if t.count(" ") + 1 >= DUP_MIN_WORDS]
    n_dup = int(n_docs * DUP_FRAC)
    for j in range(n_dup):
        dst = n_docs - 1 - j
        src = long_ids[int(rng.integers(0, len(long_ids)))]
        if src < dst:
            texts[dst] = texts[src] + DUP_SUFFIX
    _write(out, "documents", {
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[i] for i in rng.choice(5, n_docs, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)})
    vecs = rng.standard_normal((n_emb, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    _write(out, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": rng.integers(0, 10, n_emb).astype(np.int32)})


def analytics_events(rng, out, n):
    """Raw rows shaped like the reference's `analytics_analyticsevent`
    (FIXTURES.md section A): wide, JSON text in free formatting, foreign
    keys as text (some blank or garbage) and nullable columns."""
    start = _us(dt.datetime(2023, 1, 1))
    created = start + np.sort(rng.integers(0, 365 * 86_400_000_000, n))
    lag = rng.integers(0, 3_600_000_000, n)

    def fk(hi):
        v = rng.integers(1, hi, n)
        kind = rng.integers(0, 10, n)
        return [None if k == 0 else "" if k == 1 else "n/a" if k == 2 else str(x)
                for x, k in zip(v, kind)]

    def identify(i, k):
        if k == 0:
            return None
        keys = [("email", f"user{i}@example.org"), ("plan", ("free", "pro")[i % 2]),
                ("locale", LANGS[i % 5])]
        if k % 2:
            keys.reverse()
        sep = ", " if k % 3 else ","
        return "{" + sep.join(f'"{a}": "{b}"' for a, b in keys) + "}"

    def properties(i, k):
        if k == 0:
            return None
        if k == 1:
            return "{not json"
        tags = ", ".join(f'"t{(i + j) % 7}"' for j in range(k % 4))
        return f'{{ "ms": {i % 997}, "tags": [{tags}], "page": "/p/{i % 53}" }}'

    kinds = rng.integers(0, 8, (2, n))
    synced = rng.integers(0, 3, n)
    _write(out, "analytics_event_raw", {
        "id": np.arange(1, n + 1, dtype=np.int64),
        "created": _ts(created),
        "modified": _ts(created + lag),
        "name": [EVENT_TYPES[i] + "_event" for i in rng.integers(0, 5, n)],
        "sent_at": _ts(created + lag // 2),
        "organization_id": fk(50),
        "school_id": fk(400),
        "user_id": rng.integers(1, 5000, n).astype(np.int64),
        "user_ip": [None if k == 0 else f"10.{k}.{i % 256}.{i % 251}"
                    for i, k in enumerate(rng.integers(0, 6, n))],
        "identify": [identify(i, k) for i, k in enumerate(kinds[0])],
        "properties": [properties(i, k) for i, k in enumerate(kinds[1])],
        "synced_with_posthog": pa.array([None if s == 0 else bool(s - 1)
                                         for s in synced], pa.bool_()),
        "last_local_modified_at": pa.array(
            [None if k == 0 else int(c + l) for c, l, k in
             zip(created, lag, rng.integers(0, 4, n))], pa.int64())
        .cast(pa.timestamp("us"))})


def generate(out, seed, sf, n_docs, n_emb, n_analytics=0):
    """Write every table for (seed, sf) into `out`; returns row counts."""
    os.makedirs(out, exist_ok=True)
    star(np.random.default_rng([seed, 1]), out, sf)
    corpus(np.random.default_rng([seed, 2]), out, n_docs, n_emb)
    names = ["region", "nation", "customer", "supplier", "part", "orders",
             "lineitem", "events", "documents", "embeddings"]
    if n_analytics:
        analytics_events(np.random.default_rng([seed, 3]), out, n_analytics)
        names.append("analytics_event_raw")
    return {t: pq.ParquetFile(os.path.join(out, f"{t}.parquet")).metadata.num_rows
            for t in names}
