"""Seeded input generator for the fls benchmark.

Every table is a pure function of (seed, sizes): numpy's PCG64 stream
drives all draws, so the same seed writes byte-identical parquet. The
schemas match the TPC-H-ish star schema plus the `events`, `documents`
and `embeddings` tables that the engine's query suite reads.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_1995 = int(dt.datetime(1995, 1, 2, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
EPOCH_2024 = int(dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc).timestamp()) * 1_000_000
DAY_US = 86_400 * 1_000_000
SPAN_DAYS = 2500  # order dates cover ~6.8 years, like the checked-in data

WORDS = ("a the key agg row scan slow fast table value part hash merge batch "
         "spark line sort window order data column join small query stream "
         "filter group big customer index page cache fetch node load shard "
         "split plan cost").split()
SHIP_MODES = ["AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.44, 0.14, 0.13, 0.15]


def key_offset(seed):
    """Order keys start at a seed-dependent offset, so two seeds never
    share a key range (and lookups cannot be answered from a cache)."""
    return (seed % 997) * 100_000_000


def _money(rng, n, lo_cents, hi_cents):
    return rng.integers(lo_cents, hi_cents, n) / 100.0


def _words(rng, n_words):
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS), n_words))


def lineitem(rng, n_orders, koff, shuffle):
    """~4 lines per order. Ship dates follow the order key (orders arrive
    over time with increasing keys) plus up to 30 days of shipping lag,
    so clustering on the key also clusters the dates. `shuffle`
    permutes the rows so no column is sorted in storage order."""
    lines = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype=np.int64), lines)
    n = len(okey)
    first = np.repeat(np.cumsum(lines) - lines, lines)
    linenumber = (np.arange(n) - first + 1).astype(np.int32)
    qty = rng.integers(1, 51, n).astype(np.float64)
    day = okey * SPAN_DAYS // max(n_orders, 1) + rng.integers(0, 31, n)
    ship = EPOCH_1995 + day * DAY_US
    status = np.where(day < 1300, "F", "O")
    flag = np.array(["A", "N", "R"])[rng.integers(0, 3, n)]
    pool = np.array([_words(rng, int(k)) for k in rng.integers(2, 7, 4096)],
                    dtype=object)
    cols = {
        "l_orderkey": okey + koff,
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": linenumber,
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.integers(90_000, 210_000, n) / 100.0, 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": flag,
        "l_linestatus": status,
        "l_shipdate": ship,
        "l_shipmode": np.array(SHIP_MODES)[rng.integers(0, len(SHIP_MODES), n)],
        "l_comment": pool[rng.integers(0, len(pool), n)],
    }
    # Columns beyond TPC-H's so every encoding family shows up:
    # full-precision doubles (ALP-RD), doubles over ~140 orders of
    # magnitude (PLAIN), random 64-bit hashes, and a load-batch id that
    # runs in storage order (RLE).
    cols["l_weight"] = rng.random(n) * 50
    cols["l_ratio"] = np.exp(rng.normal(0, 40, n))
    cols["l_rowhash"] = rng.integers(-(1 << 63), (1 << 63) - 1, n, dtype=np.int64)
    if shuffle:
        perm = rng.permutation(n)
        cols = {k: v[perm] for k, v in cols.items()}
    cols["l_loadid"] = np.arange(n, dtype=np.int64) * 64 // n  # 64 load batches
    return _table(cols, {"l_shipdate": pa.timestamp("us"),
                         "l_linenumber": pa.int32()})


def _table(cols, types):
    arrays, names = [], []
    for name, v in cols.items():
        t = types.get(name)
        arrays.append(pa.array(v, type=t) if t is not None else pa.array(v))
        names.append(name)
    return pa.Table.from_arrays(arrays, names=names)


def orders(rng, n_orders, n_cust, koff):
    day = np.arange(n_orders, dtype=np.int64) * SPAN_DAYS // max(n_orders, 1)
    return _table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64) + koff,
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)],
        "o_totalprice": _money(rng, n_orders, 101_370, 49_997_859),
        "o_orderdate": EPOCH_1995 + day * DAY_US,
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_orders)],
    }, {"o_orderdate": pa.timestamp("us")})


def customer(rng, n):
    return _table({
        "c_custkey": np.arange(n, dtype=np.int64),
        "c_name": np.array([f"Customer#{i:09d}" for i in range(n)], dtype=object),
        "c_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "c_acctbal": _money(rng, n, -99_999, 999_999),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n)],
    }, {})


def supplier(rng, n):
    return _table({
        "s_suppkey": np.arange(n, dtype=np.int64),
        "s_name": np.array([f"Supplier#{i:09d}" for i in range(n)], dtype=object),
        "s_nationkey": rng.integers(0, 25, n).astype(np.int32),
        "s_acctbal": _money(rng, n, -99_999, 999_999),
    }, {})


def part(rng, n):
    adj = ["small", "red", "blue", "hot", "cold", "big", "green", "old"]
    noun = ["ring", "widget", "bolt", "gear", "gizmo", "nut", "pipe", "valve"]
    names = [f"{adj[a]} {noun[b]}" for a, b in
             zip(rng.integers(0, 8, n), rng.integers(0, 8, n))]
    types = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
    return _table({
        "p_partkey": np.arange(n, dtype=np.int64),
        "p_name": np.array(names, dtype=object),
        "p_brand": np.array([f"Brand#{b}" for b in rng.integers(1, 30, n)], dtype=object),
        "p_type": np.array(types)[rng.integers(0, 6, n)],
        "p_size": rng.integers(1, 51, n).astype(np.int32),
        "p_retailprice": np.round(900.0 + np.arange(n) % 1000 / 10.0, 2),
    }, {})


def nation():
    return _table({
        "n_nationkey": np.arange(25, dtype=np.int32),
        "n_name": np.array([f"NATION_{i}" for i in range(25)], dtype=object),
        "n_regionkey": (np.arange(25) % 5).astype(np.int32),
    }, {})


def region():
    return _table({
        "r_regionkey": np.arange(5, dtype=np.int32),
        "r_name": np.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
    }, {})


def events(rng, n):
    ts = np.sort(EPOCH_2024 + rng.integers(0, 30 * DAY_US, n))
    return _table({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, max(n // 66, 2), n),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n)],
        "value": _money(rng, n, 1, 49_003),
        "props": np.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], dtype=object),
    }, {"ts": pa.timestamp("us")})


def documents(rng, n):
    """Random word documents; one in five is a near-duplicate of an
    earlier document with ~8% of its words replaced, so the dedup and
    fingerprint queries find real clusters."""
    texts = []
    for i in range(n):
        if i > 3 and rng.random() < 0.2:
            src = texts[i - 1 - int(rng.integers(0, 3))].split(" ")
            for j in range(len(src)):
                if rng.random() < 0.08:
                    src[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src))
        else:
            texts.append(_words(rng, int(rng.integers(8, 90))))
    return _table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": np.array(texts, dtype=object),
        "lang": np.array(LANGS)[rng.choice(5, n, p=LANG_P)],
        "source": np.array([f"src{s}" for s in rng.integers(0, 20, n)], dtype=object),
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }, {})


def embeddings(rng, n, dim=64):
    """Unit vectors around 10 label centroids; 5% are near-copies of an
    earlier vector so the near-duplicate queries have pairs to find."""
    centroids = rng.normal(0, 1, (10, dim))
    labels = rng.integers(0, 10, n)
    vecs = centroids[labels] + rng.normal(0, 1.2, (n, dim))
    for i in range(1, n):
        if rng.random() < 0.05:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(0, 0.01, dim)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.array(list(vecs), type=pa.list_(pa.float32()))
    return pa.Table.from_arrays(
        [pa.array(np.arange(n, dtype=np.int64)), emb, pa.array(labels.astype(np.int32))],
        names=["vec_id", "embedding", "label"])


def write(table, path):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 20)


def write_parts(table, path, parts=4, row_group_size=1 << 20):
    """`path` as a directory of `parts` files of consecutive rows, so
    Spark reads it with as many tasks as the fls copy has files."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        pq.write_table(table.slice(i * step, step), f"{path}/part-{i}.parquet",
                       row_group_size=row_group_size)


def star_schema(seed, out_dir, n_orders):
    """The ten tables the query suite reads, at `n_orders` orders
    (15,000 orders ≈ the checked-in sf0.01 shape)."""
    rng = np.random.default_rng([seed, 1])
    koff = key_offset(seed)
    n_cust = max(n_orders // 10, 10)
    tables = {
        "lineitem": lineitem(rng, n_orders, koff, shuffle=True),
        "orders": orders(rng, n_orders, n_cust, koff),
        "customer": customer(rng, n_cust),
        "supplier": supplier(rng, max(n_orders // 150, 5)),
        "part": part(rng, max(n_orders * 2 // 15, 10)),
        "nation": nation(),
        "region": region(),
        "events": events(rng, max(n_orders * 2 // 3, 100)),
        "documents": documents(rng, max(n_orders // 30, 50)),
        "embeddings": embeddings(rng, max(n_orders // 30, 50)),
    }
    for name, t in tables.items():
        if name == "lineitem":
            write_parts(t, os.path.join(out_dir, f"{name}.parquet"))
        else:
            write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def lineitem_only(seed, path, n_orders, shuffle, row_group_size=1 << 20):
    rng = np.random.default_rng([seed, 2])
    t = lineitem(rng, n_orders, key_offset(seed), shuffle=shuffle)
    write_parts(t, path, row_group_size=row_group_size)
    return t.num_rows
