"""Seeded synthetic corpus in the schema the engine's registry reads.

The tables follow the corpus layout of FIXTURES.md section B, which the
engine was written against (`region nation customer supplier part
orders lineitem events documents embeddings`, one parquet file each):
the same column names, types and value vocabularies, drawn uniformly at
random from one seed.
Row counts scale linearly with `sf` (sf 0.01 = 60,000 lineitem rows).

Every column is drawn from one `numpy.random.Generator`, so a seed
fixes the corpus bit for bit; `content_checksum` hashes the generated
arrays (not the parquet bytes) and is what the benchmark records and
checks.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["small", "red", "blue", "green", "large", "steel", "brass",
            "shiny"]
PART_NOUN = ["ring", "widget", "bolt", "gear", "nut", "valve", "spring",
             "clip"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ["join", "hash", "row", "batch", "scan", "column", "customer",
         "filter", "small", "slow", "merge", "order", "vector", "line",
         "table", "data", "agg", "value", "key", "stream", "window", "a",
         "spark", "part", "group", "big", "sort", "query", "fast", "the"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EMBED_DIM = 64
DUP_SHARE = 0.05

DAY_US = 86_400_000_000
EPOCH_1995 = 788_918_400_000_000      # 1995-01-01T00:00:00Z in µs
EPOCH_2024 = 1_704_067_200_000_000    # 2024-01-01T00:00:00Z in µs
TS_US = pa.timestamp("us")


# rows per unit of scale factor
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000,
          "users": 15_000, "documents": 50_000}


def rows(sf, table):
    return max(1, int(round(PER_SF[table] * sf)))


def generate(sf, seed):
    """Return {table: pyarrow.Table} for one (sf, seed)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = (rows(sf, "customer"), rows(sf, "supplier"),
                              rows(sf, "part"))
    n_ord, n_li, n_ev = (rows(sf, "orders"), rows(sf, "lineitem"),
                         rows(sf, "events"))
    n_users, n_doc = rows(sf, "users"), rows(sf, "documents")

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    def pick(vocab, n, p=None):
        return np.array(vocab, dtype=object)[rng.choice(len(vocab), n, p=p)]

    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(pick(SEGMENTS, n_cust), pa.string())})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))})
    pk = np.arange(n_part, dtype=np.int64)
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array(pick(names, n_part), pa.string()),
        "p_brand": pa.array(
            [f"Brand#{i}" for i in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(pick(PART_TYPES, n_part), pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) * 0.1, 2))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(pick(["F", "O", "P"], n_ord), pa.string()),
        "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord)),
        "o_orderdate": pa.array(
            EPOCH_1995 + rng.integers(0, 2400, n_ord) * DAY_US, TS_US),
        "o_orderpriority": pa.array(pick(PRIORITIES, n_ord), pa.string())})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li, dtype=np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(money(900.0, 105000.0, n_li)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(pick(["A", "N", "R"], n_li), pa.string()),
        "l_linestatus": pa.array(pick(["F", "O"], n_li), pa.string()),
        "l_shipdate": pa.array(
            EPOCH_1995 + rng.integers(1, 2500, n_li) * DAY_US, TS_US)})
    # events: strictly increasing distinct timestamps over 30 days
    gaps = rng.integers(1, 2 * (30 * DAY_US) // n_ev, n_ev)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(EPOCH_2024 + np.cumsum(gaps), TS_US),
        "user_id": pa.array(rng.integers(0, n_users, n_ev, dtype=np.int64)),
        "event_type": pa.array(pick(EVENT_TYPES, n_ev), pa.string()),
        "value": pa.array(np.maximum(
            0.01, np.round(rng.exponential(50.0, n_ev), 2))),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)])})
    # documents: random word sequences; a small share are verbatim
    # copies of an earlier document with a " dup" marker appended
    lens = rng.integers(10, 100, n_doc)
    words = np.array(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), n)]) for n in lens]
    for i in range(1, n_doc):
        if rng.random() < DUP_SHARE:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(pick(LANGS, n_doc, p=LANG_P), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n_doc)]),
        "n_chars": pa.array(np.array([len(x) for x in texts], np.int64))})
    emb = rng.normal(0.0, 1.0, (n_doc, EMBED_DIM))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_doc, dtype=np.int32))})
    return t


def _column_bytes(col):
    col = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    if pa.types.is_list(col.type):
        return (np.asarray(col.offsets).tobytes()
                + _column_bytes(col.flatten()))
    if pa.types.is_string(col.type):
        return "\x00".join(col.to_pylist()).encode()
    if pa.types.is_timestamp(col.type):
        col = col.cast(pa.int64())
    return np.asarray(col).tobytes()


def content_checksum(tables):
    """sha256 over every column's values, in table and column order."""
    h = hashlib.sha256()
    for name in TABLES:
        tab = tables[name]
        for field, col in zip(tab.schema, tab.columns):
            kind = (f"list<{field.type.value_type}>"
                    if pa.types.is_list(field.type) else str(field.type))
            h.update(f"{name}.{field.name}:{kind}".encode())
            h.update(_column_bytes(col))
    return h.hexdigest()


def ensure(out_dir, sf, seed):
    """Generate the corpus into `out_dir` unless a complete copy is there.

    Returns the content checksum. A present corpus must match the
    checksum recorded when it was written and the checksum the seed
    generates now; anything else raises, so no run ever measures a
    corpus that is not the one its seed names.
    """
    tables = generate(sf, seed)
    checksum = content_checksum(tables)
    marker = os.path.join(out_dir, "CHECKSUM")
    if os.path.exists(marker):
        with open(marker) as f:
            recorded = f.read().strip()
        if recorded != checksum:
            raise RuntimeError(
                f"corpus {out_dir} has checksum {recorded}, but seed {seed} "
                f"at sf {sf} generates {checksum}; refusing to run on it")
        on_disk = content_checksum(
            {t: pq.read_table(os.path.join(out_dir, f"{t}.parquet"))
             for t in TABLES})
        if on_disk != checksum:
            raise RuntimeError(
                f"corpus files under {out_dir} do not match their recorded "
                f"checksum {checksum}; refusing to run on them")
        return checksum
    os.makedirs(out_dir, exist_ok=True)
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(checksum + "\n")
    return checksum
