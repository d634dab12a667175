"""Seeded input generation for the benchmark.

Everything the engine reads in a benchmark run is made here from the
workload seed: the ten star-schema / pipeline tables (same schema and value
distributions as the engine's parquet fixtures, see FIXTURES.md) and the
DuckDB-dialect SQL statement stream of the `dml_mixed` workload.  The same
seed always yields byte-identical files and an identical stream.
"""
import concurrent.futures
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401  (pa.compute)
import pyarrow.parquet as pq

# Row counts at scale factor 0.1 (the fixtures' bench scale).
ROWS_SF01 = {"customer": 15000, "supplier": 1000, "part": 20000,
             "orders": 150000, "lineitem": 600000, "events": 100000,
             "documents": 5000, "embeddings": 2000}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()

ORDER_DAY0 = dt.datetime(1995, 1, 1)
SHIP_DAY0 = dt.datetime(1995, 1, 2)
EVENT_T0 = dt.datetime(2024, 1, 1)


def _rng(seed, stream):
    """Independent generator per (seed, table): adding a column to one
    table never shifts another table's values."""
    return np.random.default_rng([seed, stream])


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(day0, offsets):
    return pa.array(np.datetime64(day0, "us") +
                    offsets.astype("timedelta64[D]").astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def make_tables(seed, sf=0.1):
    """Return {table name: pyarrow.Table} for one seed."""
    n = {k: max(1, int(round(v * sf / 0.1))) for k, v in ROWS_SF01.items()}
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())})

    r = _rng(seed, 1)
    k = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(k), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(k)],
        "c_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "c_acctbal": _money(r, -999.99, 9999.99, k),
        "c_mktsegment": np.array(SEGMENTS)[r.integers(0, 5, k)]})

    r = _rng(seed, 2)
    k = n["supplier"]
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(k), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(k)],
        "s_nationkey": pa.array(r.integers(0, 25, k), pa.int32()),
        "s_acctbal": _money(r, -999.99, 9999.99, k)})

    r = _rng(seed, 3)
    k = n["part"]
    keys = np.arange(k)
    out["part"] = pa.table({
        "p_partkey": pa.array(keys, pa.int64()),
        "p_name": np.char.add(np.char.add(
            np.array(PART_ADJ)[r.integers(0, 8, k)], " "),
            np.array(PART_NOUN)[r.integers(0, 8, k)]),
        "p_brand": np.char.add("Brand#", r.integers(1, 26, k).astype(str)),
        "p_type": np.array(PART_TYPES)[r.integers(0, 6, k)],
        "p_size": pa.array(r.integers(1, 51, k), pa.int32()),
        "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1)})

    r = _rng(seed, 4)
    k = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(k), pa.int64()),
        "o_custkey": pa.array(r.integers(0, n["customer"], k), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[r.integers(0, 3, k)],
        "o_totalprice": _money(r, 1000.0, 500000.0, k),
        "o_orderdate": _days(ORDER_DAY0, r.integers(0, 2404, k)),
        "o_orderpriority": np.array(PRIORITIES)[r.integers(0, 5, k)]})

    r = _rng(seed, 5)
    k = n["lineitem"]
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(r.integers(0, n["orders"], k), pa.int64()),
        "l_partkey": pa.array(r.integers(0, n["part"], k), pa.int64()),
        "l_suppkey": pa.array(r.integers(0, n["supplier"], k), pa.int64()),
        "l_linenumber": pa.array(r.integers(1, 8, k), pa.int32()),
        "l_quantity": r.integers(1, 51, k).astype(np.float64),
        "l_extendedprice": _money(r, 900.0, 105000.0, k),
        "l_discount": r.integers(0, 11, k) / 100.0,
        "l_tax": r.integers(0, 9, k) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[r.integers(0, 3, k)],
        "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, k)],
        "l_shipdate": _days(SHIP_DAY0, r.integers(0, 2498, k))})

    r = _rng(seed, 6)
    k = n["events"]
    micros = np.sort(r.integers(0, 30 * 86400 * 10**6, k))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(k), pa.int64()),
        "ts": pa.array(np.datetime64(EVENT_T0, "us") +
                       micros.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 1500, k), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[r.integers(0, 5, k)],
        "value": np.round(r.exponential(50.0, k), 2),
        "props": [f'{{"k": {v}}}' for v in r.integers(0, 100, k)]})

    r = _rng(seed, 7)
    k = n["documents"]
    lens = r.integers(10, 101, k)
    words = np.array(VOCAB)[r.integers(0, len(VOCAB), int(lens.sum()))]
    texts, at = [], 0
    for ln in lens:
        texts.append(" ".join(words[at:at + ln]))
        at += ln
    # ~5% near-duplicates: another document's text with a marker word.
    dups = np.flatnonzero(r.random(k) < 0.05)
    originals = r.integers(0, k, len(dups))
    for d, o in zip(dups, originals):
        if o != d:
            texts[d] = texts[o] + " dup"
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(k), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[r.choice(5, k, p=LANG_P)],
        "source": np.char.add("src", r.integers(0, 20, k).astype(str)),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())})

    r = _rng(seed, 8)
    k = n["embeddings"]
    v = r.standard_normal((k, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(k), pa.int64()),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(r.integers(0, 10, k), pa.int32())})
    return out


# Range-sort key per table: date/time filters prune whole files.
SORT_KEY = {"lineitem": "l_shipdate", "orders": "o_orderdate", "events": "ts"}

# Keys shifted per inflation copy, so every copy is a disjoint corpus with
# the base data's join selectivities and group sizes.  Dimension keys
# (nation, region) stay single-copy, so fact keys into them still join.
INFLATE_KEYS = {
    "lineitem": ("l_orderkey", "l_partkey", "l_suppkey"),
    "orders": ("o_orderkey", "o_custkey"),
    "customer": ("c_custkey",), "supplier": ("s_suppkey",),
    "part": ("p_partkey",), "events": ("event_id", "user_id"),
    "documents": ("doc_id",), "embeddings": ("vec_id",)}
COPY_SHIFT = 1_000_000_000
ALPHA = "abcdefghijklmnopqrstuvwxyz"


def copy_of(name, table, c, seed):
    """Copy `c` of (a slice of) a table: its keys shifted into a disjoint
    range; for c > 0, document text gets the copy's own seeded letter
    cipher and embedding vectors the copy's own rotation, so copies are
    not duplicates of each other."""
    if c == 0:
        return table
    cols = {}
    for f in table.schema:
        col = table[f.name]
        if f.name in INFLATE_KEYS[name]:
            col = pa.compute.add(col, pa.scalar(c * COPY_SHIFT, f.type))
        elif f.name == "text":
            perm = np.array(list(ALPHA))[_rng(seed, 200 + c).permutation(26)]
            tr = str.maketrans(ALPHA, "".join(perm))
            col = pa.array([t.translate(tr) for t in col.to_pylist()])
        elif f.name == "embedding":
            flat = col.combine_chunks()
            v = flat.flatten().to_numpy().reshape(len(flat), -1)
            v = np.roll(v, -(1 + (seed + c) % (v.shape[1] - 1)), axis=1)
            col = pa.ListArray.from_arrays(
                np.arange(0, v.size + 1, v.shape[1], dtype=np.int32),
                pa.array(v.ravel(), pa.float32()))
        cols[f.name] = col
    return pa.table(cols)


def file_count(name, nbytes, threads):
    """Files a table is staged as: about 8 MB of column data each, at
    least one per core-quarter (min 4) for fact tables, never below 256 KB
    per file, and one file for the tiny dimensions."""
    if name in ("region", "nation"):
        return 1
    by_size = max(max(4, threads // 4), min(4 * threads, nbytes // (8 << 20)))
    return max(1, min(by_size, nbytes // (256 << 10)))


def _write(path, name, part, copies, seed):
    table = pa.concat_tables([copy_of(name, part, c, seed) for c in range(copies)])
    pq.write_table(table, path, compression="snappy")


def stage(seed, out_dir, copies=1, threads=4):
    """Generate the tables for `seed` and write them in the engine's read
    layout, `<table>.parquet/part-NNNNN.parquet`.  With `copies` > 1 the
    fact tables are inflated.  Where a table has a natural sort key each
    file holds one key range of every copy, as a range repartition would
    lay it out.  Returns {table: staged directory}."""
    jobs, dirs = [], {}
    for name, table in make_tables(seed).items():
        if name in SORT_KEY:
            table = table.sort_by(SORT_KEY[name])
        n = copies if name in INFLATE_KEYS else 1
        parts = file_count(name, table.nbytes * n, threads)
        dirs[name] = os.path.join(out_dir, f"{name}.parquet")
        os.makedirs(dirs[name], exist_ok=True)
        step = -(-table.num_rows // parts)
        jobs += [(os.path.join(dirs[name], f"part-{p:05d}.parquet"), name,
                  table.slice(p * step, step), n, seed) for p in range(parts)]
    with concurrent.futures.ThreadPoolExecutor(threads) as pool:
        for f in [pool.submit(_write, *j) for j in jobs]:
            f.result()
    return dirs


# ------------------------------------------------------------ dml_mixed

ORDERS_COLS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")

# DuckDB-dialect reads (GROUP BY ALL, FILTER, `//`, `::`, FROM-first),
# each with a seeded key range.  Money sums stay exact (DECIMAL) so both
# engines agree bit for bit.
READS = (
    "SELECT o_orderstatus, count(*) AS n, "
    "CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total "
    "FROM orders WHERE o_orderkey BETWEEN {a} AND {b} "
    "GROUP BY ALL ORDER BY ALL",
    "SELECT count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f, "
    "count(*) FILTER (WHERE o_totalprice > {p}) AS n_big, count(*) AS n "
    "FROM orders",
    "SELECT o_orderkey // 1000 AS bucket, count(*) AS n, "
    "min(o_orderkey::VARCHAR) AS mn FROM orders "
    "WHERE o_orderkey BETWEEN {a} AND {b} GROUP BY ALL ORDER BY ALL",
    "FROM orders SELECT o_orderpriority, count(*) AS n, "
    "max(o_orderdate) AS last_date "
    "WHERE o_custkey BETWEEN {c} AND {d} GROUP BY ALL ORDER BY ALL",
)

# The stream repeats this cycle of statement kinds, and reads rotate
# through READS, so every run's executed prefix has the same mix; the seed
# picks keys, ranges and values.
CYCLE = ("read", "insert", "read", "update", "read", "delete", "read", "upsert")
# Rows each write touches: new rows, updated keys, deleted keys, upsert
# keys (two thirds existing, one third new).
WIDTH = {"insert": 40, "update": 40, "delete": 20, "upsert": 30}


def _values(rng, keys):
    rows = []
    for key in keys:
        day = ORDER_DAY0 + dt.timedelta(days=int(rng.integers(0, 2404)))
        rows.append(
            f"({key}, {int(rng.integers(0, ROWS_SF01['customer']))}, "
            f"'{'FOP'[int(rng.integers(0, 3))]}', "
            f"{int(rng.integers(100000, 50000000)) / 100:.2f}, "
            f"TIMESTAMP '{day:%Y-%m-%d %H:%M:%S}', "
            f"'{PRIORITIES[int(rng.integers(0, 5))]}')")
    return ", ".join(rows)


def dml_stream(seed, count):
    """`count` (kind, sql) pairs over the table `orders`, seeded.

    Keys of new rows grow from the end of the key space, so an INSERT never
    collides; UPDATE/DELETE/upsert ranges span every key inserted so far.
    """
    r = _rng(seed, 100)
    next_key = ROWS_SF01["orders"]
    out = []
    for i in range(count):
        kind = CYCLE[i % len(CYCLE)]
        a = int(r.integers(0, next_key))
        if kind == "read":
            tmpl = READS[(i // 2) % len(READS)]
            c = int(r.integers(0, ROWS_SF01["customer"]))
            sql = tmpl.format(a=a, b=a + 10000, p=int(r.integers(100000, 450000)),
                              c=c, d=c + 1000)
        elif kind == "insert":
            keys = range(next_key, next_key + WIDTH[kind])
            next_key += WIDTH[kind]
            sql = f"INSERT INTO orders VALUES {_values(r, keys)}"
        elif kind == "update":
            sql = (f"UPDATE orders SET o_totalprice = o_totalprice + 1.25, "
                   f"o_orderpriority = '{PRIORITIES[int(r.integers(0, 5))]}' "
                   f"WHERE o_orderkey BETWEEN {a} AND {a + WIDTH[kind] - 1}")
        elif kind == "delete":
            sql = (f"DELETE FROM orders WHERE o_orderkey BETWEEN {a} AND "
                   f"{a + WIDTH[kind] - 1}")
        else:
            old = range(a, min(a + 2 * WIDTH[kind] // 3, next_key))
            new = range(next_key, next_key + WIDTH[kind] // 3)
            next_key += WIDTH[kind] // 3
            sets = ", ".join(f"{c} = excluded.{c}" for c in ORDERS_COLS[1:])
            sql = (f"INSERT INTO orders VALUES "
                   f"{_values(r, list(old) + list(new))} "
                   f"ON CONFLICT (o_orderkey) DO UPDATE SET {sets}")
        out.append((kind, sql))
    return out
