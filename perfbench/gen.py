"""Seeded input generators for the benchmark workloads.

Every function takes the workload seed and writes parquet under a fresh
directory; the same seed and size give the same rows. The engine only ever
sees these files.
"""
import datetime as dt
import json
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed, stream):
    return np.random.default_rng([seed, stream])


def _write(path, columns, schema):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table(columns, schema=schema), path)


# ---------------------------------------------------------------- query_suite

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJECTIVES = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUNS = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream table "
         "the value vector window").split()

I32, I64, F64, STR = pa.int32(), pa.int64(), pa.float64(), pa.string()
TS = pa.timestamp("us")


def _days(rng, start, end, n):
    """n timestamps at midnight, uniform over [start, end]."""
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]").astype("timedelta64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(out, seed, sf):
    """The TPC-H-ish star schema plus events, documents and embeddings, with
    the column names and types of the repository's fixtures (FIXTURES.md)."""
    rng = _rng(seed, 1)
    n_cust, n_supp = int(150000 * sf), int(10000 * sf)
    n_part, n_ord = int(200000 * sf), int(1500000 * sf)
    n_line, n_evt = int(6000000 * sf), int(1000000 * sf)
    n_users = max(15, int(15000 * sf))
    n_docs, n_vecs = max(500, int(50000 * sf)), max(500, int(20000 * sf))
    w = lambda name, cols, schema: _write(os.path.join(out, f"{name}.parquet"), cols, schema)

    w("region", {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": REGIONS},
      pa.schema([("r_regionkey", I32), ("r_name", STR)]))
    w("nation", {"n_nationkey": np.arange(25, dtype=np.int32),
                 "n_name": [f"NATION_{i}" for i in range(25)],
                 "n_regionkey": np.arange(25, dtype=np.int32) % 5},
      pa.schema([("n_nationkey", I32), ("n_name", STR), ("n_regionkey", I32)]))
    w("customer", {"c_custkey": np.arange(n_cust),
                   "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                   "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
                   "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
                   "c_mktsegment": rng.choice(SEGMENTS, n_cust)},
      pa.schema([("c_custkey", I64), ("c_name", STR), ("c_nationkey", I32),
                 ("c_acctbal", F64), ("c_mktsegment", STR)]))
    w("supplier", {"s_suppkey": np.arange(n_supp),
                   "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                   "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
                   "s_acctbal": _money(rng, -999.99, 9999.99, n_supp)},
      pa.schema([("s_suppkey", I64), ("s_name", STR), ("s_nationkey", I32),
                 ("s_acctbal", F64)]))
    pk = np.arange(n_part)
    w("part", {"p_partkey": pk,
               "p_name": np.char.add(np.char.add(rng.choice(ADJECTIVES, n_part), " "),
                                     rng.choice(NOUNS, n_part)),
               "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
               "p_type": rng.choice(PART_TYPES, n_part),
               "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
               "p_retailprice": np.round(900 + (pk % 1000) / 10, 1)},
      pa.schema([("p_partkey", I64), ("p_name", STR), ("p_brand", STR), ("p_type", STR),
                 ("p_size", I32), ("p_retailprice", F64)]))
    w("orders", {"o_orderkey": np.arange(n_ord),
                 "o_custkey": rng.integers(0, n_cust, n_ord),
                 "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
                 "o_totalprice": _money(rng, 1000, 500000, n_ord),
                 "o_orderdate": _days(rng, dt.date(1995, 1, 1), dt.date(2001, 8, 1), n_ord),
                 "o_orderpriority": rng.choice(PRIORITIES, n_ord)},
      pa.schema([("o_orderkey", I64), ("o_custkey", I64), ("o_orderstatus", STR),
                 ("o_totalprice", F64), ("o_orderdate", TS), ("o_orderpriority", STR)]))
    w("lineitem", {"l_orderkey": rng.integers(0, n_ord, n_line),
                   "l_partkey": rng.integers(0, n_part, n_line),
                   "l_suppkey": rng.integers(0, n_supp, n_line),
                   "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
                   "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
                   "l_extendedprice": _money(rng, 900, 105000, n_line),
                   "l_discount": np.round(rng.uniform(0, 0.1, n_line), 2),
                   "l_tax": np.round(rng.uniform(0, 0.08, n_line), 2),
                   "l_returnflag": rng.choice(["A", "N", "R"], n_line),
                   "l_linestatus": rng.choice(["F", "O"], n_line),
                   "l_shipdate": _days(rng, dt.date(1995, 1, 2), dt.date(2001, 11, 4), n_line)},
      pa.schema([("l_orderkey", I64), ("l_partkey", I64), ("l_suppkey", I64),
                 ("l_linenumber", I32), ("l_quantity", F64), ("l_extendedprice", F64),
                 ("l_discount", F64), ("l_tax", F64), ("l_returnflag", STR),
                 ("l_linestatus", STR), ("l_shipdate", TS)]))
    # events: strictly increasing timestamps over 30 days (no ties)
    gaps = rng.exponential(30 * 86400e6 / n_evt, n_evt).astype(np.int64) + 1
    w("events", {"event_id": np.arange(n_evt),
                 "ts": np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]"),
                 "user_id": rng.integers(0, n_users, n_evt),
                 "event_type": rng.choice(EVENT_TYPES, n_evt),
                 "value": np.maximum(np.round(rng.exponential(50, n_evt), 2), 0.01),
                 "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]},
      pa.schema([("event_id", I64), ("ts", TS), ("user_id", I64), ("event_type", STR),
                 ("value", F64), ("props", STR)]))
    # documents: random word sequences; one in twenty is another document's
    # text plus " dup" (near-duplicates for the dedup operators)
    texts = [" ".join(rng.choice(WORDS, rng.integers(10, 100))) for _ in range(n_docs)]
    for i in np.flatnonzero(rng.random(n_docs) < 0.05):
        texts[i] = texts[int(rng.integers(0, n_docs))] + " dup"
    w("documents", {"doc_id": np.arange(n_docs), "text": texts,
                    "lang": rng.choice(LANGS, n_docs),
                    "source": [f"src{i % 20}" for i in range(n_docs)],
                    "n_chars": np.array([len(t) for t in texts], dtype=np.int64)},
      pa.schema([("doc_id", I64), ("text", STR), ("lang", STR), ("source", STR),
                 ("n_chars", I64)]))
    vecs = rng.normal(size=(n_vecs, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    w("embeddings", {"vec_id": np.arange(n_vecs), "embedding": list(vecs),
                     "label": rng.integers(0, 10, n_vecs, dtype=np.int32)},
      pa.schema([("vec_id", I64), ("embedding", pa.list_(pa.float32())), ("label", I32)]))


# ------------------------------------------------------ mv_freshness, mv_join

AGG_SCHEMA = pa.schema([("k", I64), ("v", I64)])
CHANGE = lambda *cols: pa.schema([(c, I64) for c in cols] + [("diff", I64)])
# The NULL group's rows do not depend on the seed: one base row, and one
# insert in every batch (see README, "the NULL-group fault").
NULL_BASE_V, NULL_BATCH_V = 10, 100


class _Live:
    """Rows currently in a relation (multiset), for seeded retractions."""

    def __init__(self, rows):
        self.rows = list(rows)

    def take(self, rng, n):
        out = []
        for _ in range(min(n, len(self.rows))):
            i = int(rng.integers(0, len(self.rows)))
            self.rows[i], self.rows[-1] = self.rows[-1], self.rows[i]
            out.append(self.rows.pop())
        return out


def _changes(rng, live, fresh, n):
    """One input's change batch of about n rows: inserts, retractions of live
    rows, duplicate inserts and zero-net (+1, -1) pairs. `fresh(m)` makes m
    new rows. Returns (rows, diffs) and updates `live`."""
    ins = fresh(n // 2)
    dup = fresh(n // 20)
    zero = fresh(n // 20)
    ret = live.take(rng, (3 * n) // 10)
    rows = ins + dup + dup + zero + zero + ret
    diffs = [1] * (len(ins) + 2 * len(dup)) + [1] * len(zero) + [-1] * len(zero) + [-1] * len(ret)
    live.rows.extend(ins + dup + dup)
    order = rng.permutation(len(rows))
    return [rows[i] for i in order], [diffs[i] for i in order]


def _write_changes(path, names, rows, diffs):
    cols = {n: [r[j] for r in rows] for j, n in enumerate(names)}
    cols["diff"] = diffs
    _write(path, cols, CHANGE(*names))


def agg(out, seed, base_rows, groups, batches, batch_rows):
    """Aggregate input: base rows (k, v) over `groups` keys plus the NULL-key
    row, and `batches` change batches (k, v, diff), each with one NULL-key
    insert. meta.json lists each batch's non-NULL keys (the peek keys)."""
    rng = _rng(seed, 2)
    k = rng.integers(0, groups, base_rows)
    v = rng.integers(0, 1000, base_rows)
    _write(os.path.join(out, "agg", "base.parquet"),
           {"k": list(k) + [None], "v": list(v) + [NULL_BASE_V]}, AGG_SCHEMA)
    live = _Live(zip(k.tolist(), v.tolist()))
    fresh = lambda m: list(zip(rng.integers(0, groups + groups // 20, m).tolist(),
                               rng.integers(0, 1000, m).tolist()))
    keys = []
    for b in range(1, batches + 1):
        rows, diffs = _changes(rng, live, fresh, batch_rows)
        keys.append(sorted({r[0] for r in rows}))
        _write_changes(os.path.join(out, "agg", f"batch-{b:03d}.parquet"), ["k", "v"],
                       rows + [(None, NULL_BATCH_V)], diffs + [1])
    with open(os.path.join(out, "agg", "meta.json"), "w") as f:
        json.dump({"batches": batches, "keys": keys}, f)


def join(out, seed, rows, batches, batch_rows):
    """Join input: in0(okey, a) ⋈ in1(okey, ckey) ⋈ in2(ckey, c) and per
    batch a change file for each input; one customer (in2) changes in every
    batch."""
    rng = _rng(seed, 4)
    customers = max(10, rows // 100)
    in0 = list(zip(range(rows), rng.integers(0, 100, rows).tolist()))
    in1 = list(zip(rng.integers(0, rows, rows).tolist(),
                   rng.integers(0, customers, rows).tolist()))
    in2 = list(zip(range(customers), rng.integers(0, 10, customers).tolist()))
    names = [["okey", "a"], ["okey", "ckey"], ["ckey", "c"]]
    for i, rel in enumerate([in0, in1, in2]):
        _write(os.path.join(out, "join", f"in{i}.parquet"),
               {n: [r[j] for r in rel] for j, n in enumerate(names[i])},
               pa.schema([(n, I64) for n in names[i]]))
    live0, live1, live2 = _Live(in0), _Live(in1), _Live(in2)
    next_okey = [rows]

    def new_orders(m):
        ks = list(range(next_okey[0], next_okey[0] + m))
        next_okey[0] += m
        return list(zip(ks, rng.integers(0, 100, m).tolist()))

    def new_items(m):
        return list(zip(rng.integers(0, next_okey[0], m).tolist(),
                        rng.integers(0, customers, m).tolist()))

    for b in range(1, batches + 1):
        c0 = _changes(rng, live0, new_orders, batch_rows)
        c1 = _changes(rng, live1, new_items, batch_rows)
        (ck, old), = live2.take(rng, 1)
        new = (ck, (old + 1 + int(rng.integers(0, 9))) % 10)
        live2.rows.append(new)
        c2 = ([(ck, old), new], [-1, 1])
        for i, (rs, diffs) in enumerate([c0, c1, c2]):
            _write_changes(os.path.join(out, "join", f"batch-{b:03d}-in{i}.parquet"),
                           names[i], rs, diffs)
    with open(os.path.join(out, "join", "meta.json"), "w") as f:
        json.dump({"batches": batches}, f)


# -------------------------------------------------------------- upsert_stream

def upsert(out, seed, events, keys, chunks):
    """A keyed upsert log (key, value or NULL tombstone, offset) in `chunks`
    replay files. Offsets rise with position; about 2% of events are
    re-delivered, stale, in a later chunk."""
    rng = _rng(seed, 3)
    key = rng.integers(0, keys, events)
    value = rng.integers(0, 1_000_000, events).astype(object)
    value[rng.random(events) < 0.1] = None
    offset = np.arange(1, events + 1)
    bounds = np.linspace(0, events, chunks + 1).astype(int)
    chunk_rows = [list(range(bounds[i], bounds[i + 1])) for i in range(chunks)]
    for i in np.flatnonzero(rng.random(events) < 0.02):
        c = int(np.searchsorted(bounds, i, side="right")) - 1
        if c < chunks - 1:
            chunk_rows[int(rng.integers(c + 1, chunks))].append(int(i))
    log = os.path.join(out, "upsert", "log")
    os.makedirs(log)
    # the file source admits files in modification-time order
    t0 = int(time.time()) - 60 * chunks
    schema = pa.schema([("key", I64), ("value", I64), ("offset", I64)])
    for c, idx in enumerate(chunk_rows):
        p = os.path.join(log, f"chunk-{c + 1:03d}.parquet")
        _write(p, {"key": key[idx], "value": list(value[idx]), "offset": offset[idx]}, schema)
        os.utime(p, (t0 + 60 * c, t0 + 60 * c))
    with open(os.path.join(out, "upsert", "meta.json"), "w") as f:
        json.dump({"events": int(sum(len(r) for r in chunk_rows)), "chunks": chunks}, f)
