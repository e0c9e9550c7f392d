"""Seeded input generator for the benchmark workloads.

Every table the engine reads (`<dir>/<name>.parquet`, see
`graft.sources.Tables`) is synthesized here from a seed, with the schemas and
value ranges of the engine's scale-factor fixtures. The same seed and sizes
always give the same bytes of data; nothing is read from outside.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = np.array(["en", "zh", "de", "fr", "es"])
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
EPOCH = np.datetime64("1970-01-01T00:00:00", "us")


def _ts_us(day0, n_days, rng, n):
    """n sorted timestamps (µs since epoch) uniform over [day0, day0 + n_days)."""
    base = (np.datetime64(day0, "us") - EPOCH).astype(np.int64)
    return np.sort(base + rng.integers(0, n_days * 86_400_000_000, size=n, dtype=np.int64))


def _days_us(day0, n_days, rng, n):
    base = (np.datetime64(day0, "us") - EPOCH).astype(np.int64)
    return base + rng.integers(0, n_days, size=n, dtype=np.int64) * 86_400_000_000


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, size=n), 2)


def _write(out, name, cols):
    tbl = pa.table(cols)
    pq.write_table(tbl, f"{out}/{name}.parquet")
    return tbl.num_rows


def _ts_col(us):
    return pa.array(us, type=pa.timestamp("us"))


def events(out, rng, n, users, days=30, repl=1, files=1):
    """The event stream; the engine derives its GPS, pages and weather
    streams from it (`Tables.gps`, `Pages.pagesFromGps`). With `repl` > 1
    the `n` base events are replicated: copy r of base event i gets
    event_id i * repl + r, so the stream keeps its users, times and hot
    sites while its volume grows. `files` > 1 splits the table into that
    many parquet files under `events.parquet/`."""
    types = np.array(["click", "signup", "error", "view", "purchase"])
    cols = {
        "event_id": np.arange(n, dtype=np.int64),
        "ts": _ts_us("2024-01-01", days, rng, n),
        # every user gets the same number of events; the seed picks which
        "user_id": rng.permutation(np.arange(n, dtype=np.int64) % users),
        "event_type": types[rng.integers(0, 5, size=n)],
        "value": _money(rng, 0.01, 500.0, n),
        "k": rng.integers(0, 100, size=n),
    }
    if repl > 1:
        cols = {c: np.repeat(v, repl) for c, v in cols.items()}
        cols["event_id"] = cols["event_id"] * repl + np.tile(np.arange(repl, dtype=np.int64), n)
    tbl = pa.table({
        "event_id": pa.array(cols["event_id"]),
        "ts": _ts_col(cols["ts"]),
        "user_id": pa.array(cols["user_id"]),
        "event_type": pa.array(cols["event_type"]),
        "value": pa.array(cols["value"]),
        "props": pa.array(['{"k": %d}' % v for v in cols["k"]]),
    })
    if files <= 1:
        pq.write_table(tbl, f"{out}/events.parquet")
    else:
        # a table of several files, so the scan splits across cores
        os.makedirs(f"{out}/events.parquet")
        step = -(-tbl.num_rows // files)
        for i in range(files):
            pq.write_table(tbl.slice(i * step, step), f"{out}/events.parquet/part-{i:03d}.parquet")
    return tbl.num_rows


def relational(out, rng, sf):
    """The TPC-H-shaped star schema at scale factor `sf`."""
    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    _write(out, "region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])})
    _write(out, "nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})
    segs = np.array(["BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE"])
    _write(out, "customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, size=n_cust)])})
    _write(out, "supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp))})
    adj = np.array("red old cold hot new large small blue".split())
    noun = np.array("bolt anvil plate widget gear ring rod gizmo".split())
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"])
    pk = np.arange(n_part, dtype=np.int64)
    _write(out, "part", {
        "p_partkey": pa.array(pk),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                                       noun[rng.integers(0, 8, n_part)])),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900.0 + (pk % 1000) / 10.0, 1))})
    status = np.array(["P", "O", "F"])
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    odate = _days_us("1995-01-01", 2404, rng, n_ord)
    _write(out, "orders", {
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord, dtype=np.int64)),
        "o_orderstatus": pa.array(status[rng.integers(0, 3, n_ord)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _ts_col(odate),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)])})
    lines = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord, dtype=np.int64), lines)
    lnum = np.concatenate([np.arange(1, c + 1, dtype=np.int32) for c in lines])
    n = len(okey)
    qty = rng.integers(1, 51, n).astype(np.float64)
    flags = np.array(["A", "N", "R"])
    lstat = np.array(["O", "F"])
    _write(out, "lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n, dtype=np.int64)),
        "l_linenumber": pa.array(lnum),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(flags[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(lstat[rng.integers(0, 2, n)]),
        "l_shipdate": _ts_col(_days_us("1995-01-02", 2498, rng, n))})


def documents(out, rng, n_base, n_copies=0, mutate=0.0):
    """`n_base` random documents plus `n_copies` near-duplicates. Copies go
    round-robin over the base documents, each with exactly a `mutate`
    fraction of its tokens replaced, so near-duplicate clusters grow with
    the corpus. Document lengths are a fixed set the seed only shuffles, so
    the amount of work does not depend on the seed."""
    lengths = rng.permutation(8 + (np.arange(n_base) * 37) % 82)
    toks = []
    for i, n_words in enumerate(lengths):
        t = [VOCAB[j] for j in rng.integers(0, len(VOCAB), int(n_words))]
        if i % 20 == 0:
            t += ["dup"] * (1 + i % 2)
        toks.append(t)
    for j in range(n_copies):
        t = list(toks[j % n_base])
        for i in rng.choice(len(t), size=int(round(mutate * len(t))), replace=False):
            t[i] = VOCAB[int(rng.integers(0, len(VOCAB)))]
        toks.append(t)
    texts = [" ".join(t) for t in toks]
    n = len(texts)
    ids = np.arange(n, dtype=np.int64)
    _write(out, "documents", {
        "doc_id": pa.array(ids),
        "text": pa.array(texts),
        "lang": pa.array(LANGS[rng.choice(5, size=n, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in ids]),
        "n_chars": pa.array(np.array([len(s) for s in texts], dtype=np.int64))})
    return n


def embeddings(out, rng, n_base, n_copies=0, mutate=0.0, dim=64):
    """Unit vectors: `n_base` random ones plus `n_copies` copies, round-robin
    over the base vectors, each with exactly a `mutate` fraction of its
    dimensions perturbed."""
    v = rng.standard_normal((n_base, dim))
    labels = rng.integers(0, 10, n_base)
    if n_copies:
        src = np.arange(n_copies) % n_base
        c = v[src].copy()
        k = int(round(mutate * dim))
        for row in c:
            row[rng.choice(dim, size=k, replace=False)] += rng.standard_normal(k) * 0.3
        v = np.vstack([v, c])
        labels = np.concatenate([labels, labels[src]])
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    n = len(v)
    emb = pa.ListArray.from_arrays(pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)),
                                   pa.array(v.reshape(-1)))
    _write(out, "embeddings", {
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb,
        "label": pa.array(labels.astype(np.int32))})
    return n


def generate(out, seed, sizes):
    """Write every table for one workload input into `out`; returns row
    counts of the tables whose size the workload measures."""
    rng = np.random.default_rng(seed)
    relational(out, rng, sizes.get("sf", 0.001))
    counts = {"events": events(out, rng, sizes["events"], sizes["users"],
                               sizes.get("days", 30), sizes.get("repl", 1),
                               sizes.get("files", 1))}
    counts["documents"] = documents(out, rng, sizes["docs"], sizes.get("doc_copies", 0),
                                    sizes.get("mutate", 0.0))
    counts["embeddings"] = embeddings(out, rng, sizes["vecs"], sizes.get("vec_copies", 0),
                                      sizes.get("mutate", 0.0))
    return counts
