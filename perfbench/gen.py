"""Seeded input generator for the benchmark.

Writes the star schema the library's query builders read (one snappy
parquet file per table, `<dir>/<table>.parquet`) with the same schemas
and value domains as the repository's fixture tables (FIXTURES.md B):
TPC-H-style keys and flags, an `events` stream, a `documents` corpus
drawn from a 30-word vocabulary with 5% " dup" near-duplicates, and
unit-norm 64-d `embeddings`. The same (seed, scale, copies) always
writes the same bytes of data.

`copies` > 1 is the batch scale-up: like `BenchSf1.synthesize`, each
copy offsets the keys so joins and graphs scale as disjoint replicas,
and perturbs text and embeddings so the dedup shapes see near-duplicate
clusters rather than exact clones.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows at scale 0.1; every table scales linearly except the fixed
# dimension tables and the corpus/vector floors
BASE = {"customer": 15000, "supplier": 1000, "part": 20000,
        "orders": 150000, "lineitem": 600000, "events": 100000,
        "documents": 5000, "embeddings": 2000}
FLOOR = {"documents": 500, "embeddings": 500}
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()

VOCAB = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
COLORS = "blue cold hot large new old red small".split()
NOUNS = "anvil bolt gear gizmo plate ring rod widget".split()
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def rows(table, scale):
    return max(FLOOR.get(table, 1), int(round(BASE[table] * scale / 0.1)))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    span = (np.datetime64(end) - np.datetime64(start)).astype(int)
    d = np.datetime64(start) + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return d.astype("datetime64[us]")


def _pick(rng, values, n, p=None):
    return np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)]


def _texts(rng, n):
    lens = rng.integers(10, 101, n)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    out, at = [], 0
    for k in lens:
        out.append(" ".join(words[at:at + k]))
        at += k
    # 5% near-duplicates: an earlier document's text plus " dup"
    for i in np.flatnonzero(rng.random(n) < 0.05):
        if i > 0:
            out[i] = out[int(rng.integers(0, i))] + " dup"
    return out


def tables(seed, scale, only=None):
    """The base tables (all, or the names in `only`) as
    {name: pyarrow.Table}."""
    rng = np.random.default_rng(seed)
    n = {t: rows(t, scale) for t in BASE}
    i32, i64 = pa.int32(), pa.int64()
    out = {}

    def want(t):
        return only is None or t in only
    c, s, p, o, li, e, d, m = (n[t] for t in (
        "customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"))
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    if want("customer"):
        out["customer"] = pa.table({
            "c_custkey": pa.array(np.arange(c), i64),
            "c_name": [f"Customer#{i:09d}" for i in range(c)],
            "c_nationkey": pa.array(rng.integers(0, 25, c), i32),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(rng, SEGMENTS, c)})
    if want("supplier"):
        out["supplier"] = pa.table({
            "s_suppkey": pa.array(np.arange(s), i64),
            "s_name": [f"Supplier#{i:09d}" for i in range(s)],
            "s_nationkey": pa.array(rng.integers(0, 25, s), i32),
            "s_acctbal": _money(rng, -999.99, 9999.99, s)})
    if want("part"):
        out["part"] = pa.table({
            "p_partkey": pa.array(np.arange(p), i64),
            "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                       zip(rng.integers(0, 8, p), rng.integers(0, 8, p))],
            "p_brand": [f"Brand#{k}" for k in rng.integers(1, 26, p)],
            "p_type": _pick(rng, PTYPES, p),
            "p_size": pa.array(rng.integers(1, 51, p), i32),
            "p_retailprice": 900.0 + rng.integers(0, 1000, p) / 10.0})
    if want("orders"):
        out["orders"] = pa.table({
            "o_orderkey": pa.array(np.arange(o), i64),
            "o_custkey": pa.array(rng.integers(0, c, o), i64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], o),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", o),
            "o_orderpriority": _pick(rng, PRIORITIES, o)})
    if want("lineitem"):
        out["lineitem"] = pa.table({
            "l_orderkey": pa.array(rng.integers(0, o, li), i64),
            "l_partkey": pa.array(rng.integers(0, p, li), i64),
            "l_suppkey": pa.array(rng.integers(0, s, li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, li), i32),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
            "l_returnflag": _pick(rng, ["A", "N", "R"], li),
            "l_linestatus": _pick(rng, ["F", "O"], li),
            "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", li)})
    if want("events"):
        month_us = 30 * 86400 * 10**6
        ts = np.sort(rng.integers(0, month_us, e))
        out["events"] = pa.table({
            "event_id": pa.array(np.arange(e), i64),
            "ts": (np.datetime64("2024-01-01", "us") + ts.astype("timedelta64[us]")),
            "user_id": pa.array(rng.integers(0, max(1, c // 10), e), i64),
            "event_type": _pick(rng, EVENT_TYPES, e),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]})
    if want("documents"):
        text = _texts(rng, d)
        out["documents"] = pa.table({
            "doc_id": pa.array(np.arange(d), i64),
            "text": text,
            "lang": _pick(rng, LANGS, d, LANG_P),
            "source": [f"src{i % 20}" for i in range(d)],
            "n_chars": pa.array([len(t) for t in text], i64)})
    if want("embeddings"):
        v = rng.standard_normal((m, 64))
        v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
        out["embeddings"] = _embeddings(np.arange(m), v, rng.integers(0, 10, m))
    return out


def _embeddings(ids, vecs, labels):
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())})


def scale_up(base, copies, seed):
    """`copies` key-offset replicas of the batch inputs among `base`
    (documents, embeddings, lineitem); copy 0 is the base table itself."""
    rng = np.random.default_rng(seed + 7919)
    out = dict(base)
    if "documents" in base:
        docs = base["documents"].to_pydict()
        d = {k: [] for k in docs}
        for i in range(copies):
            d["doc_id"] += [x + i * 10_000_000 for x in docs["doc_id"]]
            texts = docs["text"] if i == 0 else [f"{t} c{i}" for t in docs["text"]]
            d["text"] += texts
            d["lang"] += docs["lang"]
            d["source"] += docs["source"]
            d["n_chars"] += [len(t) for t in texts]
        out["documents"] = pa.table(d, schema=base["documents"].schema)
    if "embeddings" in base:
        emb = base["embeddings"]
        vecs = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False))
        ids = emb.column("vec_id").to_numpy()
        labels = emb.column("label").to_numpy()
        parts = []
        for i in range(copies):
            v = vecs if i == 0 else vecs + 0.01 * rng.standard_normal(vecs.shape)
            v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
            parts.append(_embeddings(ids + i * 10_000_000, v, labels))
        out["embeddings"] = pa.concat_tables(parts)
    if "lineitem" in base:
        li = base["lineitem"]
        parts = []
        for i in range(copies):
            cols = {f.name: li.column(f.name) for f in li.schema}
            for k in ("l_orderkey", "l_partkey", "l_suppkey"):
                cols[k] = pa.array(li.column(k).to_numpy() + i * 100_000_000, pa.int64())
            parts.append(pa.table(cols, schema=li.schema))
        out["lineitem"] = pa.concat_tables(parts)
    return out


def write(out_dir, seed, scale, copies=1, only=None):
    """Write the tables (all, or the names in `only`) under `out_dir`;
    returns {table: rows}."""
    os.makedirs(out_dir, exist_ok=True)
    t = tables(seed, scale, only)
    if copies > 1:
        t = scale_up(t, copies, seed)
    counts = {}
    for name in TABLES:
        if only is None or name in only:
            pq.write_table(t[name], f"{out_dir}/{name}.parquet")
            counts[name] = t[name].num_rows
    return counts

