"""Seeded input generators for the three workloads.

Every generator is a pure function of its arguments: the same seed and
sizes write byte-identical files (numpy's PCG64 stream, fixed parquet
writer settings, no timestamps in the output). Generation runs before
the measured program starts, so its cost is outside every metric.
"""
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------- marts

# The testdata star schema (region, nation, customer, supplier, part,
# orders, lineitem, events) at roughly scale factor 0.01: small enough
# that every entry is bound by fixed cost, the regime `marts` measures.
MARTS_SIZES = {"customer": 1500, "supplier": 100, "part": 2000,
               "orders": 15000, "lineitem": 60000, "events": 10000,
               "users": 150}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
ADJECTIVES = ["small", "new", "hot", "large", "cold", "blue", "old", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
PART_TYPES = ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]
LANGS = ["en", "fr", "zh", "de", "es"]
LANG_P = [0.44, 0.14, 0.14, 0.14, 0.14]
WORDS = ("a the key agg row scan slow fast table value part hash merge "
         "batch spark line column order data join small big customer "
         "query group sort filter window stream vector").split()


def _write(table, path):
    """Deterministic parquet: one row group, fixed codec, no stats drift."""
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 30,
                   write_statistics=True, use_dictionary=True)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, span_days, n):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, span_days, n)).astype("datetime64[us]")


def gen_marts(out_dir, seed, sizes=MARTS_SIZES):
    """The star schema the relational entries read, as one parquet per table."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n = sizes
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")
    tables = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32), "r_name": pa.array(REGIONS, s)})
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    nc = n["customer"]
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc), f64),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, nc), s)})
    ns = n["supplier"]
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns), f64)})
    npart = n["part"]
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array([f"{a} {b}" for a, b in zip(
            rng.choice(ADJECTIVES, npart), rng.choice(NOUNS, npart))], s),
        "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, npart)], s),
        "p_type": pa.array(rng.choice(PART_TYPES, npart), s),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 1), f64)})
    no = n["orders"]
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no), f64),
        "o_orderdate": pa.array(_days(rng, "1995-01-01", 2404, no), ts),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, no), s)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
        "l_shipdate": pa.array(_days(rng, "1995-01-02", 2499, nl), ts)})
    ne = n["events"]
    # strictly increasing microsecond timestamps over 30 days
    gaps = rng.integers(1, 2 * 30 * 86400 * 10**6 // ne, ne)
    ev_ts = np.datetime64("2024-01-01", "us") + np.cumsum(gaps)
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ev_ts.astype("datetime64[us]"), ts),
        "user_id": pa.array(rng.integers(0, n["users"], ne), i64),
        "event_type": pa.array(rng.choice(EVENT_TYPES, ne), s),
        "value": pa.array(_money(rng, 0.01, 490.02, ne), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s)})
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------- corpus

CORPUS_SIZES = {"docs": 6000, "vectors": 3000, "dim": 64, "clusters": 10,
                "exact_dup_frac": 0.02, "near_dup_frac": 0.04, "files": 8,
                "vocab": 20000, "zipf_s": 0.7}

# The corpus `marts` carries beside its star schema, for the operators
# layer: small, so those entries stay bound by fixed cost too.
MARTS_CORPUS_SIZES = dict(CORPUS_SIZES, docs=1500, vectors=800, files=4)


def _vocabulary(n):
    """The testdata's common words, then made-up words of random letters:
    a long tail, so unrelated documents share few character trigrams.
    The vocabulary is the same for every seed."""
    rng = np.random.default_rng(0)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    tail = ["".join(letters[rng.integers(0, 26, rng.integers(3, 10))])
            for _ in range(n - len(WORDS))]
    return np.array(WORDS + tail)


def _write_parts(table, path, parts):
    """A table as a directory of `parts` files, as a landed corpus is."""
    os.makedirs(path)
    step = -(-table.num_rows // parts)
    for i in range(parts):
        _write(table.slice(i * step, step), os.path.join(path, f"part-{i:05d}.parquet"))


def gen_corpus(out_dir, seed, sizes=CORPUS_SIZES):
    """`documents` and `embeddings` in the testdata schema.

    Exact duplicates copy another document's text; near duplicates copy
    it and replace a few words. Vectors are unit-norm float32 points
    scattered around `clusters` random centroids, labelled by cluster.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    nd = sizes["docs"]
    lengths = rng.integers(30, 100, nd)
    words = _vocabulary(sizes["vocab"])
    cdf = _zipf_cdf(len(words), sizes["zipf_s"])
    texts = [" ".join(words[np.searchsorted(cdf, rng.random(k))]) for k in lengths]
    n_exact = int(nd * sizes["exact_dup_frac"])
    n_near = int(nd * sizes["near_dup_frac"])
    targets = rng.choice(nd, n_exact + n_near, replace=False)
    for j, t in enumerate(targets):
        src = int(rng.integers(0, nd))
        if src == t:
            continue
        if j < n_exact:
            texts[t] = texts[src]
        else:
            toks = texts[src].split(" ")
            for _ in range(max(1, len(toks) // 20)):
                toks[int(rng.integers(0, len(toks)))] = str(rng.choice(words))
            texts[t] = " ".join(toks)
    langs = rng.choice(LANGS, nd, p=LANG_P)
    _write_parts(pa.table({
        "doc_id": pa.array(np.arange(nd), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(nd)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}),
        os.path.join(out_dir, "documents.parquet"), sizes["files"])
    nv, dim, k = sizes["vectors"], sizes["dim"], sizes["clusters"]
    centroids = rng.normal(0.0, 1.0, (k, dim))
    labels = rng.integers(0, k, nv)
    vecs = centroids[labels] + rng.normal(0.0, 0.6, (nv, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    _write_parts(pa.table({
        "vec_id": pa.array(np.arange(nv), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32())}),
        os.path.join(out_dir, "embeddings.parquet"), sizes["files"])
    return out_dir


# ------------------------------------------------------------------ cdc

CDC_SIZES = {"keys": 50000, "live_frac": 0.8, "zipf_s": 1.1,
             "p_delete": 0.1, "ooo_frac": 0.05, "batch": 2000,
             "batches": 48, "days": 28}
CDC_NAMES = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot"]


def _zipf_cdf(n_keys, s):
    p = 1.0 / np.arange(1, n_keys + 1) ** s
    return np.cumsum(p / p.sum())


def key_day(key, days):
    """The day a key was created: fixed per key, so a daily mart only
    ever changes on the days its touched keys belong to."""
    return f"2024-01-{1 + key % days:02d}"


def cdc_rows(seed, sizes=CDC_SIZES):
    """(snapshot rows, batches of change rows) as Python dicts.

    Rows carry the Debezium-flattened envelope: `op` (r = snapshot,
    c = insert, u = update, d = delete), the key `id`, the log position
    `seq` (strictly increasing in true order) and `ts_ms`. A delete
    keeps the last image's payload, like a Debezium `before`. Inside a
    batch, `ooo_frac` of the events are swapped with a neighbour, so
    file order is not log order; across batches the log is in order.
    """
    rng = np.random.default_rng(seed)
    n_keys, days = sizes["keys"], sizes["days"]
    live = np.zeros(n_keys, dtype=bool)
    live[rng.choice(n_keys, int(n_keys * sizes["live_frac"]), replace=False)] = True
    amount = rng.integers(100, 100000, n_keys)
    name = rng.integers(0, len(CDC_NAMES), n_keys)
    t0 = 1704067200000  # 2024-01-01T00:00:00Z

    def row(op, k, seq):
        return {"op": op, "id": int(k), "seq": int(seq), "ts_ms": t0 + int(seq) * 10,
                "name": CDC_NAMES[name[k]], "amount": int(amount[k]),
                "dt": key_day(int(k), days)}

    snapshot = [row("r", k, 0) for k in np.flatnonzero(live)]
    # P(rank r) ∝ r^-s; the hot ranks are scattered over the key space
    cdf = _zipf_cdf(n_keys, sizes["zipf_s"])
    rank_to_key = rng.permutation(n_keys)
    seq = 0
    batches = []
    for _ in range(sizes["batches"]):
        ranks = np.minimum(np.searchsorted(cdf, rng.random(sizes["batch"])), n_keys - 1)
        keys = rank_to_key[ranks]
        dels = rng.random(sizes["batch"]) < sizes["p_delete"]
        new_amount = rng.integers(100, 100000, sizes["batch"])
        new_name = rng.integers(0, len(CDC_NAMES), sizes["batch"])
        out = []
        for k, d, a, nm in zip(keys, dels, new_amount, new_name):
            seq += 1
            if not live[k]:
                op = "c"
                live[k] = True
                amount[k], name[k] = a, nm
            elif d:
                op = "d"
                live[k] = False
            else:
                op = "u"
                amount[k], name[k] = a, nm
            out.append(row(op, k, seq))
        n_swap = int(len(out) * sizes["ooo_frac"])
        for i in rng.integers(0, len(out) - 1, n_swap):
            out[i], out[i + 1] = out[i + 1], out[i]
        batches.append(out)
    return snapshot, batches


def gen_cdc(out_dir, seed, sizes=CDC_SIZES):
    """Snapshot as parquet, one JSON-lines changelog file per batch."""
    snapshot, batches = cdc_rows(seed, sizes)
    os.makedirs(os.path.join(out_dir, "batches"), exist_ok=True)
    cols = ["op", "id", "seq", "ts_ms", "name", "amount", "dt"]
    types = [pa.string(), pa.int64(), pa.int64(), pa.int64(), pa.string(),
             pa.int64(), pa.string()]
    _write(pa.table({c: pa.array([r[c] for r in snapshot], t)
                     for c, t in zip(cols, types)}),
           os.path.join(out_dir, "snapshot.parquet"))
    for i, b in enumerate(batches):
        with open(os.path.join(out_dir, "batches", f"{i:05d}.json"), "w") as f:
            for r in b:
                f.write(json.dumps(r, separators=(",", ":")) + "\n")
    return snapshot, batches
