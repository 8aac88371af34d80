"""Output references, computed without graft.

* `marts` and `corpus`: each entry's DuckDB oracle SQL (the text graft
  registers in `SparkEntry.oracleSql`) run by DuckDB over the generated
  parquet files. One JSON file per entry, values encoded so the harness
  can compare them with Spark's rows (see `Check.scala`).
* `cdc`: an in-memory latest-wins model of the generated changelog. It
  gives, after every batch, a fingerprint of the live rows, of the rows
  of a few hot keys, and of the daily mart recomputed directly.
"""
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import re
import uuid
from collections import Counter, defaultdict

import duckdb
import numpy as np
import pyarrow.parquet as pq

_EPOCH = datetime.datetime(1970, 1, 1)


def encode(v):
    """A DuckDB value as JSON the harness reads back (Check.fromJson)."""
    if v is None or isinstance(v, (bool, int, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return {"f": "NaN"}
        if math.isinf(v):
            return {"f": "Infinity" if v > 0 else "-Infinity"}
        return v
    if isinstance(v, decimal.Decimal):
        return int(v) if v == v.to_integral_value() else float(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        d = v - _EPOCH
        return {"t": (d.days * 86400 + d.seconds) * 1_000_000 + d.microseconds}
    if isinstance(v, datetime.date):
        return {"t": (v - _EPOCH.date()).days * 86400 * 1_000_000}
    if isinstance(v, (list, tuple)):
        return [encode(x) for x in v]
    if isinstance(v, dict):
        if set(v) == {"key", "value"} and isinstance(v["key"], list):
            return {"m": [[encode(k), encode(x)] for k, x in zip(v["key"], v["value"])]}
        return [encode(x) for x in v.values()]
    if isinstance(v, bytes):
        return "x:" + v.hex()
    if isinstance(v, uuid.UUID):
        return str(v)
    return str(v)


def duckdb_views(data_dir):
    """A DuckDB connection with one view per table under `data_dir`."""
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    con.execute("SET TimeZone = 'UTC'")
    for path in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.splitext(os.path.basename(path))[0]
        files = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{files}'")
    return con


def oracle_refs(data_dir, oracles, out_dir):
    """Evaluate every oracle over `data_dir`'s parquet files; write <entry>.json.

    DuckDB runs the SQL, except for oracles `FAST` evaluates in numpy:
    DuckDB spends minutes on their per-trigram MD5 MinHash at corpus size.
    """
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb_views(data_dir)
    for name, sql in sorted(oracles.items()):
        if name in FAST:
            cols, rows = FAST[name](con, sql)
        else:
            cur = con.execute(sql)
            cols = [d[0] for d in cur.description]
            rows = [[encode(v) for v in r] for r in cur.fetchall()]
        with open(os.path.join(out_dir, f"{name}.json"), "w") as f:
            json.dump({"columns": cols, "rows": rows}, f, separators=(",", ":"))


# ------------------------------------------------- MinHash clusters (d06)

_MINHASH = re.compile(r"min\(\((\d+) \* \(\('0x' \|\| substr\(md5\(g\),1,8\)\)::BIGINT\) "
                      r"\+ (\d+)\) % 2147483647\)")


def minhash_clusters(con, sql):
    """The d06 oracle's result, computed with the hash coefficients read
    from its SQL: character-trigram MinHash signatures (16 hashes),
    candidates from 4 bands of 4, pairs kept when at least 14 of 16
    hashes agree, clusters as connected components; every document
    without a kept pair is its own cluster."""
    coef = [(int(a), int(b)) for a, b in _MINHASH.findall(sql)]
    if len(coef) != 16 or ">= 14" not in sql:
        raise ValueError("d06 oracle no longer has the 16-hash, 14-agree shape")
    docs = con.execute("SELECT doc_id, text FROM documents").fetchall()
    gram_ix, grams, members = {}, [], []
    for doc_id, text in docs:
        if text is None or len(text) < 3:
            continue
        ix = []
        for g in {text[j:j + 3] for j in range(len(text) - 2)}:
            if g not in gram_ix:
                gram_ix[g] = len(grams)
                grams.append(g)
            ix.append(gram_ix[g])
        members.append((doc_id, np.array(ix, dtype=np.int64)))
    x = np.array([int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams],
                 dtype=np.int64)
    a = np.array([c[0] for c in coef], dtype=np.int64)
    b = np.array([c[1] for c in coef], dtype=np.int64)
    h = (x[:, None] * a[None, :] + b[None, :]) % 2147483647
    sig = {d: h[ix].min(axis=0) for d, ix in members}
    parent = {}

    def find(u):
        while parent.get(u, u) != u:
            parent[u] = parent.get(parent[u], parent[u])
            u = parent[u]
        return u

    seen = set()
    for band in range(4):
        buckets = defaultdict(list)
        for d, s in sig.items():
            buckets[tuple(s[band * 4:band * 4 + 4])].append(d)
        for ds in buckets.values():
            for i, da in enumerate(ds):
                for db in ds[i + 1:]:
                    pair = (min(da, db), max(da, db))
                    if pair not in seen:
                        seen.add(pair)
                        if int((sig[da] == sig[db]).sum()) >= 14:
                            ra, rb = find(da), find(db)
                            if ra != rb:
                                parent[max(ra, rb)] = min(ra, rb)
    clusters = defaultdict(list)
    for doc_id, _ in docs:
        clusters[find(doc_id)].append(doc_id)
    rows = [[min(ds), len(ds), min(ds), max(ds)] for ds in clusters.values()]
    return ["cluster_id", "cluster_size", "keep_doc_id", "max_doc_id"], rows


FAST = {"d06_dup_clusters": minhash_clusters}


# ------------------------------------------------------------------ cdc

def row_hash(rendered):
    """First eight MD5 bytes, little-endian: the harness's row hash."""
    return int.from_bytes(hashlib.md5(rendered.encode()).digest()[:8], "little")


class Fingerprint:
    """Count and 64-bit hash sum of a multiset of rendered rows."""

    def __init__(self):
        self.n, self.h = 0, 0

    def add(self, rendered, sign=1):
        self.n += sign
        self.h = (self.h + sign * row_hash(rendered)) % (1 << 64)

    def pair(self):
        return [self.n, str(self.h)]


def render_live(key, row):
    seq, name, amount, dt, _ = row
    return f"{key}|{seq}|{name}|{amount}|{dt}"


def latest_wins(snapshot, batches, point_keys):
    """Apply `batches` (lists of change dicts, any order inside a batch)
    to `snapshot` by log position. Returns per-state fingerprints:
    state i is the table after the first i batches."""
    state = {}  # id -> (seq, name, amount, dt, live)
    live_fp, point_fp = Fingerprint(), Fingerprint()
    day_n, day_total, day_seq = Counter(), Counter(), defaultdict(int)
    points = set(point_keys)

    def put(key, row):
        old = state.get(key)
        if old is not None and old[4]:
            live_fp.add(render_live(key, old), -1)
            if key in points:
                point_fp.add(render_live(key, old), -1)
            day_n[old[3]] -= 1
            day_total[old[3]] -= old[2]
        state[key] = row
        if row[4]:
            live_fp.add(render_live(key, row))
            if key in points:
                point_fp.add(render_live(key, row))
            day_n[row[3]] += 1
            day_total[row[3]] += row[2]
        day_seq[row[3]] = max(day_seq[row[3]], row[0])

    def mart_fp():
        fp = Fingerprint()
        for dt in day_seq:
            fp.add(f"{dt}|{day_n[dt]}|{day_total[dt]}|{day_seq[dt]}")
        return fp.pair()

    for r in snapshot:
        put(r["id"], (r["seq"], r["name"], r["amount"], r["dt"], True))
    states, marts, pts = [live_fp.pair()], [mart_fp()], [point_fp.pair()]
    for batch in batches:
        for e in sorted(batch, key=lambda e: e["seq"]):
            cur = state.get(e["id"])
            if cur is None or e["seq"] > cur[0]:
                put(e["id"], (e["seq"], e["name"], e["amount"], e["dt"], e["op"] != "d"))
        states.append(live_fp.pair())
        marts.append(mart_fp())
        pts.append(point_fp.pair())
    return {"states": states, "marts": marts, "points": pts}


def cdc_refs(inputs_dir, out_path, n_points=20):
    """The model over the files the program will read."""
    snapshot = pq.read_table(os.path.join(inputs_dir, "snapshot.parquet")).to_pylist()
    batches = []
    for path in sorted(glob.glob(os.path.join(inputs_dir, "batches", "*.json"))):
        with open(path) as f:
            batches.append([json.loads(line) for line in f])
    hits = Counter(e["id"] for b in batches for e in b)
    point_keys = sorted(k for k, _ in sorted(hits.items(), key=lambda kv: (-kv[1], kv[0]))[:n_points])
    ref = latest_wins(snapshot, batches, point_keys)
    ref["point_keys"] = point_keys
    ref["batch_events"] = len(batches[0])
    with open(out_path, "w") as f:
        json.dump(ref, f, separators=(",", ":"))
    return ref
