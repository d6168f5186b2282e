"""Deterministic benchmark inputs.

Writes the ten tables the catalog reads (TPC-H-style star schema plus
events, documents and embeddings) at scale factor 0.1, and the
`curation_scaled` variant: documents and embeddings replicated CURATION_FACTOR
times under the scaling probe's rules, every other table copied unchanged.

Replication rules (the same rules graft.ScaleProbe applies, reimplemented
here so the probe stays untouched):
  * replica k > 0 offsets its ids by k * ID_OFFSET, so copies are disjoint;
  * replica k > 0 permutes positions with one position-keyed order per
    replica (positions sorted by a hash of (position, k)): the words of
    every document, and the elements of every embedding. Within-replica
    structure (duplicates, dot products) survives, cross-replica overlap
    is destroyed, so pair counts grow linearly with the factor.

The data never depends on the benchmark seed: the seed only orders the
work, so result fingerprints recorded once stay valid for every seed.

Every run checks each file against the row count and SHA-256 recorded in
fixtures.json; a missing, partial or stale fixture is rebuilt before use.
"""
import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
SF = 0.1
CURATION_FACTOR = 32
CURATION_FILES = 8
ID_OFFSET = 10_000_000
HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "fixtures.json")

WORDS = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "fr", "es", "zh", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
ADJ = "blue old large hot cold red small new".split()
NOUN = "widget gizmo ring gear bolt plate rod anvil".split()
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]


def _ts(start, seconds):
    base = np.datetime64(start, "us")
    return pa.array(base + (seconds * 1_000_000).astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _days(rng, n, lo, hi):
    span = (dt.date.fromisoformat(hi) - dt.date.fromisoformat(lo)).days
    return _ts(lo, rng.integers(0, span + 1, n).astype(np.int64) * 86400)


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    texts = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:
            # near duplicate of an earlier document: one marker token
            words = texts[rng.integers(0, i)].split(" ")
            words.insert(int(rng.integers(0, len(words) + 1)), "dup")
            texts.append(" ".join(words))
        elif i > 20 and r < 0.052:
            texts.append(texts[rng.integers(0, i)])  # exact duplicate
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(WORDS[j] for j in
                                  rng.integers(0, len(WORDS), k)))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(LANGS, n, p=LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })


def _embeddings(rng, n, dim=64):
    v = rng.standard_normal((n, dim))
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    flat = pa.array(v.astype(np.float32).ravel())
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def base_tables():
    rng = np.random.default_rng(DATA_SEED)
    n_cust, n_supp, n_part = int(150000 * SF), int(10000 * SF), int(200000 * SF)
    n_ord, n_li, n_ev = int(1500000 * SF), int(6000000 * SF), int(1000000 * SF)
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
        "c_acctbal": pa.array(_money(rng, n_cust, -999.99, 9999.99)),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n_cust))})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
        "s_acctbal": pa.array(_money(rng, n_supp, -999.99, 9999.99))})
    pk = np.arange(n_part, dtype=np.int64)
    t["part"] = pa.table({
        "p_partkey": pa.array(pk),
        "p_name": pa.array([f"{ADJ[a]} {NOUN[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))]),
        "p_brand": pa.array([f"Brand#{b}" for b in
                             rng.integers(1, 26, n_part)]),
        "p_type": pa.array(rng.choice(P_TYPES, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(np.round(900 + (pk % 1000) / 10, 2))})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
        "o_totalprice": pa.array(_money(rng, n_ord, 1000, 500000)),
        "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-01"),
        "o_orderpriority": pa.array(rng.choice(PRIORITIES, n_ord))})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, n_li, 900, 105000)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, n_li) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
        "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
        "l_shipdate": _days(rng, n_li, "1995-01-02", "2001-11-04")})
    secs = np.sort(rng.uniform(0, 30 * 86400, n_ev))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": _ts("2024-01-01", secs),
        "user_id": pa.array(rng.integers(0, 1500, n_ev)),
        "event_type": pa.array(rng.choice(EVENT_TYPES, n_ev)),
        "value": pa.array(np.round(rng.exponential(60, n_ev), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n_ev)])})
    t["documents"] = _documents(rng, int(50000 * SF))
    t["embeddings"] = _embeddings(rng, int(20000 * SF))
    return t


def _position_keys(n, replica):
    """splitmix64 of (position, replica): the replica's shared order key."""
    with np.errstate(over="ignore"):
        z = (np.arange(n, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
             + np.uint64(replica) * np.uint64(0xBF58476D1CE4E5B9))
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _replicate_documents(docs, f):
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    parts = [docs]
    for k in range(1, f):
        keys = _position_keys(max(len(t.split(" ")) for t in texts), k)
        permuted = []
        for text in texts:
            words = text.split(" ")
            order = np.argsort(keys[:len(words)], kind="stable")
            permuted.append(" ".join(words[i] for i in order))
        parts.append(docs.set_column(0, "doc_id",
                                     pa.array(ids + k * ID_OFFSET))
                     .set_column(1, "text", pa.array(permuted)))
    return pa.concat_tables(parts)


def _replicate_embeddings(emb, f):
    ids = emb.column("vec_id").to_numpy()
    lists = emb.column("embedding").combine_chunks()
    dim = len(lists[0])
    v = lists.flatten().to_numpy().reshape(-1, dim)
    parts = [emb]
    for k in range(1, f):
        order = np.argsort(_position_keys(dim, k), kind="stable")
        flat = pa.array(np.ascontiguousarray(v[:, order]).ravel())
        parts.append(emb.set_column(0, "vec_id", pa.array(ids + k * ID_OFFSET))
                     .set_column(1, "embedding", pa.ListArray.from_arrays(
                         lists.offsets, flat)))
    return pa.concat_tables(parts)


def _write(dirpath, tables, split=()):
    """One parquet file per table; tables named in `split` become a
    directory of CURATION_FILES files, as a Spark job writing the
    replicated table would leave them (several files, several scan tasks)."""
    os.makedirs(dirpath, exist_ok=True)
    for name, table in tables.items():
        path = os.path.join(dirpath, f"{name}.parquet")
        if name not in split:
            pq.write_table(table, path)
            continue
        os.makedirs(path)
        rows = table.num_rows // CURATION_FILES
        for k in range(CURATION_FILES):
            pq.write_table(table.slice(k * rows, rows),
                           os.path.join(path, f"part-{k:05d}.parquet"))


def _generate(root):
    if os.path.exists(root):
        shutil.rmtree(root)
    tables = base_tables()
    _write(os.path.join(root, "sf0.1"), tables)
    scaled = dict(tables)
    scaled["documents"] = _replicate_documents(tables["documents"],
                                               CURATION_FACTOR)
    scaled["embeddings"] = _replicate_embeddings(tables["embeddings"],
                                                 CURATION_FACTOR)
    _write(os.path.join(root, "curation"), scaled,
           split=("documents", "embeddings"))


def describe(root):
    """{relative file: {"rows": n, "sha256": hex}} for every parquet file."""
    out = {}
    for d, dirs, files in os.walk(root):
        dirs.sort()
        for f in sorted(files):
            p = os.path.join(d, f)
            with open(p, "rb") as fh:
                digest = hashlib.sha256(fh.read()).hexdigest()
            out[os.path.relpath(p, root)] = {
                "rows": pq.read_metadata(p).num_rows, "sha256": digest}
    return out


def ensure(root):
    """Make `root` hold exactly the recorded fixture (datasets `sf0.1` and
    `curation`). Raises when a fresh generation still disagrees with the
    record: the generator did not reproduce it, so the recorded result
    fingerprints would not apply."""
    with open(EXPECTED) as fh:
        expected = json.load(fh)
    if not (os.path.isdir(root) and describe(root) == expected):
        _generate(root)
        got = describe(root)
        if got != expected:
            bad = sorted(k for k in set(got) | set(expected)
                         if got.get(k) != expected.get(k))
            raise RuntimeError(f"fixture differs from fixtures.json: {bad}")


if __name__ == "__main__":
    import sys
    target = sys.argv[1]
    _generate(target)
    json.dump(describe(target), sys.stdout, indent=1, sort_keys=True)
