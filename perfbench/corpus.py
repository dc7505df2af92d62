"""Seeded generator for the benchmark's parquet corpora.

The tables follow the schemas and value distributions of the engine's
fixture corpus (TPC-H-ish star schema plus `events`, `documents` and
`embeddings`; see FIXTURES.md at the repository root), so every registered
query runs on them unchanged. Column types are those of the fixture's
parquet files, which `selftest.py` compares when given a fixture directory.
That includes the timestamps: `events.ts`, `o_orderdate` and `l_shipdate`
are INT64 TIMESTAMP(MICROS) without the UTC flag, which Spark reads as
TIMESTAMP_NTZ (the branch of `Tables.eventsTs` the fixture takes), not the
ns / ms encodings FIXTURES.md's table lists. The same (seed, size) always
gives the same bytes; a corpus is cached under
`<root>/<size>-<rows digest>-s<seed>/` with a MANIFEST.json holding its row
counts, file sizes and content digest.
"""
import hashlib
import json
import os
import shutil
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

# Row counts per size. `fixture` is the shape of the engine's sf0.1 fixture;
# `smoke` that of sf0.001; `scaled` is the scaled-batch corpus.
SIZES = {
    "smoke": dict(customer=150, supplier=10, part=200, orders=1_500,
                  lineitem=6_000, events=1_000, users=15, documents=500,
                  embeddings=500),
    "fixture": dict(customer=15_000, supplier=1_000, part=20_000,
                    orders=150_000, lineitem=600_000, events=100_000,
                    users=1_500, documents=5_000, embeddings=2_000),
    "scaled": dict(customer=15_000, supplier=1_000, part=20_000,
                   orders=150_000, lineitem=600_000, events=140_000,
                   users=1_500, documents=7_000, embeddings=2_000),
}

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
STATUS = ["F", "O", "P"]
PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join key "
         "line merge order part query row scan slow small sort spark stream "
         "table the value vector window").split()
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
DUP_FRAC = 0.05  # documents that repeat an earlier one plus a "dup" token


def _dates(rng, n, start, days):
    base = np.datetime64(start, "D")
    return (base + rng.integers(0, days, n).astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n):
    lengths = rng.integers(10, 101, n)
    flat = rng.integers(0, len(WORDS), int(lengths.sum()))
    words = np.array(WORDS, dtype=object)[flat]
    ends = np.cumsum(lengths)
    texts = [" ".join(words[e - k:e]) for e, k in zip(ends, lengths)]
    for i in np.nonzero(rng.random(n) < DUP_FRAC)[0]:
        if i > 0:
            texts[i] = texts[int(rng.integers(0, i))] + " dup"
    ids = np.arange(n, dtype=np.int64)
    return pd.DataFrame({
        "doc_id": ids,
        "text": texts,
        "lang": np.array(LANGS, dtype=object)[rng.choice(len(LANGS), n, p=LANG_P)],
        "source": ["src%d" % (i % 20) for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(rng, n):
    v = rng.standard_normal((n, 64)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n).astype(np.int32)),
    })


def _events(rng, n, users):
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pd.DataFrame({
        "event_id": np.arange(n, dtype=np.int64),
        "ts": np.datetime64("2024-01-01", "us") + ts,
        "user_id": rng.integers(0, users, n).astype(np.int64),
        "event_type": np.array(EVENT_TYPES, dtype=object)[rng.integers(0, 5, n)],
        "value": np.round(rng.exponential(50.0, n), 2),
        "props": ['{"k": %d}' % k for k in rng.integers(0, 100, n)],
    })


def build_tables(seed, rows):
    """Returns {table: pandas.DataFrame | pyarrow.Table} for `rows`."""
    rng = np.random.default_rng(seed)
    pick = lambda opts, n: np.array(opts, dtype=object)[rng.integers(0, len(opts), n)]
    nc, ns, np_, no, nl = (rows[k] for k in ("customer", "supplier", "part", "orders", "lineitem"))
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": REGIONS})
    t["nation"] = pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                "n_name": ["NATION_%d" % i for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(nc, dtype=np.int64),
        "c_name": ["Customer#%09d" % i for i in range(nc)],
        "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
        "c_acctbal": _money(rng, nc, -999.99, 9999.99),
        "c_mktsegment": pick(SEGMENTS, nc)})
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(ns, dtype=np.int64),
        "s_name": ["Supplier#%09d" % i for i in range(ns)],
        "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
        "s_acctbal": _money(rng, ns, -999.99, 9999.99)})
    names = ["%s %s" % (a, b) for a in ADJ for b in NOUN]
    t["part"] = pd.DataFrame({
        "p_partkey": np.arange(np_, dtype=np.int64),
        "p_name": pick(names, np_),
        "p_brand": ["Brand#%d" % b for b in rng.integers(1, 26, np_)],
        "p_type": pick(PTYPES, np_),
        "p_size": rng.integers(1, 51, np_).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(np_) % 1000) / 10.0, 2)})
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(no, dtype=np.int64),
        "o_custkey": rng.integers(0, nc, no).astype(np.int64),
        "o_orderstatus": pick(STATUS, no),
        "o_totalprice": _money(rng, no, 1000.0, 500000.0),
        "o_orderdate": _dates(rng, no, "1995-01-01", 2404),
        "o_orderpriority": pick(PRIORITY, no)})
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
        "l_partkey": rng.integers(0, np_, nl).astype(np.int64),
        "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, nl, 900.0, 105000.0),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pick(["A", "N", "R"], nl),
        "l_linestatus": pick(["F", "O"], nl),
        "l_shipdate": _dates(rng, nl, "1995-01-02", 2499)})
    t["events"] = _events(rng, rows["events"], rows["users"])
    t["documents"] = _documents(rng, rows["documents"])
    t["embeddings"] = _embeddings(rng, rows["embeddings"])
    return t


def _write(table, path):
    if isinstance(table, pd.DataFrame):
        table = pa.Table.from_pandas(table, preserve_index=False)
    pq.write_table(table, path, compression="snappy")


def corpus_dir(root, seed, size):
    """The cache key holds the row counts too, so resizing never reuses."""
    spec = hashlib.sha256(json.dumps(SIZES[size], sort_keys=True).encode()).hexdigest()
    return os.path.join(root, "%s-%s-s%d" % (size, spec[:8], seed))


def _prune(root, size, keep, newest=4):
    """Deletes all but the `newest` cached corpora of `size`."""
    dirs = [os.path.join(root, d) for d in os.listdir(root)
            if d.startswith(size + "-") and ".tmp" not in d]
    dirs.sort(key=os.path.getmtime, reverse=True)
    for d in dirs[newest:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def ensure(root, seed, size):
    """Generates the corpus for (seed, size) unless it is cached.

    Returns (dir, manifest, generation seconds; 0.0 when cached)."""
    out = corpus_dir(root, seed, size)
    man_path = os.path.join(out, "MANIFEST.json")
    if os.path.exists(man_path):
        with open(man_path) as f:
            return out, json.load(f), 0.0
    t0 = time.perf_counter()
    tmp = out + ".tmp%d" % os.getpid()
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tables = build_tables(seed, SIZES[size])
    digest = hashlib.sha256()
    manifest = {"seed": seed, "size": size, "tables": {}}
    for name in TABLES:
        path = os.path.join(tmp, name + ".parquet")
        _write(tables[name], path)
        with open(path, "rb") as f:
            data = f.read()
        digest.update(name.encode() + b"\0" + data)
        manifest["tables"][name] = {"rows": len(tables[name]), "bytes": len(data)}
    manifest["digest"] = digest.hexdigest()
    with open(os.path.join(tmp, "MANIFEST.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    os.sync()  # flush now rather than under the measured run
    try:
        os.rename(tmp, out)
    except OSError:  # another process cached the same corpus first
        shutil.rmtree(tmp, ignore_errors=True)
    _prune(root, size, keep=out)
    with open(man_path) as f:
        return out, json.load(f), time.perf_counter() - t0
