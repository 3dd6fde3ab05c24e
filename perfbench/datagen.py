"""Benchmark inputs, generated on the spot and never downloaded.

Three layers of input, each built from a fixed or a given seed:

- ``write_base``: the ten fixture tables (schemas and value domains as in
  FIXTURES.md) at a small scale factor, from a fixed internal seed, so every
  checkout builds byte-identical tables;
- ``replicate``: the repository's own ``scripts/gen_sf1.py`` run over that
  base (its key-shifting replication), giving the larger
  document set the streaming feed is cut from;
- ``write_feed``: the JSON-lines document feed of the streaming workload.
  The benchmark's ``--seed`` sets which feed file each row lands in.
"""

from __future__ import annotations

import datetime as dt
import importlib.util
import json
import os
import random
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 20240101

#: rows per table at scale factor 1 (documents/embeddings have a floor of
#: 500 rows, as in the fixtures)
ROWS_AT_SF1 = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 20_000,
}

VOCAB = (
    "a the batch part spark line column order small sort fast value scan "
    "hash slow group agg filter query big key window row table stream "
    "merge data vector customer join index"
).split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
P_WORDS = ["blue", "hot", "large", "small", "red", "green", "ring", "bolt",
           "nut", "gear"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.42, 0.15, 0.15, 0.14]


def _rows(name: str, sf: float) -> int:
    n = int(round(ROWS_AT_SF1[name] * sf))
    return max(n, 500) if name in ("documents", "embeddings") else max(n, 10)


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, span_days: int, n):
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span_days, n).astype("timedelta64[D]")


def _write(out_dir: str, name: str, cols: dict) -> None:
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _documents(rng, n: int) -> dict:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)
    texts = [" ".join(words[rng.integers(0, len(VOCAB), k)]) for k in lengths]
    # plant exact duplicates (~0.5 %) and one-word-edit near duplicates
    # (~3 %) so the dedup operators have pairs to find
    for i in range(n):
        r = rng.random()
        if i > 0 and r < 0.005:
            texts[i] = texts[int(rng.integers(0, i))]
        elif i > 0 and r < 0.035:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = VOCAB[
                int(rng.integers(0, len(VOCAB)))
            ]
            texts[i] = " ".join(toks)
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(LANGS, n, p=LANG_P),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def write_base(out_dir: str, sf: float) -> None:
    """Write the ten tables at scale factor ``sf``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(BASE_SEED)
    i32 = pa.int32()
    _write(out_dir, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    _write(out_dir, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    n_cust, n_supp, n_part = (_rows(t, sf) for t in
                              ("customer", "supplier", "part"))
    _write(out_dir, "customer", {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(SEGMENTS, n_cust),
    })
    _write(out_dir, "supplier", {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    keys = np.arange(n_part, dtype=np.int64)
    _write(out_dir, "part", {
        "p_partkey": keys,
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(P_WORDS[:6], n_part),
                                              rng.choice(P_WORDS[6:], n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 2),
    })
    n_ord = _rows("orders", sf)
    o_date = _days(rng, "1995-01-01", 2404, n_ord)
    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": o_date,
        "o_orderpriority": rng.choice(PRIORITIES, n_ord),
    })
    n_li = _rows("lineitem", sf)
    l_ord = np.sort(rng.integers(0, n_ord, n_li))
    _write(out_dir, "lineitem", {
        "l_orderkey": l_ord,
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": o_date[l_ord]
        + rng.integers(1, 95, n_li).astype("timedelta64[D]"),
    })
    n_ev = _rows("events", sf)
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offs = np.sort(rng.integers(0, 30 * 86_400 * 1_000_000, n_ev))
    _write(out_dir, "events", {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offs.astype("timedelta64[us]"),
        "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev),
        "event_type": rng.choice(EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(60.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    _write(out_dir, "documents", _documents(rng, _rows("documents", sf)))
    n_emb = _rows("embeddings", sf)
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 0.1, (10, 64))
    vecs = (centers[labels] + rng.normal(0.0, 0.12, (n_emb, 64))).astype(
        np.float32
    )
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, i32),
    })


def replicate(root: str, src_dir: str, out_dir: str, replicas: int) -> None:
    """Scale ``src_dir`` up ``replicas`` times with the repository's
    ``scripts/gen_sf1.py`` (its source directory is a module constant)."""
    path = os.path.join(root, "scripts", "gen_sf1.py")
    spec = importlib.util.spec_from_file_location("perfbench_gen_sf1", path)
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    gen.SRC = src_dir
    argv = sys.argv
    sys.argv = [path, out_dir, str(replicas)]
    try:
        gen.main()
    finally:
        sys.argv = argv


def write_feed(docs_parquet: str, out_dir: str, rows: int, files: int,
               seed: int) -> int:
    """JSON-lines document feed of ``rows`` records over ``files`` files.

    Row ``i`` carries document ``i mod n`` with a copy prefix on its text,
    so each copy has its own content hash and only the corpus's planted
    duplicates repeat. All ingest times fall in one 30-minute span: the
    1-hour watermark then never drops a row as late, so the landed counts
    do not depend on which file (and hence which micro-batch) a row is in.
    The seed sets that row-to-file assignment. Returns the feed's bytes.
    """
    docs = pq.read_table(docs_parquet, columns=["text", "lang", "source"])
    texts, langs, sources = (docs.column(c).to_pylist()
                             for c in ("text", "lang", "source"))
    n = len(texts)
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    t0 = dt.datetime(2024, 3, 1)
    buckets: list[list[str]] = [[] for _ in range(files)]
    for i in range(rows):
        j = i % n
        ts = t0 + dt.timedelta(milliseconds=i * 1_800_000 // rows)
        rec = {
            "doc_id": i,
            "ingest_ts": ts.isoformat(timespec="milliseconds") + "Z",
            "text": f"c{i // n}_{texts[j]}",
            "lang": langs[j],
            "source": sources[j],
        }
        buckets[rng.randrange(files)].append(json.dumps(rec))
    total = 0
    for f, lines in enumerate(buckets):
        path = os.path.join(out_dir, f"part-{f:04d}.json")
        with open(path, "w") as fh:
            fh.write("\n".join(lines) + "\n")
        total += os.path.getsize(path)
    return total
