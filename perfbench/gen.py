"""Seeded input generator for the benchmark.

Writes the TPC-H-style star schema plus the `documents` and `embeddings`
tables the engine's text and vector operators read, as one parquet file
per table, with the column names and types the engine's queries expect.
The same seed and scale always give byte-identical tables.
"""
import hashlib
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GEN_VERSION = 1

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
PART_ADJ = ["large", "hot", "blue", "small", "cold", "red", "green", "shiny"]
PART_NOUN = ["ring", "bolt", "gear", "nut", "pipe", "valve", "spring", "plate"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
LANGS = ["en", "zh", "de", "es", "fr"]
LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
EMB_DIM = 64


def sizes(scale):
    """Row counts at a scale; scale 1.0 is ten times the sf0.1 fixture."""
    n_cust = int(150_000 * scale)
    return {
        "customer": n_cust,
        "orders": n_cust * 10,
        "part": int(200_000 * scale),
        "supplier": max(10, int(10_000 * scale)),
        "documents": int(50_000 * scale),
        "embeddings": int(20_000 * scale),
    }


def _ts(rng, n):
    # days since 1992-01-01 → timestamp[us]
    days = rng.integers(0, 365 * 10, n)
    return (np.datetime64("1992-01-01") + days.astype("timedelta64[D]")).astype("datetime64[us]")


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def tables(seed, scale):
    """Return {name: pyarrow.Table} for one seed."""
    rng = np.random.default_rng(seed)
    n = sizes(scale)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": [f"REGION_{i}" for i in range(5)]})
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5)})

    nc = n["customer"]
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": [f"Customer#{k:09d}" for k in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": _money(rng, -999.99, 9999.99, nc),
        "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, nc)])})

    np_ = n["part"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(np_, dtype=np.int64)),
        "p_name": pa.array(np.char.add(np.char.add(
            np.array(PART_ADJ)[rng.integers(0, len(PART_ADJ), np_)], " "),
            np.array(PART_NOUN)[rng.integers(0, len(PART_NOUN), np_)])),
        "p_brand": pa.array(np.char.add("Brand#", rng.integers(1, 26, np_).astype(str))),
        "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, np_)]),
        "p_size": pa.array(rng.integers(1, 51, np_, dtype=np.int32)),
        "p_retailprice": np.round(900.0 + np.arange(np_) % 20_000 * 0.1, 2)})

    no = n["orders"]
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, no)]),
        "o_totalprice": _money(rng, 900.0, 450_000.0, no),
        "o_orderdate": pa.array(_ts(rng, no)),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, no)])})

    lines = rng.integers(1, 8, no)
    nl = int(lines.sum())
    okey = np.repeat(np.arange(no, dtype=np.int64), lines)
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, np_, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl, dtype=np.int64)),
        "l_linenumber": pa.array((np.arange(nl) - starts + 1).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 100_000.0, nl),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, nl)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, nl)]),
        "l_shipdate": pa.array(_ts(rng, nl))})

    nd = n["documents"]
    texts = []
    vocab = np.array(VOCAB)
    for i in range(nd):
        if i > 10 and rng.random() < 0.05:
            # near-duplicate of an earlier document: a few words swapped
            words = texts[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = "dup"
        else:
            words = list(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        texts.append(" ".join(words))
    out["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": texts,
        "lang": pa.array(np.array(LANGS)[rng.choice(5, nd, p=LANG_P)]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64))})

    ne = n["embeddings"]
    labels = rng.integers(0, 10, ne).astype(np.int32)
    centroids = rng.normal(0.0, 0.12, (10, EMB_DIM))
    vecs = (centroids[labels] + rng.normal(0.0, 0.08, (ne, EMB_DIM))).astype(np.float32)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(ne, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(labels)})
    return out


def write(seed, scale, out_dir):
    """Write the tables for `seed` under `out_dir` (cached: a complete
    directory for the same seed, scale and generator version is reused)
    and return the hex digest of the generated files."""
    stamp = os.path.join(out_dir, "_digest")
    key = f"v{GEN_VERSION} seed={seed} scale={scale}"
    if os.path.exists(stamp):
        with open(stamp) as f:
            k, digest = f.read().split("\n")[:2]
        if k == key:
            return digest
    os.makedirs(out_dir, exist_ok=True)
    h = hashlib.sha256()
    for name, t in sorted(tables(seed, scale).items()):
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(t, path)
        with open(path, "rb") as f:
            h.update(name.encode())
            h.update(f.read())
    digest = h.hexdigest()[:16]
    with open(stamp, "w") as f:
        f.write(f"{key}\n{digest}\n")
    return digest
