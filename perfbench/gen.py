#!/usr/bin/env python3
"""Seeded input generator for the benchmark.

Two kinds of input, both written as Parquet and both a pure function of
the seed:

* ``fixtures(seed, sf, out_dir)`` -- the ten star-schema / stream /
  LLM-data tables the query surface reads (``region`` ... ``embeddings``),
  with the row counts, column types and value distributions of the
  project's driver-generated fixtures (every column independent and
  uniform over the same domain, ~5% of documents are near-duplicates
  of an earlier one with `` dup`` appended, embeddings are random unit
  vectors).
* ``pca_matrix(seed, path)`` -- the ``pca_wide`` input: ROWS x COLS
  ``array<float>`` rows drawn from a planted covariance
  ``sum_i lam_i q_i q_i^T + NOISE^2 I`` with a strictly decreasing
  ``lam`` over PLANTED > K + 1 orthonormal directions, plus a random
  column mean. The top K + 1 eigenvalues are therefore distinct and the
  K components unique, so two PCA implementations can be compared at a
  fixed absolute tolerance.

Usage: gen.py fixtures <seed> <sf> <dir> | gen.py pca <seed> <file.parquet>
"""
import datetime
import hashlib
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# pca_wide shape: wide enough that the Gram GEMM and the driver
# eigensolve carry the fit (see README.md)
ROWS, COLS, K = 50_000, 512, 16
PLANTED = 24
NOISE = 0.2
ROW_GROUP = 3_125  # 16 row groups -> one split per core on 4 cores


def row_counts(sf):
    """Rows per table at scale factor `sf`, as the driver-generated
    fixtures have them (documents and embeddings have a 500-row floor)."""
    return dict(customer=round(150_000 * sf), supplier=round(10_000 * sf),
                part=round(200_000 * sf), orders=round(1_500_000 * sf),
                lineitem=round(6_000_000 * sf), events=round(1_000_000 * sf),
                documents=max(500, round(50_000 * sf)),
                embeddings=max(500, round(20_000 * sf)),
                users=round(15_000 * sf))


TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
ADJ = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUN = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
WORDS = ("a agg batch big column customer data fast filter group hash join "
         "key line merge order part query row scan slow small sort spark "
         "stream table the value vector window").split()
LANGS, LANG_P = ["en", "fr", "zh", "de", "es"], [0.4, 0.15, 0.15, 0.15, 0.15]

EPOCH = datetime.date(1970, 1, 1)
DAY_US = 86_400_000_000


def _days(d):
    return (d - EPOCH).days


def _ts_days(rng, n, first, last):
    """Uniform whole days in [first, last] as timestamp[us] (no tz ->
    Parquet TIMESTAMP(isAdjustedToUTC=false, MICROS), as the fixtures)."""
    d = rng.integers(_days(first), _days(last) + 1, n, dtype=np.int64)
    return pa.array(d * DAY_US, type=pa.timestamp("us"))


def _pick(rng, values, n):
    return pa.array(np.asarray(values)[rng.integers(0, len(values), n)])


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2))


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def fixtures(seed, sf, out_dir):
    """Write the ten fixture tables at scale factor `sf` as
    ``<out_dir>/<table>.parquet``."""
    rng = np.random.default_rng([seed, 1])
    n = row_counts(sf)
    os.makedirs(out_dir, exist_ok=True)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    for name, pre, tag in (("customer", "c", "Customer"),
                           ("supplier", "s", "Supplier")):
        m = n[name]
        cols = {f"{pre}_{'custkey' if pre == 'c' else 'suppkey'}":
                pa.array(np.arange(m), i64),
                f"{pre}_name": [f"{tag}#{i:09d}" for i in range(m)],
                f"{pre}_nationkey": pa.array(rng.integers(0, 25, m), i32),
                f"{pre}_acctbal": _money(rng, -999.99, 9999.99, m)}
        if pre == "c":
            cols["c_mktsegment"] = _pick(rng, SEGMENTS, m)
        t[name] = pa.table(cols)
    m = n["part"]
    keys = np.arange(m)
    names = np.char.add(np.char.add(np.asarray(ADJ)[rng.integers(0, 8, m)], " "),
                        np.asarray(NOUN)[rng.integers(0, 8, m)])
    t["part"] = pa.table({
        "p_partkey": pa.array(keys, i64),
        "p_name": pa.array(names),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, m)]),
        "p_type": _pick(rng, PTYPES, m),
        "p_size": pa.array(rng.integers(1, 51, m), i32),
        "p_retailprice": pa.array(np.round(900 + (keys % 1000) / 10.0, 2))})
    m = n["orders"]
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(m), i64),
        "o_custkey": pa.array(rng.integers(0, n["customer"], m), i64),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], m),
        "o_totalprice": _money(rng, 1000, 500000, m),
        "o_orderdate": _ts_days(rng, m, datetime.date(1995, 1, 1),
                                datetime.date(2001, 8, 1)),
        "o_orderpriority": _pick(rng, PRIORITIES, m)})
    m = n["lineitem"]
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n["orders"], m), i64),
        "l_partkey": pa.array(rng.integers(0, n["part"], m), i64),
        "l_suppkey": pa.array(rng.integers(0, n["supplier"], m), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, m), i32),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype(np.float64)),
        "l_extendedprice": _money(rng, 900, 105000, m),
        "l_discount": pa.array(rng.integers(0, 11, m) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, m) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], m),
        "l_linestatus": _pick(rng, ["F", "O"], m),
        "l_shipdate": _ts_days(rng, m, datetime.date(1995, 1, 2),
                               datetime.date(2001, 11, 4))})
    m = n["events"]
    start = _days(datetime.date(2024, 1, 1)) * DAY_US
    ts = np.sort(rng.integers(start, start + 30 * DAY_US, m, dtype=np.int64))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(m), i64),
        "ts": pa.array(ts, type=pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], m), i64),
        "event_type": _pick(rng, EVENT_TYPES, m),
        "value": pa.array(np.round(rng.exponential(50.0, m), 2)),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, m)])})
    m = n["documents"]
    words = np.asarray(WORDS)
    texts = []
    for i in range(m):
        if i > 10 and rng.random() < 0.05:
            texts.append(texts[rng.integers(0, i)] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(WORDS),
                                                     rng.integers(10, 100))]))
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(m), i64),
        "text": pa.array(texts),
        "lang": pa.array(np.asarray(LANGS)[rng.choice(5, m, p=LANG_P)]),
        "source": pa.array([f"src{i % 20}" for i in range(m)]),
        "n_chars": pa.array([len(s) for s in texts], i64)})
    m = n["embeddings"]
    e = rng.standard_normal((m, 64))
    e = (e / np.linalg.norm(e, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(m), i64),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, m * 64 + 1, 64, dtype=np.int32)),
            pa.array(e.ravel())),
        "label": pa.array(rng.integers(0, 10, m), i32)})
    for name in TABLES:
        _write(t[name], os.path.join(out_dir, f"{name}.parquet"))


def planted_spectrum():
    """Strictly decreasing planted eigenvalues (before the noise floor)."""
    return 40.0 * 0.85 ** np.arange(PLANTED)


def pca_rows(seed):
    """The pca_wide matrix as a float32 ROWS x COLS array."""
    rng = np.random.default_rng([seed, 2])
    q, _ = np.linalg.qr(rng.standard_normal((COLS, PLANTED)))
    mix = (q * np.sqrt(planted_spectrum())).T  # PLANTED x COLS
    mean = rng.standard_normal(COLS)
    z = rng.standard_normal((ROWS, PLANTED))
    x = z @ mix + NOISE * rng.standard_normal((ROWS, COLS)) + mean
    return x.astype(np.float32)


def digest(x):
    return hashlib.sha256(np.ascontiguousarray(x).tobytes()).hexdigest()


def pca_matrix(seed, path):
    """Write the pca_wide input (``id: long, features: array<float>``)
    and return its content digest."""
    x = pca_rows(seed)
    rows, cols = x.shape
    feats = pa.ListArray.from_arrays(
        pa.array(np.arange(0, rows * cols + 1, cols, dtype=np.int32)),
        pa.array(x.ravel()))
    pq.write_table(pa.table({"id": pa.array(np.arange(rows), pa.int64()),
                             "features": feats}),
                   path, compression="snappy", row_group_size=ROW_GROUP)
    return digest(x)


if __name__ == "__main__":
    kind, seed = sys.argv[1], int(sys.argv[2])
    if kind == "fixtures":
        fixtures(seed, float(sys.argv[3]), sys.argv[4])
    elif kind == "pca":
        print(pca_matrix(seed, sys.argv[3]))
    else:
        sys.exit(f"unknown input kind {kind!r}")
