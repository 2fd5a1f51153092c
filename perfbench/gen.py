"""Seeded catalog tables for catalog_mix. The same seed gives the same files.

The tables follow the schemas of the driver's fixture tables (FIXTURES.md
§B) and the distributions measured on its sf0.1 tables:

- orders: o_custkey uniform over the customers, so orders per customer are
  Poisson with mean 10;
- lineitem: l_orderkey uniform over the orders, so lines per order are
  Poisson with mean 4 (about 2 % of orders have none); l_suppkey uniform
  over the suppliers; l_linenumber uniform in 1..7;
- embeddings: unit-norm isotropic vectors (normalised Gaussians) in 64
  dimensions, with labels uniform over 10 classes and independent of the
  vectors.

The seed varies orders and lineitem. The embeddings are a fixed corpus,
drawn from CORPUS_SEED, as a served index is fixed: the model artifacts
trained on them once stay valid for every run, and the DuckDB oracle result
over them (about 7 s for the DBSCAN query) is computed once.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

CORPUS_SEED = 7


# ---- catalog tables ---------------------------------------------------------

def _write(out_dir, name, cols):
    pq.write_table(pa.table(cols), os.path.join(out_dir, f"{name}.parquet"))


def _ts_ms(first, days):
    base = np.datetime64(first, "ms")
    return pa.array(base + days.astype("timedelta64[D]"), type=pa.timestamp("ms"))


def catalog(out_dir, seed, sf):
    """The tables catalog_mix reads: orders, lineitem and embeddings."""
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_vecs = int(1_500_000 * sf), int(6_000_000 * sf), int(20_000 * sf)

    _write(out_dir, "orders", {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": np.round(rng.uniform(1000, 500000, n_ord), 2),
        "o_orderdate": _ts_ms("1995-01-01", rng.integers(0, 2404, n_ord)),
        "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                                     "5-LOW"])[rng.integers(0, 5, n_ord)]})
    _write(out_dir, "lineitem", {
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": np.round(rng.uniform(900, 105000, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
        "l_shipdate": _ts_ms("1995-01-02", rng.integers(0, 2498, n_li))})

    crng = np.random.default_rng(CORPUS_SEED)
    vecs = crng.normal(0, 1, (n_vecs, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    _write(out_dir, "embeddings", {
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs.astype(np.float32)), type=pa.list_(pa.float32())),
        "label": pa.array(crng.integers(0, 10, n_vecs).astype(np.int32))})
