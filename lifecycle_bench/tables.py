"""Seeded synthetic tables in the shape ``__spark_entry__`` queries read.

``write_tables(out_dir, seed, sf)`` writes one parquet file per table
(``region nation customer supplier part orders lineitem events
documents embeddings``) with the column names and Arrow types of the
repository's query contract, so ``__spark_entry__.queries()`` and their
DuckDB ``oracle_sql()`` run on them unchanged. Row counts scale with
``sf`` as TPC-H does (lineitem ~6M x sf); documents and embeddings stay
at 500 rows as in the reference tables. The same (seed, sf) always
gives the same files. Documents include near-duplicates (one token
changed) so the dedup queries find clusters.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_WORDS = ("the a fast slow key order sort table scan merge part window "
          "small big hash join batch stream spark dup group query row data "
          "filter customer line value column agg vector max").split()
_LANGS = (("en", 0.39), ("fr", 0.16), ("es", 0.16), ("zh", 0.15),
          ("de", 0.14))
_SEGMENTS = ("FURNITURE", "BUILDING", "MACHINERY", "HOUSEHOLD", "AUTOMOBILE")
_PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
_EVENT_TYPES = ("click", "purchase", "error", "signup", "view")
N_DOCS = 500
N_VECS = 500
DIM = 64


def _ts(base: str, us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + us.astype(np.int64), type=pa.timestamp("us"))


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[
        rng.choice(len(values), size=n, p=p)], type=pa.string())


def _documents(rng) -> pa.Table:
    texts = []
    for i in range(N_DOCS):
        if i >= 20 and rng.random() < 0.1:  # a near-duplicate
            words = texts[rng.integers(0, i)].split()
            words[rng.integers(0, len(words))] = _WORDS[
                rng.integers(0, len(_WORDS))]
        else:
            words = [_WORDS[j] for j in rng.integers(
                0, len(_WORDS), size=rng.integers(8, 100))]
        texts.append(" ".join(words))
    langs, p = zip(*_LANGS)
    return pa.table({
        "doc_id": pa.array(np.arange(N_DOCS), type=pa.int64()),
        "text": pa.array(texts, type=pa.string()),
        "lang": _pick(rng, langs, N_DOCS, p),
        "source": _pick(rng, [f"src{j}" for j in range(20)], N_DOCS),
        "n_chars": pa.array([len(t) for t in texts], type=pa.int64()),
    })


def _embeddings(rng) -> pa.Table:
    vecs = rng.standard_normal((N_VECS, DIM)).astype(np.float32)
    flat = pa.array(vecs.reshape(-1), type=pa.float32())
    offsets = pa.array(np.arange(0, N_VECS * DIM + 1, DIM, dtype=np.int32))
    return pa.table({
        "vec_id": pa.array(np.arange(N_VECS), type=pa.int64()),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": pa.array(rng.integers(0, 10, N_VECS), type=pa.int32()),
    })


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    rng = np.random.default_rng([seed, int(sf * 1e6)])
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1500, int(1_500_000 * sf))
    n_line = max(6000, int(6_000_000 * sf))
    n_ev = max(1000, int(1_000_000 * sf))
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)
    day_us = 86_400 * 10**6

    order_day = rng.integers(0, 2404, n_ord)  # 1995-01-01 .. 2001-08-01
    l_order = rng.integers(0, n_ord, n_line)
    return {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5), type=pa.int32()),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE",
                                "MIDDLE EAST"])}),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25), type=pa.int32()),
            "n_name": pa.array([f"NATION{i:02d}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25) % 5, type=pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), type=pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust),
                                    type=pa.int32()),
            "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), type=pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp),
                                    type=pa.int32()),
            "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp))}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), type=pa.int64()),
            "p_name": pa.array([f"part {i}" for i in range(n_part)]),
            "p_brand": _pick(rng, [f"Brand#{i}{j}" for i in range(1, 6)
                                   for j in range(1, 6)], n_part),
            "p_type": _pick(rng, ["STANDARD", "SMALL", "MEDIUM", "LARGE",
                                  "ECONOMY", "PROMO"], n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), type=pa.int32()),
            "p_retailprice": pa.array(money(900.0, 2100.0, n_part))}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), type=pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord),
                                  type=pa.int64()),
            "o_orderstatus": _pick(rng, ("O", "F", "P"), n_ord),
            "o_totalprice": pa.array(money(1000.0, 500_000.0, n_ord)),
            "o_orderdate": _ts("1995-01-01", order_day * day_us),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(l_order, type=pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line),
                                  type=pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line),
                                  type=pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line),
                                     type=pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line)
                                   .astype(np.float64)),
            "l_extendedprice": pa.array(money(900.0, 105_000.0, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _pick(rng, ("N", "R", "A"), n_line),
            "l_linestatus": _pick(rng, ("F", "O"), n_line),
            "l_shipdate": _ts("1995-01-01", (order_day[l_order]
                                             + rng.integers(1, 122, n_line))
                              * day_us)}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), type=pa.int64()),
            "ts": _ts("2024-01-01", rng.integers(0, 30 * day_us, n_ev)),
            "user_id": pa.array(rng.integers(0, max(15, n_cust // 10), n_ev),
                                type=pa.int64()),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": pa.array(money(0.01, 330.0, n_ev)),
            "props": pa.array([f'{{"k": {i}}}' for i in
                               rng.integers(0, 100, n_ev)])}),
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
    }


def write_tables(out_dir: str, seed: int, sf: float) -> str:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
