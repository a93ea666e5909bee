"""Seeded synthetic tables in the shape of the repository's test data.

The benchmark runs in a bare checkout, so it cannot read a shared data
directory: every run writes its own parquet tables from ``--seed``.
Schemas, value ranges and row counts per scale factor follow the
driver test data (TPC-H-like star schema, an ``events`` stream, a
``documents`` corpus and an ``embeddings`` table), so the registry
builders and their DuckDB oracles run on them unchanged.

``topic_p`` adds the session vocabulary: each topic word lands in that
share of the documents, exactly.  The base corpus vocabulary is so
dense that every base word matches ~80% of the documents; topic words
give NL filters a selectivity of ``topic_p``, which keeps the LLM work
per filter the same from seed to seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_WORDS = (
    "stream value spark data big small vector group slow table key column "
    "scan window order hash merge row customer join fast filter a the line "
    "part sort query batch agg"
).split()

# No topic word is a substring of another word, of a base word, of a
# column name, or of the query words the session generator uses.
TOPIC_WORDS = (
    "kafka parquet iceberg hudi flink presto trino druid pinot avro "
    "arrow hive yarn mesos zookeeper cassandra mongo redis postgres mysql "
    "sqlite duckdb clickhouse snowflake bigquery redshift athena airflow "
    "dagster looker tableau superset grafana kibana elastic solr"
).split()

LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.44, 0.14, 0.15, 0.14, 0.13]
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _ts(days_from: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(days_from, "us").astype(np.int64)
    return pa.array(base + offsets_us.astype(np.int64), type=pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def documents(rng: np.random.Generator, n: int, topic_p: float) -> pa.Table:
    words = np.array(BASE_WORDS)
    texts = []
    for i in range(n):
        k = int(rng.integers(10, 101))
        texts.append(list(words[rng.integers(0, len(words), k)]))
    # near duplicates (an earlier document plus a marker word) and a
    # few exact copies, so the dedup operators find pairs
    for i in range(1, n):
        r = rng.random()
        if r < 0.05:
            texts[i] = texts[int(rng.integers(0, i))] + ["dup"]
        elif r < 0.052:
            texts[i] = list(texts[int(rng.integers(0, i))])
    # each topic word in exactly round(topic_p * n) documents, so every
    # topic filter keeps the same number of rows whatever the seed
    for w in TOPIC_WORDS if topic_p else ():
        for i in rng.choice(n, size=round(topic_p * n), replace=False):
            texts[i].insert(int(rng.integers(0, len(texts[i]) + 1)), w)
    texts = [" ".join(t) for t in texts]
    lang = rng.choice(LANGS, n, p=LANG_P)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(lang),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int, dim: int = 64) -> pa.Table:
    labels = rng.integers(0, 10, n)
    centers = rng.normal(0, 1, (10, dim))
    vecs = centers[labels] + rng.normal(0, 1.5, (n, dim))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    vecs = vecs.astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })


def star_tables(rng: np.random.Generator, sf: float) -> dict[str, pa.Table]:
    n_cust = int(150_000 * sf)
    n_supp = int(10_000 * sf)
    n_part = int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    n_users = int(15_000 * sf)
    out = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
            n_cust),
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    adj = ["small", "large", "red", "blue", "hot", "cold", "old", "new"]
    noun = ["ring", "widget", "bolt", "gear", "plate", "rod", "anvil", "nut"]
    out["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": [f"{adj[a]} {noun[b]}" for a, b in zip(
            rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(
            ["ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM"],
            n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    day = 86_400_000_000
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000, 500_000, n_ord),
        "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * day),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": np.round(rng.integers(0, 11, n_li) * 0.01, 2),
        "l_tax": np.round(rng.integers(0, 9, n_li) * 0.01, 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _ts("1995-01-02", rng.integers(0, 2499, n_li) * day),
    })
    gaps = rng.exponential(30 * day / max(n_ev, 1), n_ev)
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": _ts("2024-01-01", np.cumsum(gaps)),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(
            ["click", "signup", "error", "view", "purchase"], n_ev),
        "value": np.round(rng.exponential(50, n_ev) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    return out


def write_tables(out_dir: str, seed: int, sf: float, topic_p: float = 0.0,
                 only: tuple[str, ...] = tuple(TABLES)) -> str:
    """Write the seeded tables named in ``only`` as
    ``<out_dir>/<table>.parquet`` (one file, one row group each, like
    the test data) and return ``out_dir``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    tables: dict[str, pa.Table] = {}
    if set(only) - {"documents", "embeddings"}:
        tables.update(star_tables(rng, sf))
    n_docs = max(500, int(50_000 * sf))
    tables["documents"] = documents(rng, n_docs, topic_p)
    tables["embeddings"] = embeddings(rng, max(500, int(20_000 * sf)))
    for name in only:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    return out_dir
