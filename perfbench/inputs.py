"""Seeded input generation for the benchmark workloads.

Everything here is a pure function of the workload seed: the same seed
gives the same metadata, payloads and tables, byte for byte. Payloads
are random bytes, so Parquet cannot compress them and the log's byte
counts measure what a user would actually send.
"""

from __future__ import annotations

import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Word pool the synthetic documents draw from. Small on purpose: the
# heavy-hitter gate needs shared vocabulary to have work to do.
_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window column query big small data customer join "
    "order group filter stream vector index event topic offset cache log "
    "file epoch state sink source shard bloom token"
).split()
_LANGS = ["en", "zh", "es", "fr", "de"]
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]
_EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def client_metadata(rng: np.random.Generator, n: int, n_fields: int = 16) -> list[dict]:
    """``n`` metadata documents with ``n_fields`` seeded fields plus a
    dense ``seq``. Half the fields are integers, half short strings."""
    ints = rng.integers(0, 1_000_000, size=(n, n_fields // 2))
    strs = rng.integers(0, 26**4, size=(n, n_fields - n_fields // 2))
    out = []
    for i in range(n):
        doc = {f"i{j}": int(v) for j, v in enumerate(ints[i])}
        for j, v in enumerate(strs[i]):
            v = int(v)
            doc[f"s{j}"] = "".join(chr(97 + (v // 26**k) % 26) for k in range(4))
        doc["seq"] = i
        out.append(doc)
    return out


def payloads(rng: np.random.Generator, n: int, size: int) -> list[bytes]:
    """``n`` distinct incompressible payloads of ``size`` bytes."""
    buf = rng.bytes(n * size)
    return [buf[i * size:(i + 1) * size] for i in range(n)]


# -- spark_stream tables -------------------------------------------------------

def write_tables(out_dir: str, seed: int, n_events: int = 100_000,
                 n_docs: int = 1000) -> dict[str, int]:
    """Write the tables the Spark-path workload reads, shaped like the
    repository's sf0.01/sf0.1 test data (same columns and types), into
    ``out_dir``: the events to ingest, the documents the text gates
    read and the TPC-H tables of q5. Returns {table: rows}."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    tables = {
        "events": _events(rng, n_events),
        "documents": _documents(rng, n_docs),
    }
    tables.update(_tpch(rng))
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}


def _events(rng, n: int) -> pa.Table:
    start = datetime.datetime(2024, 1, 1)
    span_us = 30 * 86400 * 10**6
    ts_us = np.sort(rng.integers(0, span_us, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array([start + datetime.timedelta(microseconds=int(t)) for t in ts_us],
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, 1500, size=n), pa.int64()),
        "event_type": pa.array(rng.choice(_EVENT_TYPES, size=n).tolist(), pa.string()),
        "value": pa.array(np.round(rng.uniform(0, 50, size=n), 2), pa.float64()),
        "props": pa.array([f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, size=n)],
                          pa.string()),
    })


def _documents(rng, n: int) -> pa.Table:
    """Random word sequences of 25 to 74 words."""
    texts = [" ".join(rng.choice(_WORDS, size=int(rng.integers(25, 75))).tolist())
             for _ in range(n)]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, size=n, p=_LANG_P).tolist(), pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _tpch(rng, n_cust: int = 1500, n_supp: int = 100,
          n_orders: int = 15000) -> dict[str, pa.Table]:
    nation_region = [i % 5 for i in range(25)]
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION{i:02d}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array(nation_region, pa.int32()),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(1, n_cust + 1), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(1, n_cust + 1)]),
            "c_nationkey": pa.array(rng.integers(0, 25, size=n_cust), pa.int32()),
            "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=n_cust), 2)),
            "c_mktsegment": pa.array(rng.choice(
                ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"],
                size=n_cust).tolist()),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(1, n_supp + 1), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(1, n_supp + 1)]),
            "s_nationkey": pa.array([i % 25 for i in range(n_supp)], pa.int32()),
            "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, size=n_supp), 2)),
        }),
    }
    start = datetime.datetime(1992, 1, 1)
    odays = rng.integers(0, 2400, size=n_orders)
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, n_cust + 1, size=n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], size=n_orders).tolist()),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 400000, size=n_orders), 2)),
        "o_orderdate": pa.array([start + datetime.timedelta(days=int(d)) for d in odays],
                                pa.timestamp("us")),
        "o_orderpriority": pa.array(rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
            size=n_orders).tolist()),
    })
    lines = rng.integers(1, 8, size=n_orders)
    okeys = np.repeat(np.arange(1, n_orders + 1), lines)
    linenos = np.concatenate([np.arange(1, k + 1) for k in lines])
    ship = np.repeat(odays, lines) + rng.integers(1, 120, size=len(okeys))
    n_li = len(okeys)
    qty = rng.integers(1, 51, size=n_li).astype(float)
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okeys, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 2001, size=n_li), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, n_supp + 1, size=n_li), pa.int64()),
        "l_linenumber": pa.array(linenos, pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2000, size=n_li), 2)),
        "l_discount": pa.array(np.round(rng.integers(0, 11, size=n_li) / 100, 2)),
        "l_tax": pa.array(np.round(rng.integers(0, 9, size=n_li) / 100, 2)),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], size=n_li).tolist()),
        "l_linestatus": pa.array(rng.choice(["F", "O"], size=n_li).tolist()),
        "l_shipdate": pa.array([start + datetime.timedelta(days=int(d)) for d in ship],
                               pa.timestamp("us")),
    })
    return tables
