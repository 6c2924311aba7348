"""Seeded inputs for the benchmark workloads.

Two kinds of input, both made from the run's ``--seed`` and nothing else:

* ``write_tables`` — the ten batch tables the registry queries read
  (``schemas.TESTDATA_TABLES``), with the same columns, types and value
  domains as the engine's test tables.  Values come from a fixed base seed
  so every run measures the same data; the run seed permutes the row order
  of every table (same file count: one parquet file per table).
* ``transaction_lines`` — the streaming workloads' JSON-lines payloads:
  rows of a pool made by the engine's ``sources.generator.
  synthetic_transactions``, drawn and ordered by the seed, with ~5%
  corrupted amounts so that the dead-letter and alert routes fire.
"""

from __future__ import annotations

import os
import re
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_SEED = 42
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window dup"
).split()
EMBED_DIM = 64
N_LABELS = 10

# Table sizes per unit of scale, matching the test tables' ratios.
PER_SF = {"customer": 150_000, "supplier": 10_000, "part": 200_000,
          "orders": 1_500_000, "lineitem": 6_000_000, "events": 1_000_000}


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> dict:
    """Bag-of-words documents; one in ten is a light edit of an earlier
    one so the dedup and decontamination queries have matches to find."""
    texts: list[str] = []
    for i in range(n):
        if i >= 10 and rng.random() < 0.1:
            words = texts[int(rng.integers(0, i))].split()
            for j in rng.integers(0, len(words), max(1, len(words) // 20)):
                words[j] = WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(words))
        else:
            k = int(rng.integers(8, 100))
            texts.append(" ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k)))
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": [LANGS[j] for j in rng.integers(0, len(LANGS), n)],
        "source": [f"src{j}" for j in rng.integers(0, 20, n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def _embeddings(rng, n: int) -> pa.Table:
    """Unit vectors around ``N_LABELS`` centres; the label is the centre."""
    centres = rng.normal(size=(N_LABELS, EMBED_DIM))
    label = rng.integers(0, N_LABELS, n).astype(np.int32)
    vec = centres[label] + rng.normal(scale=1.5, size=(n, EMBED_DIM))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.FixedSizeListArray.from_arrays(pa.array(vec.ravel()), EMBED_DIM)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": emb.cast(pa.list_(pa.float32())),
        "label": pa.array(label),
    })


def build_tables(sf: float, n_docs: int, n_vecs: int) -> dict[str, pa.Table]:
    """The ten tables at scale ``sf`` (row counts ``PER_SF[t] * sf``)."""
    rng = np.random.default_rng(BASE_SEED)
    n = {t: max(1, int(c * sf)) for t, c in PER_SF.items()}
    nc, ns, np_, no, nl, ne = (n[t] for t in
                               ("customer", "supplier", "part", "orders",
                                "lineitem", "events"))
    i32, i64 = np.int32, np.int64
    out: dict[str, pa.Table | dict] = {
        "region": {"r_regionkey": np.arange(5, dtype=i32), "r_name": REGIONS},
        "nation": {"n_nationkey": np.arange(25, dtype=i32),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": (np.arange(25) % 5).astype(i32)},
        "customer": {"c_custkey": np.arange(nc, dtype=i64),
                     "c_name": [f"Customer#{i:09d}" for i in range(nc)],
                     "c_nationkey": rng.integers(0, 25, nc).astype(i32),
                     "c_acctbal": _money(rng, -999.99, 9999.99, nc),
                     "c_mktsegment": [SEGMENTS[j] for j in rng.integers(0, 5, nc)]},
        "supplier": {"s_suppkey": np.arange(ns, dtype=i64),
                     "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
                     "s_nationkey": rng.integers(0, 25, ns).astype(i32),
                     "s_acctbal": _money(rng, -999.99, 9999.99, ns)},
        "part": {"p_partkey": np.arange(np_, dtype=i64),
                 "p_name": [f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            rng.integers(0, 8, (np_, 2))],
                 "p_brand": [f"Brand#{j}" for j in rng.integers(1, 26, np_)],
                 "p_type": [PART_TYPES[j] for j in rng.integers(0, 6, np_)],
                 "p_size": rng.integers(1, 51, np_).astype(i32),
                 "p_retailprice": np.round(900 + (np.arange(np_) % 1000) / 10, 1)},
        "orders": {"o_orderkey": np.arange(no, dtype=i64),
                   "o_custkey": rng.integers(0, nc, no).astype(i64),
                   "o_orderstatus": [("F", "O", "P")[j] for j in rng.integers(0, 3, no)],
                   "o_totalprice": _money(rng, 1000, 500_000, no),
                   "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
                   "o_orderpriority": [PRIORITIES[j] for j in rng.integers(0, 5, no)]},
        "lineitem": {"l_orderkey": rng.integers(0, no, nl).astype(i64),
                     "l_partkey": rng.integers(0, np_, nl).astype(i64),
                     "l_suppkey": rng.integers(0, ns, nl).astype(i64),
                     "l_linenumber": rng.integers(1, 8, nl).astype(i32),
                     "l_quantity": rng.integers(1, 51, nl).astype(float),
                     "l_extendedprice": _money(rng, 900, 105_000, nl),
                     "l_discount": rng.integers(0, 11, nl) / 100,
                     "l_tax": rng.integers(0, 9, nl) / 100,
                     "l_returnflag": [("A", "N", "R")[j] for j in rng.integers(0, 3, nl)],
                     "l_linestatus": [("F", "O")[j] for j in rng.integers(0, 2, nl)],
                     "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", nl)},
        "events": {"event_id": np.arange(ne, dtype=i64),
                   "ts": (np.datetime64("2024-01-01", "us")
                          + rng.integers(0, 30 * 86_400_000_000, ne)),
                   "user_id": rng.integers(0, 150, ne).astype(i64),
                   "event_type": [EVENT_TYPES[j] for j in rng.integers(0, 5, ne)],
                   "value": _money(rng, 0.01, 490.02, ne),
                   "props": [f'{{"k": {j}}}' for j in rng.integers(0, 100, ne)]},
        "documents": _documents(rng, n_docs),
        "embeddings": _embeddings(rng, n_vecs),
    }
    return {t: v if isinstance(v, pa.Table) else pa.table(v) for t, v in out.items()}


def write_tables(tables: dict[str, pa.Table], out_dir: str, seed: int) -> str:
    """Write each table as one parquet file, rows permuted by ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    for name, t in tables.items():
        pq.write_table(t.take(rng.permutation(t.num_rows)),
                       os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


# --------------------------------------------------------------- streams

POOL_ROWS = 100_000
_AMOUNT = re.compile(r'"amount":(-?[0-9.Ee+-]+)')
_TS = re.compile(r'"timestamp":"([^"]+)"')


def ensure_pool(spark, path: str) -> str:
    """``POOL_ROWS`` JSON lines from ``synthetic_transactions``, each
    carrying the ``metadata.created_ms`` placeholder ``feeder.STAMP``.
    Made once per checkout (it needs a cold Spark job of ~10 s) and
    reused by later runs."""
    if os.path.isfile(path):
        return path
    from pyspark.sql import functions as F

    from real_time_data_pipeline_spark.sources.generator import (
        synthetic_transactions,
    )

    txns = synthetic_transactions(spark, POOL_ROWS, seed=BASE_SEED, partitions=4) \
        .withColumn("metadata", F.create_map(F.lit("created_ms"), F.lit("0" * 13)))
    rows = txns.select(F.to_json(F.struct(*txns.columns)).alias("v")).collect()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        f.writelines(r.v + "\n" for r in rows)
    os.rename(path + ".tmp", path)
    return path


def transaction_lines(pool: str, n: int, seed: int,
                      order_jitter_min: int = 45) -> list[str]:
    """``n`` distinct pool rows drawn by ``seed``.  About 3% of amounts are
    negated (dead-letter route) and 2% lifted over the 10k alert
    threshold.  Rows are ordered by event time plus up to
    ``order_jitter_min`` minutes of seeded jitter, so event time advances
    along the stream while some rows arrive later than the 30-minute
    watermark allows."""
    with open(pool) as f:
        lines = f.read().splitlines()
    rng = np.random.default_rng(seed)
    pick = rng.permutation(len(lines))[:n]
    r = rng.random(n)
    jitter = rng.random(n) * order_jitter_min * 60
    out = []
    for k, i in enumerate(pick):
        line = lines[i]
        if r[k] < 0.05:
            amt = float(_AMOUNT.search(line).group(1))
            amt = -amt if r[k] < 0.03 else amt + 10_000.0
            line = _AMOUNT.sub(f'"amount":{amt!r}', line, count=1)
        ts = datetime.fromisoformat(_TS.search(line).group(1)).timestamp()
        out.append((ts + jitter[k], line))
    out.sort()
    return [line for _, line in out]
