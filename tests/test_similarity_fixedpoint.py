"""Fixed-point iterative operators: ``kmeans_fixedpoint`` (integer
Lloyd's) and ``pca_power_top1`` (integer power iteration).

Both are exact in integers, so every case compares for equality: with a
pure-Python integer Lloyd reference, with the registry's DuckDB oracle
on a small table, and across partitionings.
"""

from __future__ import annotations

import hashlib
import math
import random

import pytest

from real_time_data_pipeline_spark.operators.similarity import (
    kmeans_fixedpoint,
    pca_power_top1,
)

SCHEMA = "vec_id {}, embedding array<double>"


def _h48(v) -> int:
    # portable_hash48: first 12 hex chars of sha256 of the id's string form
    return int(hashlib.sha256(str(v).encode()).hexdigest()[:12], 16)


def _trunc_div(s: int, n: int) -> int:
    return -((-s) // n) if s < 0 else s // n


def _lloyd_ref(rows, k, iters, q=10_000):
    """Integer Lloyd's in plain Python: seeds are the k smallest
    (hash, id), ties in assignment go to the lower cell, centroids
    update by truncating division and an empty cell keeps its
    centroid.  Returns sorted (id, cell, dist)."""
    qv = {i: [math.floor(x * q) for x in v] for i, v in rows}
    C = [list(qv[i]) for i in sorted(qv, key=lambda i: (_h48(i), i))[:k]]

    def assign(v):
        d = [sum((a - b) ** 2 for a, b in zip(v, c)) for c in C]
        return d.index(min(d)), min(d)

    for _ in range(iters):
        tot: dict = {}
        for v in qv.values():
            cell = assign(v)[0]
            n, s = tot.get(cell, (0, [0] * len(v)))
            tot[cell] = (n + 1, [a + b for a, b in zip(s, v)])
        for cell, (n, s) in tot.items():
            C[cell] = [_trunc_div(x, n) for x in s]
    return sorted((i, *assign(v)) for i, v in qv.items())


def _blobs(n, dim, seed):
    rng = random.Random(seed)
    centers = [[rng.uniform(-1, 1) for _ in range(dim)] for _ in range(4)]
    return [
        (i, [c + rng.uniform(-0.2, 0.2) for c in centers[i % 4]])
        for i in range(n)
    ]


def _fit(spark, rows, id_type="bigint", parts=None, **kw):
    df = spark.createDataFrame(rows, SCHEMA.format(id_type))
    if parts:
        df = df.repartition(parts)
    out = kmeans_fixedpoint(df, **kw)
    return out, sorted(map(tuple, out.collect()))


def test_kmeans_fixedpoint_partitioning_invariant_and_sane(spark):
    """The fixed-point Lloyd fit is EXACTLY partitioning-invariant
    (integer sums are associative — the property float Lloyd lacks)
    and recovers planted blobs."""
    rng = random.Random(7)
    centers = [[1.0 if d == c else 0.0 for d in range(8)] for c in range(3)]
    rows = []
    for i in range(120):
        c = i % 3
        rows.append(
            (i, [v + rng.uniform(-0.05, 0.05) for v in centers[c]])
        )
    df1 = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).repartition(1)
    df8 = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).repartition(8)
    out1 = sorted(
        map(tuple, kmeans_fixedpoint(df1, k=3, iters=3).collect())
    )
    out8 = sorted(
        map(tuple, kmeans_fixedpoint(df8, k=3, iters=3).collect())
    )
    assert out1 == out8  # exact, not approximate, equality
    # blob recovery: each planted blob lands in one cell
    by_blob: dict = {}
    for vec_id, cell, _ in out1:
        by_blob.setdefault(vec_id % 3, set()).add(cell)
    assert all(len(cells) == 1 for cells in by_blob.values())
    assert len({c for s in by_blob.values() for c in s}) == 3


def test_kmeans_fixedpoint_matches_python_reference(spark):
    rows = _blobs(90, 6, seed=3)
    _, got = _fit(spark, rows, parts=3, k=5, iters=4)
    assert got == _lloyd_ref(rows, k=5, iters=4)


@pytest.mark.parametrize(
    "id_type, make_id", [("int", int), ("string", lambda i: f"v{i:03d}")]
)
def test_kmeans_fixedpoint_id_type_follows_input(spark, id_type, make_id):
    rows = [(make_id(i), v) for i, v in _blobs(40, 4, seed=5)]
    out, got = _fit(spark, rows, id_type=id_type, parts=4, k=4, iters=3)
    assert dict(out.dtypes) == {
        "vec_id": id_type, "cell": "bigint", "dist": "bigint"
    }
    assert got == _lloyd_ref(rows, k=4, iters=3)


def test_kmeans_fixedpoint_empty_partitions(spark):
    """6 rows over 8 partitions: at least two partitions are empty and
    emit no partial row; the result equals the one-partition fit."""
    rows = _blobs(6, 3, seed=9)
    _, got8 = _fit(spark, rows, parts=8, k=2, iters=3)
    _, got1 = _fit(spark, rows, parts=1, k=2, iters=3)
    assert got8 == got1 == _lloyd_ref(rows, k=2, iters=3)


def test_kmeans_fixedpoint_empty_cell_keeps_centroid(spark):
    """Seeds 0 and 1 are the same vector, so every tie goes to cell 0
    and cell 1 is empty after the first iteration.  It keeps its seed
    centroid while cell 0 moves toward the far blob, so in the final
    assignment both seed vectors land in cell 1 at distance 0."""
    ids = sorted(range(12), key=lambda i: (_h48(i), i))
    mid, low = ids[:2], ids[2]
    rows = []
    for j, i in enumerate(ids):
        if i in mid:
            v = [0.5, 0.5]
        elif i == low or j % 2:
            v = [0.1 + 0.01 * j, 0.1]
        else:
            v = [0.9, 0.9 - 0.01 * j]
        rows.append((i, v))
    _, got = _fit(spark, rows, parts=3, k=3, iters=1)
    assert got == _lloyd_ref(rows, k=3, iters=1)
    by_id = {i: (cell, dist) for i, cell, dist in got}
    assert all(by_id[i] == (1, 0) for i in mid)


def test_kmeans_fixedpoint_negative_sums_truncate_toward_zero(spark):
    """A cell whose coordinate sums are negative and not divisible by
    its count: truncation gives centroid (-833, -1041), flooring would
    give (-834, -1042).  Binary fractions quantize exactly."""
    ids = sorted(range(6), key=lambda i: (_h48(i), i))
    vecs = [
        [-0.0625, -0.0625],  # seed of cell 0
        [0.5, 0.5],  # seed of cell 1
        [-0.125, -0.125],
        [-0.0625, -0.125],
        [0.5, 0.25],
        [0.25, 0.5],
    ]
    rows = list(zip(ids, vecs))
    _, got = _fit(spark, rows, parts=2, k=2, iters=1)
    assert got == _lloyd_ref(rows, k=2, iters=1)
    by_id = {i: (cell, dist) for i, cell, dist in got}
    # (-625, -625) against (-833, -1041)
    assert by_id[ids[0]] == (0, 208**2 + 416**2)


def _duck(table, sql):
    import duckdb
    import pyarrow as pa

    con = duckdb.connect()
    ids, vecs = zip(*table)
    con.register(
        "embeddings",
        pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(vecs, pa.list_(pa.float64())),
            }
        ),
    )
    return sorted(con.execute(sql).fetchall())


def test_kmeans_fixedpoint_matches_duckdb_oracle(spark):
    from real_time_data_pipeline_spark.queries.similarity import ORACLES

    rows = _blobs(60, 5, seed=13)
    _, got = _fit(spark, rows, parts=4, k=8, iters=3)
    assert got == _duck(rows, ORACLES["kmeans_clusters"])
    assert got == _lloyd_ref(rows, k=8, iters=3)


def test_pca_power_top1_matches_duckdb_oracle(spark):
    from real_time_data_pipeline_spark.queries.similarity import ORACLES

    rows = _blobs(60, 5, seed=17)
    df = spark.createDataFrame(rows, SCHEMA.format("bigint")).repartition(4)
    got = sorted(map(tuple, pca_power_top1(df).collect()))
    assert got == _duck(rows, ORACLES["pca_power_top1"])
