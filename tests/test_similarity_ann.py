"""Product-quantization ANN operators: pq_topk, pq_topk_rerank,
ivfpq_topk, plus the Arrow vector passes of operators/similarity.py.

The ADC scorers are compared with an independent numpy reference that
scores the whole corpus and sorts it by (adc_d2, id); the full-shortlist
re-rank is compared with the brute-force cosine_topk.
"""

from __future__ import annotations

import ast
import pathlib

import numpy as np
import pytest
from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import similarity
from real_time_data_pipeline_spark.schemas import load_table

N_PROBES = 3
K = 5


def _probes(emb):
    qrows = (
        emb.filter(F.col("vec_id") < N_PROBES)
        .select("vec_id", "embedding")
        .collect()
    )
    return [(r["vec_id"], r["embedding"]) for r in
            sorted(qrows, key=lambda r: r["vec_id"])]


def _unit(vec):
    v = np.asarray(vec, dtype=np.float64)
    return v / np.linalg.norm(v)


def _ref_table(books, r):
    m, _, dsub = books.shape
    tab = np.empty(books.shape[:2])
    for j in range(m):
        tab[j] = ((books[j] - r[j * dsub : (j + 1) * dsub]) ** 2).sum(-1)
    return tab


def _ref_topk(ids, d2, k):
    order = np.lexsort((ids, d2))[:k]
    return [(ids[i], d2[i]) for i in order]


def _collect_codes(codes_df, *cols):
    rows = codes_df.select("id", *cols, "codes").collect()
    ids = np.array([r["id"] for r in rows])
    C = np.array([r["codes"] for r in rows], dtype=np.int64)
    return rows, ids, C


def test_pq_topk_matches_numpy_reference(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=16, k=16, iters=2)
    codes = similarity.pq_encode(emb, books)
    probes = _probes(emb)
    got = sorted(
        tuple(r)
        for r in similarity.pq_topk(codes, books, probes, k=K)
        .select("query_id", "id", "adc_d2")
        .collect()
    )
    _, ids, C = _collect_codes(codes)
    m = books.shape[0]
    want = []
    for qid, vec in probes:
        tab = _ref_table(books, _unit(vec))
        d2 = tab[np.arange(m)[None, :], C].sum(1)
        want.extend((qid, i, d) for i, d in _ref_topk(ids, d2, K))
    assert got == sorted(want)


@pytest.mark.parametrize("nprobe", [8, 2])
def test_ivfpq_topk_matches_numpy_reference(spark, sf_dir, nprobe):
    """Full probe scores every probe in one pass; a pruned probe scores
    only the rows of its own nearest cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    n_cells = 8
    Cm, books, codes = similarity.ivfpq_build(
        emb, n_cells=n_cells, m=8, k=16, iters=1
    )
    codes = codes.persist()
    # pruned cell sets differ between probes, so the pruned case runs
    # one probe per call
    probe_sets = (
        [_probes(emb)] if nprobe == n_cells else [[p] for p in _probes(emb)]
    )
    got = []
    for ps in probe_sets:
        got.extend(
            tuple(r)
            for r in similarity.ivfpq_topk(
                codes, Cm, books, ps, k=K, nprobe=nprobe
            )
            .select("query_id", "id", "cell", "adc_d2")
            .collect()
        )
    rows, ids, C = _collect_codes(codes, "cell")
    cells = np.array([r["cell"] for r in rows])
    codes.unpersist()
    m = books.shape[0]
    want = []
    for ps in probe_sets:
        for qid, vec in ps:
            qv = _unit(vec)
            d2cells = ((Cm - qv) ** 2).sum(1)
            probed = np.argsort(d2cells, kind="stable")[:nprobe]
            d2 = np.full(len(ids), np.inf)
            for c in probed:
                tab = _ref_table(books, qv - Cm[c])
                mask = cells == c
                d2[mask] = tab[np.arange(m)[None, :], C[mask]].sum(1)
            cell_of = dict(zip(ids.tolist(), cells.tolist()))
            want.extend(
                (qid, i, cell_of[i], d) for i, d in _ref_topk(ids, d2, K)
            )
    assert sorted(got) == sorted(want)


def test_pq_topk_rerank_full_shortlist_equals_cosine_topk(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=16, k=16, iters=2)
    codes = similarity.pq_encode(emb, books).persist()
    probes = _probes(emb)
    cols = ["query_id", "rank", "neighbor_id", "cos_bp"]
    got = similarity.pq_topk_rerank(
        emb, codes, books, probes, k=K, shortlist=1 << 30
    )
    queries = emb.filter(F.col("vec_id") < N_PROBES).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    exact = similarity.cosine_topk(emb, queries, k=K)
    got_rows = sorted(tuple(r) for r in got.select(*cols).collect())
    codes.unpersist()
    assert got_rows == sorted(tuple(r) for r in exact.select(*cols).collect())


def test_pq_rerank_matches_exact_topk(spark, sf_dir):
    """PQ = candidate generator + exact re-rank: with the unit-tested
    shortlist coverage (C=100 on the 500-vector corpus), the re-ranked
    top-10 must EQUAL the exact brute-force top-10 wherever the
    shortlist covers it — here it covers all 10."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=16, k=64, iters=3)
    codes = similarity.pq_encode(emb, books)
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    got = [
        r["neighbor_id"]
        for r in similarity.pq_topk_rerank(
            emb, codes, books, [(0, qvec)], k=10, shortlist=100
        ).collect()
    ]
    q = emb.filter(F.col("vec_id") == 0).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = [
        r["neighbor_id"]
        for r in similarity.cosine_topk(emb, q, k=10).collect()
    ]
    overlap = len(set(got) & set(exact))
    assert overlap >= 9, (got, exact)
    # determinism: a refit yields identical codebooks -> identical result
    books2 = similarity.pq_fit(emb, m=16, k=64, iters=3)
    assert np.array_equal(np.asarray(books), np.asarray(books2))


def test_pq_adc_self_match_ranks_first(spark, sf_dir):
    """Raw ADC (no re-rank): the query's own code must score lowest —
    the quantization-consistency sanity check."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = similarity.pq_fit(emb, m=16, k=64, iters=2)
    codes = similarity.pq_encode(emb, books)
    qvec = emb.filter(F.col("vec_id") == 7).select("embedding").first()[0]
    top = (
        similarity.pq_topk(codes, books, [(7, qvec)], k=3)
        .orderBy("adc_d2", "id")
        .collect()
    )
    assert top[0]["id"] == 7


def test_ivfpq_self_match_and_probe_pruning(spark, sf_dir):
    """IVF-PQ: the query's own residual code scores minimal when its
    cell is probed; probing fewer cells only removes candidates (never
    reorders survivors); full probe contains the self-match first."""
    emb = load_table(spark, sf_dir, "embeddings")
    Cm, books, codes = similarity.ivfpq_build(
        emb, n_cells=8, m=8, k=16, iters=2
    )
    qvec = emb.filter(F.col("vec_id") == 3).select("embedding").first()[0]
    probe = [(3, qvec)]
    full = similarity.ivfpq_topk(codes, Cm, books, probe, k=10, nprobe=8)
    rows_full = full.orderBy("adc_d2", "id").collect()
    assert rows_full[0]["id"] == 3  # self-match first under full probe
    pruned = similarity.ivfpq_topk(codes, Cm, books, probe, k=10, nprobe=2)
    ids_pruned = [r["id"] for r in pruned.orderBy("adc_d2", "id").collect()]
    ids_full = [r["id"] for r in rows_full]
    # pruning is candidate REMOVAL: pruned results appear in the full
    # list in the same relative order
    pos = [ids_full.index(i) for i in ids_pruned if i in ids_full]
    assert pos == sorted(pos)
    # build determinism
    Cm2, books2, _ = similarity.ivfpq_build(emb, n_cells=8, m=8, k=16, iters=2)
    assert np.array_equal(np.asarray(books), np.asarray(books2))
    assert np.array_equal(np.asarray(Cm), np.asarray(Cm2))


# Six rows with identical codes, listed in descending id order in one
# partition: every row ties, so the (adc_d2 asc, id asc) top-2 is ids 1, 2.
_TIED_IDS = [9, 8, 7, 3, 2, 1]


def test_pq_topk_keeps_batch_ties_for_id_tiebreak(spark):
    codes = spark.createDataFrame(
        [(i, [0, 1]) for i in _TIED_IDS], "id long, codes array<int>"
    ).coalesce(1)
    books = np.array([[[0.0], [1.0]], [[0.5], [-0.5]]])
    got = similarity.pq_topk(codes, books, [(0, [1.0, 0.5])], k=2)
    assert [r["id"] for r in got.orderBy("adc_d2", "id").collect()] == [1, 2]


def test_ivfpq_topk_keeps_batch_ties_for_id_tiebreak(spark):
    codes = spark.createDataFrame(
        [(i, 0, [0, 1]) for i in _TIED_IDS],
        "id long, cell int, codes array<int>",
    ).coalesce(1)
    coarse = np.array([[1.0, 0.0]])
    books = np.array([[[0.0], [1.0]], [[0.5], [-0.5]]])
    got = similarity.ivfpq_topk(
        codes, coarse, books, [(0, [1.0, 0.5])], k=2, nprobe=1
    )
    assert [r["id"] for r in got.orderBy("adc_d2", "id").collect()] == [1, 2]


@pytest.mark.parametrize(
    "id_type, make_id", [("int", int), ("string", lambda i: f"v{i:03d}")]
)
def test_ann_pq_family_ids_keep_input_type(spark, id_type, make_id):
    """Probe, candidate and neighbor ids carry the corpus id type
    through every PQ operator (mapInArrow does not cast)."""
    rows = [
        (make_id(i), [float((i * 7 + j * 3) % 11) - 5.0 for j in range(8)])
        for i in range(60)
    ]
    corpus = spark.createDataFrame(
        rows, f"vec_id {id_type}, embedding array<double>"
    )
    probes = [(rows[i][0], rows[i][1]) for i in range(3)]

    books = similarity.pq_fit(corpus, m=2, k=4, iters=1)
    codes = similarity.pq_encode(corpus, books)
    top = similarity.pq_topk(codes, books, probes, k=3)
    assert (dict(top.dtypes)["query_id"], dict(top.dtypes)["id"]) == (
        id_type, id_type
    )
    assert sorted({r["query_id"] for r in top.collect()}) == [
        p[0] for p in probes
    ]

    rr = similarity.pq_topk_rerank(
        corpus, codes, books, probes, k=3, shortlist=1 << 30
    )
    assert (dict(rr.dtypes)["query_id"], dict(rr.dtypes)["neighbor_id"]) == (
        id_type, id_type
    )
    queries = corpus.filter(
        F.col("vec_id").isin([p[0] for p in probes])
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    assert sorted(map(tuple, rr.collect())) == sorted(
        map(tuple, similarity.cosine_topk(corpus, queries, k=3).collect())
    )

    Cm, ibooks, icodes = similarity.ivfpq_build(
        corpus, n_cells=4, m=2, k=4, iters=1
    )
    itop = similarity.ivfpq_topk(icodes, Cm, ibooks, probes, k=3, nprobe=4)
    assert (dict(itop.dtypes)["query_id"], dict(itop.dtypes)["id"]) == (
        id_type, id_type
    )
    assert len(itop.collect()) == 3 * len(probes)


def test_vector_passes_match_rowwise_reference(spark, sf_dir):
    """The Arrow ports of kmeans_inertia and pca_transform give the same
    float64 results as the row-wise mapInPandas parse over the same
    batches."""
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").repartition(3, "vec_id")
    Cm, assigned = similarity.kmeans_fit(emb, k=4, iters=1)
    # one partition: the mean then has a single summation order
    assigned = assigned.coalesce(1)

    def rowwise_dist(batches):
        for pdf in batches:
            V = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
            cos = np.einsum("ij,ij->i", Vn, Cm[pdf["cell"].to_numpy()])
            yield pd.DataFrame({"d": 1.0 - cos})

    want = (
        assigned.select("embedding", "cell")
        .mapInPandas(rowwise_dist, "d double")
        .agg(F.avg("d"))
        .collect()[0][0]
    )
    assert similarity.kmeans_inertia(assigned, Cm) == want

    mean, comps, _ = similarity.pca_fit(emb, "embedding", k=3)

    def rowwise_project(batches):
        for pdf in batches:
            X = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
            S = (X - mean) @ comps.T
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], **{f"pc{i + 1}": S[:, i] for i in range(3)}}
            )

    ref = emb.select("vec_id", "embedding").mapInPandas(
        rowwise_project, "vec_id bigint, pc1 double, pc2 double, pc3 double"
    )
    got = similarity.pca_transform(emb, mean, comps, id_cols=["vec_id"])
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, ref.collect()))


def test_similarity_has_one_ann_path_and_one_vector_parser():
    """operators/similarity.py keeps one scoring path per ANN operator and
    parses vector columns only through arrowvec."""
    src = pathlib.Path(similarity.__file__).read_text()
    assert "mapInPandas" not in src
    assert "np.array([np.asarray(" not in src
    defs = [
        n.name for n in ast.walk(ast.parse(src))
        if isinstance(n, ast.FunctionDef)
    ]
    assert not [d for d in defs if d.endswith("_multi")]
    for name in ("pq_topk", "pq_topk_rerank", "ivfpq_topk"):
        assert defs.count(name) == 1, name
