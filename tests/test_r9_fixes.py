"""Round-9 regression tests for the r8 ADVICE defects.

1. KMV sketches on data WITH NULL values: sha256(NULL) is a NULL hash
   Spark's ascending window ranks NULLS FIRST, which (before the fix)
   displaced the true k-th smallest hash and inflated n_kept while
   countDistinct ignored the NULL — and DuckDB orders NULLS LAST, so
   the engines diverged on exactly the data the oracle never saw.
2. NB training with labels outside the declared class space: such docs
   must neither train ghost classes nor inflate the prior denominator.
3. corpus_merkle_append's persisted leaf store must be rebuilt when the
   history it was built from changes under the same sf_dir basename.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from real_time_data_pipeline_spark.operators import aggregates as A
from real_time_data_pipeline_spark.operators import selection as S


def _h48(v) -> int:
    return int(hashlib.sha256(str(v).encode()).hexdigest()[:12], 16)


def test_kmv_distinct_ignores_nulls(spark):
    """NULL value rows are excluded: the sketch over values+NULLs equals
    the sketch over the non-NULL values, and an all-NULL group emits no
    row (n_exact would be 0 — no cardinality to estimate)."""
    k = 4
    vals = [f"u{i}" for i in range(10)]
    rows = [("a", v) for v in vals] + [("a", None)] * 3
    rows += [("b", None)] * 2  # all-NULL group
    df = spark.createDataFrame(rows, "grp string, val string")
    out = {r["grp"]: r for r in A.kmv_distinct(df, "grp", "val", k=k).collect()}
    assert set(out) == {"a"}
    hs = sorted(_h48(v) for v in vals)[:k]
    r = out["a"]
    assert r["n_kept"] == k
    assert r["kth_hash"] == hs[-1]
    assert r["n_exact"] == len(vals)
    est = (k - 1) * A.KMV_SPACE // hs[-1]
    assert r["est_kmv"] == est
    assert r["err_bp"] == (est - len(vals)) * 10000 // len(vals)


def test_kmv_merge_ignores_nulls(spark):
    """The merge certificate still holds (and matches the non-NULL-only
    sketch) when NULL values are interleaved across groups."""
    vals = [f"v{i}" for i in range(40)]
    rows = [(f"g{i % 3}", v) for i, v in enumerate(vals)]
    rows += [("g0", None), ("g1", None), ("g2", None)]
    df = spark.createDataFrame(rows, "grp string, val string")
    r = A.kmv_merge(df, "grp", "val", k=8).collect()[0]
    hs = sorted(_h48(v) for v in vals)[:8]
    assert r["merge_equal"] is True
    assert r["kth_direct"] == hs[-1]
    assert r["n_exact"] == len(vals)


def test_nb_training_restricted_to_declared_classes(spark):
    """Docs labeled outside ``classes`` are scored but never trained on:
    the model (and every prediction) is identical whether the
    out-of-space docs are present or absent from the training data."""
    classes = ("x", "y")
    base = [
        (i, "x" if i % 2 else "y", "alpha beta gamma" if i % 2 else "delta eps")
        for i in range(1, 21)
    ]
    ghosts = [(100 + i, "zz", "alpha delta omega") for i in range(5)]
    cols = "doc_id bigint, lab string, text string"
    with_ghosts = spark.createDataFrame(base + ghosts, cols)
    clean = spark.createDataFrame(base, cols)
    kw = dict(label_col="lab", classes=classes, holdout_mod=7)
    got = {
        r["doc_id"]: (r["pred_lab"], r["score_fp"], r["margin_fp"])
        for r in S.nb_train_classify(with_ghosts, **kw).collect()
    }
    want = {
        r["doc_id"]: (r["pred_lab"], r["score_fp"], r["margin_fp"])
        for r in S.nb_train_classify(clean, **kw).collect()
    }
    # ghost docs are scored (present in the output) ...
    assert set(got) == set(want) | {g[0] for g in ghosts}
    # ... but contribute nothing to the model: in-space rows identical
    assert {d: got[d] for d in want} == want


def test_nb_fit_filters_out_of_space_labels(spark):
    """nb_fit's model frames are unchanged by out-of-space rows."""
    classes = ("x", "y")
    base = [(i, "x" if i % 2 else "y", "aa bb cc") for i in range(1, 11)]
    ghosts = [(50, "zz", "aa zz zz")]
    cols = "doc_id bigint, lab string, text string"
    wt1, c1 = S.nb_fit(
        spark.createDataFrame(base + ghosts, cols),
        label_col="lab", classes=classes,
    )
    wt2, c2 = S.nb_fit(
        spark.createDataFrame(base, cols), label_col="lab", classes=classes,
    )
    assert sorted(map(tuple, wt1.collect())) == sorted(map(tuple, wt2.collect()))
    assert sorted(map(tuple, c1.collect())) == sorted(map(tuple, c2.collect()))


def test_merkle_store_rebuilt_on_history_change(spark, tmp_path):
    """A persisted leaf store built from one history must not silently
    drive the incremental manifest after the history changes: the
    per-key count validation in q_corpus_merkle_append rebuilds it, so
    the incremental manifest equals the ground-up manifest of the NEW
    corpus.  Exercised through the operator pair directly with the same
    validation recipe the registry query uses."""
    from real_time_data_pipeline_spark.operators.lineage import (
        build_merkle_store,
        merkle_manifest,
        merkle_manifest_incremental,
    )

    cols = "doc_id bigint, source string, text string"
    hist_v1 = spark.createDataFrame(
        [(i, f"s{i % 2}", f"old text {i}") for i in range(1, 9)], cols
    )
    hist_v2 = spark.createDataFrame(
        [(i, f"s{i % 2}", f"new text {i}") for i in range(1, 13)], cols
    )
    new = spark.createDataFrame(
        [(100, "s0", "increment a"), (101, "s1", "increment b")], cols
    )
    path = str(tmp_path / "merkle_store")
    build_merkle_store(hist_v1, path)

    # the registry query's staleness validation, applied to hist_v2
    stored = {
        r["key"]: r["n"]
        for r in spark.read.parquet(f"{path}/buckets")
        .groupBy("key").agg(F.sum("n").alias("n")).collect()
    }
    live = {
        r["source"]: r["n"]
        for r in hist_v2.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    assert stored != live  # v1 store is stale for v2 history
    build_merkle_store(hist_v2, path)  # what the query does on mismatch

    inc = merkle_manifest_incremental(spark, new, path)
    full = merkle_manifest(hist_v2.unionByName(new))
    assert sorted(map(tuple, inc.collect())) == sorted(
        map(tuple, full.collect())
    )


def test_gopher_quality_flags_match_bruteforce(spark):
    """Sequential replica of every Gopher rule statistic on a corpus
    hitting all six rules (short doc, long-word doc, symbol doc,
    numeric doc, stopword-free doc, one-token-spam doc, clean doc)."""
    from real_time_data_pipeline_spark.operators.curation import (
        gopher_quality_flags,
    )
    from real_time_data_pipeline_spark.operators.text import EN_STOPWORDS

    docs = [
        (1, "the a " + " ".join(f"w{i}" for i in range(48))),       # clean
        (2, "the a tiny"),                                           # short
        (3, "the a " + " ".join(["supercalifragilistic"] * 48)),     # long words
        (4, "the a " + " ".join(["x#y"] * 10 + [f"w{i}" for i in range(38)])),
        (5, "the a " + " ".join(["123"] * 20 + [f"w{i}" for i in range(28)])),
        (6, " ".join(f"w{i}" for i in range(50))),                   # no stopwords
        (7, "the a " + " ".join(["spam"] * 30 + [f"w{i}" for i in range(18)])),
    ]
    kw = dict(
        min_words=20, max_words=100_000,
        min_mean_word_len_c=100, max_mean_word_len_c=1000,
        max_symbol_ratio_bp=1000, min_alpha_frac_bp=8000,
        min_stop_hits=2, max_top_token_bp=2000,
    )
    out = {
        r["doc_id"]: r
        for r in gopher_quality_flags(
            spark.createDataFrame(docs, "doc_id bigint, text string"), **kw
        ).collect()
    }
    for doc_id, text in docs:
        toks = text.split()
        n = len(toks)
        top = max(toks.count(t) for t in set(toks))
        want = {
            "n_words": n,
            "mean_word_len_c": 100 * sum(map(len, toks)) // n,
            "symbol_ratio_bp": 10000 * sum(
                1 for t in toks if "#" in t or "..." in t
            ) // n,
            "alpha_frac_bp": 10000 * sum(
                1 for t in toks if any(c.isalpha() for c in t)
            ) // n,
            "stop_hits": sum(1 for t in toks if t in EN_STOPWORDS),
            "top_token_bp": 10000 * top // n,
        }
        got = out[doc_id]
        for k, v in want.items():
            assert got[k] == v, (doc_id, k, got[k], v)
        rules = dict(
            r_word_count=kw["min_words"] <= n <= kw["max_words"],
            r_mean_word_len=kw["min_mean_word_len_c"]
            <= want["mean_word_len_c"] <= kw["max_mean_word_len_c"],
            r_symbol_ratio=want["symbol_ratio_bp"]
            <= kw["max_symbol_ratio_bp"],
            r_alpha_words=want["alpha_frac_bp"] >= kw["min_alpha_frac_bp"],
            r_stopwords=want["stop_hits"] >= kw["min_stop_hits"],
            r_top_token=want["top_token_bp"] <= kw["max_top_token_bp"],
        )
        for k, v in rules.items():
            assert got[k] == v, (doc_id, k)
        assert got["keep_gopher"] == all(rules.values()), doc_id
    # every rule discriminates somewhere on this corpus
    for rule in ("r_word_count", "r_mean_word_len", "r_symbol_ratio",
                 "r_alpha_words", "r_stopwords", "r_top_token"):
        vals = {out[d][rule] for d, _ in docs}
        assert vals == {True, False}, rule


def test_unimax_allocation_water_filling_invariants(spark):
    """UniMax fill at many budgets: allocations are integers summing
    EXACTLY to min(budget, total capacity), never exceed a language's
    capacity, capped languages are exactly those below the water
    level, and uncapped allocations differ by at most 1 (uniformity)."""
    from real_time_data_pipeline_spark.operators.curation import (
        unimax_allocation,
    )

    counts = {"aa": 5, "bb": 40, "cc": 12, "dd": 90, "ee": 3}
    rows = [
        (f"{lang}{i}", lang) for lang, n in counts.items() for i in range(n)
    ]
    df = spark.createDataFrame(rows, "doc_id string, lang string")
    E = 3
    caps = {k: E * v for k, v in counts.items()}
    for budget in (0, 1, 7, 50, 137, 300, sum(caps.values()), 10_000):
        out = {
            r["lang"]: r
            for r in unimax_allocation(
                df, budget_docs=budget, max_epochs=E
            ).collect()
        }
        assert set(out) == set(counts)
        allocs = {k: r["alloc_docs"] for k, r in out.items()}
        assert all(0 <= allocs[k] <= caps[k] for k in counts)
        assert sum(allocs.values()) == min(budget, sum(caps.values()))
        uncapped = [allocs[k] for k in counts if allocs[k] < caps[k]]
        if uncapped:
            assert max(uncapped) - min(uncapped) <= 1
            # every capped language sits at or below the water level
            lvl = min(uncapped)
            assert all(
                caps[k] <= lvl + 1
                for k in counts
                if allocs[k] == caps[k]
            ), (budget, allocs)
        for k, r in out.items():
            assert r["epochs_bp"] == 10000 * allocs[k] // counts[k]


def test_pca_power_top1_invariant_and_matches_numpy(spark):
    """The fixed-point power iteration is EXACTLY partitioning-invariant
    and its projection direction agrees with numpy's exact top
    eigenvector (|correlation| > 0.999) on an anisotropic cloud."""
    import random

    import numpy as np

    from real_time_data_pipeline_spark.operators.similarity import (
        pca_power_top1,
    )

    rng = random.Random(11)
    rows = []
    for i in range(200):
        t = rng.gauss(0, 1.0)
        vec = [0.5 * t, 0.3 * t, 0.0, 0.0] + [
            rng.gauss(0, 0.05) for _ in range(4)
        ]
        rows.append((i, [round(v, 6) for v in vec]))
    df1 = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).repartition(1)
    df8 = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<double>"
    ).repartition(8)
    out1 = dict(
        (r["vec_id"], r["pc1_fp"]) for r in pca_power_top1(df1).collect()
    )
    out8 = dict(
        (r["vec_id"], r["pc1_fp"]) for r in pca_power_top1(df8).collect()
    )
    assert out1 == out8  # exact, not approximate

    X = np.array([v for _, v in rows])
    Xc = X - X.mean(axis=0)
    _, _, vt = np.linalg.svd(Xc, full_matrices=False)
    ref = Xc @ vt[0]
    got = np.array([out1[i] for i in range(200)], dtype=np.float64)
    corr = abs(np.corrcoef(ref, got)[0, 1])
    assert corr > 0.999, corr


def test_qdigest_build_replica_and_merge_bound(spark):
    """(a) The q-digest builder against a sequential replica on a known
    histogram; (b) the MERGE property: nodewise-summed shard digests,
    recompressed, still answer every quantile within the classic
    L·thr rank bound — the per-shard-fold shape at 100 TB.  (Merged
    digests are valid but not structurally identical to one-shot
    builds, which is why the registry oracle certifies the one-shot
    path and this test owns the merge.)"""
    import random

    from real_time_data_pipeline_spark.operators.aggregates import (
        _qdigest_build,
    )

    rng = random.Random(3)
    L, k = 10, 32
    hist = {}
    for _ in range(5000):
        v = min(1023, int(abs(rng.gauss(300, 150))))
        hist[v] = hist.get(v, 0) + 1
    n = sum(hist.values())
    thr = n // k
    digest = _qdigest_build(hist, L, thr)
    assert sum(digest.values()) == n  # mass-preserving
    assert len(digest) < len(hist)    # actually compresses
    # every kept sibling pair (with no pushed parent) is >= thr
    for idx, c in digest.items():
        if idx >= (1 << L):  # kept leaves
            sib = idx ^ 1
            pair = c + digest.get(sib, 0)
            assert pair >= thr or (idx >> 1) in digest

    def ranks(v):
        lo = sum(c for val, c in hist.items() if val < v)
        return lo + 1, lo + hist.get(v, 0)

    def query(dg, q_bp):
        def rng_of(idx):
            lvl = idx.bit_length() - 1
            span = 1 << (L - lvl)
            lo = (idx - (1 << lvl)) * span
            return lo, lo + span - 1

        walk = sorted((rng_of(i)[1], -rng_of(i)[0], c) for i, c in dg.items())
        target = (q_bp * n + 9999) // 10000
        cum = 0
        for hi, _nl, c in walk:
            cum += c
            if cum >= target:
                return hi, target
        return (1 << L) - 1, target

    # shard-fold: 4 shards by value hash, per-shard digests, nodewise
    # sum, recompress with the GLOBAL thr
    shards = [dict() for _ in range(4)]
    for v, c in hist.items():
        shards[hash(str(v)) % 4][v] = c
    folded: dict = {}
    for sh in shards:
        sh_n = sum(sh.values())
        for idx, c in _qdigest_build(sh, L, sh_n // k).items():
            folded[idx] = folded.get(idx, 0) + c
    # recompress the folded node set: push leaves-and-internals alike
    # bottom-up under the global thr (counts at internal nodes ride
    # along unchanged unless their LEVEL is processed)
    merged: dict = {}
    cur = dict(folded)
    for lvl in range(L, 0, -1):
        lo_i, hi_i = 1 << lvl, 1 << (lvl + 1)
        level_nodes = {i: c for i, c in cur.items() if lo_i <= i < hi_i}
        rest = {i: c for i, c in cur.items() if not (lo_i <= i < hi_i)}
        parents: dict = {}
        for i, c in level_nodes.items():
            parents[i >> 1] = parents.get(i >> 1, 0) + c
        for p, sc in parents.items():
            if sc + rest.get(p, 0) < thr:
                rest[p] = rest.get(p, 0) + sc
            else:
                for ch in (2 * p, 2 * p + 1):
                    if ch in level_nodes:
                        merged[ch] = level_nodes[ch]
        cur = rest
    merged.update(cur)
    assert sum(merged.values()) == n
    bound = L * thr + 4 * L * (thr // 1)  # shard thrs <= global thr
    for q_bp in (1000, 2500, 5000, 7500, 9000, 9900):
        for dg in (digest, merged):
            est, target = query(dg, q_bp)
            r_lo, r_hi = ranks(est)
            err = max(0, r_lo - 1 - target, target - r_hi)
            assert err <= bound, (q_bp, err, bound)
