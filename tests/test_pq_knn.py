"""Tests for product-quantization ANN over the on-disk IVF+PQ layout
(build_ivfpq_index + ivfpq_index_knn): exact ADC reconstruction when
the codebook covers the candidate subvectors, recall against
brute-force cosine on clustered data (``n_cells=1`` is plain PQ),
the catalog-entry smoke, and the layout's pruning and append
contracts."""

from __future__ import annotations

import math
import random

import pytest
from pyspark.sql import functions as F

from twitch_stream_data_pipeline_spark.extensions.similarity import (
    build_ivfpq_index,
    cosine_knn,
    ivfpq_index_knn,
)

from .conftest import SF_SMOKE


def _vec_df(spark, rows, dim):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in rows],
        f"vec_id long, embedding array<float>",
    )


def _pq_knn(spark, tmp_path, queries, df, k, n_cells=1, n_probe=1, **build):
    """Build an IVF+PQ layout over ``df`` and probe it; the default
    single cell makes it plain PQ search."""
    path = str(tmp_path / f"ivfpq_{n_cells}")
    build_ivfpq_index(df, path, n_cells=n_cells, **build)
    return ivfpq_index_knn(spark, path, queries, k=k, n_probe=n_probe)


def test_pq_adc_exact_when_codebook_covers(spark, tmp_path):
    """Candidates built from 4 distinct subvector blocks, n_codes
    large enough to hold every distinct subvector -> encoding
    reconstructs exactly and ADC == exact normalized dot product."""
    random.seed(7)
    dim, m = 16, 4
    blocks = [
        [round(random.uniform(-1, 1), 3) for _ in range(dim // m)]
        for _ in range(4)
    ]
    rows = []
    for i in range(16):
        v = []
        for j in range(m):
            v += blocks[(i + j) % 4]
        rows.append((i, v))
    df = _vec_df(spark, rows, dim)
    queries = df.filter(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["neighbor_id"]): r["adc_cosine"]
        for r in _pq_knn(
            spark, tmp_path, queries, df, k=5, m=m, n_codes=16,
            train_size=64, iters=4,
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_knn(queries, df, k=5).collect()
    }
    assert set(got) == set(exact)
    for key, adc in got.items():
        assert abs(adc - exact[key]) < 1e-9, key


def test_pq_recall_on_clustered_data(spark, tmp_path):
    """Well-separated clusters of 5, k=4: the exact top-4 of each
    query is exactly its 4 cluster siblings (cross-cluster cosines are
    far lower), and PQ must recover that set — the recall claim at the
    granularity ADC can actually resolve. (Recall *within* a tight
    cluster is meaningless: all members are equidistant to within the
    quantization noise.)"""
    random.seed(13)
    dim, n_clusters, per = 32, 8, 5
    centers = [
        [random.uniform(-1, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    vid = 0
    for c in centers:
        for _ in range(per):
            rows.append(
                (vid, [x + random.uniform(-0.05, 0.05) for x in c])
            )
            vid += 1
    df = _vec_df(spark, rows, dim)
    queries = df.filter(F.col("vec_id").isin(0, 10, 20, 30))
    approx = _pq_knn(
        spark, tmp_path, queries, df, k=4, m=8, n_codes=16, train_size=128
    ).collect()
    exact = cosine_knn(queries, df, k=4).collect()
    ex = {}
    for r in exact:
        ex.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    ap = {}
    for r in approx:
        ap.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    cluster = lambda v: v // per
    for q, neigh in ap.items():
        # exact top-4 is the cluster; PQ must agree
        assert ex[q] == {v for v in range(cluster(q) * per, (cluster(q) + 1) * per) if v != q}
        assert neigh == ex[q], (q, neigh, ex[q])


# ---------------------------------------------------------------------------
# IVF + PQ composed
# ---------------------------------------------------------------------------


def test_ivfpq_exact_when_probe_all_and_codebook_covers(spark, tmp_path):
    """Composed exactness: probing every cell removes the IVF
    approximation, a covering codebook removes the PQ approximation —
    the composition must equal brute-force cosine exactly."""
    random.seed(7)
    dim, m = 16, 4
    blocks = [
        [round(random.uniform(-1, 1), 3) for _ in range(dim // m)]
        for _ in range(4)
    ]
    rows = []
    for i in range(16):
        v = []
        for j in range(m):
            v += blocks[(i + j) % 4]
        rows.append((i, v))
    df = _vec_df(spark, rows, dim)
    queries = df.filter(F.col("vec_id") < 3)
    got = {
        (r["query_id"], r["neighbor_id"]): r["adc_cosine"]
        for r in _pq_knn(
            spark, tmp_path, queries, df, k=5, n_cells=4, n_probe=4, m=m,
            n_codes=16, train_size=64, iters=4,
        ).collect()
    }
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cosine"]
        for r in cosine_knn(queries, df, k=5).collect()
    }
    assert set(got) == set(exact)
    for key, adc in got.items():
        assert abs(adc - exact[key]) < 1e-9, key


def test_ivfpq_index_catalog_smoke(spark):
    from twitch_stream_data_pipeline_spark.plans import CATALOG

    out = CATALOG["ivfpq_index_knn"].fn(spark, SF_SMOKE)
    rows = out.collect()
    assert out.columns == ["query_id", "neighbor_id", "adc_cosine", "rank"]
    per_q = {}
    for r in rows:
        per_q.setdefault(r["query_id"], []).append(r["rank"])
        assert r["query_id"] != r["neighbor_id"]
    assert len(per_q) == 10
    for ranks in per_q.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


# ---------------------------------------------------------------------------
# embedding_covariance / pca_project
# ---------------------------------------------------------------------------


def test_covariance_matches_numpy(spark):
    import numpy as np

    from twitch_stream_data_pipeline_spark.extensions.similarity import (
        embedding_covariance,
    )

    random.seed(21)
    dim, n = 6, 40
    rows = [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(n)
    ]
    df = _vec_df(spark, rows, dim)
    got = {
        (r["i"], r["j"]): r["cov"]
        for r in embedding_covariance(df).collect()
    }
    Q = np.round(np.array([v for _, v in rows]) * 1000)
    ref = np.cov(Q, rowvar=False, bias=True)  # population covariance
    assert len(got) == dim * dim
    for (i, j), c in got.items():
        assert abs(c - ref[i][j]) < 1e-6, (i, j)


def test_pca_project_properties(spark):
    """Anisotropic cloud: projected per-component variances are
    non-increasing and match the covariance eigenvalues; projection
    preserves total variance when k == d."""
    import numpy as np

    from twitch_stream_data_pipeline_spark.extensions.similarity import (
        pca_project,
    )

    random.seed(9)
    dim, n = 6, 60
    scales = [8.0, 4.0, 2.0, 1.0, 0.5, 0.25]
    rows = [
        (
            i,
            [round(random.gauss(0, s) / 10, 3) for s in scales],
        )
        for i in range(n)
    ]
    df = _vec_df(spark, rows, dim)
    out = {r["vec_id"]: r["proj"] for r in pca_project(df, k=dim).collect()}
    P = np.array([out[i] for i in range(n)])
    var = P.var(axis=0)
    assert all(var[i] >= var[i + 1] - 1e-9 for i in range(dim - 1))
    # total variance preserved by a full rotation
    Q = np.round(np.array([v for _, v in rows]) * 1000)
    assert abs(P.var(axis=0).sum() - Q.var(axis=0).sum()) < 1e-6
    # projections are centered
    assert np.abs(P.mean(axis=0)).max() < 1e-9


def test_ivfpq_index_layout_and_equivalences(spark, tmp_path):
    """The on-disk IVF+PQ layout: (a) at n_probe == n_cells with a
    covering codebook the result equals brute-force cosine exactly;
    (b) probing fewer cells prunes partitions (PartitionFilters); (c)
    the append contract: the persisted models stay BYTE-IDENTICAL (an
    append never retrains) and a full probe sees vectors from both
    generations."""
    import os

    from pyspark.sql import functions as F

    from twitch_stream_data_pipeline_spark.extensions.similarity import (
        append_to_ivfpq_index,
        build_ivfpq_index,
        cosine_knn,
        ivfpq_index_knn,
    )

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    n_all = emb.count()
    path = str(tmp_path / "ivfpq")
    # covering regime: every candidate is in the training sample and
    # n_codes exceeds the candidate count -> exact reconstruction
    build_ivfpq_index(
        emb, path, n_cells=4, m=8, n_codes=max(64, n_all),
        train_size=n_all,
    )
    assert os.path.isdir(f"{path}/_quantizer")
    assert os.path.isdir(f"{path}/_codebooks")
    assert spark.read.parquet(path).count() == n_all

    q = emb.filter(F.col("vec_id") < 5)
    disk_rows = ivfpq_index_knn(spark, path, q, k=5, n_probe=4).collect()

    # covering codebook + all cells probed == exact cosine
    exact = {
        (r["query_id"], r["neighbor_id"], r["rank"]): r["cosine"]
        for r in cosine_knn(q, emb, k=5).collect()
    }
    got = {
        (r["query_id"], r["neighbor_id"], r["rank"]): r["adc_cosine"]
        for r in disk_rows
    }
    assert set(got) == set(exact)
    for kk, v in got.items():
        assert abs(v - exact[kk]) < 1e-9, kk

    # partition pruning at n_probe < n_cells
    pruned = ivfpq_index_knn(spark, path, q, k=5, n_probe=1)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    scan_line = next(
        l for l in plan.splitlines() if "PartitionFilters" in l
    )
    assert "cell" in scan_line, scan_line
    assert pruned.count() > 0

    # append contract: models byte-identical after append (an append
    # NEVER retrains — retraining would silently desynchronize the
    # pre-existing on-disk codes from every future probe's LUTs), and
    # a full probe surfaces neighbors from BOTH generations
    half_a = emb.filter(F.col("vec_id") % 2 == 0)
    half_b = emb.filter(F.col("vec_id") % 2 == 1)
    inc = str(tmp_path / "ivfpq_inc")
    build_ivfpq_index(
        half_a, inc, n_cells=4, m=8, n_codes=64, train_size=n_all
    )

    def model_snapshot():
        cent = sorted(
            map(tuple, spark.read.parquet(f"{inc}/_quantizer").collect())
        )
        books = sorted(
            map(tuple, spark.read.parquet(f"{inc}/_codebooks").collect())
        )
        return cent, books

    before = model_snapshot()
    append_to_ivfpq_index(half_b, inc)
    assert model_snapshot() == before
    assert spark.read.parquet(inc).count() == n_all
    got_inc = ivfpq_index_knn(spark, inc, q, k=5, n_probe=4).collect()
    probed_ids = {r["neighbor_id"] for r in got_inc}
    assert any(i % 2 == 0 for i in probed_ids)  # original generation
    assert any(i % 2 == 1 for i in probed_ids)  # appended generation


def test_zero_norm_vectors_never_produce_nan(spark, tmp_path):
    """ADVICE r6: an all-zero embedding must not become a NaN row in
    any normalization path — it assigns deterministically (cell 0,
    code 0 per book) and scores 0, instead of silently corrupting the
    cell it lands in. Exercised end-to-end through the on-disk IVF+PQ
    build + probe with a zero vector on BOTH sides."""
    import math

    random.seed(31)
    dim = 16
    rows = [(0, [0.0] * dim)] + [
        (i, [round(random.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(1, 12)
    ]
    df = _vec_df(spark, rows, dim)
    path = str(tmp_path / "zn")
    build_ivfpq_index(df, path, n_cells=4, m=4, n_codes=8, train_size=12)
    # the zero vector was indexed (not lost to a NaN argmax) ...
    assert spark.read.parquet(path).filter("vec_id = 0").count() == 1
    # ... and probing WITH a zero-vector query yields finite scores
    q = df.filter(F.col("vec_id").isin(0, 1))
    by_q = {}
    for r in ivfpq_index_knn(spark, path, q, k=3, n_probe=4).collect():
        assert not math.isnan(r["adc_cosine"]), r
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1}
    # zero query scores exactly 0 against every neighbor
    assert all(r["adc_cosine"] == 0.0 for r in by_q[0])


@pytest.mark.parametrize("leg", ["before", "after"])
def test_ivfpq_append_after_failed_write_converges(spark, tmp_path, monkeypatch, leg):
    """An IVF+PQ append is one cell-partitioned write: a crash before
    the write starts leaves the built layout untouched, a crash after
    it commits leaves the whole batch appended — never part of it. The
    append has no replay gate of its own, so the redelivering caller
    skips the ids the layout already holds; the redelivery then
    converges on the no-crash layout and probes in both legs."""
    from twitch_stream_data_pipeline_spark.extensions.similarity import (
        append_to_ivfpq_index,
    )

    from .conftest import fail_partitioned_writes

    random.seed(7)
    dim = 16

    def rand_rows(ids):
        return [
            (i, [round(random.uniform(-1, 1), 3) for _ in range(dim)])
            for i in ids
        ]

    corpus = _vec_df(spark, rand_rows(range(1, 13)), dim)
    batch_rows = rand_rows([20, 21])
    batch = _vec_df(spark, batch_rows, dim)
    copy_of_20 = _vec_df(spark, [(30, batch_rows[0][1])], dim)

    def build(path):
        build_ivfpq_index(corpus, path, n_cells=4, m=4, n_codes=8, train_size=12)

    def redeliver(path):
        indexed = [r["vec_id"] for r in spark.read.parquet(path).collect()]
        append_to_ivfpq_index(batch.filter(~F.col("vec_id").isin(indexed)), path)

    def layout(path):
        return sorted(map(tuple, spark.read.parquet(path).collect()), key=repr)

    def probe(path):
        return sorted(
            map(tuple, ivfpq_index_knn(spark, path, copy_of_20, k=3, n_probe=4).collect())
        )

    ref = str(tmp_path / "no_crash")
    build(ref)
    built = layout(ref)
    append_to_ivfpq_index(batch, ref)

    path = str(tmp_path / leg)
    build(path)
    fail_partitioned_writes(monkeypatch, leg)
    with pytest.raises(RuntimeError, match="injected write failure"):
        append_to_ivfpq_index(batch, path)
    monkeypatch.undo()
    assert layout(path) == (built if leg == "before" else layout(ref))

    redeliver(path)
    assert layout(path) == layout(ref)
    assert probe(path) == probe(ref)
    assert 20 in {r[1] for r in probe(path)}
