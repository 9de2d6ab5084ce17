"""Similarity search over an embedding column (SURVEY.md §2.9).

Search paths:

- :func:`cosine_knn` — brute-force top-k, the correctness baseline.
  O(Q x N) but fully distributed: the (small) query set broadcasts,
  candidates never shuffle, and the only wide op is the per-query
  top-k window over Q*N scored rows.
- :func:`ivf_knn` — FAISS-style inverted-file coarse quantizer:
  queries probe their ``n_probe`` nearest trained cells. Equals brute
  force exactly when probing every cell.
- :func:`build_ivf_index` / :func:`ivf_index_knn` — the same cells
  materialized as a partitioned parquet layout, probed by partition
  pruning; :func:`embedding_ingest` gates new vectors against it.
- :func:`build_ivfpq_index` / :func:`ivfpq_index_knn` — IVF cells
  holding product-quantization codes on disk, scored by asymmetric
  distance (ADC) lookups.

Beside search: :func:`semantic_dedup`,
:func:`group_outlier_scores_scalable`, :func:`embedding_covariance` /
:func:`pca_project`, and the UDF-tier norm paths
(:func:`quantized_norm_pandas_udf`, :func:`norms_map_in_arrow`).

Scores use *quantized* integer arithmetic: each float is rounded to
``round(x * 1000)`` (bigint) and dot products / norms are exact integer
sums, so the final ``dot / sqrt(na * nb)`` double is bit-identical in
any engine — the DuckDB oracle reproduces it exactly. The quantization
error (<0.1% per element) is irrelevant for ranking and for near-dup
thresholds.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

QUANT_SCALE = 1000


def quantized_embedding(c: Column) -> Column:
    """array<float> -> array<bigint> via round(x * 1000)."""
    return F.transform(c, lambda x: F.round(x * QUANT_SCALE).cast("long"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def _norm2(a: Column) -> Column:
    return F.aggregate(
        F.transform(a, lambda x: x * x), F.lit(0).cast("long"), lambda acc, x: acc + x
    )


def _safe_cosine(dot: Column, na: Column, nb: Column) -> Column:
    """``dot / sqrt(na * nb)`` with the zero-norm convention every
    numpy path in this module already follows (:func:`_unit_rows`:
    an all-zero vector scores cosine 0 against everything). The JVM
    expression paths need the guard explicitly: under Spark's default
    ANSI mode the unguarded division THROWS DIVIDE_BY_ZERO the moment
    a zero vector appears — legal content the random testdata never
    contains (caught by the round-9 poison sweep)."""
    prod = na.cast("double") * nb.cast("double")
    return F.when(prod > 0, dot.cast("double") / F.sqrt(prod)).otherwise(
        F.lit(0.0)
    )


def quantized_cosine(a: Column, b: Column) -> Column:
    """Deterministic cosine over quantized vectors (double output)."""
    qa, qb = quantized_embedding(a), quantized_embedding(b)
    return _safe_cosine(_dot(qa, qb), _norm2(qa), _norm2(qb))


def cosine_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Brute-force cosine top-k: ``query_id, neighbor_id, cosine, rank``.

    Quantization stays JVM-side (one cheap array transform per row —
    and the *source of truth* for rounding semantics, shared with the
    DuckDB oracle). The O(Q x N x D) scoring stage runs as a vectorized
    Arrow batch (``mapInPandas``): one int64 matrix multiply per batch
    instead of per-element interpreted lambda evaluation — the
    "UDFs-are-the-slow-path" exception where built-in higher-order
    functions genuinely lose (they are evaluated interpretively,
    outside whole-stage codegen). Numerics are bit-identical to the
    pure-column formulation: exact int64 dot/norms (|x|<=~2000, D=64
    keeps every product far under 2^63), then the same
    double-divide/sqrt.

    The query set is collected to the driver and closed over by the
    scorer (the ANN contract: Q << N — queries are a handful of probe
    vectors, candidates are the corpus). Candidates never shuffle; the
    only wide op is the per-query top-k window over Q*N scored rows of
    three scalar columns.
    """
    import numpy as np
    import pandas as pd

    q_rows = (
        queries.select(
            F.col(id_col).alias("query_id"),
            quantized_embedding(F.col(vec_col)).alias("q_vec"),
        ).collect()  # intentionally driver-side: ANN query sets are small
    )
    if not q_rows:  # empty query set: empty result, correct schema
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_ids = np.array([r["query_id"] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r["q_vec"] for r in q_rows], dtype=np.int64)  # Q x D
    q_norm = (q_mat * q_mat).sum(axis=1)  # exact int64

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(pdf["c_vec"].tolist(), dtype=np.int64)  # N x D
            c_norm = (c_mat * c_mat).sum(axis=1)
            dots = c_mat @ q_mat.T  # N x Q, exact int64
            # denominator multiplies *doubles* (not int64) to mirror the
            # column expression sqrt(CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
            denom = np.sqrt(
                c_norm.astype(np.float64)[:, None] * q_norm.astype(np.float64)[None, :]
            )
            # zero-norm convention (_unit_rows / _safe_cosine): a zero
            # vector scores 0.0, never NaN
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.where(
                    denom > 0, dots.astype(np.float64) / denom, 0.0
                )
            n = len(ids)
            yield pd.DataFrame(
                {
                    "query_id": np.tile(q_ids, n),
                    "neighbor_id": np.repeat(ids, len(q_ids)),
                    "cosine": cos.ravel(),
                }
            )

    scored = (
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            quantized_embedding(F.col(vec_col)).alias("c_vec"),
        )
        .mapInPandas(score, "query_id long, neighbor_id long, cosine double")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _unit_rows(X):
    """Row-normalize without the zero-norm hole: an all-zero vector
    stays all-zero (cosine 0 against everything, coarse cell argmax 0
    deterministically) instead of becoming a NaN row that silently
    corrupts cell assignment / PQ codes downstream. Shared by every
    driver-side and Arrow-batch normalization in this module."""
    import numpy as np

    n = np.linalg.norm(X, axis=1, keepdims=True)
    return X / np.where(n == 0, 1.0, n)


def _collect_train_sample(
    candidates: DataFrame, train_size: int, id_col: str, vec_col: str
):
    """The shared quantizer/codebook training sample: first
    ``train_size`` candidates by id (TakeOrdered — no full sort), as a
    float64 matrix of the quantized vectors. One collect, reusable by
    BOTH driver-side trainers — build_ivfpq_index used to run this
    identical job twice (r12 optimization, guide §1.2 'don't compute
    things you throw away')."""
    import numpy as np

    train = (
        candidates.orderBy(id_col)
        .limit(train_size)
        .select(quantized_embedding(F.col(vec_col)).alias("v"))
        .collect()  # intentionally driver-side: bounded training sample
    )
    return np.array([r["v"] for r in train], dtype=np.float64)


def _train_coarse_quantizer(
    candidates: DataFrame,
    n_cells: int,
    train_size: int,
    iters: int,
    id_col: str,
    vec_col: str,
    sample=None,
):
    """Deterministic spherical k-means coarse quantizer (driver-side
    numpy over a bounded sample — model-state-sized). First
    ``train_size`` candidates by id, fixed init, fixed ``iters`` Lloyd
    rounds: centroids are bit-reproducible for a given input.
    ``sample`` short-circuits the collect with a matrix a caller
    already holds (:func:`_collect_train_sample`) — identical numerics,
    one fewer job."""
    import numpy as np

    X = (
        sample
        if sample is not None
        else _collect_train_sample(candidates, train_size, id_col, vec_col)
    )
    if X.size == 0:
        return X.reshape(0, 0)
    X = _unit_rows(X)
    cent = X[: min(n_cells, len(X))].copy()
    for _ in range(iters):
        assign = (X @ cent.T).argmax(axis=1)
        for c in range(len(cent)):
            members = X[assign == c]
            if len(members):
                v = members.sum(axis=0)
                norm = np.linalg.norm(v)
                if norm > 0:
                    cent[c] = v / norm
    return cent


def ivf_knn(
    queries: DataFrame,
    candidates: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    train_size: int = 256,
    iters: int = 5,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k — the coarse-quantizer ANN
    scale path (FAISS IVF-Flat shape, re-expressed as a Spark plan).

    1. **Train** a spherical k-means coarse quantizer on a
       deterministic sample (first ``train_size`` candidates by id) —
       driver-side numpy, model-state-sized (n_cells x dim floats),
       fixed ``iters`` Lloyd rounds from a fixed init, so the centroids
       are bit-reproducible.
    2. **Assign + score in one Arrow pass**: each candidate batch is
       assigned to its nearest centroid (one matmul) and scored —
       exact quantized-int cosine, identical numerics to
       :func:`cosine_knn` — against exactly the queries probing that
       cell. Candidates never shuffle; there is no per-cell join
       because the probe sets ride into the closure (Q x n_probe ids,
       control-plane-sized).
    3. Per-query top-k window over the reduced candidate set.

    With ``n_probe == n_cells`` the output equals :func:`cosine_knn`
    exactly (asserted in tests); recall at ``n_probe < n_cells`` is the
    speed/recall dial. The warehouse-scale evolution is implemented as
    :func:`build_ivf_index` / :func:`ivf_index_knn`: the assignment
    materialized as a ``cell`` partition key, making each query a
    partition-pruned scan of its probed cells — the true inverted file.
    """
    import numpy as np
    import pandas as pd

    cent = _train_coarse_quantizer(
        candidates, n_cells, train_size, iters, id_col, vec_col
    )

    q_rows = queries.select(
        F.col(id_col).alias("query_id"),
        quantized_embedding(F.col(vec_col)).alias("q_vec"),
    ).collect()  # ANN contract: Q << N
    if not q_rows or cent.size == 0:  # no queries or no trained cells
        return queries.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_ids = [r["query_id"] for r in q_rows]
    q_mat = np.array([r["q_vec"] for r in q_rows], dtype=np.int64)
    q_norm = (q_mat * q_mat).sum(axis=1)
    qf = q_mat.astype(np.float64)
    qn = _unit_rows(qf)
    probe_order = np.argsort(-(qn @ cent.T), axis=1, kind="stable")
    probes = {
        qid: frozenset(probe_order[i, :n_probe].tolist())
        for i, qid in enumerate(q_ids)
    }

    def assign_score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["neighbor_id"].to_numpy(dtype=np.int64)
            c_mat = np.array(pdf["c_vec"].tolist(), dtype=np.int64)
            c_norm = (c_mat * c_mat).sum(axis=1)
            cf = c_mat.astype(np.float64)
            # zero-norm convention (_unit_rows): a zero vector stays
            # zero (cell argmax 0 deterministically), scores cosine 0.0
            cn = np.sqrt(c_norm.astype(np.float64))[:, None]
            with np.errstate(invalid="ignore", divide="ignore"):
                unit = np.where(cn > 0, cf / cn, 0.0)
            cells = (unit @ cent.T).argmax(axis=1)
            dots = c_mat @ q_mat.T  # exact int64
            denom = np.sqrt(
                c_norm.astype(np.float64)[:, None]
                * q_norm.astype(np.float64)[None, :]
            )
            with np.errstate(invalid="ignore", divide="ignore"):
                cos = np.where(
                    denom > 0, dots.astype(np.float64) / denom, 0.0
                )
            out_q, out_n, out_c = [], [], []
            for qi, qid in enumerate(q_ids):
                mask = np.isin(cells, list(probes[qid]))
                out_q.append(np.full(int(mask.sum()), qid, dtype=np.int64))
                out_n.append(ids[mask])
                out_c.append(cos[mask, qi])
            yield pd.DataFrame(
                {
                    "query_id": np.concatenate(out_q),
                    "neighbor_id": np.concatenate(out_n),
                    "cosine": np.concatenate(out_c),
                }
            )

    scored = (
        candidates.select(
            F.col(id_col).alias("neighbor_id"),
            quantized_embedding(F.col(vec_col)).alias("c_vec"),
        )
        .mapInPandas(assign_score, "query_id long, neighbor_id long, cosine double")
        .filter(F.col("query_id") != F.col("neighbor_id"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def build_ivf_index(
    candidates: DataFrame,
    path: str,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_size: int = 256,
    iters: int = 5,
    quantizer=None,
) -> None:
    """Materialize the TRUE inverted file: candidates written as a
    ``cell``-partitioned parquet layout, centroids persisted beside it.

    This is the warehouse-scale evolution :func:`ivf_knn`'s docstring
    promises: the coarse-quantizer assignment becomes a partition KEY,
    so a probe reads ``n_probe`` directories via Catalyst partition
    pruning and never touches the other ``n_cells - n_probe`` — the
    index is the storage layout itself, no serving process. Build cost
    is one Arrow assignment pass + one partitioned write; the quantizer
    (n_cells x dim doubles) lands at ``{path}/_quantizer`` so readers
    re-derive probe sets without retraining (and a retrain can never
    silently disagree with the layout on disk).

    FAISS precedent: IVF-Flat's cell lists, re-expressed as
    partitioned parquet + partition pruning instead of a custom file
    format.

    ``quantizer`` lets a caller that already trained the centroids
    (via :func:`_train_coarse_quantizer` on its own
    :func:`_collect_train_sample`) skip the training job here — the
    matrix passed MUST be the one this function would have trained
    (same sample contract), and it is still persisted at
    ``{path}/_quantizer`` unchanged, so probes reload the exact layout
    model either way.
    """
    from ..sinks import write_partitioned

    reserved = {"cell", "q_vec"} & set(candidates.columns)
    if reserved:
        raise ValueError(
            f"build_ivf_index: candidates already carry reserved column(s) "
            f"{sorted(reserved)} — rename them (an index read back from "
            "disk includes 'cell'; drop it before rebuilding)"
        )
    cent = (
        quantizer
        if quantizer is not None
        else _train_coarse_quantizer(
            candidates, n_cells, train_size, iters, id_col, vec_col
        )
    )
    if len(cent) == 0:
        raise ValueError("build_ivf_index: candidates are empty — nothing "
                         "to train the quantizer on")

    write_partitioned(
        _cluster_write(_assign_cells(candidates, cent, vec_col)),
        path, ["cell"], mode="overwrite",
    )
    _write_quantizer(candidates.sparkSession, path, cent)


def _write_quantizer(spark, path: str, cent) -> None:
    """Persist the coarse quantizer (one row per cell) at
    ``{path}/_quantizer`` — the one writer, shared by both builds."""
    import pandas as pd

    from .model_io import write_small_parquet

    write_small_parquet(
        spark,
        f"{path}/_quantizer",
        pd.DataFrame(
            {"cell": range(len(cent)), "centroid": [r.tolist() for r in cent]}
        ),
    )


def _load_quantizer(spark, path: str):
    """The persisted coarse quantizer as an ``n_cells x dim`` matrix —
    the one reader, shared by every append and probe so none of them
    can decode the layout's model differently."""
    import numpy as np

    from .model_io import read_small_parquet

    rows = read_small_parquet(spark, f"{path}/_quantizer")
    return np.array(
        [r["centroid"] for r in sorted(rows, key=lambda r: r["cell"])],
        dtype=np.float64,
    )


def _cluster_write(assigned: DataFrame) -> DataFrame:
    """Cluster a cell-assigned relation by ``cell`` before its
    partitioned write (r12 optimization, guide §6 file layout).
    Without this, every upstream task emits a file into every cell
    directory it touches — measured 318 files for 16 cells at
    sf0.001 (tasks x cells fan-out) — so the build pays a
    many-file commit and EVERY probe pays per-file open cost plus a
    long driver listing. One hash exchange on the int32 cell key
    (AQE-coalesced when small) lands each cell in one task: file
    count per cell directory becomes ~1 locally and follows the
    shuffle-partition / AQE advisory sizing at scale — exactly the
    write.distribution-mode=hash recipe (guide §6); cell count grows
    with corpus size (FAISS sizing), so write parallelism scales too,
    and ``write_partitioned``'s ``max_records_per_file`` remains the
    governor against oversized single-cell files."""
    return assigned.repartition("cell")


def _assign_cells(candidates: DataFrame, cent, vec_col: str) -> DataFrame:
    """One Arrow pass adding the coarse-quantizer ``cell`` (int32)
    assignment to ``candidates`` — shared by build and append so an
    incremental load can never use different assignment math than the
    layout it extends."""
    import numpy as np

    def assign(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            c_mat = np.array(pdf["q_vec"].tolist(), dtype=np.int64)
            cf = c_mat.astype(np.float64)
            cf = _unit_rows(cf)
            pdf = pdf.drop(columns=["q_vec"])
            pdf["cell"] = (cf @ cent.T).argmax(axis=1).astype("int32")
            yield pdf

    src_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in candidates.schema.fields
    )
    return candidates.withColumn(
        "q_vec", quantized_embedding(F.col(vec_col))
    ).mapInPandas(assign, f"{src_fields}, cell int")


def append_to_ivf_index(
    new_candidates: DataFrame,
    path: str,
    vec_col: str = "embedding",
) -> None:
    """Incrementally extend a :func:`build_ivf_index` layout: assign
    new vectors with the PERSISTED quantizer (never retrain — a
    retrain would silently disagree with the cells already on disk)
    and append them into their cell partitions. The K8-style
    incremental path for a growing corpus: probes see old and new
    vectors identically, and a periodic full rebuild re-balances cells
    when drift accumulates (cell-size skew is the rebuild signal).
    """
    reserved = {"cell", "q_vec"} & set(new_candidates.columns)
    if reserved:
        raise ValueError(
            f"append_to_ivf_index: new candidates carry reserved column(s) "
            f"{sorted(reserved)} — rename or drop them first"
        )
    from ..sinks import write_partitioned

    cent = _load_quantizer(new_candidates.sparkSession, path)
    write_partitioned(
        _cluster_write(_assign_cells(new_candidates, cent, vec_col)),
        path, ["cell"], mode="append",
    )


def ivf_index_knn(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    quantizer=None,
) -> DataFrame:
    """Probe a :func:`build_ivf_index` layout: top-k per query reading
    ONLY the probed cell partitions.

    The persisted quantizer picks each query's ``n_probe`` nearest
    cells (driver-side, Q << N); the candidate scan filters
    ``cell IN <union of probed cells>`` — a PartitionFilter in the
    physical plan, pruning whole directories — and each query scores
    only rows of its own probe set (exact quantized cosine, identical
    numerics to :func:`cosine_knn`). With ``n_probe == n_cells`` the
    result equals brute force exactly.
    """
    import numpy as np

    # a caller that already loaded the persisted model (embedding_ingest
    # needs n_cells anyway) passes it — one model read per ingest
    cent = quantizer if quantizer is not None else _load_quantizer(spark, path)
    q_rows = queries.select(
        F.col(id_col).alias("query_id"),
        quantized_embedding(F.col(vec_col)).alias("q_vec"),
    ).collect()  # ANN contract: Q << N
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    qf = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    qn = _unit_rows(qf)
    n_probe = min(n_probe, len(cent))
    probe_order = np.argsort(-(qn @ cent.T), axis=1, kind="stable")
    probed = [
        (int(r["query_id"]), [int(c) for c in probe_order[i, :n_probe]])
        for i, r in enumerate(q_rows)
    ]
    all_cells = sorted({c for _, cells in probed for c in cells})

    # the query relation was already collected above — build the probe
    # relation from those rows instead of re-evaluating `queries`'s
    # lineage a second time through a join
    qdf = spark.createDataFrame(
        [
            (qid, cells, list(r["q_vec"]))
            for (qid, cells), r in zip(probed, q_rows)
        ],
        "query_id long, probe array<int>, q_vec array<bigint>",
    )
    cand = (
        spark.read.parquet(path)
        .filter(F.col("cell").isin(all_cells))  # -> PartitionFilters
        .select(
            F.col(id_col).alias("neighbor_id"),
            F.col("cell"),
            quantized_embedding(F.col(vec_col)).alias("c_vec"),
        )
    )
    joined = cand.join(
        F.broadcast(qdf), F.array_contains(qdf.probe, cand.cell)
    ).filter(F.col("query_id") != F.col("neighbor_id"))
    cos = _safe_cosine(
        F.aggregate(
            F.zip_with("c_vec", "q_vec", lambda x, y: x * y),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ),
        _norm2(F.col("c_vec")),
        _norm2(F.col("q_vec")),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.col("neighbor_id"))
    return (
        joined.select("query_id", "neighbor_id", cos.alias("cosine"))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def group_outlier_scores_scalable(
    emb: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-label embedding outlier scoring as pure aggregation +
    broadcast join: each vector's euclidean distance to its label
    centroid, and the z-score of that distance within the label.

    A grouped-map form (``applyInPandas``) would ship every label
    group into one pandas frame, so a label with 10^9 members lands on
    (and OOMs) a single task. The math decomposes into
    partial-aggregable pieces instead:

    1. ``posexplode`` the vector and ``groupBy(label, dim)`` for the
       per-dimension centroid — map-side combine collapses each task
       to ``|labels| x dims`` rows, so the shuffle is bytes.
    2. Broadcast the centroid rows back onto the exploded vectors and
       ``groupBy(vec_id)`` the squared diffs for euclidean distance —
       the shuffle key is the *high*-cardinality vec_id, which AQE can
       split freely.
    3. ``groupBy(label)`` over distances for the in-group mean/std,
       broadcast those <=|labels| rows back, emit the z-score.

    No window, no grouped-map, no per-group memory; every aggregate is
    decimal-routed (order-independent) so the result is bit-stable and
    oracle-checkable. Matches an independent window formulation to
    the decimal(25,6) rounding (~1e-6, pinned in tests).
    """
    n_dims = F.count("*")
    dims = emb.select(
        F.col(id_col), F.col(label_col), F.posexplode(vec_col).alias("dim", "v")
    ).withColumn("v", F.col("v").cast("double"))
    cent = dims.groupBy(label_col, "dim").agg(
        (F.sum(F.col("v").cast("decimal(25,6)")).cast("double") / n_dims).alias("c")
    )
    sq = (F.col("v") - F.col("c")) * (F.col("v") - F.col("c"))
    dist = (
        dims.join(F.broadcast(cent), [label_col, "dim"])
        .groupBy(id_col, label_col)
        .agg(
            F.sqrt(F.sum(sq.cast("decimal(25,6)")).cast("double")).alias("dist")
        )
    )
    # dist feeds both the output and the label stats; without lineage
    # truncation Spark re-runs the whole scan->explode->centroid->agg
    # pipeline for each consumer (two full passes over the input). The
    # per-vector dist relation is tiny relative to the vectors, so
    # materializing it once is the 100-TB-correct trade (same move as
    # dedup clustering's edge list).
    dist = dist.localCheckpoint(eager=False)
    stats = dist.groupBy(label_col).agg(
        (F.sum(F.col("dist").cast("decimal(25,6)")).cast("double") / F.count("*")).alias(
            "mean_d"
        ),
        (
            F.sum((F.col("dist") * F.col("dist")).cast("decimal(25,6)")).cast("double")
            / F.count("*")
        ).alias("meansq_d"),
    )
    var = F.col("meansq_d") - F.col("mean_d") * F.col("mean_d")
    return dist.join(F.broadcast(stats), label_col).select(
        id_col,
        label_col,
        "dist",
        F.when(var > 0, (F.col("dist") - F.col("mean_d")) / F.sqrt(var))
        .otherwise(F.lit(0.0))
        .alias("zdist"),
    )


def semantic_dedup(
    emb: DataFrame,
    threshold: float = 0.3,
    cluster_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): embeddings are partitioned into clusters, and
    within each cluster any vector whose cosine similarity to another
    cluster member reaches ``threshold`` is pruned — the
    embedding-space twin of MinHash near-dup removal, catching
    paraphrases and re-renders that share no n-grams.

    ``cluster_col`` is the precomputed cluster assignment. In the paper
    (and at 100 TB) that is the cell id of a k-means coarse quantizer —
    exactly what :func:`build_ivf_index` materializes as ``cell``; feed
    its output straight in. Any bounded-cardinality partition key works
    (here the synthetic corpus's ``label`` stands in), because the
    semantics only require that near-duplicates co-cluster — the
    quantizer guarantees that for tight duplicates by construction.

    Keep rule: drop ``v`` iff some same-cluster ``u`` with
    ``u.id < v.id`` has ``cos(u, v) >= threshold``. This is the
    *parallel-monotone* variant of the paper's sequential greedy sweep:
    every keep/drop decision depends only on pairwise geometry and the
    total id order, never on prior decisions, so it distributes with no
    iteration and is deterministic under any partitioning. (It prunes a
    superset of sequential-greedy's drops on similarity chains
    A~B~C, A!~C — acceptable for curation, where over-pruning
    borderline chains is the safe side.)

    Scale shape: the pair generation self-joins ON the cluster key —
    one shuffle of the vectors by cluster, within-cell pairs only
    (O(sum c_i^2) work, the SemDeDup economics: cell sizes ~N/k are
    set by the quantizer's k, and the paper runs 50k cells at 5B docs).
    Nothing global, no driver state; scores are the quantized exact
    cosine (oracle-portable). Emits every input id with its cluster and
    an integer ``keep`` flag — the decision table, joinable back onto
    the corpus as the curation filter.
    """
    import numpy as np
    import pandas as pd

    # Within-cell pairwise scoring as ONE Arrow Gram matrix per
    # cluster (grouped applyInPandas) instead of a pair self-join
    # scored by interpreted higher-order functions — the cosine_knn
    # rule (int64 matmul is exact and ~3x faster end-to-end at sf0.1;
    # numerics identical to quantized_cosine, so the SQL oracle is
    # unchanged). One shuffle either way: vectors move once, keyed by
    # cluster; per-group memory is one cell's vectors — bounded by
    # the quantizer's cell size, the SemDeDup economics.
    def cell_dedup(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["__id"].to_numpy(dtype=np.int64)
        order = np.argsort(ids, kind="stable")
        ids = ids[order]
        Q = np.array(pdf["__qv"].to_numpy()[order].tolist(), dtype=np.int64)
        dots = Q @ Q.T  # exact int64
        n2 = np.diag(dots).astype(np.float64)
        denom = np.sqrt(n2[:, None] * n2[None, :])
        with np.errstate(invalid="ignore", divide="ignore"):
            cos = dots.astype(np.float64) / denom
        # drop j iff some i < j (in id order) has cos >= threshold
        hit = cos >= threshold
        keep = np.ones(len(ids), dtype=np.int64)
        iu = np.triu_indices(len(ids), k=1)
        dropped = np.unique(iu[1][hit[iu]])
        keep[dropped] = 0
        return pd.DataFrame(
            {"__id": ids, "__cl": pdf["__cl"].to_numpy()[order], "keep": keep}
        )

    prepared = emb.select(
        F.col(cluster_col).alias("__cl"),
        F.col(id_col).alias("__id"),
        quantized_embedding(F.col(vec_col)).alias("__qv"),
    )
    out = prepared.groupBy("__cl").applyInPandas(
        cell_dedup, f"__id long, __cl {emb.schema[cluster_col].dataType.simpleString()}, keep int"
    )
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__cl").alias(cluster_col),
        "keep",
    )


def _train_pq_codebooks(X, m: int, n_codes: int, iters: int):
    """Deterministic per-subvector L2 k-means codebooks (driver-side
    numpy over a bounded sample — model-state-sized, ``m x n_codes x
    d/m`` doubles). ``X`` is the coarse quantizer's training sample
    (:func:`_collect_train_sample`: first ``train_size`` candidates
    by id, quantized-int form), unit-normalized here; fixed init
    (first ``n_codes`` sample rows), fixed ``iters`` Lloyd rounds."""
    import numpy as np

    X = _unit_rows(X)
    d = X.shape[1]
    if d % m:
        raise ValueError(f"dim {d} not divisible by m={m} subvectors")
    dsub = d // m
    books = []
    for j in range(m):
        S = X[:, j * dsub : (j + 1) * dsub]
        cent = S[: min(n_codes, len(S))].copy()
        for _ in range(iters):
            d2 = ((S[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)
            for c in range(len(cent)):
                members = S[assign == c]
                if len(members):
                    cent[c] = members.mean(axis=0)
        books.append(cent)
    return np.stack(books)


def quantized_norm_pandas_udf():
    """Scalar Arrow ``pandas_udf`` computing the exact squared norm of
    a quantized embedding (``sum of int64 element squares``) — the
    vectorized-scalar member of the UDF surface (SURVEY.md §2.8):
    one Arrow column batch in, one out, usable INSIDE any expression
    (select/filter/join condition), unlike mapInPandas which replaces
    the whole row stream. Integer arithmetic end to end, so the result
    is bit-identical to the JVM/DuckDB expression form — which is what
    lets the catalog grade a Python-UDF query against a SQL oracle.

    (Built lazily so importing the module never touches the Arrow
    runtime; the production expression form is ``_NORM``-style column
    arithmetic — this exists to pin the pandas_udf execution path.)
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    def qnorm(v):
        if v.empty:
            return pd.Series([], dtype="int64")
        mat = np.array(v.tolist(), dtype=np.int64)  # fixed-dim batch
        return pd.Series((mat * mat).sum(axis=1))

    # real annotation objects (the module's `from __future__ import
    # annotations` would stringify inline hints, and pandas is not a
    # module global here, so infer_eval_type could not resolve them)
    qnorm.__annotations__ = {"v": pd.Series, "return": pd.Series}
    return pandas_udf(qnorm, "long")


def norms_map_in_arrow(emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding") -> DataFrame:
    """Exact quantized squared norms via ``mapInArrow`` — the
    Arrow-NATIVE member of the UDF surface (SURVEY.md §2.8), one rung
    below the pandas tier: batches arrive as ``pyarrow.RecordBatch``
    and never pay the Arrow->pandas conversion that ``mapInPandas`` /
    ``pandas_udf`` add on both edges. The right tier when the Python
    work is itself array arithmetic (here: one int64 square-sum per
    fixed-dim row via numpy views over the Arrow buffers).

    Integer end to end, so the catalog grades this execution path
    against the same SQL oracle as the pandas_udf twin
    (``vector_norm_udf``) — three code paths (JVM expression, pandas
    UDF, Arrow-native), one bit-identical result.
    """
    import numpy as np
    import pyarrow as pa

    def qnorms(batches):
        for batch in batches:
            tbl = pa.table(batch)
            ids = tbl.column("__id").to_numpy(zero_copy_only=False)
            qv = tbl.column("__qv")
            mat = np.array(qv.to_pylist(), dtype=np.int64)
            if mat.size == 0:
                norms = np.array([], dtype=np.int64)
            else:
                norms = (mat * mat).sum(axis=1)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ids, type=pa.int64()), pa.array(norms, type=pa.int64())],
                names=["vec_id", "qnorm"],
            )

    src = emb.select(
        F.col(id_col).alias("__id"),
        quantized_embedding(F.col(vec_col)).alias("__qv"),
    )
    return src.mapInArrow(qnorms, "vec_id long, qnorm long")


def embedding_covariance(
    emb: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Exact covariance matrix of the quantized embedding columns as a
    long-format relation ``(i, j, cov)`` — the sufficient statistic
    for PCA/whitening (:func:`pca_project`) computed the mergeable
    way: each Arrow batch reduces to one d x d partial outer-product
    matrix (int64, exact), partials groupBy-sum on the tiny ``(i, j)``
    key, and the covariance formula runs once per cell on the exact
    global moments. At 100 TB the shuffle carries d^2 rows PER TASK
    (kilobytes), never vectors; the same partial-state economics as
    the HLL sketch rollup, but exact.

    ``cov_ij = (n * S_ij - S_i * S_j) / (n * n)`` (population
    covariance) over the int64 moments — one fixed-order double
    expression per cell, bit-portable, which is what lets the DuckDB
    oracle grade a covariance matrix exactly.
    """
    import numpy as np
    import pandas as pd

    def partial_outer(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            Q = np.array(pdf["__qv"].tolist(), dtype=np.int64)
            S = Q.T @ Q  # d x d exact int64
            d = S.shape[0]
            ii, jj = np.meshgrid(np.arange(d), np.arange(d), indexing="ij")
            yield pd.DataFrame(
                {
                    "i": ii.ravel().astype(np.int64),
                    "j": jj.ravel().astype(np.int64),
                    "s": S.ravel(),
                }
            )

    qv = emb.select(quantized_embedding(F.col(vec_col)).alias("__qv"))
    second = (
        qv.mapInPandas(partial_outer, "i long, j long, s long")
        .groupBy("i", "j")
        .agg(F.sum("s").alias("s_ij"))
    )
    first = (
        emb.select(
            F.posexplode(quantized_embedding(F.col(vec_col))).alias("i", "v")
        )
        .groupBy("i")
        .agg(F.sum("v").alias("s_i"))
    )
    n = emb.agg(F.count("*").alias("n"))
    return (
        second.join(F.broadcast(first), "i")
        .join(
            F.broadcast(first.select(F.col("i").alias("j"), F.col("s_i").alias("s_j"))),
            "j",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "i",
            "j",
            (
                (
                    F.col("n").cast("double") * F.col("s_ij").cast("double")
                    - F.col("s_i").cast("double") * F.col("s_j").cast("double")
                )
                / (F.col("n").cast("double") * F.col("n").cast("double"))
            ).alias("cov"),
        )
    )


def pca_project(
    emb: DataFrame,
    k: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PCA projection of the embedding column onto its top-``k``
    principal components — the dimensionality-reduction / whitening
    step LLM curation runs before clustering and dedup (SemDeDup
    clusters PCA-reduced embeddings; retrieval indexes shrink the
    same way). Emits ``(vec_id, proj array<double>)``.

    Split driver/executor exactly like the IVF quantizer: the
    covariance SUFFICIENT STATISTICS aggregate distributed (exact
    int64 moments via :func:`embedding_covariance`'s machinery),
    only the d x d matrix eigendecomposes on the driver (model-state
    sized, deterministic ``numpy.linalg.eigh`` with a sign
    convention), and the projection is one Arrow matmul per batch —
    vectors never shuffle. Rows-only by design (eigenvector sign and
    near-degenerate ordering are not engine-portable); variance
    ordering, orthonormality, and reconstruction improvement are
    pinned in tests.
    """
    import numpy as np
    import pandas as pd

    cov_rows = embedding_covariance(emb, id_col, vec_col).collect()
    if not cov_rows:
        return emb.sparkSession.createDataFrame(
            [], f"{id_col} long, proj array<double>"
        )
    d = max(r["i"] for r in cov_rows) + 1
    C = np.zeros((d, d))
    for r in cov_rows:
        C[r["i"], r["j"]] = r["cov"]
    vals, vecs = np.linalg.eigh(C)  # ascending
    comp = vecs[:, ::-1][:, :k]  # top-k by variance
    # sign convention: largest-|coordinate| entry positive
    for c in range(comp.shape[1]):
        pivot = np.argmax(np.abs(comp[:, c]))
        if comp[pivot, c] < 0:
            comp[:, c] = -comp[:, c]
    # projection centers the data: derive the mean from exact moments
    first = (
        emb.select(
            F.posexplode(quantized_embedding(F.col(vec_col))).alias("i", "v")
        )
        .groupBy("i")
        .agg(F.sum("v").alias("s_i"), F.count("*").alias("n"))
        .collect()
    )
    mu = np.zeros(d)
    for r in first:
        mu[r["i"]] = r["s_i"] / r["n"]

    def project(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["__id"].to_numpy(dtype=np.int64)
            Q = np.array(pdf["__qv"].tolist(), dtype=np.float64) - mu
            # NOT `Q @ comp`: BLAS picks its blocking (and therefore
            # its summation order) from the BATCH shape, and batch
            # composition follows input row order — the round-10
            # order sweep caught per-row projections moving at the
            # last ULP when the input files were row-permuted. A
            # fixed dimension-order accumulation makes each output
            # element's float order a function of nothing but d —
            # same cost class (d fused row-vector FMAs per batch).
            P = np.zeros((Q.shape[0], comp.shape[1]))
            for i in range(comp.shape[0]):
                P += Q[:, i : i + 1] * comp[i, :]
            yield pd.DataFrame({"__id": ids, "proj": list(P)})

    src = emb.select(
        F.col(id_col).alias("__id"),
        quantized_embedding(F.col(vec_col)).alias("__qv"),
    )
    return src.mapInPandas(project, "__id long, proj array<double>").select(
        F.col("__id").alias(id_col), "proj"
    )


def embedding_ingest(
    spark,
    path: str,
    new_vecs: DataFrame,
    threshold: float = 0.38,
    n_probe: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    append: bool = False,
    within_batch: bool = True,
    drop_existing_ids: bool = True,
) -> DataFrame:
    """Semantic ingest gate over a :func:`build_ivf_index` layout —
    the embedding twin of :func:`~.dedup_text.dedup_ingest`: each new
    vector is scored against its nearest indexed neighbor and kept
    only when ``nearest_cosine < threshold`` (a close match means the
    corpus already has this content — SemDeDup's keep rule applied at
    the ingest boundary instead of corpus-wide). Emits EVERY new
    vector with its evidence: ``(vec_id, nearest_id, nearest_cosine,
    keep)`` — the decision relation, auditable and thresholdable
    downstream.

    ``n_probe=None`` probes every cell (exact nearest, the graded
    mode); a small ``n_probe`` is the scale posture — an ingest gate
    tolerates approximate recall because a missed near-dup costs one
    redundant document, not correctness. With ``append=True`` the
    surviving vectors' postings extend the index through the
    persisted quantizer (never retrained), so later batches gate
    against them too. History is only touched via the probe's pruned
    scan + broadcast of the batch: no corpus shuffle per ingest.

    Like :func:`~.dedup_text.dedup_ingest`, two more order-free gates
    force ``keep = False`` (batch-wide, not sequential — the oracle's
    relational shape):

    - ``within_batch``: a LOWER-id batch vector within ``threshold``
      exists (exact quantized cosine over the batch's own pairs —
      batch x batch, bounded by the ingest batch contract); without
      it two copies arriving together both probe clean and both
      enter the corpus.
    - ``drop_existing_ids``: the vector's id is already indexed (an
      at-least-once redelivery would slip past the probe's self-id
      exclusion and re-append). One column-pruned scan of the
      layout's id column.
    """
    cent = _load_quantizer(spark, path)  # shared with the probe below
    n_cells = len(cent)
    k_probe = n_cells if n_probe is None else min(n_probe, n_cells)
    nearest = ivf_index_knn(
        spark, path, new_vecs, k=1, n_probe=k_probe,
        id_col=id_col, vec_col=vec_col, quantizer=cent,
    ).select(
        F.col("query_id").alias(id_col),
        F.col("neighbor_id").alias("nearest_id"),
        F.col("cosine").alias("nearest_cosine"),
    )
    # no neighbor at all (empty probe set) keeps trivially
    index_ok = F.coalesce(
        F.col("nearest_cosine") < F.lit(threshold), F.lit(True)
    )
    drop_ids = None
    if within_batch:
        a = new_vecs.select(
            F.col(id_col).alias("a_id"), F.col(vec_col).alias("a_v")
        )
        b = new_vecs.select(
            F.col(id_col).alias("b_id"), F.col(vec_col).alias("b_v")
        )
        drop_ids = (
            a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
            .filter(
                quantized_cosine(F.col("a_v"), F.col("b_v"))
                >= F.lit(threshold)
            )
            .select(F.col("b_id").alias(id_col))
            .distinct()
        )
    if drop_existing_ids:
        existing = (
            spark.read.parquet(path)
            .select(F.col(id_col))  # column-pruned id scan
            .join(
                F.broadcast(new_vecs.select(id_col).distinct()), id_col
            )
        )
        drop_ids = (
            existing if drop_ids is None
            else drop_ids.unionByName(existing).distinct()
        )
    base = new_vecs.select(id_col).join(nearest, id_col, "left")
    if drop_ids is not None:
        base = base.join(
            F.broadcast(drop_ids.withColumn("__drop", F.lit(True))),
            id_col,
            "left",
        )
        keep = index_ok & F.col("__drop").isNull()
    else:
        keep = index_ok
    decided = base.select(
        id_col, "nearest_id", "nearest_cosine", keep.alias("keep")
    )
    if append:
        # Materialize the decision relation ONCE before mutating the
        # layout (the dedup_ingest pin, ADVICE r7): `decided` embeds
        # the probe + existing-id scans of `path`; executing it again
        # after the append — for the survivors join here, or when the
        # caller collects the returned relation — would only stay
        # correct while Spark's cached file-index snapshot survives.
        # On any listing refresh the batch would score against its own
        # just-appended vectors (cosine 1.0 => keep flips False).
        decided = decided.localCheckpoint(eager=True)
        survivors = new_vecs.join(
            decided.filter("keep").select(id_col), id_col
        )
        append_to_ivf_index(survivors, path, vec_col)
    return decided


def build_ivfpq_index(
    candidates: DataFrame,
    path: str,
    n_cells: int = 16,
    m: int = 8,
    n_codes: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_size: int = 256,
    iters: int = 5,
) -> None:
    """Materialize the IVF+PQ layout — the billion-scale FAISS
    deployment shape as STORAGE: vectors live on disk as ``m``
    one-byte PQ codes inside cell-partitioned parquet, with the
    coarse quantizer (``{path}/_quantizer``) and the PQ codebooks
    (``{path}/_codebooks``) persisted beside them. A probe reads
    ``n_probe`` cell directories (PartitionFilters pruning — the
    candidate axis) and streams codes, not vectors (the memory axis:
    64-dim floats become 8 bytes, so the scored working set shrinks
    ~32x and scanning is bandwidth-bound). Both models train
    driver-side on the same bounded sample contract as
    :func:`build_ivf_index`, and probes reload them
    from disk — an append or probe can never quantize differently
    than the layout (the persisted-model rule).
    """
    import pandas as pd

    from ..sinks import write_partitioned
    from .model_io import write_small_parquet

    # ONE training-sample collect shared by both driver-side trainers
    # (they are defined on the identical first-train_size-by-id sample;
    # collecting it twice was a duplicated TakeOrdered job per build)
    sample = _collect_train_sample(candidates, train_size, id_col, vec_col)
    cent = _train_coarse_quantizer(
        candidates, n_cells, train_size, iters, id_col, vec_col,
        sample=sample,
    )
    if len(cent) == 0:
        raise ValueError("build_ivfpq_index: candidates are empty")
    books = _train_pq_codebooks(sample, m, n_codes, iters)
    write_partitioned(
        _cluster_write(_assign_encode(candidates, cent, books, id_col, vec_col)),
        path, ["cell"], mode="overwrite",
    )
    spark = candidates.sparkSession
    _write_quantizer(spark, path, cent)
    n_books, n_cent, dsub = books.shape
    rows = [
        {"book": j, "code": c, "centroid": books[j, c].tolist()}
        for j in range(n_books)
        for c in range(n_cent)
    ]
    write_small_parquet(spark, f"{path}/_codebooks", pd.DataFrame(rows))


def _assign_encode(candidates, cent, books, id_col, vec_col):
    """One Arrow pass: coarse-cell assignment + PQ encoding. Shared by
    build and append so an incremental load can never use different
    quantization math than the layout it extends."""
    import numpy as np

    n_books, n_cent, dsub = books.shape
    cent_sq = (books**2).sum(axis=2)  # [m, n_codes]

    def enc(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.array(pdf["q_vec"].tolist(), dtype=np.float64)
            C = _unit_rows(C)
            cells = (C @ cent.T).argmax(axis=1).astype("int32")
            S = C.reshape(len(C), n_books, dsub)
            dots = np.einsum("bjd,jcd->bjc", S, books)
            codes = (cent_sq[None, :, :] - 2.0 * dots).argmin(axis=2)
            out = pdf.drop(columns=["q_vec"]).copy()
            out["codes"] = [row.astype("int32").tolist() for row in codes]
            out["cell"] = cells
            yield out

    return (
        candidates.select(
            F.col(id_col).alias("vec_id"),
            quantized_embedding(F.col(vec_col)).alias("q_vec"),
        ).mapInPandas(enc, "vec_id long, codes array<int>, cell int")
    )


def append_to_ivfpq_index(
    new_candidates: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> None:
    """Extend an IVF+PQ layout with the PERSISTED models (never
    retrained — the cells and codes already on disk must stay
    comparable)."""
    from ..sinks import write_partitioned

    spark = new_candidates.sparkSession
    cent, books = _load_ivfpq_models(spark, path)
    write_partitioned(
        _cluster_write(_assign_encode(new_candidates, cent, books, id_col, vec_col)),
        path, ["cell"], mode="append",
    )


def _load_ivfpq_models(spark, path: str):
    import numpy as np

    from .model_io import read_small_parquet

    cent = _load_quantizer(spark, path)
    book_rows = read_small_parquet(spark, f"{path}/_codebooks")
    n_books = 1 + max(r["book"] for r in book_rows)
    n_cent = 1 + max(r["code"] for r in book_rows)
    dsub = len(book_rows[0]["centroid"])
    books = np.zeros((n_books, n_cent, dsub))
    for r in book_rows:
        books[r["book"], r["code"]] = r["centroid"]
    return cent, books


def ivfpq_index_knn(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Probe a :func:`build_ivfpq_index` layout: per-query ADC top-k
    reading ONLY the probed cell partitions and ONLY code columns —
    both FAISS axes straight off storage. The query side computes its
    ``m x n_codes`` LUTs against the persisted codebooks; scoring is
    one Arrow gather+sum over the code matrix per batch; candidates
    never shuffle. At ``n_probe == n_cells`` with a covering codebook
    the result equals brute-force cosine exactly (pinned in tests);
    ``n_cells=1`` makes it plain PQ search.
    """
    import numpy as np
    import pandas as pd

    cent, books = _load_ivfpq_models(spark, path)
    n_books, n_cent, dsub = books.shape
    q_rows = queries.select(
        F.col(id_col).alias("query_id"),
        quantized_embedding(F.col(vec_col)).alias("q_vec"),
    ).collect()  # ANN contract: Q << N
    if not q_rows:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, adc_cosine double, rank int"
        )
    q_ids = [int(r["query_id"]) for r in q_rows]
    q_mat = np.array([r["q_vec"] for r in q_rows], dtype=np.float64)
    q_mat = _unit_rows(q_mat)
    lut = np.einsum(
        "qjd,jcd->qjc", q_mat.reshape(len(q_ids), n_books, dsub), books
    )
    n_probe = min(n_probe, len(cent))
    probe_order = np.argsort(-(q_mat @ cent.T), axis=1, kind="stable")
    probed = {
        qid: set(int(c) for c in probe_order[i, :n_probe])
        for i, qid in enumerate(q_ids)
    }
    all_cells = sorted({c for cells in probed.values() for c in cells})

    def score(batches):
        for pdf in batches:
            if pdf.empty:
                continue
            ids = pdf["vec_id"].to_numpy(dtype=np.int64)
            cells = pdf["cell"].to_numpy(dtype=np.int64)
            codes = np.array(pdf["codes"].tolist(), dtype=np.int64)
            adc = lut[:, np.arange(n_books)[None, :], codes].sum(axis=2)
            frames = []
            for i, qid in enumerate(q_ids):
                mask = np.isin(cells, list(probed[qid])) & (ids != qid)
                if not mask.any():
                    continue
                frames.append(
                    pd.DataFrame(
                        {
                            "query_id": qid,
                            "neighbor_id": ids[mask],
                            "adc_cosine": adc[i, mask],
                        }
                    )
                )
            if frames:
                yield pd.concat(frames)

    cand = spark.read.parquet(path).filter(
        F.col("cell").isin(all_cells)  # -> PartitionFilters
    ).select("vec_id", "cell", "codes")
    scored = cand.mapInPandas(
        score, "query_id long, neighbor_id long, adc_cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("adc_cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "adc_cosine", "rank")
    )
