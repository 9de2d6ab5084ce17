"""Extension tiers: similarity / ANN index layouts + multimodal plumbing.

Mechanically split out of the monolithic ``plans/catalog.py`` in
round 11 (VERDICT r10 #8). Registrations and helpers are verbatim;
the registry (``CATALOG``), shared scan helpers and determinism
machinery live in ``catalog_base``, and ``catalog.py`` assembles
the parts in the original order and re-exports the public surface
(``EXPOSURE_ORDER`` pins what the harness grades, so module
boundaries change nothing observable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..extensions.multimodal import attach_binary_payload, binary_meta
from ..extensions.similarity import cosine_knn, ivf_knn
from .catalog_base import (
    _register,
    _docs,
    _emb,
)

# ===========================================================================
# Extension operators: similarity search
# ===========================================================================

_QVEC = "list_transform(embedding, v -> CAST(round(CAST(v AS DOUBLE) * 1000) AS BIGINT))"
_DOT = (
    "CAST(CAST(list_sum(list_transform(list_zip({a}, {b}), p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)"
)
_NORM = "CAST(CAST(list_sum(list_transform({a}, x -> x * x)) AS BIGINT) AS DOUBLE)"


def _ocos(a: str, b: str) -> str:
    """DuckDB twin of ``similarity._safe_cosine``: quantized cosine
    with the zero-norm convention (an all-zero vector scores 0.0
    against everything — never NaN, never a division error). Every
    cosine-computing oracle must use this macro so engine and oracle
    can never diverge on a zero vector (round-9 poison-sweep find)."""
    na = _NORM.format(a=a)
    nb = _NORM.format(a=b)
    return (
        f"CASE WHEN {na} * {nb} > 0 "
        f"THEN {_DOT.format(a=a, b=b)} / sqrt({na} * {nb}) "
        f"ELSE 0.0 END"
    )


@_register(
    "cosine_knn",
    f"""
    WITH q AS (SELECT vec_id AS query_id, {_QVEC} AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, {_QVEC} AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {_ocos('qv', 'cv')} AS cosine
      FROM q, c WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    ("similarity", "ext"),
    "Brute-force cosine top-5 for query vectors vec_id<10 (quantized exact "
    "arithmetic; broadcast queries, windowed top-k).",
)
def q_cosine_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return cosine_knn(emb.filter(F.col("vec_id") < 10), emb, k=5)


@_register(
    "embedding_near_dup",
    f"""
    WITH v AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings WHERE vec_id < 200),
    pairs AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             {_ocos('a.qv', 'b.qv')} AS cosine
      FROM v a, v b WHERE a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= 0.35
    """,
    ("similarity", "dedup", "ext"),
    "Embedding-cosine near-duplicate pairs (threshold 0.35; corpus is synthetic-random, max pair cosine ~0.44) over the first "
    "200 vectors.",
)
def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import quantized_cosine

    emb = _emb(spark, sf_dir).filter(F.col("vec_id") < 200)
    a = emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb"))
    return (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            quantized_cosine(F.col("ea"), F.col("eb")).alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.35)
    )


@_register(
    "embedding_centroid",
    f"""
    WITH q AS (SELECT label, {_QVEC} AS qv FROM embeddings),
    -- parallel unnests zip positionally in DuckDB
    px AS (SELECT label,
                  CAST(unnest(generate_series(1, len(qv))) - 1 AS INT) AS pos,
                  unnest(qv) AS v
           FROM q)
    SELECT label, pos,
           CAST(CAST(SUM(v) AS BIGINT) AS DOUBLE) / COUNT(*) AS centroid,
           COUNT(*) AS n_vectors
    FROM px GROUP BY 1, 2
    """,
    ("similarity", "agg", "ext"),
    "Per-label mean-pooled embedding centroid, one row per (label, "
    "dimension). Exact quantized-int sums with map-side partial "
    "aggregation — the class-prototype / cluster-update primitive of a "
    "training pipeline, shaped as a plain two-key groupBy that "
    "parallelizes by labels x dims with no window and no skew key.",
)
def q_embedding_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import quantized_embedding

    emb = _emb(spark, sf_dir)
    pos = emb.select(
        "label",
        F.posexplode(quantized_embedding(F.col("embedding"))).alias("pos", "v"),
    )
    return pos.groupBy("label", "pos").agg(
        (F.sum("v").cast("double") / F.count("*")).alias("centroid"),
        F.count("*").alias("n_vectors"),
    )


@_register(
    "group_outliers_scalable",
    """
    WITH dims AS (
      SELECT vec_id, label,
             unnest(generate_series(1, len(embedding))) AS dim,
             unnest(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS v
      FROM embeddings
    ),
    cent AS (
      SELECT label, dim,
             CAST(CAST(SUM(CAST(v AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) / COUNT(*) AS c
      FROM dims GROUP BY 1, 2
    ),
    d AS (
      SELECT dims.vec_id, dims.label,
             sqrt(CAST(CAST(SUM(CAST((v - c) * (v - c) AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)) AS dist
      FROM dims JOIN cent ON dims.label = cent.label AND dims.dim = cent.dim
      GROUP BY 1, 2
    ),
    stats AS (
      SELECT label,
             CAST(CAST(SUM(CAST(dist AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS mean_d,
             CAST(CAST(SUM(CAST(dist * dist AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS meansq_d
      FROM d GROUP BY 1
    )
    SELECT d.vec_id, d.label, d.dist,
           CASE WHEN meansq_d - mean_d * mean_d > 0
                THEN (dist - mean_d) / sqrt(meansq_d - mean_d * mean_d)
                ELSE 0.0 END AS zdist
    FROM d JOIN stats ON d.label = stats.label
    """,
    ("similarity", "agg", "join", "ext"),
    "Per-label embedding outlier scoring (centroid distance + in-group "
    "z-score) as partial-aggregable groupBy + broadcast joins: "
    "posexplode -> per-dim decimal centroid -> distance keyed on the "
    "high-cardinality vec_id -> broadcast label stats. No grouped-map, "
    "no per-group memory, fully oracle-checkable.",
)
def q_group_outliers_scalable(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import group_outlier_scores_scalable

    return group_outlier_scores_scalable(_emb(spark, sf_dir))


@_register(
    "ivf_knn",
    None,  # approximate by construction; exact-equality vs cosine_knn at
    # n_probe == n_cells and recall at n_probe < n_cells asserted in tests
    ("similarity", "ext", "ivf"),
    "IVF coarse-quantizer approximate top-5 (trained centroid cells, "
    "n_probe=4 of 16) — the FAISS-IVF-shaped ANN scale path. "
    "SUPERSEDED for driver grading (last driver run r02, no_oracle by "
    "design): ivf_knn_exact runs this SAME code path at n_probe == "
    "n_cells under a full DuckDB oracle (green r06-r07), and "
    "ivf_index_knn grades the on-disk layout (green r06-r07); this "
    "entry keeps the pruning (n_probe < n_cells) recall surface, "
    "pytest-covered.",
)
def q_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ivf_knn(emb.filter(F.col("vec_id") < 10), emb, k=5)


@_register(
    "ivf_knn_exact",
    f"""
    WITH q AS (SELECT vec_id AS query_id, {_QVEC} AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, {_QVEC} AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {_ocos('qv', 'cv')} AS cosine
      FROM q, c WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    ("similarity", "ext", "ivf"),
    "IVF ANN run in exact mode (n_probe == n_cells: every cell probed, "
    "so the quantizer prunes nothing and the output equals brute-force "
    "cosine_knn by construction) — gives the IVF train/assign/score "
    "machinery a full differential oracle, not just a rows-only check; "
    "recall at n_probe < n_cells stays covered by ivf_knn + tests.",
)
def q_ivf_knn_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    return ivf_knn(
        emb.filter(F.col("vec_id") < 10), emb, k=5, n_cells=16, n_probe=16
    )


@_register(
    "ivf_index_knn",
    f"""
    WITH q AS (SELECT vec_id AS query_id, {_QVEC} AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, {_QVEC} AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {_ocos('qv', 'cv')} AS cosine
      FROM q, c WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    ("similarity", "ext", "ivf", "index"),
    "The ON-DISK IVF index probed in exact mode (VERDICT r5 #3): "
    "build_ivf_index materializes the corpus as cell-partitioned "
    "parquet with the quantizer persisted beside it, then "
    "ivf_index_knn probes with n_probe == n_cells so every cell is "
    "read and the result equals brute-force cosine by construction — "
    "the same differential oracle as ivf_knn_exact, now exercising "
    "the materialized layout: persisted-quantizer reload, cell "
    "PartitionFilters pruning (plan-pinned in tests), and the "
    "probe-side broadcast join. The scale-relevant ANN artifact: at "
    "100 TB the index IS the storage layout, a probe reads n_probe "
    "directories and no serving process exists.",
)
def q_ivf_index_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..extensions.similarity import (
        _collect_train_sample,
        _train_coarse_quantizer,
        build_ivf_index,
        ivf_index_knn,
    )

    emb = _emb(spark, sf_dir)
    # ONE bounded job both (a) trains the quantizer and (b) answers the
    # empty-input contract — the former separate head(1) probe job and
    # build-internal training job are folded into it (r12 optimization,
    # guide §1.2: fewer driver actions per build). Identical numerics:
    # the sample/trainer pair is exactly what build_ivf_index ran.
    sample = _collect_train_sample(emb, 256, "vec_id", "embedding")
    if sample.size == 0:  # empty-input contract: nothing to index
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    n_cells = 16
    cent = _train_coarse_quantizer(
        emb, n_cells, 256, 5, "vec_id", "embedding", sample=sample
    )
    # unique scratch layout per invocation (orc_roundtrip contract)
    path = tempfile.mkdtemp(prefix="ivf_index_")
    build_ivf_index(emb, path, n_cells=n_cells, quantizer=cent)
    # the probe still RELOADS the persisted quantizer (the registration's
    # documented property) — a pyarrow local read, not a Spark job
    return ivf_index_knn(
        spark, path, emb.filter(F.col("vec_id") < 10), k=5, n_probe=n_cells
    )


@_register(
    "embedding_ingest",
    f"""
    WITH q AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS nearest_id, {_QVEC} AS cv FROM embeddings
          WHERE vec_id >= 10),
    scored AS (
      SELECT q.vec_id, c.nearest_id,
             {_ocos('qv', 'cv')} AS cosine
      FROM q, c
    ),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, nearest_id) AS rn
      FROM scored
    ),
    -- in-batch gate: a LOWER-id batch vector within the threshold
    batch_dup AS (
      SELECT DISTINCT b.vec_id
      FROM q a JOIN q b ON a.vec_id < b.vec_id
      WHERE {_ocos('a.qv', 'b.qv')}
            >= 0.38
    )
    SELECT vec_id, nearest_id, cosine AS nearest_cosine,
           cosine < 0.38
             AND vec_id NOT IN (SELECT vec_id FROM batch_dup) AS keep
    FROM best WHERE rn = 1
    UNION ALL
    -- empty-corpus contract: nothing to probe; only the in-batch
    -- gate decides (mirrors the Spark guard)
    SELECT vec_id, CAST(NULL AS BIGINT), CAST(NULL AS DOUBLE),
           vec_id NOT IN (SELECT vec_id FROM batch_dup)
    FROM q WHERE (SELECT COUNT(*) FROM c) = 0
    """,
    ("similarity", "ext", "ivf", "index", "pipeline"),
    "Semantic ingest gate — the embedding twin of dedup_ingest: the "
    "corpus (vec_id >= 10) is materialized once as the IVF layout; "
    "the new batch (vec_id < 10) probes its exact nearest indexed "
    "neighbor (n_probe == n_cells, so the cosine oracle states it "
    "relationally) and keeps only vectors whose nearest cosine is "
    "below the threshold — SemDeDup's keep rule applied at the "
    "ingest boundary instead of corpus-wide. Emits the full decision "
    "relation (vec_id, nearest_id, nearest_cosine, keep), auditable "
    "downstream; at scale n_probe << n_cells trades recall for cost "
    "(a missed near-dup costs one redundant document). History is "
    "touched only via the pruned scan + batch broadcast.",
)
def q_embedding_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..extensions.similarity import build_ivf_index, embedding_ingest

    from ..extensions.similarity import (
        _collect_train_sample,
        _train_coarse_quantizer,
    )

    emb = _emb(spark, sf_dir)
    corpus = emb.filter(F.col("vec_id") >= 10)
    batch = emb.filter(F.col("vec_id") < 10)
    # ONE bounded job trains the quantizer AND answers the empty-corpus
    # contract (was: a separate head(1) probe job + the build-internal
    # training job — r12 optimization, guide §1.2)
    sample = _collect_train_sample(corpus, 256, "vec_id", "embedding")
    if sample.size == 0:
        # empty-corpus contract: nothing to probe; the IN-BATCH gate
        # (lower-id vector within threshold) still decides keep
        from ..extensions.similarity import quantized_cosine

        a = batch.select(F.col("vec_id").alias("a_id"),
                         F.col("embedding").alias("a_v"))
        b = batch.select(F.col("vec_id").alias("b_id"),
                         F.col("embedding").alias("b_v"))
        dup = (
            a.join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
            .filter(quantized_cosine(F.col("a_v"), F.col("b_v")) >= 0.38)
            .select(F.col("b_id").alias("vec_id"))
            .distinct()
            .withColumn("__dup", F.lit(True))
        )
        return batch.join(F.broadcast(dup), "vec_id", "left").select(
            "vec_id",
            F.lit(None).cast("long").alias("nearest_id"),
            F.lit(None).cast("double").alias("nearest_cosine"),
            F.col("__dup").isNull().alias("keep"),
        )
    cent = _train_coarse_quantizer(
        corpus, 16, 256, 5, "vec_id", "embedding", sample=sample
    )
    path = tempfile.mkdtemp(prefix="ivf_ingest_")
    build_ivf_index(corpus, path, n_cells=16, quantizer=cent)
    return embedding_ingest(spark, path, batch, threshold=0.38)


# ===========================================================================
# Extension operators: multimodal plumbing
# ===========================================================================


@_register(
    "binary_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS n_bytes,
           md5(text) AS payload_md5
    FROM documents
    """,
    ("multimodal", "ext"),
    "Binary-payload metadata projection (JVM-only pre-filter before decode).",
)
def q_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    return binary_meta(attach_binary_payload(docs))


@_register(
    "multimodal_decode",
    r"""
    WITH h AS (
      SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS hx FROM documents
    ),
    pos AS (SELECT CAST(unnest(range(4)) AS INT) AS feat_idx),
    bytes AS (
      SELECT doc_id, feat_idx,
             CAST(length(hx) // 2 AS INT) AS n_bytes,
             (strpos('0123456789abcdef', substr(hx, 8*feat_idx + 1, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(hx, 8*feat_idx + 2, 1)) - 1 AS b0,
             (strpos('0123456789abcdef', substr(hx, 8*feat_idx + 3, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(hx, 8*feat_idx + 4, 1)) - 1 AS b1,
             (strpos('0123456789abcdef', substr(hx, 8*feat_idx + 5, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(hx, 8*feat_idx + 6, 1)) - 1 AS b2,
             (strpos('0123456789abcdef', substr(hx, 8*feat_idx + 7, 1)) - 1) * 16
             + strpos('0123456789abcdef', substr(hx, 8*feat_idx + 8, 1)) - 1 AS b3
      FROM h CROSS JOIN pos
    ),
    fields AS (
      SELECT doc_id, feat_idx, n_bytes,
             CAST(1 - 2 * (b3 // 128) AS DOUBLE) AS sgn,
             (b3 % 128) * 2 + b2 // 128 AS e,
             CAST((b2 % 128) * 65536 + b1 * 256 + b0 AS DOUBLE) AS m
      FROM bytes
    )
    SELECT doc_id, n_bytes, feat_idx,
           CASE
             WHEN e = 0 THEN sgn * m * power(CAST(2 AS DOUBLE), -149)
             WHEN e = 255 AND m = 0 THEN sgn * CAST('infinity' AS DOUBLE)
             WHEN e = 255 THEN NULL
             ELSE sgn * (CAST(8388608 AS DOUBLE) + m)
                  * power(CAST(2 AS DOUBLE), e - 150)
           END AS feat
    FROM fields
    """,
    ("multimodal", "ext"),
    "REAL strict-mode media decode, differentially verified: payloads "
    "are the declared fixed-layout codec (little-endian float32 "
    "vectors — here unhex(md5(doc_id)), 16 bytes = 4 floats), decoded "
    "through the Arrow mapInPandas path with struct.unpack, while the "
    "oracle reconstructs the identical IEEE-754 values from hex-"
    "character arithmetic (sign/exponent/mantissa recomposed with "
    "exact power-of-two double math — float32->double widening is "
    "exact, so the engines agree bit-for-bit, infinities included; "
    "NaN bit patterns surface as NULL on both sides, the pandas/Arrow "
    "nan-is-null transfer convention).",
)
def q_multimodal_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.multimodal import extract_features as _xf

    docs = _docs(spark, sf_dir)
    payloads = docs.select(
        "doc_id",
        F.to_binary(
            F.md5(F.col("doc_id").cast("string")), F.lit("hex")
        ).alias("payload"),
    )
    feats = _xf(payloads, strict=True)
    ex = feats.select(
        "doc_id", "n_bytes", F.posexplode("features").alias("feat_idx", "f")
    )
    return ex.select(
        "doc_id",
        "n_bytes",
        "feat_idx",
        F.col("f").cast("double").alias("feat"),
    )


