"""Graph / statistics / clustering / UDF-surface tiers (rounds 7-10).

Mechanically split out of the monolithic ``plans/catalog.py`` in
round 11 (VERDICT r10 #8). Registrations and helpers are verbatim;
the registry (``CATALOG``), shared scan helpers and determinism
machinery live in ``catalog_base``, and ``catalog.py`` assembles
the parts in the original order and re-exports the public surface
(``EXPOSURE_ORDER`` pins what the harness grades, so module
boundaries change nothing observable).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..extensions.dedup_text import (
    exact_dedup_groups,
    lsh_candidate_pairs,
    minhash_signatures,
)
from .catalog_base import (
    _register,
    _t,
    _docs,
    _emb,
    _events,
    dsum,
    _osum,
    _OSECS,
)
from .catalog_text import _minhash_pairs_oracle
from .catalog_index import _DOT, _NORM, _QVEC, _ocos
from .catalog_analytics import _MD5INT, _ngram_expr_sql

# The co-presence edge list stated relationally for the oracle: the
# same per-(user, day) min/max interval build + slot-free overlap
# predicate the DataFrame side computes via interval_overlap_pairs
# (the slot bucketing is an execution strategy, not a semantic — the
# oracle states the O(n^2)-candidate day-join form DuckDB handles
# fine at sf0.01). Differentially pinned bit-exact in
# tests/test_event_analytics.py::test_pagerank_matches_unrolled_sql_oracle.
_PAGERANK_EDGES_SQL = """
  WITH iv AS (
    SELECT user_id,
           CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
           MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS lo,
           MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS hi
    FROM events GROUP BY 1, 2
  )
  SELECT DISTINCT a.user_id AS ea, b.user_id AS eb
  FROM iv a JOIN iv b
    ON a.day = b.day AND a.user_id < b.user_id
  WHERE least(a.hi, b.hi) - greatest(a.lo, b.lo) > 0
"""


def _pagerank_oracle() -> str:
    from ..extensions.graph import pagerank_oracle_sql

    return pagerank_oracle_sql(_PAGERANK_EDGES_SQL)


@_register(
    "pagerank_copresence",
    _pagerank_oracle(),  # ROUND-9 PROMOTION (VERDICT r8 next-round #1):
    # the iterative fixed-point loop is not directly statable in
    # recursion-free SQL, but because every step is EXACT int64
    # arithmetic, graph.pagerank_oracle_sql unrolls the 15 rounds as
    # chained CTEs and reproduces the DataFrame result BIT-identically
    # — a full DuckDB oracle, not an approximation. Staged in round 8
    # (pytest differential only, window-discipline gate), promoted
    # here as round 9's single permitted swap-in.
    # Reference-equality vs a pure-Python power iteration, uniformity,
    # and byte-identical partition independence also pinned in
    # tests/test_event_analytics.py::test_pagerank_reference_and_determinism
    ("graph", "iterative", "ext"),
    "PageRank over the co-presence graph (extensions.graph.pagerank): "
    "which users sit at the center of the viewer-overlap network — "
    "the influence generalization of the reference's popularity "
    "feedback loop. Edges from the slot-bucketed "
    "interval_overlap_pairs build; 15 synchronous power iterations in "
    "int64 FIXED-POINT (scale 1e15): floor-division contributions, "
    "exact integer sums, integer damping — byte-identical under any "
    "partitioning where floating point would drift (and "
    "DECIMAL(38,18) collapses to scale 6 under Spark's division "
    "rules). Each round is one edge join + one sum aggregation with "
    "lazy localCheckpoint — the connected_components economics. "
    "Top-25 by (rank, vertex) for a stable, bounded result.",
)
def q_pagerank_copresence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.graph import pagerank
    from ..operators.event_analytics import interval_overlap_pairs

    ev = _events(spark, sf_dir)
    iv = ev.groupBy(
        "user_id",
        F.floor(F.col("secs") / F.lit(86400)).cast("long").alias("day"),
    ).agg(F.min("secs").alias("lo"), F.max("secs").alias("hi"))
    e = (
        interval_overlap_pairs(iv)
        .select(F.col("user_a").alias("ea"), F.col("user_b").alias("eb"))
        .distinct()
    )
    return (
        pagerank(e, iters=15)
        .orderBy(F.desc("rank"), "vertex")
        .limit(25)
    )


@_register(
    "ivfpq_index_knn",
    None,  # approximate by construction (PQ quantization);
    # covering-codebook exactness vs cosine, PartitionFilters pruning,
    # pure-PQ (n_cells=1) recall, and the append
    # contract (models byte-identical, both generations probed)
    # pinned in tests/test_pq_knn.py
    ("similarity", "ext", "ivf", "pq", "index"),
    "The ON-DISK IVF+PQ layout probed end to end — the billion-scale "
    "FAISS deployment shape as storage: build_ivfpq_index persists "
    "vectors as m one-byte PQ codes inside cell-partitioned parquet "
    "with both models (coarse quantizer + codebooks) beside them; "
    "the probe reads n_probe cell DIRECTORIES (PartitionFilters — "
    "the candidate axis) and streams CODES, not vectors (the memory "
    "axis: the scored working set shrinks ~32x), scoring by LUT "
    "gather in one Arrow pass. Completes the materialized-index "
    "family: full-vector IVF (ivf_index_knn), LSH postings "
    "(lsh_index_probe), compressed IVF+PQ (this).",
)
def q_ivfpq_index_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..extensions.similarity import build_ivfpq_index, ivfpq_index_knn

    emb = _emb(spark, sf_dir)
    if emb.head(1) == []:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, adc_cosine double, rank int"
        )
    path = tempfile.mkdtemp(prefix="ivfpq_index_")
    build_ivfpq_index(emb, path, n_cells=16, m=8, n_codes=16)
    return ivfpq_index_knn(
        spark, path, emb.filter(F.col("vec_id") < 10), k=5, n_probe=4
    )


@_register(
    "ivfpq_index_exact",
    f"""
    WITH q AS (SELECT vec_id AS query_id, {_QVEC} AS qv FROM embeddings WHERE vec_id < 10),
    c AS (SELECT vec_id AS neighbor_id, {_QVEC} AS cv FROM embeddings),
    scored AS (
      SELECT query_id, neighbor_id,
             {_ocos('qv', 'cv')} AS cosine
      FROM q, c WHERE query_id != neighbor_id
    )
    SELECT query_id, neighbor_id, ROUND(cosine, 6) AS adc_cosine, rank FROM (
      SELECT *, CAST(row_number() OVER (PARTITION BY query_id
                                        ORDER BY cosine DESC, neighbor_id) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 5
    """,
    ("similarity", "ext", "ivf", "pq", "index"),
    "The ON-DISK IVF+PQ layout driver-graded in EXACT mode (VERDICT "
    "r6 #2) — the same recipe that converted ivf_knn_exact and "
    "ivf_index_knn into oracle-graded facts, applied to the PQ axis: "
    "a covering codebook (n_codes >= corpus size, every candidate in "
    "the training sample, so k-means centroids sit exactly on the "
    "subvectors and encoding reconstructs exactly) plus n_probe == "
    "n_cells (every cell directory read) make the ADC score equal "
    "brute-force cosine by construction. The one concession to the "
    "hash gate: ADC sums per-subvector float64 dots while the oracle "
    "divides an integer dot once, so the mathematically-equal values "
    "can differ in the last ulp — both sides ROUND to 6 decimals "
    "(the catalog's decimal-routing determinism rule). Recall at "
    "production parameters stays covered by ivfpq_index_knn + the "
    "recall / append contracts in tests/test_pq_knn.py.",
)
def q_ivfpq_index_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from ..extensions.similarity import build_ivfpq_index, ivfpq_index_knn

    emb = _emb(spark, sf_dir)
    n_all = emb.count()
    if n_all == 0:
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, adc_cosine double, rank int"
        )
    n_cells = 16
    path = tempfile.mkdtemp(prefix="ivfpq_exact_")
    build_ivfpq_index(
        emb, path, n_cells=n_cells, m=8,
        n_codes=max(64, n_all), train_size=n_all,
    )
    out = ivfpq_index_knn(
        spark, path, emb.filter(F.col("vec_id") < 10), k=5, n_probe=n_cells
    )
    return out.select(
        "query_id", "neighbor_id",
        F.round("adc_cosine", 6).alias("adc_cosine"), "rank",
    )


def _bpe_staged_oracle() -> str:
    from ..extensions.bpe import bpe_oracle_sql

    return bpe_oracle_sql(20)


#: Full DuckDB oracle for bpe_train_merges (the 20 catalog merges
#: unrolled as chained MATERIALIZED CTEs), STAGED for promotion when a
#: graded-window slot opens (last in the section-2 promotion queue).
#: Living here — not only in the pytest differential — so
#: tests/conftest.graded_oracle resolves it and every whole-catalog
#: sweep poison-proves it before its swap round.
BPE_STAGED_ORACLES: dict[str, str] = {
    "bpe_train_merges": _bpe_staged_oracle(),
}


@_register(
    "bpe_train_merges",
    None,  # iterative merge loop. A full DuckDB oracle now EXISTS —
    # BPE_STAGED_ORACLES above (bpe.bpe_oracle_sql) unrolls the 20
    # rounds as chained MATERIALIZED CTEs (wrapped-string replace ==
    # the greedy single-round fold), bit-exact, differentially pinned
    # in tests/test_bpe.py::test_bpe_train_matches_unrolled_sql_oracle
    # and resolved by every whole-catalog sweep via graded_oracle —
    # but stays out of this registration until the entry can take a
    # graded-window slot (the window-discipline gate in
    # tests/test_catalog_order.py forbids an out-of-window oracle
    # query with zero driver greens). The merge SEQUENCE is also
    # pinned exactly against an independent pure-Python BPE trainer in
    # tests/test_bpe.py (plus partition-independence and the
    # segmentation round-trip)
    ("text", "tokenizer", "iterative", "ext", "llm"),
    "Distributed BPE tokenizer training (Sennrich arXiv:1508.07909): "
    "learn 20 merges from the documents corpus. The scale shape that "
    "makes tokenizer training cluster-cheap: the corpus is scanned "
    "ONCE (word-frequency aggregation — 100 TB of text collapses to "
    "a vocabulary-sized table), and every merge round runs over that "
    "distinct-word relation — one freq-weighted adjacent-pair count "
    "(map-side combined) and a 1-row driver argmax; merge application "
    "is a greedy left-to-right fold as a pure column expression, "
    "lineage truncated per round. Ties break lexicographically, so "
    "the merge table is byte-identical on any cluster.",
)
def q_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.bpe import bpe_train

    return bpe_train(_docs(spark, sf_dir), n_merges=20).orderBy("rank")


@_register(
    "ts_pattern_search",
    """
    WITH o AS (SELECT event_type AS g,
                      CAST(floor(epoch(ts) / 900) AS BIGINT) AS slot,
                      CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
                        AS sum_value
               FROM events GROUP BY 1, 2),
    r AS (SELECT g, MIN(slot) AS lo, MAX(slot) AS hi FROM o GROUP BY 1),
    grid AS (SELECT g, unnest(generate_series(lo, hi)) AS slot FROM r),
    filled AS (
      SELECT grid.g, grid.slot,
             last_value(o.sum_value IGNORE NULLS) OVER (
               PARTITION BY grid.g ORDER BY grid.slot
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM grid LEFT JOIN o ON grid.g = o.g AND grid.slot = o.slot
    ),
    qd AS (SELECT g, slot, CAST(round(v * 1000) AS BIGINT) AS q FROM filled),
    ld AS (SELECT g, slot, [lead(q, 0) OVER w, lead(q, 1) OVER w, lead(q, 2) OVER w, lead(q, 3) OVER w, lead(q, 4) OVER w, lead(q, 5) OVER w, lead(q, 6) OVER w, lead(q, 7) OVER w] AS wv
           FROM qd WINDOW w AS (PARTITION BY g ORDER BY slot)),
    -- ANY-NULL windows drop (tail + NULL-head gap-fill slots): the
    -- engine's int64 `+` chain NULL-propagates s/n2, while DuckDB's
    -- list_sum ignores NULLs — state the drop, don't rely on n2
    -- (round-10 review find, same family as motif_discovery).
    ok AS (SELECT g, slot, wv,
                  CAST(list_sum(wv) AS BIGINT) AS s
           FROM ld WHERE len(list_filter(wv, x -> x IS NULL)) = 0),
    cc AS (SELECT g, slot,
                  list_transform(wv, x -> 8 * x - s) AS c
           FROM ok),
    sc AS (
      SELECT g AS event_type, slot,
             CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS n2,
             CAST(CAST(list_sum(list_transform(
                    list_zip(c, [CAST(-2000 AS BIGINT), CAST(-2000 AS BIGINT), CAST(-2000 AS BIGINT), CAST(6000 AS BIGINT), CAST(6000 AS BIGINT), CAST(-2000 AS BIGINT), CAST(-2000 AS BIGINT), CAST(-2000 AS BIGINT)]), p -> p[1] * p[2]))
                  AS BIGINT) AS DOUBLE)
               / sqrt(CAST(list_sum(list_transform(c, x -> x * x))
                           AS BIGINT) * CAST(96000000 AS DOUBLE))
               AS similarity
      FROM cc
    )
    SELECT event_type, slot, similarity
    FROM sc WHERE n2 > 0
    ORDER BY similarity DESC, event_type, slot
    LIMIT 10
    """,
    ("events", "timeseries", "similarity", "window", "ext"),
    "Distributed time-series pattern search (the EDBT'19 streaming "
    "subsequence-similarity problem shape): z-normalized correlation "
    "of every sliding 8-slot window of the gap-filled 15-min series "
    "against a spike template, global top-10 by TakeOrdered. The "
    "quantized-cosine rule extends to correlation: mean-centering as "
    "c_i = L*q_i - sum(q) keeps everything int64 until one final "
    "double divide, so Spark and DuckDB agree bit-for-bit. Windows "
    "materialize as L lead() columns over a group-partitioned window; "
    "flat (zero-variance) windows are filtered.",
)
def q_ts_pattern_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.event_analytics import gapfill_forward, ts_pattern_search

    filled = gapfill_forward(_events(spark, sf_dir))
    return ts_pattern_search(
        filled, pattern=[0.0, 0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.0], k=10
    )



@_register(
    "seasonal_residuals",
    """
    WITH s AS (SELECT event_type,
                      CAST(floor(epoch(ts) / 900) AS BIGINT) AS slot,
                      CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
                        AS sum_value
               FROM events GROUP BY 1, 2),
    b AS (SELECT event_type, slot % 96 AS slot_of_day,
                 CAST(CAST(SUM(CAST(sum_value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
                   / COUNT(*) AS baseline
          FROM s GROUP BY 1, 2)
    SELECT s.event_type, s.slot, s.sum_value, b.baseline,
           s.sum_value - b.baseline AS residual
    FROM s JOIN b ON s.event_type = b.event_type
               AND s.slot % 96 = b.slot_of_day
    """,
    ("events", "timeseries", "ext"),
    "Seasonal-naive decomposition: the time-of-day baseline (mean of "
    "each 15-min slot-of-day across days, per type — the 96-slot "
    "grid of SURVEY S9 used as a seasonality index) subtracted from "
    "every observed slot. Two decimal-routed aggregations + one "
    "broadcast join of the 96 x |types| baseline relation back onto "
    "the slot series — the deseasonalized residual is what the "
    "trailing-window anomaly detector should consume on strongly "
    "periodic traffic (raw z-scores flag every rush hour). slot mod "
    "96 is integer arithmetic; the subtraction one portable double "
    "op.",
)
def q_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    s = ev.groupBy(
        "event_type",
        F.floor(F.col("secs") / F.lit(900)).cast("long").alias("slot"),
    ).agg(dsum("value").alias("sum_value"))
    b = s.groupBy(
        "event_type", F.pmod(F.col("slot"), F.lit(96)).alias("slot_of_day")
    ).agg(
        (
            F.sum(F.col("sum_value").cast("decimal(25,6)")).cast("double")
            / F.count("*")
        ).alias("baseline")
    )
    sl = s.alias("sl")
    bl = F.broadcast(b).alias("bl")
    return sl.join(
        bl,
        (F.col("sl.event_type") == F.col("bl.event_type"))
        & (F.pmod(F.col("sl.slot"), F.lit(96)) == F.col("bl.slot_of_day")),
    ).select(
        F.col("sl.event_type").alias("event_type"),
        F.col("sl.slot").alias("slot"),
        F.col("sl.sum_value").alias("sum_value"),
        F.col("bl.baseline").alias("baseline"),
        (F.col("sl.sum_value") - F.col("bl.baseline")).alias("residual"),
    )



@_register(
    "copresence_pairs",
    """
    WITH iv AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS lo,
             MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS hi
      FROM events GROUP BY 1, 2
    )
    SELECT a.day, a.user_id AS user_a, b.user_id AS user_b,
           least(a.hi, b.hi) - greatest(a.lo, b.lo) AS overlap_secs
    FROM iv a JOIN iv b
      ON a.day = b.day AND a.user_id < b.user_id
    WHERE least(a.hi, b.hi) - greatest(a.lo, b.lo) > 0
    """,
    ("events", "join", "interval", "ext"),
    "Interval-overlap self-join (co-presence: user pairs whose daily "
    "activity spans overlap) via the replicate-covers / probe-by-"
    "start reduction (operators.event_analytics.interval_overlap_"
    "pairs): each interval replicates into the 15-min slots it "
    "covers, the other side keys ONCE by its start slot, and the "
    "equi-join on the slot finds every overlapping pair exactly "
    "once at the later starter's start slot — candidate volume "
    "proportional to genuinely-concurrent pairs, never day-cohort^2 "
    "(the VERDICT r5 scale fix; a day with 10^6 active users whose "
    "daily envelopes all overlap is no longer quadratic). The "
    "oracle states the same overlap semantics as a plain day-bucket "
    "theta-join — semantics, not plan. Intervals are one "
    "aggregation; all arithmetic integer.",
)
def q_copresence_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.event_analytics import interval_overlap_pairs

    ev = _events(spark, sf_dir)
    iv = ev.groupBy(
        "user_id",
        F.floor(F.col("secs") / F.lit(86400)).cast("long").alias("day"),
    ).agg(F.min("secs").alias("lo"), F.max("secs").alias("hi"))
    return interval_overlap_pairs(iv)



@_register(
    "vector_norm_arrow",
    f"""
    SELECT vec_id,
           CAST(list_sum(list_transform({_QVEC}, x -> x * x)) AS BIGINT)
             AS qnorm
    FROM embeddings
    """,
    ("udf", "arrow", "similarity", "ext"),
    "Arrow-NATIVE UDF path (mapInArrow: pyarrow.RecordBatch in/out, "
    "no Arrow->pandas conversion on either edge) computing the same "
    "exact quantized squared norm as the pandas_udf twin "
    "(vector_norm_udf) and the JVM expression form — three execution "
    "tiers, one bit-identical, oracle-graded result. The tier to "
    "pick when the Python work is itself array arithmetic.",
)
def q_vector_norm_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import norms_map_in_arrow

    return norms_map_in_arrow(_emb(spark, sf_dir))


@_register(
    "udtf_ngrams",
    r"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents WHERE doc_id < 50
    ),
    g AS (
      SELECT doc_id,
             unnest(toks[1:len(toks) - 1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM t WHERE len(toks) >= 2
    )
    SELECT doc_id, w1 || ' ' || w2 AS gram,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM g GROUP BY 1, 2
    """,
    ("udf", "udtf", "text", "ext"),
    "Python UDTF (Spark 4 user-defined TABLE function): a lateral "
    "ngrams() generator expanding each document into its 2-gram rows "
    "— the row-generating member of the UDF surface, completing "
    "scalar (pandas_udf), map (mapInPandas/mapInArrow), grouped-map, "
    "and grouped-state. Deliberately fed a doc_id<50 slice: Python "
    "UDTFs evaluate row-at-a-time, the documented slow path — the "
    "production form is the JVM explode/transform (token_stats, "
    "bigram_logprob state exactly this expansion declaratively); the "
    "catalog entry grades the API surface, and the oracle states the "
    "same expansion relationally.",
)
def q_udtf_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import lit, udtf

    @udtf(returnType="gram: string, n: long")
    class NGrams:
        def eval(self, doc_id: int, text: str):
            if text is None:
                # NULL text expands to no rows — the lateral join then
                # drops the document exactly like the oracle's
                # len(NULL toks) >= 2 gate (round-10 NULL poison sweep:
                # a Python UDTF receives None where JVM tiers see a
                # typed null, and .strip() on None RAISES)
                return
            toks = text.strip().lower().split()
            from collections import Counter

            c = Counter(
                f"{a} {b}" for a, b in zip(toks, toks[1:])
            )
            for gram, n in c.items():
                yield gram, n

    docs = _docs(spark, sf_dir).filter(F.col("doc_id") < 50)
    return docs.lateralJoin(
        NGrams(F.col("doc_id").outer(), F.col("text").outer())
    ).select("doc_id", "gram", "n")



@_register(
    "triangle_count",
    """
    WITH iv AS (
      SELECT user_id,
             CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day,
             MIN(CAST(floor(epoch(ts)) AS BIGINT)) AS lo,
             MAX(CAST(floor(epoch(ts)) AS BIGINT)) AS hi
      FROM events GROUP BY 1, 2
    ),
    e AS (
      SELECT DISTINCT a.user_id AS a, b.user_id AS b
      FROM iv a JOIN iv b
        ON a.day = b.day AND a.user_id < b.user_id
      WHERE least(a.hi, b.hi) - greatest(a.lo, b.lo) > 0
    )
    SELECT CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST((SELECT COUNT(*) FROM (
              SELECT 1
              FROM e ab JOIN e bc ON ab.b = bc.a
                        JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
           )) AS BIGINT) AS n_triangles
    """,
    ("graph", "join", "ext"),
    "Distributed triangle counting over the co-presence graph "
    "(extensions.graph.count_triangles): edges come from the "
    "slot-bucketed interval_overlap_pairs build (never a day-cohort "
    "all-pairs join), then DEGREE-ORDERED ORIENTATION — each edge "
    "points from its lower-(degree, id) endpoint to the higher, "
    "wedges join on the minimum-order vertex, a third directed-edge "
    "lookup closes them — so per-vertex wedge fan-out is bounded by "
    "O(sqrt(m)) even under power-law hubs (the VERDICT r5 skew fix; "
    "Cohen CiSE'09). Each triangle counted exactly once at its "
    "minimum-order vertex. Companion structural metric to "
    "dedup_clusters' components.",
)
def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.graph import count_triangles
    from ..operators.event_analytics import interval_overlap_pairs

    ev = _events(spark, sf_dir)
    iv = ev.groupBy(
        "user_id",
        F.floor(F.col("secs") / F.lit(86400)).cast("long").alias("day"),
    ).agg(F.min("secs").alias("lo"), F.max("secs").alias("hi"))
    e = (
        interval_overlap_pairs(iv)
        .select(F.col("user_a").alias("ea"), F.col("user_b").alias("eb"))
        .distinct()
    )
    # Deliberately the LAZY single-plan form — measured, twice, against
    # the "obvious" fixes for its 32 inlined edge-list derivations:
    # the r12 localCheckpoint pin ran 66->78 s at sf0.1 (stats erasure
    # + AQE job serialization, OPTIMIZATION_r12 change 7), and the r13
    # Cohen parquet materialization of the arc relation ran
    # 61.5->64.5 s at sf0.1 and 492->601 s at the 2x sibling, so that
    # option was removed: on THIS fixture the co-presence
    # graph is COMPLETE (density 1.000), wedge compute is O(n^3) and
    # dominates every scale point, and AQE overlaps the re-derivation
    # stages inside the one DAG while a materialization is a serial
    # write barrier behind the overlap join's skewed-slot straggler
    # (OPTIMIZATION_r13 change 2 has the full study).
    return e.agg(F.count("*").alias("n_edges")).crossJoin(
        count_triangles(e)
    )



@_register(
    "motif_discovery",
    """
    WITH o AS (SELECT event_type AS g,
                      CAST(floor(epoch(ts) / 900) AS BIGINT) AS slot,
                      CAST(CAST(SUM(CAST(value AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
                        AS sum_value
               FROM events GROUP BY 1, 2),
    r AS (SELECT g, MIN(slot) AS lo, MAX(slot) AS hi FROM o GROUP BY 1),
    grid AS (SELECT g, unnest(generate_series(lo, hi)) AS slot FROM r),
    filled AS (
      SELECT grid.g, grid.slot,
             last_value(o.sum_value IGNORE NULLS) OVER (
               PARTITION BY grid.g ORDER BY grid.slot
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v
      FROM grid LEFT JOIN o ON grid.g = o.g AND grid.slot = o.slot
    ),
    rstr AS (
      SELECT g, slot, v FROM (
        SELECT g, slot, v, MIN(slot) OVER (PARTITION BY g) AS lo
        FROM filled
      ) WHERE slot < lo + 500
    ),
    qd AS (SELECT g, slot, CAST(round(v * 1000) AS BIGINT) AS q FROM rstr),
    ld AS (SELECT g, slot, [lead(q, 0) OVER w, lead(q, 1) OVER w, lead(q, 2) OVER w, lead(q, 3) OVER w, lead(q, 4) OVER w, lead(q, 5) OVER w, lead(q, 6) OVER w, lead(q, 7) OVER w] AS wv
           FROM qd WINDOW w AS (PARTITION BY g ORDER BY slot)),
    -- a window with ANY NULL element is no window (drops both the
    -- series tail and NULL-head gap-fill slots). Spark's `+` chain
    -- NULL-propagates the window sum so those rows die at n2 > 0;
    -- DuckDB's list_sum IGNORES NULLs (round-10 review find), so the
    -- drop must be stated explicitly here, not left to n2.
    ok AS (SELECT g, slot, wv, CAST(list_sum(wv) AS BIGINT) AS s
           FROM ld WHERE len(list_filter(wv, x -> x IS NULL)) = 0),
    cc AS (SELECT g, slot,
                  list_transform(wv, x -> 8 * x - s) AS c
           FROM ok),
    nn AS (SELECT g, slot, c,
                  CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT)
                    AS n2
           FROM cc),
    pairs AS (
      SELECT a.g, a.slot AS slot_a, b.slot AS slot_b,
             CAST(CAST(list_sum(list_transform(list_zip(a.c, b.c),
                    p -> p[1] * p[2])) AS BIGINT) AS DOUBLE)
               / sqrt(CAST(a.n2 AS DOUBLE) * CAST(b.n2 AS DOUBLE))
               AS similarity
      FROM nn a JOIN nn b
        ON a.g = b.g AND b.slot >= a.slot + 8
      WHERE a.n2 > 0 AND b.n2 > 0
    )
    SELECT g AS event_type, slot_a, slot_b, similarity FROM (
      SELECT *, row_number() OVER (PARTITION BY g
                 ORDER BY similarity DESC, slot_a, slot_b) AS rnk
      FROM pairs
    ) WHERE rnk = 1
    """,
    ("events", "timeseries", "similarity", "ext"),
    "Motif discovery (matrix-profile-lite): the best non-overlapping "
    "pair of 8-slot windows per series by z-normalized correlation — "
    "the unsupervised twin of ts_pattern_search. One grouped Arrow "
    "pass holds a group's window matrix (calendar-bounded n x 8 "
    "ints); the Gram matrix is one exact int64 matmul, ties break on "
    "the smallest (slot_a, slot_b) at exact-double equality, and the "
    "oracle re-derives the same choice from a pair join. The series "
    "is capped to the first 500 slots per group — harness sizing for "
    "the oracle's O(n^2) pair relation; the Spark path has no such "
    "need (the true matrix profile's FFT refinement drops in the "
    "same way FAISS refines brute-force ANN).",
)
def q_motif_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.event_analytics import gapfill_forward, motif_discovery

    filled = gapfill_forward(_events(spark, sf_dir))
    w = Window.partitionBy("event_type")
    capped = filled.withColumn("__lo", F.min("slot").over(w)).filter(
        F.col("slot") < F.col("__lo") + 500
    )
    return motif_discovery(capped, window_len=8)



@_register(
    "session_window_native",
    """
    WITH e AS (
      SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS secs
      FROM events WHERE ts IS NOT NULL
    ),
    g AS (
      SELECT user_id, secs,
             CASE WHEN lag(secs) OVER w IS NULL
                       OR secs - lag(secs) OVER w > 1800
                  THEN 1 ELSE 0 END AS is_new
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY secs)
    ),
    s AS (
      SELECT user_id, secs,
             SUM(is_new) OVER (PARTITION BY user_id ORDER BY secs
                               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id,
           CAST(COUNT(DISTINCT session_id) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM s GROUP BY 1
    """,
    ("events", "window", "session", "ext"),
    "Native session_window sessionization (the engine operator the "
    "hand-rolled lag/cumsum sessionize re-implements): one "
    "groupBy(session_window(ts, '30 minutes'), user) aggregate — "
    "merging session state map-side — then a per-user rollup. "
    "Boundary semantics, MEASURED on the engine (round 9, via the "
    "streaming boundary differential in test_streaming_catalog.py): "
    "sessions merge when the next event is <= previous-event + gap, "
    "so an event EXACTLY gap seconds after the previous one still "
    "MERGES and only a strictly-larger gap splits — the oracle's gap "
    "test is therefore >, same rule as sessionize. (The registration "
    "originally claimed >= from the [first, last+gap) window shape; "
    "that was wrong about the merge rule and latent — no driver "
    "testdata generation has contained an exact-gap pair — caught "
    "when the round-9 streaming twin's hand-built boundary fixture "
    "disagreed. The two queries remain distinct operators: native "
    "session_window state vs hand-rolled lag/cumsum windowing.) The "
    "oracle excludes null-ts rows because the ENGINE does: "
    "session_window() drops rows with NULL event time (round-10 "
    "temporal-null family rule).",
)
def q_session_window_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    per_session = ev.groupBy(
        F.session_window(F.timestamp_seconds("secs"), "30 minutes"),
        "user_id",
    ).agg(F.count("*").alias("n_events"))
    return per_session.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
    )



@_register(
    "skew_report_lang",
    """
    WITH c AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_rows
               FROM documents GROUP BY 1),
    t AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS total FROM c),
    top AS (
      SELECT lang, n_rows,
             CAST(n_rows AS DOUBLE) / total AS share
      FROM c CROSS JOIN t
      ORDER BY n_rows DESC, lang LIMIT 10
    )
    SELECT lang, n_rows, share,
           SUM(share) OVER (ORDER BY n_rows DESC, lang
                            ROWS UNBOUNDED PRECEDING) AS cum_share,
           CAST(row_number() OVER (ORDER BY n_rows DESC, lang)
                AS INT) AS rank
    FROM top
    """,
    ("aggregate", "skew", "diagnostics", "ext"),
    "Key-skew diagnostic (operators.aggregates.skew_report): hottest "
    "language groups with share and cumulative share of the corpus — "
    "the planning-time numbers that pick broadcast vs shuffle vs "
    "salted strategies and AQE skew thresholds. One map-side-combined "
    "aggregation + a 1-row total broadcast + TakeOrdered; the only "
    "unpartitioned window ranks the top_k rows, never the relation.",
)
def q_skew_report_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.aggregates import skew_report

    return skew_report(_t(spark, sf_dir, "documents"), ["lang"], top_k=10)



@_register(
    "chi_square_lang_source",
    """
    WITH o AS (SELECT lang, source, CAST(COUNT(*) AS BIGINT) AS obs
               FROM documents GROUP BY 1, 2),
    rt AS (SELECT lang, CAST(SUM(obs) AS BIGINT) AS r FROM o GROUP BY 1),
    ct AS (SELECT source, CAST(SUM(obs) AS BIGINT) AS c FROM o GROUP BY 1),
    n AS (SELECT CAST(SUM(obs) AS BIGINT) AS n FROM o),
    cells AS (
      SELECT o.lang, o.source, obs,
             CAST(r AS DOUBLE) * CAST(c AS DOUBLE) / CAST(n AS DOUBLE) AS e
      FROM o JOIN rt USING (lang) JOIN ct USING (source) CROSS JOIN n
    )
    SELECT CAST(CAST(SUM(CAST((obs - e) * (obs - e) / e
                         AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS chi2,
           CAST((SELECT COUNT(*) FROM rt) - 1 AS BIGINT)
             * CAST((SELECT COUNT(*) FROM ct) - 1 AS BIGINT) AS dof,
           CAST(COUNT(*) AS BIGINT) AS n_cells
    FROM cells
    """,
    ("statistics", "aggregate", "ext"),
    "Chi-square independence test between two categorical columns "
    "(lang x source): observed cell counts vs the "
    "row_total*col_total/n expectation, one contingency aggregation + "
    "two margin relations joined back (all map-side combinable, cell "
    "count bounded by the category product). Each cell's (o-e)^2/e "
    "is a fixed-order double expression and the cell SUM is "
    "decimal-routed, so the statistic is bit-portable. The "
    "distribution-drift / feature-dependence check a curation "
    "pipeline runs between corpus snapshots.",
)
def q_chi_square_lang_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    o = docs.groupBy("lang", "source").agg(F.count("*").alias("obs"))
    rt = o.groupBy("lang").agg(F.sum("obs").alias("r"))
    ct = o.groupBy("source").agg(F.sum("obs").alias("c"))
    n = o.agg(F.sum("obs").alias("n"))
    cells = (
        o.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "obs",
            (
                F.col("r").cast("double")
                * F.col("c").cast("double")
                / F.col("n").cast("double")
            ).alias("e"),
        )
    )
    dof = (
        rt.agg((F.count("*") - 1).alias("dr"))
        .crossJoin(ct.agg((F.count("*") - 1).alias("dc")))
        .select((F.col("dr") * F.col("dc")).alias("dof"))
    )
    chi = cells.agg(
        F.sum(
            ((F.col("obs") - F.col("e")) * (F.col("obs") - F.col("e")) / F.col("e"))
            .cast("decimal(25,6)")
        )
        .cast("double")
        .alias("chi2"),
        F.count("*").alias("n_cells"),
    )
    return chi.crossJoin(F.broadcast(dof)).select("chi2", "dof", "n_cells")


@_register(
    "column_correlations",
    """
    WITH s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sq,
             CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sp,
             CAST(CAST(SUM(CAST(l_discount AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sd,
             CAST(CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sqq,
             CAST(CAST(SUM(CAST(l_extendedprice * l_extendedprice
                           AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS spp,
             CAST(CAST(SUM(CAST(l_discount * l_discount AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sdd,
             CAST(CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sqp,
             CAST(CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS sqd,
             CAST(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE) AS spd
      FROM lineitem
    )
    SELECT 'quantity_price' AS pair,
           (n * sqp - sq * sp)
             / (sqrt(n * sqq - sq * sq) * sqrt(n * spp - sp * sp)) AS corr
    FROM s
    UNION ALL
    SELECT 'quantity_discount',
           (n * sqd - sq * sd)
             / (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd))
    FROM s
    UNION ALL
    SELECT 'price_discount',
           (n * spd - sp * sd)
             / (sqrt(n * spp - sp * sp) * sqrt(n * sdd - sd * sd))
    FROM s
    """,
    ("statistics", "aggregate", "ext"),
    "Pairwise Pearson correlations of three measures in ONE "
    "aggregation pass (nine decimal-routed moment sums, map-side "
    "combined to a single row) — never one pass per pair. The final "
    "correlation formula is a fixed-order double expression over the "
    "exact moments, so both engines agree bit-for-bit; the ANALYZE "
    "step a feature pipeline runs before dropping redundant columns.",
)
def q_column_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")

    def dm(c):
        return F.sum(c.cast("decimal(25,6)")).cast("double")

    q, p, d = F.col("l_quantity"), F.col("l_extendedprice"), F.col("l_discount")
    s = li.agg(
        F.count("*").alias("n"),
        dm(q).alias("sq"), dm(p).alias("sp"), dm(d).alias("sd"),
        dm(q * q).alias("sqq"), dm(p * p).alias("spp"), dm(d * d).alias("sdd"),
        dm(q * p).alias("sqp"), dm(q * d).alias("sqd"), dm(p * d).alias("spd"),
    )

    def corr_expr(sxy, sx, sy, sxx, syy):
        n = F.col("n")
        return (n * F.col(sxy) - F.col(sx) * F.col(sy)) / (
            F.sqrt(n * F.col(sxx) - F.col(sx) * F.col(sx))
            * F.sqrt(n * F.col(syy) - F.col(sy) * F.col(sy))
        )

    pairs = [
        ("quantity_price", corr_expr("sqp", "sq", "sp", "sqq", "spp")),
        ("quantity_discount", corr_expr("sqd", "sq", "sd", "sqq", "sdd")),
        ("price_discount", corr_expr("spd", "sp", "sd", "spp", "sdd")),
    ]
    out = None
    for name, expr in pairs:
        row = s.select(F.lit(name).alias("pair"), expr.alias("corr"))
        out = row if out is None else out.unionByName(row)
    return out



@_register(
    "embedding_covariance",
    f"""
    WITH qv AS (SELECT {_QVEC} AS q FROM embeddings),
    pos AS (SELECT CAST(unnest(range(64)) AS BIGINT) AS i),
    f AS (SELECT i, CAST(SUM(q[i + 1]) AS BIGINT) AS s_i
          FROM qv CROSS JOIN pos GROUP BY 1),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM qv),
    s2 AS (SELECT a.i AS i, b.i AS j,
                  CAST(SUM(q[a.i + 1] * q[b.i + 1]) AS BIGINT) AS s_ij
           FROM qv CROSS JOIN pos a CROSS JOIN pos b GROUP BY 1, 2)
    SELECT s2.i, s2.j,
           (CAST(n AS DOUBLE) * CAST(s_ij AS DOUBLE)
              - CAST(fa.s_i AS DOUBLE) * CAST(fb.s_i AS DOUBLE))
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS cov
    FROM s2
    JOIN f fa ON fa.i = s2.i
    JOIN f fb ON fb.i = s2.j
    CROSS JOIN nn
    """,
    ("similarity", "statistics", "ext", "llm"),
    "Exact embedding covariance matrix in long format (4096 cells): "
    "each Arrow batch reduces to one d x d int64 partial outer "
    "product, partials sum on the tiny (i, j) key — the HLL-rollup "
    "partial-state economics, but exact; vectors never shuffle. The "
    "cov formula runs once per cell on exact global moments "
    "(fixed-order doubles), so a covariance MATRIX grades against a "
    "SQL oracle bit-for-bit. The sufficient statistic pca_project "
    "eigendecomposes driver-side.",
)
def q_embedding_covariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import embedding_covariance

    return embedding_covariance(_emb(spark, sf_dir))


@_register(
    "pca_project",
    None,  # eigenvector sign / near-degenerate order are not engine-
    # portable; variance ordering, orthonormality, and reconstruction
    # pinned in tests/test_pq_knn.py
    ("similarity", "ext", "llm", "pca"),
    "PCA projection onto the top-8 principal components — the "
    "dimensionality-reduction / whitening step before clustering and "
    "semantic dedup (SemDeDup clusters PCA-reduced embeddings). "
    "Distributed sufficient statistics (exact int64 moments), "
    "driver-side d x d eigh with a sign convention (the IVF-quantizer "
    "model-state contract), one Arrow matmul per batch to project — "
    "vectors never shuffle.",
)
def q_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.similarity import pca_project

    return pca_project(_emb(spark, sf_dir), k=8)



@_register(
    "pareto_abc",
    f"""
    WITH r AS (
      SELECT p.p_brand, {_osum('l.l_extendedprice * (1 - l.l_discount)')}
               AS revenue
      FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      GROUP BY 1
    ),
    t AS (SELECT CAST(CAST(SUM(CAST(revenue AS DECIMAL(25,6))) AS VARCHAR) AS DOUBLE)
            AS total FROM r),
    c AS (
      SELECT p_brand, revenue,
             CAST(CAST(SUM(CAST(revenue AS DECIMAL(25,6))) OVER (
               ORDER BY revenue DESC, p_brand
               ROWS UNBOUNDED PRECEDING) AS VARCHAR) AS DOUBLE) / total AS cum_share
      FROM r CROSS JOIN t
    )
    SELECT p_brand, revenue, cum_share,
           CASE WHEN cum_share <= 0.4 THEN 'A'
                WHEN cum_share <= 0.8 THEN 'B'
                ELSE 'C' END AS abc_class
    FROM c
    """,
    ("analytics", "window", "ext"),
    "Pareto / ABC classification: brands ranked by revenue, running "
    "cumulative share (decimal-routed in-frame sum), bucketed "
    "A (top 40% of revenue) / B (next 40%) / C (tail) — the BI "
    "classic behind inventory and catalog triage. The unpartitioned "
    "window runs over the BRAND aggregate (category-bounded, the "
    "skew_report economics), never the fact table; at higher "
    "cardinality the key becomes a partition dimension or the "
    "global_row_index two-phase rank.",
)
def q_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    pt = _t(spark, sf_dir, "part")
    r = (
        li.join(F.broadcast(pt), li["l_partkey"] == pt["p_partkey"])
        .groupBy("p_brand")
        .agg(
            dsum(
                F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
            ).alias("revenue")
        )
    )
    t = r.agg(dsum("revenue").alias("total"))
    w = Window.orderBy(F.desc("revenue"), "p_brand").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = r.crossJoin(F.broadcast(t)).select(
        "p_brand",
        "revenue",
        (
            F.sum(F.col("revenue").cast("decimal(25,6)")).over(w).cast("double")
            / F.col("total")
        ).alias("cum_share"),
    )
    return c.select(
        "p_brand",
        "revenue",
        "cum_share",
        F.when(F.col("cum_share") <= 0.4, "A")
        .when(F.col("cum_share") <= 0.8, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@_register(
    "rfm_segments",
    f"""
    WITH mx AS (SELECT MAX(CAST(floor(epoch(o_orderdate)) AS BIGINT)) AS now
                FROM orders),
    rfm AS (
      SELECT o_custkey,
             CAST((now - MAX(CAST(floor(epoch(o_orderdate)) AS BIGINT)))
                  // 86400 AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             {_osum('o_totalprice')} AS monetary
      FROM orders CROSS JOIN mx GROUP BY o_custkey, now
    ),
    scored AS (
      SELECT o_custkey, recency_days, frequency, monetary,
             CAST(6 - ntile(5) OVER (ORDER BY recency_days, o_custkey)
                  AS BIGINT) AS r_score,
             CAST(ntile(5) OVER (ORDER BY frequency, o_custkey)
                  AS BIGINT) AS f_score,
             CAST(ntile(5) OVER (ORDER BY monetary, o_custkey)
                  AS BIGINT) AS m_score
      FROM rfm
    )
    SELECT o_custkey, recency_days, frequency, monetary,
           r_score, f_score, m_score,
           CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
                WHEN r_score >= 4 THEN 'recent'
                WHEN f_score >= 4 THEN 'loyal_lapsing'
                WHEN r_score <= 2 AND f_score <= 2 THEN 'at_risk'
                ELSE 'regular' END AS segment
    FROM scored
    """,
    ("analytics", "window", "ext"),
    "RFM customer segmentation: per-customer recency (days since last "
    "order, epoch arithmetic), frequency, and decimal-routed monetary "
    "value, quintile-scored and bucketed into the classic segments. "
    "Each quintile runs as extensions.sampling.ntile_scalable — the "
    "two-phase rank (range-bucket on the score column, partitioned "
    "in-bucket window, buckets-sized prefix offsets, exact SQL ntile "
    "formula on the global row number) — NOT an unpartitioned ntile "
    "window, because the ranked relation is the customer aggregate "
    "and customer cardinality is unbounded at 100 TB (the "
    "single-partition WindowExec path never finishes there). Full "
    "key tiebreak keeps bucket assignment deterministic and "
    "identical in both engines; the oracle states the same quintiles "
    "as plain ntile windows — semantics, not plan.",
)
def q_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    # o_orderdate is TIMESTAMP_NTZ in the driver parquet: epoch secs
    # must come from NTZ wall arithmetic, NOT cast("timestamp") +
    # unix_timestamp — that pair reads the session zone, and under a
    # DST zone (America/New_York) `now` and `last` can sit on
    # different offsets, shifting floor((now-last)/86400) by a day
    # (round-10 review find; the events decode had the same bug). The
    # config sweep's tz-dst axis now pins this catalog-wide. Branch on
    # the column's actual Spark type the way _decode_event_ts does
    # (round-10 ADVICE): CAST(x AS TIMESTAMP_NTZ) on an INSTANT-typed
    # column would itself read the session zone, silently
    # reintroducing the bug if the driver ever re-encodes orders.
    raw = _t(spark, sf_dir, "orders")
    od_type = raw.schema["o_orderdate"].dataType
    if isinstance(od_type, T.TimestampType):
        # instant-typed: internal UTC micros, session-tz-free
        secs = (F.unix_seconds(F.col("o_orderdate"))).alias("secs")
    elif isinstance(od_type, (T.TimestampNTZType, T.DateType)):
        # wall time (or a pure calendar DATE — its NTZ cast is
        # tz-free field arithmetic): NTZ wall-clock diff, no session
        # conf anywhere in the expression
        secs = F.expr(
            "timestampdiff(MICROSECOND,"
            " TIMESTAMP_NTZ'1970-01-01 00:00:00',"
            " CAST(o_orderdate AS TIMESTAMP_NTZ)) div 1000000"
        ).alias("secs")
    else:
        raise TypeError(
            f"orders.o_orderdate has unsupported Spark type "
            f"{od_type.simpleString()}; expected DATE, TIMESTAMP or "
            "TIMESTAMP_NTZ — extend the recency branch in "
            "q_rfm_segments the way _decode_event_ts handles events.ts"
        )
    o = raw.select("o_custkey", secs, "o_totalprice")
    mx = o.agg(F.max("secs").alias("now"))
    rfm = (
        o.crossJoin(F.broadcast(mx))
        .groupBy("o_custkey", "now")
        .agg(
            F.max("secs").alias("last"),
            F.count("*").alias("frequency"),
            dsum("o_totalprice").alias("monetary"),
        )
        .select(
            "o_custkey",
            F.floor((F.col("now") - F.col("last")) / F.lit(86400))
            .cast("long")
            .alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    from ..extensions.sampling import ntile_scalable

    # materialize the customer-sized RFM aggregate ONCE: every ntile
    # stage branches its input (bucket counts + main relation), so an
    # un-truncated lineage recomputes the orders scan 2^3 times; the
    # checkpoint caps it at one scan + three small-window stages
    # (connected_components' lazy-localCheckpoint rule)
    rfm = rfm.localCheckpoint(eager=False)
    # ONE boundary-probe action for all three score columns (each
    # ntile_scalable probing separately would re-execute the rfm
    # aggregate lineage per column)
    nb = max(spark.sparkContext.defaultParallelism, 2)
    qs = [i / nb for i in range(1, nb)]
    b_r, b_f, b_m = rfm.select(
        F.col("recency_days").cast("double").alias("r"),
        F.col("frequency").cast("double").alias("f"),
        F.col("monetary").cast("double").alias("m"),
    ).stat.approxQuantile(["r", "f", "m"], qs, 0.001)
    scored = ntile_scalable(
        rfm, 5, "recency_days", ("o_custkey",), out_col="r_raw", bounds=b_r
    )
    scored = ntile_scalable(
        scored, 5, "frequency", ("o_custkey",), out_col="f_score", bounds=b_f
    )
    scored = ntile_scalable(
        scored, 5, "monetary", ("o_custkey",), out_col="m_score", bounds=b_m
    )
    scored = scored.select(
        "o_custkey", "recency_days", "frequency", "monetary",
        (F.lit(6) - F.col("r_raw")).alias("r_score"),
        "f_score", "m_score",
    )
    return scored.select(
        "*",
        F.when((F.col("r_score") >= 4) & (F.col("f_score") >= 4), "champion")
        .when(F.col("r_score") >= 4, "recent")
        .when(F.col("f_score") >= 4, "loyal_lapsing")
        .when((F.col("r_score") <= 2) & (F.col("f_score") <= 2), "at_risk")
        .otherwise("regular")
        .alias("segment"),
    )


@_register(
    "basket_affinity",
    """
    WITH b AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
          FROM b),
    item AS (SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n FROM b
             GROUP BY 1),
    pair AS (
      SELECT a.l_partkey AS part_a, c.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS n_ab
      FROM b a JOIN b c
        ON a.l_orderkey = c.l_orderkey AND a.l_partkey < c.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_ab,
           CAST(n_ab AS DOUBLE) * n_orders
             / (CAST(ia.n AS DOUBLE) * CAST(ib.n AS DOUBLE)) AS lift
    FROM pair
    JOIN item ia ON ia.l_partkey = part_a
    JOIN item ib ON ib.l_partkey = part_b
    CROSS JOIN n
    WHERE n_ab >= 2
    """,
    ("analytics", "join", "ext"),
    "Market-basket affinity: part pairs co-occurring in an order with "
    "support >= 2 and their lift (observed co-rate over the "
    "independence expectation). Pair generation self-joins ON the "
    "basket key, so work is the sum of squared basket sizes — "
    "baskets are order-line-bounded (~7), never corpus-quadratic "
    "(the SemDeDup cell economics in relational form); item "
    "frequencies aggregate before the lift join.",
)
def q_basket_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    b = li.select("l_orderkey", "l_partkey").distinct()
    n = b.agg(F.count_distinct("l_orderkey").alias("n_orders"))
    item = b.groupBy("l_partkey").agg(F.count("*").alias("n"))
    a = b.alias("a")
    c = b.alias("c")
    pair = (
        a.join(
            c,
            (F.col("a.l_orderkey") == F.col("c.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("c.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("c.l_partkey").alias("part_b"),
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= 2)
    )
    ia = item.select(F.col("l_partkey").alias("part_a"), F.col("n").alias("na"))
    ib = item.select(F.col("l_partkey").alias("part_b"), F.col("n").alias("nb"))
    return (
        pair.join(ia, "part_a")
        .join(ib, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            (
                F.col("n_ab").cast("double")
                * F.col("n_orders")
                / (F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("lift"),
        )
    )



@_register(
    "funnel_within_window",
    f"""
    WITH e AS (SELECT user_id AS u, event_type AS t,
                      {_OSECS.format(ts='ts')} AS s FROM events),
    s1 AS (SELECT u, MIN(s) AS ts_prev FROM e WHERE t = 'signup' GROUP BY 1),
    s2 AS (SELECT e.u, MIN(e.s) AS ts_prev
           FROM e JOIN s1 ON e.u = s1.u AND e.s > s1.ts_prev
                        AND e.s <= s1.ts_prev + 86400
           WHERE e.t = 'click' GROUP BY 1),
    s3 AS (SELECT e.u, MIN(e.s) AS ts_prev
           FROM e JOIN s2 ON e.u = s2.u AND e.s > s2.ts_prev
                        AND e.s <= s2.ts_prev + 86400
           WHERE e.t = 'purchase' GROUP BY 1)
    SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS step,
           CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
    UNION ALL
    SELECT CAST(2 AS BIGINT), 'click', CAST(COUNT(*) AS BIGINT) FROM s2
    UNION ALL
    SELECT CAST(3 AS BIGINT), 'purchase', CAST(COUNT(*) AS BIGINT) FROM s3
    """,
    ("events", "analytics", "ext"),
    "Windowed funnel: each step must land within 24h of the previous "
    "one (the product-analytics conversion-window convention; under a "
    "window the metric is DEFINED by the greedy first-touch chain and "
    "the oracle states the same recursion). Same per-stage "
    "filter + user-keyed join + MIN shape as funnel_conversion.",
)
def q_funnel_within_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.event_analytics import funnel_stages

    out = funnel_stages(
        _events(spark, sf_dir),
        steps=("signup", "click", "purchase"),
        within_secs=86400,
    )
    return out.select(
        F.col("stage").cast("long").alias("stage"), "step", "n_users"
    )



@_register(
    "funnel_stage_latency",
    f"""
    WITH e AS (SELECT user_id AS u, event_type AS t,
                      {_OSECS.format(ts='ts')} AS s FROM events),
    s1 AS (SELECT u, MIN(s) AS t1 FROM e WHERE t = 'signup' GROUP BY 1),
    s2 AS (SELECT e.u, MIN(e.s) AS t2
           FROM e JOIN s1 ON e.u = s1.u AND e.s > s1.t1
           WHERE e.t = 'click' GROUP BY 1),
    s3 AS (SELECT e.u, MIN(e.s) AS t3
           FROM e JOIN s2 ON e.u = s2.u AND e.s > s2.t2
           WHERE e.t = 'purchase' GROUP BY 1),
    d AS (
      SELECT 'signup_to_click' AS stage_pair, s2.u,
             s2.t2 - s1.t1 AS diff
      FROM s2 JOIN s1 USING (u)
      UNION ALL
      SELECT 'click_to_purchase', s3.u, s3.t3 - s2.t2
      FROM s3 JOIN s2 USING (u)
    ),
    r AS (
      SELECT stage_pair, diff,
             row_number() OVER (PARTITION BY stage_pair
                                ORDER BY diff, u) AS rn,
             COUNT(*) OVER (PARTITION BY stage_pair) AS n
      FROM d
    )
    SELECT stage_pair, CAST(MAX(n) AS BIGINT) AS n_users,
           CAST(SUM(CASE WHEN rn IN ((n + 1) // 2, n // 2 + 1)
                         THEN diff ELSE 0 END) AS DOUBLE)
             / COUNT(CASE WHEN rn IN ((n + 1) // 2, n // 2 + 1)
                          THEN 1 END) AS median_secs
    FROM r GROUP BY 1
    """,
    ("events", "analytics", "window", "ext"),
    "Median time between funnel stages (the 'how long does conversion "
    "take' companion to the stage counts): per-converting-user "
    "greedy-chain timestamps differenced, exact median by "
    "rank-selection — the middle rank(s) picked inside a window "
    "PARTITIONED by stage pair, averaged (integer diffs: the even-n "
    "half is exactly representable), no quantile-function semantics "
    "to reconcile across engines. Windows run over the converting "
    "population, bounded by the funnel's own output.",
)
def q_funnel_stage_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    base = ev.select(
        F.col("user_id").alias("u"),
        F.col("event_type").alias("t"),
        F.col("secs").alias("s"),
    )
    s1 = base.filter(F.col("t") == "signup").groupBy("u").agg(
        F.min("s").alias("t1")
    )
    s2 = (
        base.filter(F.col("t") == "click")
        .join(s1, "u")
        .filter(F.col("s") > F.col("t1"))
        .groupBy("u")
        .agg(F.min("s").alias("t2"))
    )
    s3 = (
        base.filter(F.col("t") == "purchase")
        .join(s2, "u")
        .filter(F.col("s") > F.col("t2"))
        .groupBy("u")
        .agg(F.min("s").alias("t3"))
    )
    d12 = (
        s2.join(s1, "u")
        .select(
            F.lit("signup_to_click").alias("stage_pair"),
            "u",
            (F.col("t2") - F.col("t1")).alias("diff"),
        )
    )
    d23 = (
        s3.join(s2, "u")
        .select(
            F.lit("click_to_purchase").alias("stage_pair"),
            "u",
            (F.col("t3") - F.col("t2")).alias("diff"),
        )
    )
    d = d12.unionByName(d23)
    w = Window.partitionBy("stage_pair").orderBy("diff", "u")
    wn = Window.partitionBy("stage_pair")
    r = d.select(
        "stage_pair",
        "diff",
        F.row_number().over(w).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    lo = ((F.col("n") + 1) / 2).cast("long")
    hi = (F.col("n") / 2 + 1).cast("long")
    is_mid = (F.col("rn") == F.floor(lo)) | (F.col("rn") == F.floor(hi))
    return r.groupBy("stage_pair").agg(
        F.max("n").alias("n_users"),
        (
            F.sum(F.when(is_mid, F.col("diff")).otherwise(0)).cast("double")
            / F.sum(F.when(is_mid, 1))
        ).alias("median_secs"),
    )



@_register(
    "curation_report",
    rf"""
    WITH exact AS (
      SELECT CAST(SUM(n_copies) - COUNT(*) AS BIGINT) AS n
      FROM (SELECT COUNT(*) AS n_copies
            FROM documents GROUP BY md5(replace(lower(text), ' ', '')))
    ),
    nd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ({_minhash_pairs_oracle()})
    ),
    sd AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        WITH v AS (SELECT vec_id, label, {_QVEC} AS qv FROM embeddings),
        drops AS (
          SELECT DISTINCT b.vec_id AS dropped
          FROM v a JOIN v b ON a.label = b.label AND a.vec_id < b.vec_id
          WHERE {_ocos('a.qv', 'b.qv')}
                >= 0.3
        )
        SELECT dropped FROM drops
      )
    ),
    dx AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM (
        WITH split_docs AS (
          SELECT doc_id, text,
                 CASE WHEN {_MD5INT.format(x="'split:' || CAST(doc_id AS VARCHAR)")} % 100 < 80
                      THEN 'train' ELSE 'test' END AS split
          FROM documents
        ),
        sh AS ({_ngram_expr_sql(8)}),
        held AS (SELECT DISTINCT shingle FROM sh WHERE split = 'test')
        SELECT DISTINCT s.doc_id
        FROM sh s JOIN held USING (shingle) WHERE s.split = 'train'
      )
    )
    SELECT 'exact_dup_docs_removed' AS tier, n AS n_affected FROM exact
    UNION ALL SELECT 'minhash_candidate_pairs', n FROM nd
    UNION ALL SELECT 'semantic_dups_dropped', n FROM sd
    UNION ALL SELECT 'contaminated_train_docs', n FROM dx
    """,
    ("pipeline", "dedup", "diagnostics", "ext", "llm"),
    "Curation survivorship report: what each dedup/contamination tier "
    "would remove, in one relation — exact-duplicate docs beyond the "
    "kept survivor, MinHash-LSH candidate pairs, SemDeDup drops, and "
    "held-out-contaminated training docs. Every leg is a "
    "previously-graded query reduced to its count; the report is the "
    "observability artifact a curation run logs next to its output "
    "manifest (and the oracle recomputes all four legs wholesale).",
)
def q_curation_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.dedup_text import decontaminate, exact_dedup_groups
    from ..extensions.sampling import split_assign
    from ..extensions.similarity import semantic_dedup

    docs = _docs(spark, sf_dir)
    emb = _emb(spark, sf_dir)
    exact = exact_dedup_groups(docs).agg(
        F.lit("exact_dup_docs_removed").alias("tier"),
        (F.sum("n_copies") - F.count("*")).alias("n_affected"),
    )
    nd = lsh_candidate_pairs(minhash_signatures(docs)).agg(
        F.lit("minhash_candidate_pairs").alias("tier"),
        F.count("*").alias("n_affected"),
    )
    sd = (
        semantic_dedup(emb, threshold=0.3)
        .filter(F.col("keep") == 0)
        .agg(
            F.lit("semantic_dups_dropped").alias("tier"),
            F.count("*").alias("n_affected"),
        )
    )
    split = split_assign(F.col("doc_id"))
    dx = decontaminate(
        docs.filter(split == "train"), docs.filter(split == "test"), n=8
    ).agg(
        F.lit("contaminated_train_docs").alias("tier"),
        F.count("*").alias("n_affected"),
    )
    return exact.unionByName(nd).unionByName(sd).unionByName(dx)



@_register(
    "null_safe_join",
    f"""
    WITH a AS (
      SELECT NULLIF(l_returnflag, 'N') AS k, CAST(COUNT(*) AS BIGINT) AS n_a
      FROM lineitem GROUP BY 1
    ),
    b AS (
      SELECT NULLIF(l_returnflag, 'N') AS k,
             {_osum('l_quantity')} AS qty_b
      FROM lineitem GROUP BY 1
    )
    SELECT a.k, a.n_a, b.qty_b
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    ("join", "null", "ext"),
    "Null-safe equality join (Spark's <=> / eqNullSafe, SQL's IS NOT "
    "DISTINCT FROM): the NULL group — here the sentinel-nulled 'N' "
    "flag, the engine's representation of 'unknown' keys after "
    "sentinel-to-NULL cleaning (P8) — joins to itself instead of "
    "silently dropping, the semantics a dim lookup on a nullable key "
    "actually needs. Plans as an ordinary hash join (null-safe "
    "equality is still an equi-key); without it the NULL rows vanish "
    "from an inner join and no error tells you.",
)
def q_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    k = F.nullif(F.col("l_returnflag"), F.lit("N"))
    a = li.groupBy(k.alias("k")).agg(F.count("*").alias("n_a"))
    b = li.groupBy(k.alias("k")).agg(dsum("l_quantity").alias("qty_b"))
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(
        a["k"].alias("k"), "n_a", "qty_b"
    )


@_register(
    "kmeans_clusters",
    None,  # iterative fixed-point like pagerank_copresence: 5 Lloyd
    # rounds of exact int64 coordinate sums + driver-quantized
    # centroids — not relationally statable without recursion;
    # reference-equality vs an independent pure-numpy implementation
    # of the same spec (EXACT float equality, last bit), byte-identical
    # partition independence, zero-norm and k>n degeneracy pinned in
    # tests/test_clustering.py
    ("similarity", "clustering", "iterative", "ext"),
    "Full-corpus distributed spherical k-means over the embeddings "
    "table (extensions.clustering.kmeans_embeddings) — the semantic "
    "structure a curation pipeline clusters on before balanced "
    "sampling. One scan per Lloyd round: broadcast int64-quantized "
    "centroids into an Arrow pass emitting O(batches x k) partial "
    "sums, posexplode + map-side-combined (cluster,pos) aggregation, "
    "k x d exact sums to the driver. Every score is exact integer "
    "arithmetic + one guarded IEEE division, so assignments AND "
    "cosines are byte-identical under any partitioning. Output here "
    "is the bounded per-cluster summary (size, min id, mean cosine "
    "in exact-sum form) — k rows, stable.",
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.clustering import kmeans_embeddings

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_embeddings(emb, k=8, iters=5)
    return (
        assigned.groupBy("cluster")
        .agg(
            F.count("*").alias("n_members"),
            F.min("vec_id").alias("min_vec_id"),
            # deterministic mean: sum of per-row deterministic doubles
            # would be shuffle-order-dependent — aggregate the exact
            # int-quantized cosine instead (round half-up at 1e-9,
            # then exact int64 sum / count)
            (
                F.sum(F.floor(F.col("cosine") * 1e9 + F.lit(0.5)).cast("long"))
                .cast("double")
                / (F.count("*") * F.lit(1e9))
            ).alias("mean_cosine"),
        )
        .select("cluster", "n_members", "min_vec_id", "mean_cosine")
    )


@_register(
    "kmeans_assign_exact",
    f"""
    WITH c AS (
      SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
             {_QVEC} AS cv
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    q AS (SELECT vec_id, {_QVEC} AS qv FROM embeddings),
    scored AS (
      SELECT q.vec_id, c.cluster,
             {_DOT.format(a='qv', b='cv')} / sqrt(
               (CASE WHEN {_NORM.format(a='qv')} = 0 THEN 1.0
                     ELSE {_NORM.format(a='qv')} END)
               * (CASE WHEN {_NORM.format(a='cv')} = 0 THEN 1.0
                       ELSE {_NORM.format(a='cv')} END)) AS cosine
      FROM q, c
    )
    SELECT vec_id, cluster, cosine FROM (
      SELECT *, row_number() OVER (PARTITION BY vec_id
                                   ORDER BY cosine DESC, cluster) AS rk
      FROM scored
    ) WHERE rk = 1
    """,
    ("similarity", "clustering", "ext"),
    "The k-means ASSIGNMENT kernel in exact mode (VERDICT r7 #1): "
    "fixed deterministic centroids (the 8 lowest-id embedding rows, "
    "scored as raw int64-quantized vectors — cosine is "
    "centroid-scale-invariant, so no unit normalization and no "
    "driver re-quantization stand between the stored table and the "
    "scored number), argmax quantized cosine with lowest-cluster "
    "tie-break. With the centroids fixed there is no Lloyd "
    "iteration, so the clustering tier's scoring path "
    "(extensions.clustering.assign_to_centroids -> _centroid_pass, "
    "the same broadcast-centroid Arrow pass every Lloyd round and "
    "assign_with_model call runs) gets the full DuckDB differential "
    "oracle — the ivf_knn_exact / ivfpq_index_exact recipe applied "
    "to the third and newest index-family tier. Zero-norm rows "
    "follow the module contract: guarded denominators score them 0 "
    "everywhere, landing them in cluster 0.",
)
def q_kmeans_assign_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.clustering import assign_to_centroids

    emb = _t(spark, sf_dir, "embeddings")
    return assign_to_centroids(emb, emb.orderBy("vec_id").limit(8)).select(
        "vec_id", "cluster", "cosine"
    )


@_register(
    "cluster_balanced_sample",
    None,  # the cluster ids come from the iterative k-means above, so
    # the composite is rows-only like its parent; the sampling layer
    # itself (md5-ranked window per cluster) is deterministic and its
    # subset/cap/determinism contract is pinned in
    # tests/test_clustering.py
    ("sampling", "clustering", "ext"),
    "Cluster-balanced diversity sampling "
    "(extensions.clustering.cluster_balanced_sample over "
    "kmeans_embeddings): at most N documents per semantic cluster, "
    "chosen by md5-of-id rank — the curation move that stops one "
    "semantic region dominating a training mixture. The window "
    "partitions on the cluster id (plan-lint class: never global); "
    "md5 + id tiebreak makes the picked set independent of "
    "partitioning and rerun-stable. Output: (cluster, vec_id) for "
    "the picked rows — k x N rows, bounded.",
)
def q_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..extensions.clustering import (
        cluster_balanced_sample,
        kmeans_embeddings,
    )

    emb = _t(spark, sf_dir, "embeddings")
    assigned = kmeans_embeddings(emb, k=8, iters=5)
    return (
        cluster_balanced_sample(assigned, per_cluster=5)
        .select("cluster", "vec_id")
        .orderBy("cluster", "vec_id")
    )


