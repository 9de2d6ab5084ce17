"""Degenerate-CONTENT sweep (round 9).

The empty sweep proves every query survives zero-row tables; this
module proves the catalog survives — and stays oracle-correct on —
pathological CONTENT the random driver generator never produces but a
real 100 TB corpus certainly contains:

* events: a constant-valued group (variance exactly 0 — under Spark's
  default ANSI mode an unguarded z-score division THROWS), a group
  with a single event (n=1, also zero variance), value 0.0 rows,
  same-second duplicates;
* documents: empty text, whitespace-only text, a single token, an
  all-identical-token doc, exact duplicates, a near-identical pair;
* embeddings: the all-zero vector (norm 0 — an unguarded cosine
  divides by zero), a constant vector, exact duplicate vectors.

Every oracle-bearing catalog query must (a) not raise and (b) still
match its DuckDB oracle on this data; no-oracle queries must not
raise. Failures are collected and reported together so one bad
operator doesn't hide the rest.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from twitch_stream_data_pipeline_spark.plans import CATALOG

from .conftest import (
    SF_SMOKE,
    TABLES,
    make_duck_views,
    sweep_differential,
    tail_sampled_out,
)

T0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC


def _poison_events(spark):
    rows = []
    eid = 0

    def ev(secs, user, typ, value, props="{}"):
        nonlocal eid
        eid += 1
        rows.append((eid, secs * 1_000_000, user, typ, value, props))

    # funnel chains with boundary-ish spacing
    for u in (1, 2):
        ev(T0 + u, u, "signup", 1.5, '{"k": 1}')
        ev(T0 + 600 + u, u, "click", 2.5, '{"k": 2}')
        ev(T0 + 1200 + u, u, "purchase", 3.5, '{"k": 3}')
    # constant-valued group: every 'error' event is exactly 0.1
    for i in range(10):
        ev(T0 + 30 * i, 3 + (i % 3), "error", 0.1, '{"k": 0}')
    # a group with a SINGLE event (n=1 -> variance 0)
    ev(T0 + 5000, 9, "view", 7.25, '{"k": 87}')
    # value exactly 0.0, and same-second duplicates
    ev(T0 + 9000, 1, "click", 0.0, '{"k": 5}')
    ev(T0 + 9000, 1, "click", 0.0, '{"k": 5}')
    # degenerate props payloads (the JSON coercion matrix): malformed,
    # empty object, wrong-typed, float, string-coded int, boolean,
    # empty string, int overflow — from_json/variant are NULL-tolerant
    # and the oracles must state the same totality, not raise or round.
    # ADVICE r9 additions: an int64-OVERFLOWING integer (as a JSON
    # number AND as a string — regex-clean, so a bare CAST oracle
    # raised where Spark's try_cast NULLs), whitespace-padded and
    # sign-prefixed string ints (Spark's string-to-long cast trims
    # chars <= 0x20 and accepts a leading +, so these rows are KEPT —
    # '+8' is even — where the old '^-?[0-9]+$' oracle gate silently
    # dropped them), and a tab/newline-padded escape ('\t6\n' via JSON
    # \u-escapes) exercising the non-space trim set.
    for i, props in enumerate(
        [
            "{bad",
            "{}",
            '{"k": "x"}',
            '{"k": 7.9}',
            '{"k": "7"}',
            '{"k": true}',
            "",
            '{"k": 99999999999}',
            '{"k": 10000000000000000000}',
            '{"k": "10000000000000000000"}',
            '{"k": "9223372036854775808"}',
            '{"k": " 7 "}',
            '{"k": "+8"}',
            '{"k": "\\t6\\n"}',
            '{"k": "+ 7"}',
        ]
    ):
        ev(T0 + 12000 + 60 * i, 2, "click", 1.0, props)
    return spark.createDataFrame(
        rows,
        "event_id bigint, ts_us bigint, user_id bigint, "
        "event_type string, value double, props string",
    ).select(
        "event_id",
        (F.col("ts_us") / 1_000_000).cast("timestamp").alias("ts"),
        "user_id",
        "event_type",
        "value",
        "props",
    )


def _poison_documents(spark):
    para = (
        "the quick brown fox jumps over the lazy dog and then "
        "runs far away into the quiet green forest before dawn"
    )
    docs = [
        (0, "", "en", "src0"),                      # empty text
        (1, "   ", "en", "src1"),                   # whitespace only
        (2, "a", "de", "src2"),                     # single char
        (3, "hello", "fr", "src3"),                 # single token
        (4, "spam " * 50, "en", "src4"),            # one repeated token
        (5, para, "en", "src5"),                    # normal
        (6, para, "en", "src6"),                    # exact duplicate of 5
        (7, para + " indeed", "en", "src7"),        # near-dup of 5
        (8, "zwei worte", "de", "src8"),
        (9, para.upper(), "es", "src9"),            # case variant
        # unicode: CJK (no ASCII whitespace -> one giant token), emoji
        # (surrogate-pair code point), combining accent (e + U+0301) —
        # cross-engine UTF-8 hashing and code-point length semantics
        (10, "héllo \U0001f600 你好 café niño", "zh", "src10"),
        (11, "étude étude résumé", "fr", "src11"),
    ]
    return spark.createDataFrame(
        [(d, t, la, s, len(t)) for d, t, la, s in docs],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )


def _poison_embeddings(spark):
    def vec(f):
        return [float(f(i)) for i in range(64)]

    rows = [
        (0, vec(lambda i: 0.0), 0),          # the all-zero vector
        (1, vec(lambda i: 0.1), 0),          # constant vector
        (2, vec(lambda i: 0.01 * i), 1),     # ramp
        (3, vec(lambda i: 0.01 * i), 1),     # exact duplicate of 2
        (4, vec(lambda i: 0.2 if i == 0 else -0.05), 2),
    ] + [
        (
            5 + j,
            vec(lambda i, j=j: ((i * 37 + j * 101) % 97 - 48) / 400.0),
            j % 4,
        )
        for j in range(8)
    ]
    return spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )


@pytest.fixture(scope="module")
def poison_dir(spark, tmp_path_factory):
    out = tmp_path_factory.mktemp("poison_sf")
    for t in TABLES:
        src = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
        if t == "events":
            df = _poison_events(spark)
        elif t == "documents":
            df = _poison_documents(spark)
        elif t == "embeddings":
            df = _poison_embeddings(spark)
        else:
            df = src.limit(50)  # real rows; star tables aren't the target
        df.write.parquet(f"{out}/{t}.parquet")
    return str(out)


@pytest.fixture(scope="module")
def all_empty_docs_dir(spark, tmp_path_factory):
    """documents where EVERY text is empty or whitespace — the
    zero-shingle corpus: totals of zero, no n-grams anywhere, an LSH
    index layout with no postings files at all."""
    out = tmp_path_factory.mktemp("allempty_sf")
    for t in TABLES:
        src = spark.read.parquet(f"{SF_SMOKE}/{t}.parquet")
        if t == "documents":
            rows = [
                (
                    i,
                    "" if i % 2 == 0 else "   ",
                    "en",
                    f"src{i % 3}",
                    0 if i % 2 == 0 else 3,
                )
                for i in range(8)
            ]
            df = spark.createDataFrame(
                rows,
                "doc_id bigint, text string, lang string, source string, "
                "n_chars bigint",
            )
        else:
            df = src.limit(30)
        df.write.parquet(f"{out}/{t}.parquet")
    return str(out)


def test_all_empty_corpus_document_queries(spark, all_empty_docs_dir):
    """Every documents-reading query must run — and stay
    oracle-correct — on a corpus whose every text is empty/whitespace
    (this caught build_lsh_index's zero-postings layout failing schema
    inference on the probe read)."""
    import inspect

    con = make_duck_views(duckdb.connect(), all_empty_docs_dir, glob_parts=True)
    failures = []
    n_selected = 0
    for name, q in sorted(CATALOG.items()):
        # select by what the IMPLEMENTATION reads, not by oracle text:
        # oracle=None entries (bpe_train_merges) read documents too
        # and must survive the zero-token corpus
        # (review r9 — the oracle-text filter silently skipped them)
        try:
            src = inspect.getsource(q.fn)
        except OSError:
            src = ""
        reads_docs = (
            "_docs(" in src
            or '"documents"' in src
            or "'documents'" in src
            or "documents" in (q.oracle or "")
        )
        if not reads_docs:
            continue
        n_selected += 1
        failure = sweep_differential(spark, con, name, q, all_empty_docs_dir)
        if failure:
            failures.append(failure)
    assert n_selected >= 45, n_selected  # the filter must stay broad
    # (49 documents-reading queries at the time of writing)
    assert not failures, "\n".join(failures)


def test_poison_sweep_whole_catalog(spark, poison_dir):
    # round-salted >=5-green rotated-tail sampling (VERDICT r11 #9;
    # rationale on tail_sampled_out in conftest); dropped names are
    # printed, never silent, and SPARK_GRAFT_FULL_TAIL=1 restores full
    sampled = tail_sampled_out()
    if sampled:
        print(f"tail-sampled out this round ({len(sampled)}): {sorted(sampled)}")
    con = make_duck_views(duckdb.connect(), poison_dir, glob_parts=True)
    failures = [
        f
        for name, q in sorted(CATALOG.items())
        if name not in sampled
        and (f := sweep_differential(spark, con, name, q, poison_dir))
    ]
    assert not failures, "\n".join(failures)
