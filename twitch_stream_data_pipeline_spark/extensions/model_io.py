"""Driver-side reads of MODEL-STATE-SIZED persisted artifacts.

The index layouts persist tiny model relations beside the data
(`_quantizer`, `_codebooks`, `_params`, n_cells x dim / m x n_codes x
d/m / one row). Every probe reloads them — by contract, so a probe can
never quantize differently than the layout — and a
``spark.read.parquet(...).collect()`` pays a full Spark job launch
(~100-150ms in local mode) to move a few kilobytes the driver consumes
anyway. For local filesystem paths the read goes through pyarrow
directly (sub-millisecond); any other scheme (hdfs://, s3a://...)
falls back to the Spark reader, which speaks every configured
filesystem. Data-sized relations (postings, codes, `_ids`) are never
read this way — they stay distributed scans.
"""

from __future__ import annotations

import glob
import os


def _local_dir(path: str, default_fs: str = "file:///") -> str | None:
    """The local directory for a ``file:`` path — or a scheme-less
    path, but ONLY when ``default_fs`` is the local filesystem: Spark
    resolves scheme-less paths against ``fs.defaultFS``, so on a
    cluster defaulting to HDFS/S3 a same-named local directory must
    NOT shadow the real relation. Else None."""
    if path.startswith("file:"):
        p = path[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        return p if os.path.isdir(p) else None
    if "://" not in path and default_fs.startswith("file:"):
        return path if os.path.isdir(path) else None
    return None


def _default_fs(spark) -> str:
    return spark._jsc.hadoopConfiguration().get("fs.defaultFS", "file:///")


def fs_path_exists(spark, path: str) -> bool:
    """True when ``path`` exists on whatever filesystem Spark resolves
    it to (Hadoop FileSystem API — local dirs in tests, object stores
    on a cluster). Metadata-only, no file reads."""
    jvm = spark._jvm
    jpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return bool(fs.exists(jpath))


def read_small_parquet(spark, path: str) -> list[dict]:
    """All rows of a tiny parquet relation as a list of dicts.

    pyarrow for local paths (no job launch), Spark collect otherwise.
    Callers own the contract that the relation is model-state-sized.
    """
    local = _local_dir(path, _default_fs(spark))
    if local is not None:
        # Narrow fallback classes only (ADVICE r7): an absent/renamed
        # layout (FileNotFoundError), a footer pyarrow rejects
        # (ArrowInvalid — Spark's reader is more lenient on some
        # legacy encodings), or an OS-level read failure. Anything
        # else (a genuinely corrupt file, OOM) must PROPAGATE — a
        # blanket retry through Spark would either surface the same
        # corruption twice or, worse, succeed with subtly different
        # decoding and hand callers type-divergent dicts depending on
        # which reader ran. A missing pyarrow (pyspark does not hard-
        # require it) is also a clean fall-through to the Spark reader,
        # not an error — same contract as before the fast path existed.
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
        except ImportError:
            return [r.asDict() for r in spark.read.parquet(path).collect()]

        try:
            files = sorted(glob.glob(os.path.join(local, "*.parquet")))
            if not files:  # e.g. only _SUCCESS markers — fall back
                raise FileNotFoundError(local)
            tables = [pq.read_table(f) for f in files]
            rows: list[dict] = []
            for t in tables:
                rows.extend(t.to_pylist())
            return rows
        except (FileNotFoundError, pa.ArrowInvalid, OSError) as exc:
            import sys

            print(
                f"# read_small_parquet: pyarrow fast path failed for "
                f"{path} ({exc!r}); falling back to the Spark reader",
                file=sys.stderr,
            )
    return [r.asDict() for r in spark.read.parquet(path).collect()]


def _local_write_dir(path: str, default_fs: str = "file:///") -> str | None:
    """The local directory a WRITE of ``path`` would land in — the
    :func:`_local_dir` scheme logic without the exists() requirement
    (the target of a first write does not exist yet). Else None."""
    if path.startswith("file:"):
        p = path[len("file:"):]
        while p.startswith("//"):
            p = p[1:]
        return p
    if "://" not in path and default_fs.startswith("file:"):
        return path
    return None


def write_small_parquet(spark, path: str, pdf) -> None:
    """Overwrite ``path`` with one parquet file holding ``pdf`` (a
    pandas DataFrame) — the WRITE twin of :func:`read_small_parquet`.

    The index layouts persist model-state-sized relations
    (``_quantizer``, ``_codebooks``, ``_params``, ``_centroids``) whose
    rows already live on the driver; routing them through
    ``spark.createDataFrame(...).coalesce(1).write`` pays a full Spark
    job launch (~100-300ms in local mode) to move a few kilobytes the
    driver is holding anyway. For local filesystem paths this writes
    the file directly with pyarrow (sub-millisecond, identical parquet
    physical types: pandas int64 -> INT64, list-of-float -> repeated
    DOUBLE — the same logical schema the Spark route produced, so every
    existing reader, pyarrow or Spark, is unaffected); any other scheme
    (hdfs://, s3a://...) falls back to the Spark writer, which speaks
    every configured filesystem. Data-sized relations are never written
    this way — they stay distributed writes.
    """
    local = _local_write_dir(path, _default_fs(spark))
    if local is not None:
        try:
            import pyarrow as pa
            import pyarrow.parquet as pq
        except ImportError:
            pa = None  # pyspark does not hard-require pyarrow
        if pa is not None:
            import shutil

            # Spark's mode("overwrite") semantics: replace the relation
            shutil.rmtree(local, ignore_errors=True)
            os.makedirs(local, exist_ok=True)
            pq.write_table(
                pa.Table.from_pandas(pdf, preserve_index=False),
                os.path.join(local, "part-00000.parquet"),
            )
            return
    (
        spark.createDataFrame(pdf)
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )
