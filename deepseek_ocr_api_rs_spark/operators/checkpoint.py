"""Per-bucket checkpoint manifests + resume (north_rule: "resumable from
checkpoint with per-partition lineage + metrics").

Design (the KV-cache idea at job granularity — incremental computation,
crates/core/src/cache.rs:78-116, applied to partitions instead of tokens):

- the input is bucketed into ``n_buckets`` deterministic url-hash buckets
  (``pmod(xxhash64(url), n_buckets)`` — stable across runs, unlike
  ``spark_partition_id`` which depends on scheduling);
- each bucket is ONE Spark job: its rows are extracted and written under
  ``<output_dir>/bucket=<k>``. An empty bucket is written and committed
  too, with ``n_docs = 0``;
- the bucket is then committed on the driver by publishing the one-row
  parquet file ``_checkpoints/bucket-<k>.parquet`` with schema
  ``(bucket int, run_id string, n_docs long, committed_ts double)``.
  ``n_docs`` is the footer row count of the files just written, so no
  read-back scan runs. The row is written to a ``.tmp-*`` file (Spark and
  pyarrow both skip dot-files) and ``os.link``-ed into place, which fails
  if the bucket is already committed: a bucket commits at most once;
- resume reads the ``bucket`` and ``n_docs`` columns of ``_checkpoints``
  and runs the uncommitted buckets in ascending order. Manifests written
  by Spark in the earlier six-column layout
  ``(…, n_chars, n_blocks_accepted, …)`` resume the same way.

Data first, then manifest: a bucket is either committed (its manifest file
exists) or will be re-done; re-doing an uncommitted bucket overwrites its
directory (idempotent).
"""

from __future__ import annotations

import os
import time
import uuid

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

MANIFEST_SCHEMA = pa.schema(
    [
        ("bucket", pa.int32()),
        ("run_id", pa.string()),
        ("n_docs", pa.int64()),
        ("committed_ts", pa.float64()),
    ]
)


def with_bucket(df: DataFrame, n_buckets: int, url_col: str = "url") -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(url_col)), F.lit(n_buckets)).cast("int")
    )


def manifest_path(checkpoint_dir: str) -> str:
    return os.path.join(checkpoint_dir, "_checkpoints")


def committed_buckets(checkpoint_dir: str) -> dict[int, int]:
    """``{bucket: n_docs}`` of every committed bucket; ``{}`` when nothing
    was ever committed. An unreadable manifest raises: treating it as empty
    would redo and double-commit every bucket."""
    path = manifest_path(checkpoint_dir)
    if not os.path.isdir(path):
        return {}
    cols = pa.schema([MANIFEST_SCHEMA.field("bucket"), MANIFEST_SCHEMA.field("n_docs")])
    t = ds.dataset(path, schema=cols, format="parquet").to_table()
    return dict(zip(t.column("bucket").to_pylist(), t.column("n_docs").to_pylist()))


def commit_bucket(checkpoint_dir: str, bucket: int, run_id: str, n_docs: int) -> None:
    """Publish the bucket's manifest row; raises ``FileExistsError`` if the
    bucket is already committed."""
    path = manifest_path(checkpoint_dir)
    os.makedirs(path, exist_ok=True)
    row = pa.Table.from_pylist(
        [{"bucket": bucket, "run_id": run_id, "n_docs": n_docs,
          "committed_ts": time.time()}],
        schema=MANIFEST_SCHEMA,
    )
    tmp = os.path.join(path, f".tmp-{uuid.uuid4().hex}.parquet")
    pq.write_table(row, tmp)
    try:
        os.link(tmp, os.path.join(path, f"bucket-{bucket}.parquet"))
    finally:
        os.unlink(tmp)


def run_resumable_extraction(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: str,
    checkpoint_dir: str,
    n_buckets: int = 8,
    run_id: str = "run",
    fail_after_buckets: int | None = None,
) -> int:
    """Extract bucket by bucket with manifest commits; returns #buckets done
    this run. ``fail_after_buckets`` injects a mid-run kill for tests.

    At cluster scale each "bucket" is a large slice (thousands of tasks);
    one spark action per bucket is the commit granularity, matching how a
    real run would chain Iceberg append commits.
    """
    from deepseek_ocr_api_rs_spark.operators.extract import extract_documents

    committed = committed_buckets(checkpoint_dir)
    todo = [b for b in range(n_buckets) if b not in committed][:fail_after_buckets]
    bucketed = with_bucket(docs, n_buckets)
    for bucket in todo:
        part = bucketed.filter(F.col("bucket") == bucket).drop("bucket")
        out_path = os.path.join(output_dir, f"bucket={bucket}")
        extract_documents(part).write.mode("overwrite").parquet(out_path)
        commit_bucket(checkpoint_dir, bucket, run_id, ds.dataset(out_path).count_rows())
    return len(todo)
