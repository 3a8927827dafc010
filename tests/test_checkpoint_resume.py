"""Resume semantics: a killed run continues from the last committed bucket
and the final output equals a clean one-shot run (north_rule: 'resumable
from checkpoint with per-partition lineage + metrics')."""

from __future__ import annotations

import os

import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from deepseek_ocr_api_rs_spark.operators import checkpoint
from deepseek_ocr_api_rs_spark.operators.checkpoint import (
    committed_buckets,
    manifest_path,
    run_resumable_extraction,
    with_bucket,
)


def test_resume_after_kill(spark, corpus_path, tmp_path):
    docs = spark.read.parquet(corpus_path)
    out1 = str(tmp_path / "out_resumed")
    ckpt = str(tmp_path / "ckpt")

    # run 1: killed after 3 buckets
    done1 = run_resumable_extraction(
        spark, docs, out1, ckpt, n_buckets=8, run_id="r1", fail_after_buckets=3
    )
    assert done1 == 3
    assert len(committed_buckets(ckpt)) == 3

    # run 2: resumes — must process exactly the remaining 5
    done2 = run_resumable_extraction(spark, docs, out1, ckpt, n_buckets=8, run_id="r2")
    assert done2 == 5
    assert len(committed_buckets(ckpt)) == 8

    # resumed output == one-shot output, row for row
    out2 = str(tmp_path / "out_oneshot")
    run_resumable_extraction(
        spark, docs, out2, str(tmp_path / "ckpt2"), n_buckets=8, run_id="clean"
    )
    a = spark.read.parquet(out1).select("url", "extracted_text")
    b = spark.read.parquet(out2).select("url", "extracted_text")
    assert a.count() == b.count() == docs.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    # lineage: manifest rows carry per-bucket metrics that reconcile with data
    manifest = spark.read.parquet(f"{ckpt}/_checkpoints")
    total_docs = manifest.agg(F.sum("n_docs")).collect()[0][0]
    assert total_docs == docs.count()
    runs = {r.run_id for r in manifest.select("run_id").distinct().collect()}
    assert runs == {"r1", "r2"}


def test_rerun_noop_when_complete(spark, corpus_path, tmp_path):
    # 3 docs over 8 buckets leaves empty buckets: they are written and
    # committed with n_docs = 0, not skipped
    for n_docs, n_buckets in ((50, 4), (3, 8)):
        docs = spark.read.parquet(corpus_path).limit(n_docs)
        out = str(tmp_path / f"out{n_docs}")
        ckpt = str(tmp_path / f"ckpt{n_docs}")
        assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=n_buckets) == n_buckets
        assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=n_buckets) == 0


def test_bucket_assignment_stable(spark, corpus_path):
    """Bucket = pmod(xxhash64(url), n) must be scheduling-independent."""
    docs = spark.read.parquet(corpus_path)
    a = with_bucket(docs, 8).select("url", "bucket")
    b = with_bucket(docs.repartition(13), 8).select("url", "bucket")
    assert a.exceptAll(b).count() == 0


def test_corrupt_manifest_raises(spark, corpus_path, tmp_path):
    """Only a missing manifest means nothing is committed; an unreadable one
    must stop the run instead of redoing and double-committing every bucket."""
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(manifest_path(ckpt))
    with open(os.path.join(manifest_path(ckpt), "part-0.parquet"), "wb") as f:
        f.write(b"not a parquet file")
    docs = spark.read.parquet(corpus_path).limit(10)
    with pytest.raises(pa.ArrowInvalid):
        run_resumable_extraction(spark, docs, str(tmp_path / "out"), ckpt, n_buckets=4)


def test_crash_between_write_and_commit(spark, corpus_path, tmp_path, monkeypatch):
    """A kill after a bucket's data write but before its manifest commit:
    the rerun redoes that bucket and the result equals a clean run."""
    docs = spark.read.parquet(corpus_path)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    real_commit = checkpoint.commit_bucket
    calls = []

    def crashing_commit(*args, **kwargs):
        calls.append(args)
        if len(calls) == 3:
            raise RuntimeError("killed before commit")
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(checkpoint, "commit_bucket", crashing_commit)
    with pytest.raises(RuntimeError, match="killed before commit"):
        run_resumable_extraction(spark, docs, out, ckpt, n_buckets=8, run_id="r1")
    assert sorted(committed_buckets(ckpt)) == [0, 1]
    assert os.path.isdir(os.path.join(out, "bucket=2"))  # written, not committed
    monkeypatch.undo()
    assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=8, run_id="r2") == 6

    clean = str(tmp_path / "clean")
    run_resumable_extraction(spark, docs, clean, str(tmp_path / "ckpt_clean"), n_buckets=8)
    a, b = spark.read.parquet(out), spark.read.parquet(clean)
    assert a.count() == b.count() == docs.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0

    commits = spark.read.parquet(manifest_path(ckpt)).groupBy("bucket").count().collect()
    assert sorted((r.bucket, r["count"]) for r in commits) == [(k, 1) for k in range(8)]
    rows = {r.bucket: r["count"] for r in a.groupBy("bucket").count().collect()}
    assert committed_buckets(ckpt) == {k: rows.get(k, 0) for k in range(8)}


def test_resume_from_spark_written_manifest(spark, corpus_path, tmp_path):
    """A checkpoint dir whose manifest Spark wrote in the earlier six-column
    layout resumes: its committed buckets 0-3 are not redone."""
    docs = spark.read.parquet(corpus_path).limit(50)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    spark.createDataFrame(
        [(b, "old", 7, 70, 3, 0.0) for b in range(4)],
        "bucket int, run_id string, n_docs long, n_chars long, "
        "n_blocks_accepted long, committed_ts double",
    ).coalesce(1).write.parquet(manifest_path(ckpt))
    assert run_resumable_extraction(spark, docs, out, ckpt, n_buckets=8) == 4
    assert sorted(os.listdir(out)) == [f"bucket={k}" for k in range(4, 8)]
    done = committed_buckets(ckpt)
    assert sorted(done) == list(range(8))
    assert [done[k] for k in range(4)] == [7] * 4
