"""The two Spark extraction workloads.

``extract_bulk``: ``read_documents`` -> ``repartition_by_url`` ->
``extract_documents`` -> parquet write, one Spark job per repetition.

``extract_resumable``: ``run_resumable_extraction`` at the job CLI's default
of 8 buckets into empty directories, killed through ``fail_after_buckets``
after half of the buckets and then resumed to completion; one repetition is
the whole kill-and-resume cycle.

Both extract the same seeded documents, so their outputs must agree row for
row; a deterministic sample of urls must also be byte-identical to the
scalar reference extractor run in this process.
"""

from __future__ import annotations

import shutil
import time

from perfbench import harness as H
from perfbench.kernel import arrow_batch_rows, measure_kernel

N_BUCKETS = 8  # job.py --n-buckets default
SAMPLE_URLS = 24
# a kill-and-resume cycle outlasts --seconds; two give a steadier median
MIN_REPS = 2
OUTPUT_COLS = [
    "url", "warc_ts", "lang", "branch", "extracted_text", "n_chars",
    "n_blocks_total", "n_blocks_accepted", "span_starts", "span_ends",
    "truncated",
]
EXTRACT_INPUT_COLS = ["url", "warc_ts", "html", "lang"]


def _identity(batches):
    yield from batches


def bulk_job(spark, docs_path: str, out_path: str) -> None:
    from deepseek_ocr_api_rs_spark.operators.extract import extract_documents
    from deepseek_ocr_api_rs_spark.operators.partitioning import repartition_by_url
    from deepseek_ocr_api_rs_spark.sources.io import read_documents

    docs = read_documents(spark, docs_path)
    extract_documents(repartition_by_url(docs, H.shuffle_partitions())).write.mode(
        "overwrite"
    ).parquet(out_path)


def resumable_cycle(spark, docs_path: str, out_dir: str, ckpt_dir: str) -> tuple[int, int, float, float]:
    """Kill after half of the buckets, then resume. Returns (buckets done by
    the killed run, buckets done by the resume, kill seconds, resume seconds)."""
    from deepseek_ocr_api_rs_spark.operators.checkpoint import run_resumable_extraction
    from deepseek_ocr_api_rs_spark.sources.io import read_documents

    for d in (out_dir, ckpt_dir):
        shutil.rmtree(d, ignore_errors=True)
    docs = read_documents(spark, docs_path)
    t0 = time.perf_counter()
    first = run_resumable_extraction(
        spark, docs, out_dir, ckpt_dir, n_buckets=N_BUCKETS,
        run_id="killed", fail_after_buckets=N_BUCKETS // 2,
    )
    t1 = time.perf_counter()
    second = run_resumable_extraction(
        spark, docs, out_dir, ckpt_dir, n_buckets=N_BUCKETS, run_id="resumed"
    )
    return first, second, t1 - t0, time.perf_counter() - t1


# ----------------------------------------------------------------- checks


def output_digest(spark, path: str) -> tuple[int, int, int, int]:
    """Order-independent digest of an extraction output:
    (rows, xor of row hashes, sum of low row-hash halves, xor of url hashes)."""
    from pyspark.sql import functions as F

    h = F.xxhash64(*OUTPUT_COLS)
    row = (
        spark.read.parquet(path)
        .select(*OUTPUT_COLS)
        .agg(
            F.count("*"),
            F.bit_xor(h),
            F.sum(h.bitwiseAND(F.lit(0xFFFFFFFF))),
            F.bit_xor(F.xxhash64("url")),
        )
        .collect()[0]
    )
    return int(row[0]), int(row[1] or 0), int(row[2] or 0), int(row[3] or 0)


def input_url_digest(spark, path: str) -> tuple[int, int]:
    from pyspark.sql import functions as F

    row = spark.read.parquet(path).agg(F.count("*"), F.bit_xor(F.xxhash64("url"))).collect()[0]
    return int(row[0]), int(row[1] or 0)


def reference_sample_check(spark, path: str, n_docs: int, start_id: int) -> tuple[bool, str]:
    """A fixed sample of urls is byte-identical to
    ``extraction.reference.extract_document`` run here on the same rows."""
    from pyspark.sql import functions as F

    from deepseek_ocr_api_rs_spark.extraction.reference import extract_document
    from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents

    k = min(SAMPLE_URLS, n_docs)
    ids = sorted({start_id + i * n_docs // k for i in range(k)})
    expected = {}
    for rid in ids:
        doc = make_documents(1, start_id=rid).iloc[0]
        expected[doc.url] = (doc, extract_document(doc.html))
    got = {
        r.url: r
        for r in spark.read.parquet(path)
        .select(*OUTPUT_COLS)
        .filter(F.col("url").isin(list(expected)))
        .collect()
    }
    for url, (doc, ref) in expected.items():
        r = got.get(url)
        if r is None:
            return False, f"{url} missing"
        want = (doc.lang, ref.branch, ref.extracted_text.encode(), ref.n_chars,
                ref.n_blocks_total, ref.n_blocks_accepted, list(ref.span_starts),
                list(ref.span_ends), ref.truncated)
        have = (r.lang, r.branch, r.extracted_text.encode(), r.n_chars,
                r.n_blocks_total, r.n_blocks_accepted, list(r.span_starts),
                list(r.span_ends), r.truncated)
        if want != have:
            return False, f"{url} differs from the reference extractor"
    return True, ""


def manifest_check(spark, ckpt_dir: str, n_docs: int) -> tuple[bool, str]:
    """Every non-empty bucket is committed once and the committed doc
    counts add up to the input."""
    from pyspark.sql import functions as F

    from deepseek_ocr_api_rs_spark.operators.checkpoint import manifest_path

    rows = spark.read.parquet(manifest_path(ckpt_dir)).groupBy("bucket").agg(
        F.count("*").alias("commits"), F.sum("n_docs").alias("n")
    ).collect()
    if any(r.commits != 1 for r in rows):
        return False, "a bucket was committed twice"
    total = sum(r.n for r in rows)
    return total == n_docs, f"manifest counts {total} docs, input has {n_docs}"


# --------------------------------------------------------------- workloads


def _prepare(args, run, trace, result, warm_docs: int):
    """Set-up, the seeded input, and one untimed bulk job over the first
    ``warm_docs`` of it (or all of it when ``warm_docs`` is 0), so the JIT
    and the per-plan code generation are warm before timing."""
    with H.phase("set-up"):
        spark, setup = H.build_spark(run, trace)
    result.put("setup_s", H.median(setup), "s", len(setup))
    start_id = H.seed_start_id(args.seed)
    with H.phase("inputs and warm-up"):
        docs = H.write_corpus(run.sub("docs"), args.n_docs, start_id)
        warm = docs
        if warm_docs:
            warm = H.write_corpus(run.sub("warm_docs"), warm_docs, start_id + args.n_docs)
        bulk_job(spark, warm, run.sub("warm_out"))
    return spark, docs, start_id


def _timed_loop(args, spark, op) -> tuple[list[float], list[float], list[float], float, list]:
    """Repeat ``op(i)`` until ``--seconds`` have passed and ``MIN_REPS``
    repetitions ran. Returns per-op wall, JVM CPU and Python-worker CPU, the peak RSS of
    the JVM tree, and what each op returned."""
    walls, jvm_cpu, py_cpu, outs = [], [], [], []
    with H.phase("timed region"), H.ProcSampler(H.jvm_pids()) as sampler:
        deadline = time.perf_counter() + args.seconds
        while len(walls) < MIN_REPS or time.perf_counter() < deadline:
            j0, p0 = H.spark_cpu_seconds()
            t0 = time.perf_counter()
            outs.append(op(len(walls)))
            walls.append(time.perf_counter() - t0)
            j1, p1 = H.spark_cpu_seconds()
            jvm_cpu.append(j1 - j0)
            py_cpu.append(p1 - p0)
    return walls, jvm_cpu, py_cpu, sampler.peak_mb, outs


def _put_common(result, n_docs, walls, jvm_cpu, py_cpu, peak_mb) -> None:
    n = len(walls)
    result.put("wall_s", H.median(walls), "s", n)
    result.put("docs_per_s", n_docs * n / sum(walls), "docs/s", n)
    result.put("cpu_s", H.median([a + b for a, b in zip(jvm_cpu, py_cpu)]), "s", n)
    result.put("proc.peak_rss_mb", peak_mb, "MiB")
    result.put("proc.jvm_cpu_s", H.median(jvm_cpu), "s", n)
    result.put("proc.python_cpu_s", H.median(py_cpu), "s", n)


def run_bulk(args, run, trace, result) -> None:
    spark, docs, start_id = _prepare(args, run, trace, result, args.warm_docs)
    walls, jvm_cpu, py_cpu, peak, _ = _timed_loop(
        args, spark, lambda i: bulk_job(spark, docs, run.sub(f"out{i}"))
    )
    _put_common(result, args.n_docs, walls, jvm_cpu, py_cpu, peak)

    n_in, urls = input_url_digest(spark, docs)
    first = None
    for i in range(len(walls)):
        d = output_digest(spark, run.sub(f"out{i}"))
        first = first or d
        ok = result.check("bulk.rows_match_input", d[0] == n_in and d[3] == urls,
                          f"job {i}: {d[0]} rows for {n_in} docs")
        ok &= result.check("bulk.repetitions_agree", d == first, f"job {i} digest differs")
        if i == 0:
            ok &= result.check("bulk.reference_sample",
                               *reference_sample_check(spark, run.sub("out0"), args.n_docs, start_id))
        result.op(ok)
    if trace.enabled:
        _trace_bulk(args, run, trace, result, spark, docs, walls[-1])
    H.stop_spark()


def run_resumable(args, run, trace, result) -> None:
    # the warm-up is the bulk pipeline over the same input: its output is
    # the row-for-row expectation for every cycle
    spark, docs, start_id = _prepare(args, run, trace, result, 0)

    def cycle(i):
        return resumable_cycle(spark, docs, run.sub(f"rout{i}"), run.sub(f"rckpt{i}"))

    walls, jvm_cpu, py_cpu, peak, outs = _timed_loop(args, spark, cycle)
    _put_common(result, args.n_docs, walls, jvm_cpu, py_cpu, peak)
    result.put("resume_s", H.median([o[3] for o in outs]), "s", len(outs))

    n_in, urls = input_url_digest(spark, docs)
    expected = output_digest(spark, run.sub("warm_out"))
    result.check("bulk.rows_match_input", expected[0] == n_in and expected[3] == urls,
                 f"bulk: {expected[0]} rows for {n_in} docs")
    for i, (first, _second, _k, _r) in enumerate(outs):
        ok = result.check("resumable.killed_at_half", first == N_BUCKETS // 2,
                          f"killed run committed {first} buckets")
        ok &= result.check("resumable.matches_bulk",
                           output_digest(spark, run.sub(f"rout{i}")) == expected,
                           f"cycle {i} output differs from the bulk output")
        ok &= result.check("resumable.manifest",
                           *manifest_check(spark, run.sub(f"rckpt{i}"), args.n_docs))
        if i == 0:
            ok &= result.check("resumable.reference_sample",
                               *reference_sample_check(spark, run.sub("rout0"), args.n_docs, start_id))
        result.op(ok)
    if trace.enabled:
        _trace_resumable(args, run, trace, result, spark, docs, walls[-1])
    H.stop_spark()


# ----------------------------------------------------------------- tracing


def _leg(spark, trace, name: str, action) -> list[H.JobRow]:
    """Run one leg in its own job group; returns its Spark jobs."""
    with H.job_group(spark, name), trace.span(name):
        action()
    H.settle(spark)
    jobs = H.jobs_by_group(spark, {name})
    H.add_job_spans(trace, jobs, trace.named(name)[-1].span_id)
    return jobs


def _stages(jobs: list[H.JobRow]) -> list[H.StageRow]:
    return [s for j in jobs for s in j.stages]


def _layer_legs(args, run, trace, result, spark, docs: str, out_path: str) -> None:
    """Scan-only, exchange (scan + url-hash exchange + identity mapInPandas)
    and write-only legs, plus partition skew."""
    from pyspark.sql import functions as F

    from deepseek_ocr_api_rs_spark.operators.partitioning import repartition_by_url
    from deepseek_ocr_api_rs_spark.sources.io import read_documents

    def projected():
        return read_documents(spark, docs).select(*EXTRACT_INPUT_COLS)

    # hashing every column makes the reader decode all of it (a noop sink
    # lets the vectorized reader skip columns nobody reads)
    scan = _stages(_leg(spark, trace, "scan.leg", lambda: projected().agg(
        F.bit_xor(F.xxhash64(*EXTRACT_INPUT_COLS))).collect()))
    result.put("scan.bytes_read", H.parquet_column_bytes(docs, EXTRACT_INPUT_COLS), "B")
    result.put("scan.tasks", sum(s.tasks for s in scan if s.input_records), "count")
    result.put("scan.leg_s", trace.total("scan.leg"), "s")

    parts = H.shuffle_partitions()
    ex = _stages(_leg(spark, trace, "exchange.leg", lambda: repartition_by_url(projected(), parts)
                      .mapInPandas(_identity, projected().schema)
                      .write.format("noop").mode("overwrite").save()))
    result.put("exchange.shuffle_write_bytes", sum(s.shuffle_write_bytes for s in ex), "B")
    result.put("exchange.shuffle_read_bytes", sum(s.shuffle_read_bytes for s in ex), "B")
    result.put("exchange.leg_s", trace.total("exchange.leg"), "s")
    rows = [r[1] for r in repartition_by_url(projected(), parts)
            .groupBy(F.spark_partition_id()).count().collect()]
    rows += [0] * (parts - len(rows))
    result.put("exchange.skew", max(rows) / max(H.median(rows), 1), "ratio")

    _leg(spark, trace, "write.leg", lambda: spark.read.parquet(out_path)
         .select(*OUTPUT_COLS).write.mode("overwrite").parquet(run.sub("write_leg")))
    out_bytes, files = H.dir_bytes(out_path, ".parquet")
    result.put("write.output_bytes", out_bytes, "B")
    result.put("write.files", files, "count")
    result.put("write.stage_s", trace.total("write.leg"), "s")


def _udf_metrics(result, spark, stages: list[H.StageRow], py_cpu: float) -> None:
    """The extraction UDF runs in the stages that write the output."""
    udf = [s for s in stages if s.output_bytes > 0]
    tasks = [t for s in udf for t in H.task_rows(spark, s)]
    secs = [t[0] for t in tasks]
    result.put("udf.stage_s", sum(s.end - s.start for s in udf), "s", len(udf))
    result.put("udf.executor_run_s", sum(s.run_s for s in udf), "s")
    result.put("udf.python_cpu_s", py_cpu, "s")
    result.put("udf.tasks", len(tasks), "count")
    result.put("udf.task_p50_s", H.median(secs) if secs else 0.0, "s", len(secs))
    result.put("udf.task_max_s", max(secs, default=0.0), "s", len(secs))
    # derived from each task's rows: Arrow hands the UDF at most
    # arrow_batch_rows rows per batch (an upper bound when the scan filters)
    per_batch = arrow_batch_rows(spark)
    result.put("udf.arrow_batches", sum(-(-rows // per_batch) for _s, rows in tasks), "count")


def _conf_metrics(trace, result) -> None:
    result.put("conf.session_s", H.median([s.seconds for s in trace.named("conf.session")]), "s")
    result.put("conf.worker_warm_s", H.median([s.seconds for s in trace.named("conf.worker_warm")]), "s")


def _kernel_docs(args, docs: str) -> list:
    import pyarrow.parquet as pq

    return pq.read_table(docs, columns=["html"]).column("html").to_pylist()[: args.kernel_docs]


def _trace_bulk(args, run, trace, result, spark, docs, untraced_wall) -> None:
    _conf_metrics(trace, result)
    out = run.sub("traced_out")
    p0 = H.spark_cpu_seconds()[1]
    jobs = _leg(spark, trace, "extract_bulk.job", lambda: bulk_job(spark, docs, out))
    py_cpu = H.spark_cpu_seconds()[1] - p0
    job_span = trace.named("extract_bulk.job")[-1]
    _udf_metrics(result, spark, _stages(jobs), py_cpu)
    _layer_legs(args, run, trace, result, spark, docs, out)
    _finish_trace(args, trace, result, spark, docs, job_span, untraced_wall)


def _trace_resumable(args, run, trace, result, spark, docs, untraced_wall) -> None:
    from deepseek_ocr_api_rs_spark.operators import checkpoint as C
    from deepseek_ocr_api_rs_spark.operators import extract as E

    _conf_metrics(trace, result)
    sc = spark.sparkContext

    def group(name):
        return lambda: sc.setJobGroup(name, name)

    def scoped(name):
        return lambda: H.job_group(spark, name)

    # Job groups tell the legs of the cycle apart: each run of
    # run_resumable_extraction starts in "plan" (its distinct-bucket scan);
    # extract_documents marks the start of a bucket, whose write and
    # read-back jobs follow it; manifest reads and commits get their own.
    p0 = H.spark_cpu_seconds()[1]
    with trace.span("extract_resumable.cycle"), \
            trace.patched(C, "run_resumable_extraction", "checkpoint.run",
                          before=group("checkpoint.plan")), \
            trace.patched(C, "committed_buckets", "checkpoint.resume_lookup",
                          around=scoped("checkpoint.resume_lookup")), \
            trace.patched(C, "commit_bucket", "checkpoint.commit",
                          around=scoped("checkpoint.commit")), \
            trace.patched(E, "extract_documents", "checkpoint.bucket",
                          before=group("checkpoint.bucket")), \
            H.job_group(spark, "checkpoint.plan"):
        cycle = resumable_cycle(spark, docs, run.sub("traced_rout"), run.sub("traced_rckpt"))
    py_cpu = H.spark_cpu_seconds()[1] - p0
    H.settle(spark)
    groups = ["checkpoint.plan", "checkpoint.resume_lookup", "checkpoint.bucket",
              "checkpoint.commit"]
    jobs = {g: H.jobs_by_group(spark, {g}) for g in groups}
    cycle_span = trace.named("extract_resumable.cycle")[-1]
    H.add_job_spans(trace, [j for g in groups for j in jobs[g]], cycle_span.span_id)

    bucket_stages = _stages(jobs["checkpoint.bucket"])
    # bucket jobs that write output scan the documents; the others read
    # the bucket back for its manifest statistics
    writes = [j for j in jobs["checkpoint.bucket"] if any(s.output_bytes for s in j.stages)]
    reads = [j for j in jobs["checkpoint.bucket"] if j not in writes]
    _udf_metrics(result, spark, bucket_stages, py_cpu)
    _layer_legs(args, run, trace, result, spark, docs, run.sub("traced_rout"))
    # rows, not bytes: Spark's input-bytes metric misses vectored reads
    docs_rows = sum(s.input_records for s in _stages(writes) + _stages(jobs["checkpoint.plan"]))
    result.put("checkpoint.bucket_jobs", len(trace.named("checkpoint.bucket")), "count")
    result.put("checkpoint.scan_amplification", docs_rows / args.n_docs, "ratio")
    result.put("checkpoint.readback_rows", sum(s.input_records for s in _stages(reads)), "count")
    result.put("checkpoint.commit_s", trace.total("checkpoint.commit"), "s")
    result.put("checkpoint.resume_lookup_s", trace.total("checkpoint.resume_lookup"), "s")
    result.put("checkpoint.resume_s", cycle[3], "s")
    _finish_trace(args, trace, result, spark, docs, cycle_span, untraced_wall)


def _finish_trace(args, trace, result, spark, docs, op_span, untraced_wall) -> None:
    """``untraced_wall`` is the last untraced repetition: the earlier ones
    are slower while the JIT warms up, which would read as negative
    overhead."""
    measure_kernel(_kernel_docs(args, docs), trace, result, arrow_batch_rows(spark))
    result.put("trace.overhead_s", op_span.seconds - untraced_wall, "s")
    result.put("trace.unattributed_s", trace.unattributed_seconds(op_span), "s")
