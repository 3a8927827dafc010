"""The extraction kernel (``extraction.batch.extract_batch``) run in the
benchmark process on one core, timed whole and stage by stage.

Stage spans come from wrapping, for the traced pass only, the functions the
kernel calls through module attributes; the kernel itself is unchanged."""

from __future__ import annotations

import time
from contextlib import ExitStack

from perfbench.harness import Result, Trace

STAGES = [
    # (module, attribute, span/metric stem)
    ("charset", "route_decode", "route_decode"),
    ("batch", "segment_html", "segment_html"),
    ("batch", "_pool_features", "pool_features"),
    ("features", "score_matrix", "score"),
    ("batch", "_smooth_accept_pooled", "smooth"),
    ("batch", "normalize_text", "normalize"),
    ("markdown", "markdown_blocks", "markdown"),
    ("batch", "parse_pdf_payload", "pdf_parse"),
    ("batch", "assemble_pdf_text", "pdf_assemble"),
]

BRANCHES = ("html", "pdf", "text", "error")


def arrow_batch_rows(spark) -> int:
    """The most rows the session hands the UDF per Arrow batch, as the
    program's session configures it."""
    return int(spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))


def measure_kernel(payloads: list, trace: Trace, result: Result, batch_docs: int) -> None:
    """Put the ``kernel.*`` layer metrics for ``payloads``, fed to the
    kernel ``batch_docs`` at a time, into ``result``."""
    from deepseek_ocr_api_rs_spark.extraction import batch, charset, features, markdown

    modules = {"batch": batch, "charset": charset, "features": features,
               "markdown": markdown}
    batches = [payloads[i : i + batch_docs] for i in range(0, len(payloads), batch_docs)]
    t0 = time.perf_counter()
    outs = [batch.extract_batch(b) for b in batches]
    dt = time.perf_counter() - t0
    result.put("kernel.docs_per_s_1core", len(payloads) / dt, "docs/s", len(payloads))

    with ExitStack() as stack:
        for mod, attr, stem in STAGES:
            stack.enter_context(trace.patched(modules[mod], attr, f"kernel.{stem}"))
        for b in batches:
            with trace.span("kernel.extract_batch", docs=len(b)):
                batch.extract_batch(b)
    for _mod, _attr, stem in STAGES:
        result.put(f"kernel.{stem}_s", trace.self_total(f"kernel.{stem}"), "s")
    result.put("kernel.batch_self_s", trace.self_total("kernel.extract_batch"), "s")

    counts = {b: 0 for b in BRANCHES}
    total = accepted = 0
    for out in outs:
        for b, n in out["branch"].value_counts().items():
            counts[b] = counts.get(b, 0) + int(n)
        total += int(out["n_blocks_total"].sum())
        accepted += int(out["n_blocks_accepted"].sum())
    for b in BRANCHES:
        result.put(f"kernel.docs.{b}", counts[b], "count")
    result.put("kernel.blocks_total", total, "count")
    result.put("kernel.blocks_accepted", accepted, "count")
    result.put("kernel.accept_rate", accepted / max(total, 1), "ratio")
