"""One command that measures extraction end to end and layer by layer.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. Prints a readable summary (every metric
with its unit and sample count, the correctness checks that ran and any
failures), then, as the last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the ``end_to_end`` metrics of
BENCHMARK.json with ``--trace 0``, its ``per_layer`` metrics with
``--trace 1``. The traced run also writes its spans to ``.perfbench_spans/``.

Workloads (see perfbench/README.md for why each exists):
  extract_bulk       scan -> url-hash exchange -> extraction UDF -> parquet
  extract_resumable  run_resumable_extraction, killed at half, resumed
  serve_extract      the HTTP server under a closed loop of nproc clients
  corpus_queries     seven corpus queries over the bundled sf0.1 documents
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Input sizes per scale; "tiny" exists for the smoke test.
SCALES = {
    "full": {"n_docs": 4000, "warm_docs": 400, "kernel_docs": 2000,
             "serve_batches": 128, "queries": None},
    "tiny": {"n_docs": 400, "warm_docs": 100, "kernel_docs": 100,
             "serve_batches": 8, "queries": ("q_canonical_docs", "q_html_links")},
}

# Layers a workload does not exercise report 0 for their per-layer metrics.
NOT_EXERCISED = {
    "extract_bulk": ("checkpoint.", "server."),
    "extract_resumable": ("server.",),
    "serve_extract": ("conf.", "scan.", "exchange.", "udf.", "write.", "checkpoint."),
    "corpus_queries": ("scan.", "exchange.", "udf.", "write.", "checkpoint.",
                       "server.", "kernel."),
}


def _runner(name: str):
    from perfbench.extract import run_bulk, run_resumable
    from perfbench.queries import run_queries
    from perfbench.serve import run_serve

    return {
        "extract_bulk": run_bulk,
        "extract_resumable": run_resumable,
        "serve_extract": run_serve,
        "corpus_queries": run_queries,
    }[name]


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(NOT_EXERCISED))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=sorted(SCALES), default="full")
    args = p.parse_args(argv)
    if args.seed < 0:
        p.error("--seed must be >= 0")
    for k, v in SCALES[args.scale].items():
        setattr(args, k, v)
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import bench  # noqa: F401  (its /proc and status-store readers)
        import deepseek_ocr_api_rs_spark  # noqa: F401

        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
    except (ImportError, OSError) as e:
        print(f"perfbench: the program is not in {ROOT}: {e}", file=sys.stderr)
        return 2

    from perfbench import harness as H

    # a terminated run still stops the JVM or server, waits for every
    # process it started, and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    H.adopt_orphans()
    kind = "per_layer" if args.trace else "end_to_end"
    wanted = {m["name"]: m["unit"] for m in spec[kind]}
    run = H.RunDir()
    trace = H.Trace(bool(args.trace))
    result = H.Result()
    try:
        _runner(args.workload)(args, run, trace, result)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            H.stop_spark()
        finally:
            H.reap_children()
            run.close()

    if args.trace:
        for name, unit in wanted.items():
            if name not in result.metrics and name.startswith(NOT_EXERCISED[args.workload]):
                result.put(name, 0.0, unit)
        print(f"spans: {trace.write(args.workload, args.seed)}")
    missing = [n for n in wanted if n not in result.metrics]
    wrong_unit = [n for n, u in wanted.items() if n in result.metrics and result.metrics[n][1] != u]
    if missing or wrong_unit:
        print(f"perfbench: metrics missing {missing}, unit mismatch {wrong_unit}", file=sys.stderr)
        return 1

    print(f"workload {args.workload}  seed {args.seed}  seconds {args.seconds:g}  "
          f"trace {args.trace}  scale {args.scale}  cores {H.cores()}  "
          f"shuffle partitions {H.shuffle_partitions()}")
    print("\n".join(result.summary_lines()))
    print(f"  {'failed_frac':<36} {result.failed / max(result.attempted, 1):>14.6g} ratio"
          f"    n={result.attempted}")
    print(f"checks run: {', '.join(result.checks)}")
    for f in result.failures:
        print(f"FAILED {f}")
    names = list(wanted)
    if args.workload == "corpus_queries" and args.trace:
        names += sorted(n for n in result.metrics if n.startswith("q."))
    print(result.final_line(names))
    return 0


if __name__ == "__main__":
    sys.exit(main())
