"""The ``serve_extract`` workload: the HTTP server as a subprocess, driven by
a closed loop of one client thread per core, each POSTing fixed-size batches
of seeded documents to ``/v1/extract`` and waiting for the reply before
sending the next.

Every response must equal ``extraction.batch.extract_batch`` run in this
process on the same documents (the default recipe's framing is the text
itself)."""

from __future__ import annotations

import base64
import hashlib
import http.client
import json
import os
import socket
import subprocess
import sys
import threading
import time

from perfbench import harness as H
from perfbench.kernel import measure_kernel

# Documents per request. Nothing in the program fixes a request size, so it
# is set from the reference figures for this workload (nproc clients:
# 600-750 docs/s at p50 69-86 ms). By Little's law a closed loop of c
# clients moves c * BATCH_DOCS / latency docs/s, which puts the reference
# batch at 10-16 documents; 16 reproduces its p50 on a 4-core x86 box
# (86 ms, 569 docs/s), 8 halves it (45 ms).
BATCH_DOCS = 16
WARM_BATCHES = 16
# A server set-up is well under a second, so the median takes more of them
# than a Spark set-up's: with three its spread over seeds was ~0.27.
SETUP_REPS = 9
TRACED_SECONDS = 3.0
# The timed region is cut into windows of about this length and the
# end-to-end figures are medians over windows, so a slow spell of the host
# that covers a minority of the windows does not move them.
WINDOW_S = 2.0


def _free_port() -> int:
    with socket.socket() as s:
        s.bind(("127.0.0.1", 0))
        return s.getsockname()[1]


def _request(port: int, method: str, path: str, body: bytes | None = None) -> tuple[int, bytes]:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    try:
        conn.request(method, path, body=body, headers={"Content-Type": "application/json"})
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


class Server:
    """``python -m deepseek_ocr_api_rs_spark.server.app PORT`` as a child."""

    def __init__(self) -> None:
        self.port = _free_port()
        env = dict(os.environ, PYTHONPATH=H.ROOT)
        self.proc = subprocess.Popen(
            [sys.executable, "-m", "deepseek_ocr_api_rs_spark.server.app", str(self.port)],
            cwd=H.ROOT, env=env, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
        )

    def wait_healthy(self, timeout: float = 60.0) -> None:
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            if self.proc.poll() is not None:
                raise RuntimeError(f"server exited with {self.proc.returncode}")
            try:
                if _request(self.port, "GET", "/health")[0] == 200:
                    return
            except OSError:
                pass
            time.sleep(0.01)
        raise RuntimeError("server did not answer /health")

    def close(self) -> None:
        self.proc.terminate()
        try:
            self.proc.wait(timeout=10)
        except subprocess.TimeoutExpired:
            self.proc.kill()
            self.proc.wait()


def _results_digest(results: list[dict]) -> str:
    return hashlib.sha256(json.dumps(results, sort_keys=True).encode()).hexdigest()


def _response_digest(raw: bytes) -> str | None:
    try:
        return _results_digest(json.loads(raw)["results"])
    except (ValueError, KeyError, TypeError):
        return None


def _expected(batch: list[tuple[str, bytes]]) -> tuple[str, float]:
    """Digest of what /v1/extract must answer for ``batch``, and the
    seconds ``extract_batch`` took on it here."""
    from deepseek_ocr_api_rs_spark.extraction.batch import extract_batch

    t0 = time.perf_counter()
    out = extract_batch([html for _url, html in batch])
    dt = time.perf_counter() - t0
    rows = [
        {
            "url": url,
            "branch": out.branch[i],
            "extracted_text": out.extracted_text[i],
            "n_chars": int(out.n_chars[i]),
            "n_blocks_total": int(out.n_blocks_total[i]),
            "n_blocks_accepted": int(out.n_blocks_accepted[i]),
            "truncated": bool(out.truncated[i]),
        }
        for i, (url, _html) in enumerate(batch)
    ]
    return _results_digest(rows), dt


def _client_loop(port, bodies, offset, deadline, out, trace) -> None:
    """One closed-loop client. A request's latency ends when its response
    body has been read; responses are checked after the timed region, so
    the clients spend the loop waiting on sockets, not parsing."""
    i = offset
    while time.perf_counter() < deadline:
        b = i % len(bodies)
        i += 1
        t0 = time.perf_counter()
        with trace.span("server.request", batch=b):
            try:
                status, raw = _request(port, "POST", "/v1/extract", bodies[b])
            except OSError as e:
                status, raw = repr(e), b""
        t1 = time.perf_counter()
        out.append((t1 - t0, b, status, raw, t1))


def _closed_loop(server, bodies, seconds, trace, marks=None) -> list:
    """Run the clients for ``seconds``. Returns every request record
    (latency, batch, status, body, end time). With
    ``marks``, append (time, server CPU seconds) at the start and at every
    window boundary."""
    clients = H.cores()
    deadline = time.perf_counter() + seconds
    outs: list[list] = [[] for _ in range(clients)]
    t0 = time.perf_counter()
    threads = [
        threading.Thread(
            target=_client_loop,
            args=(server.port, bodies, c * len(bodies) // clients, deadline, outs[c], trace),
        )
        for c in range(clients)
    ]
    for t in threads:
        t.start()
    if marks is not None:
        marks.append((t0, _server_cpu(server)))
        n = max(1, int(seconds // WINDOW_S))
        for k in range(1, n + 1):
            time.sleep(max(0.0, t0 + k * seconds / n - time.perf_counter()))
            marks.append((time.perf_counter(), _server_cpu(server)))
    for t in threads:
        t.join()
    return [r for o in outs for r in o]


def _server_cpu(server) -> float:
    return sum(H.tree_cpu_seconds([server.proc.pid]))


def _per_window(recs, marks) -> tuple[list[float], list[float], list[float]]:
    """Per window between consecutive ``marks``: the median latency of the
    requests that ended in it, docs/s, and server CPU seconds per request."""
    lat, rate, cpu = [], [], []
    for (a, ca), (b, cb) in zip(marks, marks[1:]):
        ended = [r[0] for r in recs if a <= r[4] < b and r[2] == 200]
        if ended:
            lat.append(H.median(ended))
            rate.append(len(ended) * BATCH_DOCS / (b - a))
            cpu.append((cb - ca) / len(ended))
    return lat, rate, cpu


def run_serve(args, run, trace, result) -> None:
    setup = []
    for _ in range(SETUP_REPS):
        if setup:
            server.close()
        t0 = time.perf_counter()
        server = Server()
        try:
            server.wait_healthy()
        except RuntimeError:
            server.close()
            raise
        setup.append(time.perf_counter() - t0)
    result.put("setup_s", H.median(setup), "s", len(setup))
    try:
        _serve(args, trace, result, server)
    finally:
        server.close()


def _serve(args, trace, result, server) -> None:
    pairs = [
        pair
        for frame in H.make_corpus(args.serve_batches * BATCH_DOCS, H.seed_start_id(args.seed))
        for pair in zip(frame["url"], frame["html"])
    ]
    batches = [pairs[i : i + BATCH_DOCS] for i in range(0, len(pairs), BATCH_DOCS)]
    bodies = [
        json.dumps({"documents": [
            {"url": u, "html_base64": base64.b64encode(h).decode()} for u, h in b
        ]}).encode()
        for b in batches
    ]
    # warm-up, untimed
    for body in bodies[:WARM_BATCHES]:
        _request(server.port, "POST", "/v1/extract", body)

    marks: list[tuple[float, float]] = []
    with H.ProcSampler([server.proc.pid]) as sampler:
        recs = _closed_loop(server, bodies, args.seconds, H.Trace(False), marks)

    expected = [_expected(b) for b in batches]
    lat = [r[0] for r in recs]
    for _lat, b, status, raw, _end in recs:
        ok = result.check("serve.status_200", status == 200, f"status {status}")
        ok &= result.check("serve.matches_extract_batch", ok and _response_digest(raw) == expected[b][0],
                           f"batch {b} differs from extract_batch")
        result.op(ok)
    n = len(lat)
    w_lat, w_rate, w_cpu = _per_window(recs, marks)
    result.put("wall_s", H.median(w_lat), "s", len(w_lat))
    result.put("docs_per_s", H.median(w_rate), "docs/s", len(w_rate))
    result.put("cpu_s", H.median(w_cpu), "s", len(w_cpu))
    result.put("proc.peak_rss_mb", sampler.peak_mb, "MiB")
    p50 = H.median(lat) * 1e3
    result.put("latency_p50_ms", p50, "ms", n)
    tail = H.tail_percentile(n)
    if tail is not None:
        result.put(f"latency_p{tail:g}_ms", H.percentile(lat, tail) * 1e3, "ms", n)

    if trace.enabled:
        kernel_ms = H.median([e[1] for e in expected]) * 1e3
        traced = _closed_loop(server, bodies, min(args.seconds, TRACED_SECONDS), trace)
        traced_p50 = H.median([r[0] for r in traced])
        result.put("server.requests", n, "count")
        result.put("server.kernel_ms_per_req", kernel_ms, "ms", len(expected))
        result.put("server.overhead_ms", p50 - kernel_ms, "ms", n)
        result.put("server.latency_p50_ms", p50, "ms", n)
        result.put("server.latency_p99_ms", H.percentile(lat, 99.0) * 1e3, "ms", n)
        result.put("proc.jvm_cpu_s", 0.0, "s")
        result.put("proc.python_cpu_s", H.median(w_cpu), "s", len(w_cpu))
        result.put("trace.overhead_s", traced_p50 - H.median(lat), "s", len(traced))
        result.put("trace.unattributed_s", (p50 - kernel_ms) / 1e3, "s", n)
        measure_kernel([h for _u, h in pairs], trace, result, batch_docs=BATCH_DOCS)
