"""Shared machinery of the benchmark: run directories, Spark set-up, seeded
inputs, the /proc process-tree sampler, the Spark status-store reader,
in-memory spans and the statistics every workload reports.

Nothing here is imported by the program: the benchmark only calls the
program's public functions and reads what Spark and /proc record about them.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import uuid
from collections.abc import Callable, Iterator
from contextlib import AbstractContextManager as ContextManager
from contextlib import contextmanager, nullcontext
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
DATA_DIR = os.path.join(ROOT, "perfbench", "data")
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
CACHE_DIR = os.path.join(WORK_ROOT, "cache")
SPANS_DIR = os.path.join(ROOT, ".perfbench_spans")

# A seed selects one of SEED_BLOCKS disjoint blocks of fixture row ids, so
# any seed yields a reproducible corpus (seeds equal modulo SEED_BLOCKS
# share one). The fixtures stamp row r at 2024-01-01 + 137 s * r; past row
# ~5.4e7 that lies beyond 2262, which pandas' nanosecond timestamps in the
# UDF path cannot hold, so the blocks stay below 5e7.
ROWS_PER_SEED = 10_000
SEED_BLOCKS = 5_000
SETUP_REPS = 3


def cores() -> int:
    """The cores this process may run on (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


def shuffle_partitions() -> int:
    """Four partitions per core: the waves bench.py and the ROADMAP
    measurements use, so stragglers smooth out."""
    return 4 * cores()


def seed_start_id(seed: int) -> int:
    return (seed % SEED_BLOCKS) * ROWS_PER_SEED


class RunDir:
    """Scratch space of one run, inside the checkout; removed on close."""

    def __init__(self) -> None:
        self.path = os.path.join(WORK_ROOT, f"run-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(os.path.join(self.path, "tmp"))
        os.makedirs(CACHE_DIR, exist_ok=True)
        # keep every temp file (the package zip, Spark's local dirs, the
        # JVM's tmpdir) inside the checkout
        for var in ("TMPDIR", "TEMP", "TMP"):
            os.environ[var] = os.path.join(self.path, "tmp")
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(self.path, "spark-local")
        import tempfile

        tempfile.tempdir = None

    def sub(self, name: str) -> str:
        return os.path.join(self.path, name)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)


# ---------------------------------------------------------------- statistics


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else float("nan")


def percentile(xs: list[float], p: float) -> float:
    """Linear-interpolated percentile (numpy's default rule)."""
    s = sorted(xs)
    if not s:
        return float("nan")
    k = (len(s) - 1) * p / 100.0
    lo = math.floor(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def tail_percentile(n: int) -> float | None:
    """The highest of p99.9/p99/p90 that has at least ten samples beyond
    it, or None when there are too few samples for any."""
    for p in (99.9, 99.0, 90.0):
        if n * (100.0 - p) / 100.0 >= 10:
            return p
    return None


# ------------------------------------------------------------------- tracing


@dataclass
class Span:
    run_id: str
    span_id: int
    parent_id: int | None
    name: str
    start: float
    end: float
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Trace:
    """Spans kept in memory and written once, at the end of a run.

    Disabled, ``span`` costs one attribute test; the untraced run measures
    the end-to-end metrics, the traced run the per-layer ones."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack = threading.local()
        self._next = 0
        self._lock = threading.Lock()

    def _parents(self) -> list[int]:
        if not hasattr(self._stack, "ids"):
            self._stack.ids = []
        return self._stack.ids

    @contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict]:
        if not self.enabled:
            yield attrs
            return
        parents = self._parents()
        with self._lock:
            self._next += 1
            sid = self._next
        parent = parents[-1] if parents else None
        parents.append(sid)
        start = time.time()
        try:
            yield attrs
        finally:
            parents.pop()
            end = time.time()
            with self._lock:
                # the yielded dict itself, so callers can annotate the span
                self.spans.append(Span(self.run_id, sid, parent, name, start, end, attrs))

    def add(self, name: str, start: float, end: float, parent: int | None,
            sid: int | None = None, **attrs) -> int:
        """Record a span measured elsewhere (a Spark stage or job)."""
        with self._lock:
            if sid is None:
                self._next += 1
                sid = self._next
            self.spans.append(Span(self.run_id, sid, parent, name, start, end, attrs))
        return sid

    @contextmanager
    def patched(self, target: object, attr: str, name: str,
                before: Callable[[], None] | None = None,
                around: Callable[[], ContextManager] | None = None) -> Iterator[None]:
        """Replace ``target.attr`` by a wrapper that records a span per call;
        ``before`` runs ahead of each call and ``around`` wraps it. The
        original is restored on exit."""
        orig = getattr(target, attr)

        def wrapper(*a, **kw):
            if before is not None:
                before()
            with around() if around is not None else nullcontext(), self.span(name):
                return orig(*a, **kw)

        setattr(target, attr, wrapper)
        try:
            yield
        finally:
            setattr(target, attr, orig)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.named(name))

    def self_seconds(self, span: Span) -> float:
        """Span time minus the part of it its child spans cover."""
        kids = sorted(
            (max(c.start, span.start), min(c.end, span.end))
            for c in self.spans
            if c.parent_id == span.span_id
        )
        return span.seconds - _union_length(kids)

    def unattributed_seconds(self, span: Span) -> float:
        """Span time that no layer accounts for: what the Spark jobs and
        the innermost program spans below it leave uncovered. A span that
        only wraps others (a whole ``run_resumable_extraction`` call)
        accounts for nothing itself, so driver time between its jobs,
        commits and lookups shows here."""
        kids: dict[int | None, list[Span]] = {}
        for s in self.spans:
            kids.setdefault(s.parent_id, []).append(s)
        covered, frontier = [], list(kids.get(span.span_id, []))
        while frontier:
            s = frontier.pop()
            if s.name.startswith("spark.job") or s.span_id not in kids:
                covered.append((max(s.start, span.start), min(s.end, span.end)))
            else:
                frontier.extend(kids[s.span_id])
        return span.seconds - _union_length(covered)

    def self_total(self, name: str) -> float:
        return sum(self.self_seconds(s) for s in self.named(name))

    def write(self, workload: str, seed: int) -> str:
        os.makedirs(SPANS_DIR, exist_ok=True)
        path = os.path.join(SPANS_DIR, f"{workload}-seed{seed}-{self.run_id}.jsonl")
        with open(path, "w") as fh:
            for s in sorted(self.spans, key=lambda s: (s.start, s.span_id)):
                fh.write(json.dumps(s.__dict__) + "\n")
        return path


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(intervals):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


# ------------------------------------------------------ process-tree sampler


def _proc_table() -> dict[int, tuple[int, str, int, int, int]]:
    """pid -> (ppid, comm, own CPU ticks, reaped-children CPU ticks, rss
    pages) for every process."""
    out = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                raw = fh.read().decode("latin-1")
        except OSError:
            continue
        rp = raw.rindex(")")
        comm = raw[raw.index("(") + 1 : rp]
        f = raw[rp + 2 :].split()
        # f[1]=ppid, f[11..14]=utime stime cutime cstime, f[21]=rss (pages)
        out[int(entry)] = (int(f[1]), comm, int(f[11]) + int(f[12]),
                           int(f[13]) + int(f[14]), int(f[21]))
    return out


PR_SET_CHILD_SUBREAPER = 36


def adopt_orphans() -> None:
    """Become the reaper of every process this one starts, directly or not.

    The PySpark daemon outlives the JVM that starts it, and its workers
    outlive the daemon; without this they are reparented to init and may
    still be running when the benchmark exits. With it they are reparented
    here, so ``reap_children`` can wait for them."""
    import ctypes

    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace: float = 30.0) -> None:
    """Wait until every child, adopted orphans included, has exited and been
    reaped. Children get ``grace`` seconds to exit on their own (the PySpark
    daemon does once the JVM is gone), then SIGTERM, then SIGKILL."""
    import signal
    from multiprocessing import resource_tracker

    # the semaphore tracker of the spawn pool would otherwise wait for this
    # process to exit
    resource_tracker._resource_tracker._stop()
    me = os.getpid()
    deadline = time.monotonic() + grace
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        if time.monotonic() > deadline:
            for pid, row in _proc_table().items():
                if row[0] == me:
                    try:
                        os.kill(pid, sig)
                    except ProcessLookupError:
                        pass
            sig = signal.SIGKILL
            deadline = time.monotonic() + 5.0
        time.sleep(0.02)


def _descendants(table: dict, roots: list[int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, row in table.items():
        children.setdefault(row[0], []).append(pid)
    seen, frontier = [], list(roots)
    while frontier:
        pid = frontier.pop()
        if pid in table:
            seen.append(pid)
            frontier.extend(children.get(pid, []))
    return seen


def jvm_pids() -> list[int]:
    """The Spark driver JVM(s): java children of this process."""
    me = os.getpid()
    return [p for p, row in _proc_table().items() if row[0] == me and row[1] == "java"]


def tree_cpu_seconds(roots: list[int]) -> tuple[float, float]:
    """(CPU of ``roots`` themselves, CPU of everything below them).

    Below counts live descendants and every reaped one: each live process's
    own time plus the time of the children it has reaped (a worker reaped
    by the PySpark daemon lands in the daemon's children time)."""
    hz = os.sysconf("SC_CLK_TCK")
    table = _proc_table()
    tree = _descendants(table, roots)
    own = sum(table[p][2] for p in roots if p in table)
    total = sum(table[p][2] + table[p][3] for p in tree)
    return own / hz, (total - own) / hz


class ProcSampler:
    """Peak RSS of the program's process tree, sampled from /proc on a
    background thread, plus CPU readings split into JVM and Python workers.

    ``roots`` are the program's top processes (the JVM, or the server);
    every live descendant counts towards RSS."""

    def __init__(self, roots: list[int], interval: float = 0.1) -> None:
        self.roots = roots
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _sample(self) -> None:
        table = _proc_table()
        rss = sum(table[p][4] for p in _descendants(table, self.roots)) * self._page
        self.peak_bytes = max(self.peak_bytes, rss)

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> ProcSampler:
        self._sample()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=5)
        self._sample()

    @property
    def peak_mb(self) -> float:
        return self.peak_bytes / (1024 * 1024)


def spark_cpu_seconds() -> tuple[float, float]:
    """(JVM CPU, Python-worker CPU) of the Spark program, cumulative.

    bench._python_worker_cpu_seconds is not reused here: it misses workers
    the PySpark daemon has reaped, so its deltas go negative once idle
    workers are retired mid-run."""
    return tree_cpu_seconds(jvm_pids())


@contextmanager
def phase(name: str) -> Iterator[None]:
    """Log how long a phase of the run took, on stderr."""
    t0 = time.perf_counter()
    try:
        yield
    finally:
        print(f"perfbench: {name} took {time.perf_counter() - t0:.1f} s", file=sys.stderr)


# ------------------------------------------------------------- Spark set-up


def _warm(batches):
    import numpy  # noqa: F401  the kernel's heavy imports, once per worker

    from deepseek_ocr_api_rs_spark.extraction import batch  # noqa: F401

    yield from batches


def build_spark(run: RunDir, trace: Trace, reps: int = SETUP_REPS):
    """Set the program's session up ``reps`` times; returns the last
    session and the set-up seconds of each.

    One set-up is ``conf.build_session`` plus a first action and a Python
    worker warm-up (every worker imports the kernel). The first set-up
    starts the JVM; the others stop the session and build it again in the
    same JVM, which is what the median reports."""
    from pyspark import cloudpickle

    from deepseek_ocr_api_rs_spark.conf import build_session

    extra = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run.path, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run.path, "warehouse"),
        # PerfDisableSharedMem: no /tmp/hsperfdata file outside the checkout
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run.path, 'tmp')} "
            f"-Dderby.system.home={os.path.join(run.path, 'derby')} "
            "-XX:+PerfDisableSharedMem"
        ),
    }
    # the benchmark's own UDFs live in this package, which Python workers
    # need not be able to import: ship them by value
    cloudpickle.register_pickle_by_value(sys.modules["perfbench"])
    spark = None
    samples = []
    for _ in range(reps):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with trace.span("conf.session"):
            spark = build_session(
                app_name="perfbench",
                master=f"local[{cores()}]",
                shuffle_partitions=shuffle_partitions(),
                extra_conf=extra,
            )
            spark.sparkContext.setLogLevel("ERROR")
            spark.range(1000).selectExpr("sum(id)").collect()
        with trace.span("conf.worker_warm"):
            n = shuffle_partitions()
            spark.range(n * 4).repartition(n).mapInPandas(_warm, "id long").count()
        samples.append(time.perf_counter() - t0)
    return spark, samples


def stop_spark() -> None:
    """Stop the active session and its JVM, and wait until the JVM has
    exited (its Python workers exit with it). Safe to call twice."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _make_docs(span: tuple[int, int]):
    from deepseek_ocr_api_rs_spark.fixtures.corpus import make_documents

    return make_documents(span[1], start_id=span[0])


def make_corpus(n_docs: int, start_id: int, rows_per_chunk: int = 500) -> Iterator:
    """Rows [start_id, start_id + n_docs) of the fixture corpus
    (``fixtures.corpus.make_documents``, seeded per row), as DataFrames of
    ``rows_per_chunk`` rows generated by one process per core."""
    import multiprocessing

    spans = [(start_id + s, min(rows_per_chunk, n_docs - s))
             for s in range(0, n_docs, rows_per_chunk)]
    with multiprocessing.get_context("spawn").Pool(min(cores(), len(spans))) as pool:
        yield from pool.imap(_make_docs, spans)


def write_corpus(path: str, n_docs: int, start_id: int) -> str:
    """Write the corpus rows as parquet files of 500 rows each. The program
    only ever receives the written files."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema([
        ("url", pa.string()),
        ("warc_ts", pa.timestamp("us", tz="UTC")),
        ("html", pa.binary()),
        ("text", pa.string()),
        ("lang", pa.string()),
    ])
    os.makedirs(path)
    for i, frame in enumerate(make_corpus(n_docs, start_id)):
        table = pa.Table.from_pandas(frame, schema=schema, preserve_index=False)
        pq.write_table(table, os.path.join(path, f"part-{i:05d}.parquet"))
    return path


def parquet_column_bytes(path: str, columns: list[str]) -> int:
    """On-disk (compressed) bytes of ``columns`` in the parquet files under
    ``path``: what a scan projecting them reads. Spark's own input-bytes
    metric misses the reader's vectored reads, so it is not used."""
    import pyarrow.parquet as pq

    total = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(root, n)).metadata
            for rg in range(md.num_row_groups):
                for c in range(md.num_columns):
                    col = md.row_group(rg).column(c)
                    if col.path_in_schema in columns:
                        total += col.total_compressed_size
    return total


def dir_bytes(path: str, suffix: str = "") -> tuple[int, int]:
    """(bytes, files) of the data files under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")) or not n.endswith(suffix):
                continue
            total += os.path.getsize(os.path.join(root, n))
            files += 1
    return total, files


# ------------------------------------------------------ Spark status store


@dataclass
class StageRow:
    stage_id: int
    attempt: int
    status: str
    start: float | None
    end: float | None
    tasks: int
    run_s: float
    cpu_s: float
    input_records: int
    output_bytes: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


@dataclass
class JobRow:
    job_id: int
    group: str | None
    start: float | None
    end: float | None
    stages: list[StageRow]


def _opt_time(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def settle(spark) -> None:
    """Wait until the async listener has recorded every finished stage."""
    from bench import _settled_cum_task_seconds

    _settled_cum_task_seconds(spark)


def jobs_by_group(spark, groups: set[str] | None = None) -> list[JobRow]:
    """Jobs (with their stages) that Spark's status store holds, optionally
    only those of the given job groups, in submission order."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    stage_list = store.stageList(
        gw.jvm.java.util.ArrayList(), False, False,
        gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
    )
    stages: dict[int, list[StageRow]] = {}
    for i in range(stage_list.size()):
        s = stage_list.apply(i)
        row = StageRow(
            stage_id=s.stageId(),
            attempt=s.attemptId(),
            status=str(s.status()),
            start=_opt_time(s.submissionTime()),
            end=_opt_time(s.completionTime()),
            tasks=s.numTasks(),
            run_s=s.executorRunTime() / 1e3,
            cpu_s=s.executorCpuTime() / 1e9,
            input_records=s.inputRecords(),
            output_bytes=s.outputBytes(),
            shuffle_read_bytes=s.shuffleReadBytes(),
            shuffle_write_bytes=s.shuffleWriteBytes(),
            spill_bytes=s.memoryBytesSpilled() + s.diskBytesSpilled(),
        )
        stages.setdefault(row.stage_id, []).append(row)
    job_list = store.jobsList(gw.jvm.java.util.ArrayList())
    jobs = []
    for i in range(job_list.size()):
        j = job_list.apply(i)
        g = j.jobGroup()
        group = g.get() if g.isDefined() else None
        if groups is not None and group not in groups:
            continue
        ids = j.stageIds()
        rows = [
            r
            for k in range(ids.size())
            for r in stages.get(ids.apply(k), [])
            if r.status != "SKIPPED"
        ]
        jobs.append(JobRow(j.jobId(), group, _opt_time(j.submissionTime()),
                           _opt_time(j.completionTime()), rows))
    return sorted(jobs, key=lambda j: j.job_id)


def task_rows(spark, stage: StageRow) -> list[tuple[float, int]]:
    """(seconds, rows read) of each finished task of ``stage``; rows are
    shuffle records when the task reads a shuffle, else input records."""
    store = spark.sparkContext._jsc.sc().statusStore()
    tl = store.taskList(stage.stage_id, stage.attempt, 1 << 20)
    out = []
    for i in range(tl.size()):
        t = tl.apply(i)
        d, m = t.duration(), t.taskMetrics()
        if not (d.isDefined() and m.isDefined()):
            continue
        m = m.get()
        rows = m.shuffleReadMetrics().recordsRead() or m.inputMetrics().recordsRead()
        out.append((d.get() / 1e3, rows))
    return out


@contextmanager
def job_group(spark, group: str) -> Iterator[None]:
    sc = spark.sparkContext
    prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        if prev is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(prev, prev)


def add_job_spans(trace: Trace, jobs: list[JobRow], parent: int | None) -> None:
    """Record each Spark job, and its stages, as spans under ``parent``."""
    for j in jobs:
        if j.start is None or j.end is None:
            continue
        jid = trace.add(f"spark.job[{j.group}]", j.start, j.end, parent, job_id=j.job_id)
        for s in j.stages:
            if s.start is not None and s.end is not None:
                trace.add("spark.stage", s.start, s.end, jid, stage_id=s.stage_id)


# ------------------------------------------------------------------ results


@dataclass
class Result:
    """What a workload run reports: the final JSON line plus a readable
    summary with units and sample counts.

    ``attempted``/``failed`` count operations (jobs, kill-and-resume
    cycles, requests, queries); an operation fails when it raises or when
    any correctness check of its output fails."""

    attempted: int = 0
    failed: int = 0
    checks: list[str] = field(default_factory=list)
    failures: list[str] = field(default_factory=list)
    metrics: dict[str, tuple[float, str]] = field(default_factory=dict)
    samples: dict[str, int] = field(default_factory=dict)

    def check(self, name: str, ok: bool, detail: str = "") -> bool:
        """Record that a correctness check ran, and its outcome."""
        if name not in self.checks:
            self.checks.append(name)
        if not ok:
            self.failures.append(f"{name}: {detail}" if detail else name)
        return ok

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += not ok

    def put(self, name: str, value: float, unit: str, n: int | None = None) -> None:
        self.metrics[name] = (float(value), unit)
        if n is not None:
            self.samples[name] = n

    def final_line(self, names: list[str]) -> str:
        return json.dumps(
            {
                "correct": self.failed == 0 and not self.failures,
                "attempted": self.attempted,
                "failed": self.failed,
                "metrics": {
                    k: {"value": self.metrics[k][0], "unit": self.metrics[k][1]}
                    for k in names
                },
            }
        )

    def summary_lines(self) -> list[str]:
        lines = []
        for k, (v, unit) in sorted(self.metrics.items()):
            n = self.samples.get(k)
            lines.append(f"  {k:<36} {v:>14.6g} {unit:<8}" + (f" n={n}" if n else ""))
        return lines
