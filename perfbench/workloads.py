"""The three benchmark workloads.

Each workload runs in its own process on ``local[4]``, sets up (session,
inputs, untimed warm-up), runs its timed operation for ``--seconds`` (the
stream commits for that long; a headline run makes ``--seconds`` / 15
passes, at least one; a batch ingest repeats while the next one should end
within it, at least once), checks every output exactly, and fills in:

- ``e2e``: the end-to-end metrics of BENCHMARK.json (untraced runs);
- ``layer``: the per-layer metrics (traced runs; a layer the workload does
  not call reports 0);
- ``report``: the workload's named figures, printed for people.

See perfbench/README.md for every definition.
"""

from __future__ import annotations

import json
import os
import re
import resource
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from urllib.parse import urlparse

from pyspark.sql.streaming import StreamingQueryListener

import checks
import timeline as tl
from tracer import StatusApi, Tracer, WritePlanning, attribute, self_times

MASTER = "local[4]"
STREAMS = 4
STREAM_TXN_ROWS = 100_000
BATCH_ROWS_PER_STREAM = 1_000_000
WARM_ROWS_PER_STREAM = 250_000
#: The first transactions of a stream are warm-up and left out: the first
#: takes ~5 s (codegen), and latency keeps falling while the JIT warms.
STREAM_WARM_TXNS = 20
#: Seconds the stream runs before its steady window is due to start. The
#: warm-up transactions take ~15 s at the usual pace; on a host too slow to
#: finish them in time, those that start later are kept, so the window
#: still gets its --seconds.
STREAM_WARM_BUDGET_S = 25.0
#: The traced streaming run keeps committing until the p90 commit latency
#: has ten transactions beyond it (~100 transactions at ~0.6 s each).
STREAM_TRACE_WINDOW_S = 60.0
SCANS_PER_TABLE = 3
#: Nominal seconds of one timed headline pass on local[4]. A run makes a
#: fixed number of passes, --seconds over this, rather than as many as fit:
#: a count that depends on the pace would make the figures jump with it.
HEADLINE_PASS_S = 15.0
LAYERS = ("session", "generator", "ingest", "queries", "textops", "perfbench")
QUERY_FIELDS = ("construct_ms", "plan_ms", "exec_ms", "executor_cpu_s", "shuffle_bytes")
MODULE_FIELDS = QUERY_FIELDS + ("gc_s", "spill_bytes")
STREAM_LAYER = (
    "txns", "addBatch_ms_p50", "walCommit_ms_p50", "commitOffsets_ms_p50",
    "queryPlanning_ms_p50", "latestOffset_ms_p50", "trigger_gap_ms_p50",
    "fixed_overhead_share", "files_per_txn", "executor_cpu_ms_per_txn",
    "manifest_rows_ratio", "commit_latency_tail_ms", "commit_latency_tail_pct",
)
_BATCH_RE = re.compile(r"batch = (\d+)")
#: The headline tables: the sf0.1 test data, a read-only input.
SF01_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")


def headline_names() -> list[str]:
    import bench

    return list(bench.HEADLINE)


def layer_metric_names() -> list[str]:
    """Every per-layer metric, in BENCHMARK.json order. The batch ingest and
    scan metrics are left out: BENCHMARK.json does not list
    batch_static_scan, the only workload that measures them, so its traced
    runs report them in the report line instead."""
    import __spark_entry__ as entry

    names = ["session.get_spark_s", "generator.construct_ms", "generator.rows_per_s"]
    names += [f"ingest.stream.{k}" for k in STREAM_LAYER]
    mods = query_modules(entry.queries())
    for q in headline_names():
        names += [f"{mods[q]}.{q}.{k}" for k in QUERY_FIELDS]
    for m in ("queries", "textops"):
        names += [f"{m}.{k}" for k in MODULE_FIELDS]
    names += [f"{layer}.self_s" for layer in LAYERS]
    names += ["trace.rows_per_s", "trace.latency_ms"]
    return names


def query_modules(registry) -> dict[str, str]:
    """Headline query -> the culvert_spark module that defines it."""
    return {q: registry[q].__module__.rsplit(".", 1)[-1] for q in headline_names()}


def process_start() -> float:
    """Epoch seconds at which this process was created."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        return next(int(l.split()[1]) for l in f if l.startswith("VmHWM"))


def _data_files(path: str) -> list[str]:
    return [
        os.path.join(d, f)
        for d, _, files in os.walk(path)
        if "_spark_metadata" not in d
        for f in files
        if not f.startswith((".", "_"))
    ]


def _local_paths(uris: list[str]) -> list[str]:
    return [urlparse(u).path for u in uris]


def stop_jvm(spark) -> None:
    """Stop the session and the gateway JVM, and wait for the JVM to exit
    (it exits once its standard input closes)."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _another(walls: list[float], seconds: float) -> bool:
    """Whether to start another timed operation: always a first one, then
    another while it should end within ``seconds`` of timed work."""
    return not walls or sum(walls) + walls[-1] <= seconds


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 work: str, cache_dir: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.cache_dir = cache_dir
        self.t_process = process_start()
        self.t_first_op: float | None = None
        self.spark = None
        self.tracer = Tracer(None, f"{workload}-{seed}", trace)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.report: dict = {}
        self.planning = None
        self._dirs = 0

    # -- bookkeeping -------------------------------------------------------

    def fresh_dir(self, name: str) -> str:
        self._dirs += 1
        path = os.path.join(self.work, f"{self._dirs:03d}-{name}")
        os.makedirs(path)
        return path

    def first_op(self, t: float) -> None:
        """Mark the start of the first timed operation (epoch seconds)."""
        if self.t_first_op is None:
            self.t_first_op = t

    def ops(self, n: int, problems: list[str]) -> None:
        """Count ``n`` attempted operations that pass or fail together."""
        self.attempted += n
        if problems:
            self.failed += n
            self.problems.extend(problems)
            for p in problems:
                print(f"perfbench: check failed: {p}", file=sys.stderr)

    def op_error(self, what: str) -> None:
        self.attempted += 1
        self.failed += 1
        self.problems.append(f"{what}: raised")
        traceback.print_exc()

    def session(self):
        from culvert_spark import session

        extra = None
        if self.trace:
            extra = {
                "spark.ui.enabled": "true",
                "spark.ui.port": "0",
                "spark.ui.showConsoleProgress": "false",
                "spark.ui.retainedJobs": "100000",
                "spark.ui.retainedStages": "100000",
                "spark.ui.retainedTasks": "1000000",
                "spark.sql.ui.retainedExecutions": "100000",
            }
        with self.tracer.span("session.get_spark", "session"):
            t = time.perf_counter()
            self.spark = session.get_spark(
                app_name=f"perfbench-{self.workload}", master=MASTER,
                extra_conf=extra,
            )
            self.layer["session.get_spark_s"] = time.perf_counter() - t
        self.tracer.spark = self.spark
        return self.spark

    def finish(self) -> None:
        """Fill the metrics every workload reports."""
        spark = self.spark
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        self.e2e["setup_s"] = self.t_first_op - self.t_process
        self.report["setup_s"] = self.e2e["setup_s"]
        self.report["peak_rss_mb"] = (_vm_hwm_kb(jvm_pid) + py_kb) / 1024.0
        self.report["error_rate"] = self.failed / max(1, self.attempted)
        if self.trace:
            for layer, s in self_times(self.tracer.spans).items():
                self.layer[f"{layer}.self_s"] = s
            self.layer["trace.rows_per_s"] = self.e2e["rows_per_s"]
            self.layer["trace.latency_ms"] = self.e2e["latency_ms"]

    # -- layer probes --------------------------------------------------------

    def generator_probe(self, rows: int, parts: int) -> float:
        """Construct ``generate(rows)`` and run it to the noop sink; records
        the generator's layer metrics and returns the noop wall (s)."""
        from culvert_spark import generator

        cons, walls = [], []
        while len(walls) < 5 and sum(walls) < 2.0:
            with self.tracer.span("generator.construct", "generator"):
                t = time.perf_counter()
                df = generator.generate(
                    self.spark, rows, seed=self.seed, num_partitions=parts
                )
                cons.append(time.perf_counter() - t)
            with self.tracer.span("generator.noop", "generator"):
                t = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t)
        wall = statistics.median(walls)
        self.layer["generator.construct_ms"] = statistics.median(cons) * 1000
        self.layer["generator.rows_per_s"] = rows / wall
        return wall


# ---------------------------------------------------------------------------
# stream_txn_100k
# ---------------------------------------------------------------------------


class _Progress(StreamingQueryListener):
    """Collects every progress event of the session's streaming queries."""

    def __init__(self):
        self.events: list[dict] = []
        self.terminated = False

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        self.events.append(json.loads(event.progress.json))

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        self.terminated = True


def stream_txn_100k(b: Bench) -> None:
    from culvert_spark import ingest

    spark = b.session()
    listener = _Progress()
    spark.streams.addListener(listener)
    out, ckpt = b.fresh_dir("stream-out"), b.fresh_dir("stream-ckpt")
    window_s = max(b.seconds, STREAM_TRACE_WINDOW_S) if b.trace else b.seconds
    os.sync()
    report = None
    with b.tracer.span("ingest.run_streaming_ingest", "ingest"):
        try:
            report = ingest.run_streaming_ingest(
                spark, out, ckpt, num_streams=STREAMS,
                timeout_ms=int((STREAM_WARM_BUDGET_S + window_s + 1.0) * 1000),
                seed=b.seed, quiet=True, fixed_rows_per_batch=STREAM_TXN_ROWS,
            )
        except Exception:
            b.op_error("run_streaming_ingest")
    deadline = time.monotonic() + 30
    while not listener.terminated and time.monotonic() < deadline:
        time.sleep(0.1)
    txns = tl.timeline(listener.events)
    if not txns:
        raise RuntimeError("no transaction committed")
    warm = min(STREAM_WARM_TXNS, sum(
        1 for t in txns if t.start < txns[0].start + STREAM_WARM_BUDGET_S
    ))
    window = tl.steady_window(txns, warm)
    if len(window) < 2:
        raise RuntimeError(f"{len(window)} transactions after the warm-up")
    b.first_op(window[0].start)

    with b.tracer.span("check.stream_table", "perfbench"):
        committed = sum(t.rows for t in txns)
        df = spark.read.orc(out)
        files = _local_paths(df.inputFiles())
        read_back = df.count()
        problems = checks.check_stream_table(df, committed, STREAMS)
        if read_back != committed:
            problems.append(f"manifest holds {read_back} rows, committed {committed}")
        if report is not None and report.total_rows_committed != committed:
            problems.append(
                f"ingest report counts {report.total_rows_committed} rows, "
                f"progress events {committed}"
            )
    b.ops(len(window), problems)

    # End-to-end figures come from the first --seconds of the steady window
    # in every run, so a traced run's longer window stays comparable.
    timed = tl.steady_window(txns, warm, b.seconds)
    if len(timed) < 2:
        timed = window[:2]
    rate = tl.steady_rate(timed)
    lat = [t.latency_ms for t in timed]
    b.e2e["rows_per_s"] = rate
    b.e2e["latency_ms"] = statistics.median(lat)
    tail = tl.tail_percentile([t.latency_ms for t in window])
    stored = sum(os.path.getsize(f) for f in files) / max(1, committed)
    b.report.update({
        "committed_rows_per_s": rate,
        "commit_latency_p50_ms": statistics.median(lat),
        "stored_bytes_per_row": stored,
        "transactions": len(window),
    })
    if tail is not None:
        b.report[f"commit_latency_p{round(tail[0] * 100)}_ms"] = tail[1]
    if b.trace:
        b.generator_probe(STREAM_TXN_ROWS, STREAMS)
        L = b.layer
        p = "ingest.stream."
        L[p + "txns"] = len(window)
        for phase in tl.PHASES:
            L[f"{p}{phase}_ms_p50"] = tl.phase_p50(window, phase)
        L[p + "trigger_gap_ms_p50"] = statistics.median(tl.trigger_gaps_ms(window))
        L[p + "fixed_overhead_share"] = statistics.median(
            (t.latency_ms - t.durations.get("addBatch", 0)) / t.latency_ms
            for t in window
        )
        L[p + "files_per_txn"] = len(files) / len(txns)
        L[p + "manifest_rows_ratio"] = read_back / committed
        L[p + "commit_latency_tail_ms"] = tail[1] if tail else 0.0
        L[p + "commit_latency_tail_pct"] = tail[0] * 100 if tail else 0.0
        run_ids = {e["runId"] for e in listener.events}
        jobs, stages = StatusApi(b.spark).snapshot()
        in_window = {t.batch_id for t in window}
        window_jobs = [j for j in jobs if _batch_id(j) in in_window]
        cpu = attribute(window_jobs, stages, run_ids)["cpu_ns"]
        L[p + "executor_cpu_ms_per_txn"] = cpu / 1e6 / len(window)


def _batch_id(job: dict) -> int | None:
    """The micro-batch a streaming job ran for, from its description."""
    m = _BATCH_RE.search(job.get("description") or "")
    return int(m[1]) if m else None


# ---------------------------------------------------------------------------
# batch_static_scan
# ---------------------------------------------------------------------------


def batch_static_scan(b: Bench) -> None:
    from culvert_spark import generator, ingest

    spark = b.session()
    rows = STREAMS * BATCH_ROWS_PER_STREAM

    def read(path):
        return spark.read.orc(path)

    with b.tracer.span("warmup", "perfbench"):
        warm = b.fresh_dir("warm")
        ingest.static_parallel_ingest(
            spark, STREAMS, WARM_ROWS_PER_STREAM, warm, seed=b.seed
        )
        for _ in range(SCANS_PER_TABLE):
            checks.ysb(read(warm)).write.format("noop").mode("overwrite").save()
        shutil.rmtree(warm)
    gen_wall = b.generator_probe(rows, STREAMS) if b.trace else None

    ingest_walls, scan_walls, stored, groups = [], [], [], []
    expected_ysb = None
    while _another(ingest_walls, b.seconds):
        path = os.path.join(b.fresh_dir("batch"), "t")
        os.sync()
        b.first_op(time.time())
        try:
            with b.tracer.span("ingest.static_parallel_ingest", "ingest") as s:
                t = time.perf_counter()
                ingest.static_parallel_ingest(
                    spark, STREAMS, BATCH_ROWS_PER_STREAM, path, seed=b.seed
                )
                wall = time.perf_counter() - t
        except Exception:
            b.op_error("static_parallel_ingest")
            break
        ingest_walls.append(wall)
        if s is not None:
            groups.append(("ingest", s.group))
        with b.tracer.span("check.batch_table", "perfbench"):
            problems = checks.check_month_counts(
                checks.month_counts(read(path)),
                {m: BATCH_ROWS_PER_STREAM for m in range(STREAMS)},
            )
            files = _data_files(path)
            stored.append(sum(os.path.getsize(f) for f in files) / rows)
        b.ops(1, problems)
        for _ in range(SCANS_PER_TABLE):
            with b.tracer.span("ingest.scan", "ingest") as s:
                t = time.perf_counter()
                checks.ysb(read(path)).write.format("noop").mode("overwrite").save()
                scan_walls.append(time.perf_counter() - t)
            if s is not None:
                groups.append(("scan", s.group))
        with b.tracer.span("check.ysb_read_back", "perfbench"):
            if expected_ysb is None:
                expected_ysb = checks.ysb_digest(generator.generate(
                    spark, rows, seed=b.seed, num_partitions=STREAMS
                ))
            got = checks.ysb_digest(read(path))
        b.ops(SCANS_PER_TABLE, [] if got == expected_ysb else [
            f"YSB read-back digest {got} != generator digest {expected_ysb}"
        ])
        if b.trace:
            b.layer["ingest.batch.files"] = len(files)
            b.layer["ingest.batch.bytes"] = sum(os.path.getsize(f) for f in files)
            b.layer["ingest.scan.files"] = len(read(path).inputFiles())
        shutil.rmtree(os.path.dirname(path))
    if not ingest_walls:
        raise RuntimeError("no ingest call succeeded")

    wall = statistics.median(ingest_walls)
    b.e2e["rows_per_s"] = rows / wall
    b.e2e["latency_ms"] = statistics.median(scan_walls) * 1000
    b.report.update({
        "committed_rows_per_s": rows / wall,
        "scan_rows_per_s": rows / statistics.median(scan_walls),
        "stored_bytes_per_row": statistics.median(stored),
        "ingest_calls": len(ingest_walls),
    })
    if b.trace:
        jobs, stages = StatusApi(b.spark).snapshot()
        L = b.layer
        for kind, prefix, n in (("ingest", "ingest.batch.", len(ingest_walls)),
                                ("scan", "ingest.scan.", len(scan_walls))):
            a = attribute(jobs, stages, [g for k, g in groups if k == kind])
            L[prefix + "executor_cpu_s"] = a["cpu_ns"] / 1e9 / n
            if kind == "ingest":
                L[prefix + "gc_s"] = a["gc_ms"] / 1e3 / n
                L[prefix + "tasks"] = a["tasks"] / n
        L["ingest.batch.wall_s"] = wall
        L["ingest.batch.write_share"] = 1.0 - gen_wall / wall
        L["ingest.scan.wall_s"] = statistics.median(scan_walls)


# ---------------------------------------------------------------------------
# headline_queries
# ---------------------------------------------------------------------------


def table_rows(sf_dir: str) -> dict[str, int]:
    """Rows of each parquet table in ``sf_dir``, from the file footers."""
    import pyarrow.parquet as pq

    return {
        f[: -len(".parquet")]: pq.read_metadata(os.path.join(sf_dir, f)).num_rows
        for f in sorted(os.listdir(sf_dir))
        if f.endswith(".parquet")
    }


def headline_queries(b: Bench) -> None:
    sf_dir = SF01_DIR
    rows = table_rows(sf_dir)
    import __spark_entry__ as entry

    registry, oracle_sql = entry.queries(), entry.oracle_sql()
    names = headline_names()
    mods = query_modules(registry)
    input_rows = sum(
        rows.get(t, 0)
        for q in names
        for t in checks.oracle_tables(oracle_sql[q])
    )
    spark = b.session()
    if b.trace:
        b.planning = WritePlanning(spark)

    # One untimed warm-up pass, which pays the one-time compilation and
    # collects each result for the oracle check below.
    results = {}
    with b.tracer.span("warmup", "perfbench"):
        for q in names:
            try:
                results[q] = checks.canon(registry[q](spark, sf_dir).toPandas())
            except Exception:
                traceback.print_exc()

    per_query: dict[str, list[dict]] = {q: [] for q in names}
    passes: list[float] = []
    for _ in range(max(1, round(b.seconds / HEADLINE_PASS_S))):
        b.first_op(time.time())
        total = 0.0
        for q in names:
            try:
                rec = _run_query(b, registry[q], q, mods[q], sf_dir)
            except Exception:
                b.op_error(q)
                continue
            per_query[q].append(rec)
            total += rec["wall"]
        if not total:
            break
        passes.append(total)

    with b.tracer.span("check.oracle", "perfbench"):
        oracle = checks.cached_oracle_results(
            sf_dir, {q: oracle_sql[q] for q in names}, b.cache_dir
        )
    for q in names:
        problems = (
            checks.diff(q, results[q], oracle[q]) if q in results
            else [f"{q}: warm-up run raised"]
        )
        b.ops(len(per_query[q]), problems)
    ok = [q for q in names if per_query[q]]
    if not ok:
        raise RuntimeError("no headline query ran")

    pass_s = statistics.median(passes)
    query_ms = {
        q: 1000 * statistics.median(r["wall"] for r in per_query[q]) for q in ok
    }
    b.e2e["rows_per_s"] = input_rows / pass_s
    b.e2e["latency_ms"] = statistics.geometric_mean(query_ms.values())
    b.report.update({
        "headline_total_s": pass_s, "passes": len(passes), "query_ms": query_ms,
    })
    if b.trace:
        jobs, stages = StatusApi(b.spark).snapshot()
        L = b.layer
        for m in ("queries", "textops"):
            for k in MODULE_FIELDS:
                L[f"{m}.{k}"] = 0.0
        for q in ok:
            recs = per_query[q]
            a = attribute(jobs, stages, [g for r in recs for g in r["groups"]])
            n = len(recs)
            vals = {
                "construct_ms": statistics.median(r["construct"] for r in recs) * 1000,
                "plan_ms": statistics.median(r["plan"] for r in recs) * 1000,
                "exec_ms": statistics.median(r["exec"] for r in recs) * 1000,
                "executor_cpu_s": a["cpu_ns"] / 1e9 / n,
                "shuffle_bytes": a["shuffle_write_bytes"] / n,
                "gc_s": a["gc_ms"] / 1e3 / n,
                "spill_bytes": (a["memory_spill_bytes"] + a["disk_spill_bytes"]) / n,
            }
            for k in QUERY_FIELDS:
                L[f"{mods[q]}.{q}.{k}"] = vals[k]
            for k in MODULE_FIELDS:
                L[f"{mods[q]}.{k}"] += vals[k]


def _run_query(b: Bench, fn, name: str, module: str, sf_dir: str) -> dict:
    """One timed run to the noop sink. Traced runs split it into
    construction, planning (the write's own planning phases) and execution
    (the rest of the write)."""
    spark, tr = b.spark, b.tracer
    mark = b.planning.mark() if b.planning else 0
    t0 = time.perf_counter()
    with tr.span(f"{name}.construct", module) as s1:
        df = fn(spark, sf_dir)
    t1 = time.perf_counter()
    with tr.span(f"{name}.write", module) as s2:
        df.write.format("noop").mode("overwrite").save()
    t2 = time.perf_counter()
    rec = {"wall": t2 - t0, "construct": t1 - t0, "groups": []}
    if b.planning:
        plan = b.planning.after(mark)
        rec.update(plan=plan, exec=t2 - t1 - plan, groups=[s1.group, s2.group])
    return rec


WORKLOADS = {
    "stream_txn_100k": stream_txn_100k,
    "batch_static_scan": batch_static_scan,
    "headline_queries": headline_queries,
}
