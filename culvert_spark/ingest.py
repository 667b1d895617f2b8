"""Rate-governed, transactional, partitioned ingest (reference parity).

Reproduces the reference engine's core behavior — P parallel streams writing
rate-governed synthetic rows through transactional batched commits into a
partitioned, bucketed columnar table, then reporting committed-row
throughput (Culvert.java:100-171, Stream.java:168-235 in /root/reference) —
on Spark's execution model:

- one reference Stream thread        → one Structured Streaming query
- Hive txn (begin/write/commitN)     → one micro-batch epoch committed via
                                       the streaming file sink's manifest
                                       log (ManifestFileCommitProtocol):
                                       tasks write data files directly and
                                       the batch commit atomically appends
                                       ONE manifest entry — files from an
                                       uncommitted batch are invisible to
                                       metadata-log readers, the genuine
                                       analog of an uncommitted Hive txn
- commitAfterNRows                   → trigger interval sized so one
                                       micro-batch ≈ N rows at the given rate
- per-row sleep throttle             → rate source rowsPerSecond
  (Stream.java:203-205)                (aggregate eps semantics, SURVEY §7.3)
- static partition (year, stream_i)  → lit columns + partitionBy
  (Culvert.java:182,226)
- dynamic partition (year, month)    → generated columns + partitionBy
  (Stream.java:77-80)
- clustered by (user_id) 32 buckets  → batch: bucketBy(32); streaming:
  (README.md:62-63)                    repartition(32, user_id) (Spark can't
                                       bucketBy in writeStream; SURVEY §7.1)
- txn-batch pre-allocation (-b), ORC auto-flush (-f), streaming
  optimizations (-s) are Hive-library levers with no Spark analog — the
  CLI parses them for invocation parity and passes nothing on (SURVEY §2
  Tier A dispositions).

The final report mirrors the reference's output contract
(Culvert.java:165-171), dividing by the seconds the run actually took
(the last commit may land just after the timeout, see _stop_at_boundary):

    Total rows committed: <N>
    Throughput: <N/run_s> rows/second

Concurrency note: the reference runs P independent writer threads against
one Hive table; Spark's analog is ONE streaming query whose source has P
partitions (SURVEY §1.1 "Stream" row), NOT P concurrent queries — a
streaming table directory has ONE ``_spark_metadata`` manifest log, which
is single-writer by design (concurrent queries would collide on batch ids
in it). Stream i of the reference maps to the rows with ``row_id % P ==
i``; per-stream committed counts are reported per micro-batch exactly like
Stream.java:199-200.
"""

from __future__ import annotations

import contextlib
import os
import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter

from culvert_spark.generator import (
    ColumnSpec,
    all_distinct_string_columns,
    default_event_columns,
    generate,
    generate_stream,
)

STATIC_YEAR = 2018  # Culvert.java:182 — static mode writes (year=2018, month=i)
DEFAULT_BUCKETS = 32  # README.md:62-63 (code comment says 8; README wins)


# ---------------------------------------------------------------------------
# Batch ingest
# ---------------------------------------------------------------------------


def batch_ingest(
    df: DataFrame,
    path: str | None = None,
    table: str | None = None,
    fmt: str = "orc",
    partition_by: tuple[str, ...] = (),
    bucket_by: tuple[int, str] | None = None,
    mode: str = "append",
) -> None:
    """Partitioned (and, for managed tables, bucketed) batch write.

    Spark path-writes cannot carry bucket metadata, so ``bucket_by`` with a
    ``path`` pre-shuffles into ``n`` files per partition via repartition —
    the data layout of bucketing without the catalog metadata."""
    writer = df.write.format(fmt).mode(mode)
    if bucket_by and table:
        n, col = bucket_by
        writer = writer.bucketBy(n, col).sortBy(col)
    elif bucket_by:
        n, col = bucket_by
        df = df.repartition(n, F.col(col))
        writer = df.write.format(fmt).mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    if table:
        writer.saveAsTable(table)
    else:
        writer.save(path)


def _table_dest(
    spark: SparkSession, table: str | None, db: str
) -> str | None:
    """Resolve a ``--table``/``--db`` pair to a qualified saved-table name,
    creating the database on demand (the reference's metastore `db.table`
    destination, CulvertCLI.java:36-47)."""
    if not table:
        return None
    spark.sql(f"CREATE DATABASE IF NOT EXISTS `{db}`")
    return f"`{db}`.`{table}`"


def static_partition_ingest(
    spark: SparkSession,
    num_rows: int,
    path: str | None,
    stream_id: int = 0,
    columns: list[ColumnSpec] | None = None,
    seed: int = 42,
    fmt: str = "orc",
    table: str | None = None,
    db: str = "default",
    buckets: int | None = None,
) -> None:
    """Static-partition mode: every row of stream i lands in partition
    (year=2018, month=i) — 'month' is a stream id, exactly as the reference
    abuses it (Culvert.java:182).  With ``table`` the write goes to a
    managed (optionally bucketed) table instead of ``path`` — the catalog
    analog of the reference's Hive destination."""
    df = generate(
        spark, num_rows, columns or default_event_columns(), seed=seed,
        start_row=stream_id * num_rows,
    )
    df = df.withColumn("year", F.lit(STATIC_YEAR)).withColumn(
        "month", F.lit(stream_id)
    )
    batch_ingest(
        df, path=path, table=_table_dest(spark, table, db), fmt=fmt,
        partition_by=("year", "month"),
        bucket_by=(buckets, "user_id") if buckets else None,
    )


def static_parallel_ingest(
    spark: SparkSession,
    num_streams: int,
    rows_per_stream: int,
    path: str,
    columns: list[ColumnSpec] | None = None,
    seed: int = 42,
    fmt: str = "orc",
) -> None:
    """The reference's benchmark configuration (BASELINE.md: 64 parallel
    streams, static partitions) as ONE fused Spark job: stream i owns the
    contiguous row range [i*n, (i+1)*n) (exactly static_partition_ingest's
    start_row convention), and ``month = row_id div n`` aligns 1:1 with the
    range source's partition boundaries — so every task writes exactly one
    (year, month) directory with NO shuffle and no cross-task file fan-out.
    This is how P reference writer threads map to Spark batch (cf. the
    single-query design note above for streaming)."""
    total = num_streams * rows_per_stream
    df = generate(
        spark, total, columns or default_event_columns(), seed=seed,
        num_partitions=num_streams, keep_row_id=True,
    )
    df = (
        df.withColumn("year", F.lit(STATIC_YEAR))
        .withColumn(
            "month",
            (F.col("row_id") / F.lit(rows_per_stream)).cast("int"),
        )
        .drop("row_id")
    )
    batch_ingest(df, path=path, fmt=fmt, partition_by=("year", "month"))


def dynamic_partition_ingest(
    spark: SparkSession,
    num_rows: int,
    path: str | None,
    columns: list[ColumnSpec] | None = None,
    seed: int = 42,
    fmt: str = "orc",
    table: str | None = None,
    db: str = "default",
    buckets: int | None = None,
) -> None:
    """Dynamic-partition mode: generated year ∈ [2000,2050), month ∈ [0,12)
    route each row (Stream.java:77-80, Culvert.java:226)."""
    df = generate(
        spark, num_rows, columns or default_event_columns(dynamic_partition=True),
        seed=seed,
    )
    # Cluster rows by the partition keys before the write: without this,
    # every task writes a file into every (year, month) directory —
    # tasks x partitions tiny files (measured 25k rows/s); with it, each
    # directory is written by one task (measured ~40x faster) and the
    # downstream table has ~600 well-sized files instead of ~19,000.
    df = df.repartition(F.col("year"), F.col("month"))
    batch_ingest(
        df, path=path, table=_table_dest(spark, table, db), fmt=fmt,
        partition_by=("year", "month"),
        bucket_by=(buckets, "user_id") if buckets else None,
    )


def reference_ddl_view(df: DataFrame) -> DataFrame:
    """Compatibility view matching the reference table DDL byte-for-byte:
    the reference declares ``event_time string`` holding ISO-8601 instants
    (README.md:59; values are Instant.toString() per Column.java:59) while
    our native schema uses a real timestamp (SURVEY §7.5). Apply this view
    when a consumer expects the reference's column shapes."""
    if "event_time" not in df.columns:
        return df
    return df.withColumn(
        "event_time",
        F.date_format(
            F.col("event_time"), "yyyy-MM-dd'T'HH:mm:ss'Z'"
        ),
    )


# ---------------------------------------------------------------------------
# Streaming ingest with throughput report
# ---------------------------------------------------------------------------


@dataclass
class StreamStats:
    """Per-stream committed counters (Stream.java rowsCommitted /
    txnBatchesCommitted)."""

    name: str
    rows_committed: int = 0
    txns_committed: int = 0

    def render(self) -> str:
        return (
            f"Stream [{self.name}] committed {self.txns_committed} "
            f"transactions [rows: {self.rows_committed}]"
        )


@dataclass
class IngestReport:
    """Aggregate throughput report (Culvert.java:165-171).

    ``samples`` is a (monotonic_seconds, total_rows_committed) time series
    recorded at every progress drain — consumers can compute steady-state
    window rates from it (bench.py takes the median of three sub-window
    rates to beat host-level run-to-run variance)."""

    timeout_ms: int
    streams: list[StreamStats] = field(default_factory=list)
    samples: list[tuple[float, int]] = field(default_factory=list)
    #: committed rows from batches whose progress carried no observe row
    #: (defensive path only) — counted in the total, attributed to no
    #: stream rather than mis-split from a guessed base offset
    unattributed_rows: int = 0
    #: seconds from the start of the run to its stop; None means the
    #: nominal timeout
    elapsed_s: float | None = None

    @property
    def total_rows_committed(self) -> int:
        return sum(s.rows_committed for s in self.streams) + (
            self.unattributed_rows
        )

    @property
    def rows_per_second(self) -> int:
        secs = self.elapsed_s or self.timeout_ms / 1000
        return int(self.total_rows_committed / max(1.0, secs))

    def render(self) -> str:
        lines = [s.render() for s in self.streams]
        lines.append(f"Total rows committed: {self.total_rows_committed}")
        lines.append(f"Throughput: {self.rows_per_second} rows/second")
        return "\n".join(lines)


def _trigger_seconds(commit_after_rows: int, events_per_second: int) -> float:
    """Micro-batch ≈ ``commit_after_rows`` per stream: trigger = N / eps
    seconds, bounded so tiny test configs still commit several batches, and
    millisecond-rounded — Spark's interval parser rejects repeating decimals
    like ``0.3333333333333333 seconds`` (nanosecond precision cap)."""
    return round(
        min(10.0, max(0.2, commit_after_rows / max(1, events_per_second))), 3
    )


def _residue_counts(lo: int, hi: int, p: int) -> list[int]:
    """``|{v ∈ [lo, hi) : v ≡ i (mod p)}|`` for each stream i — the
    per-stream split of a committed batch's contiguous value range
    (stream i ↔ value ≡ i mod p; property-tested against brute force in
    tests/test_properties.py)."""
    return [(hi - i + p - 1) // p - (lo - i + p - 1) // p for i in range(p)]


_ORC_DIRECT = "orc.column.encoding.direct"


@contextlib.contextmanager
def _direct_encoding(
    spark: SparkSession, fmt: str, columns: list[ColumnSpec]
):
    """Tell the ORC writers of a streaming query started in this block to
    encode the generator's all-distinct string columns direct.

    ORC feeds the first 10,000-row stride of every string column into a
    dictionary and then drops it when the keys are nearly all distinct,
    as they always are for these columns: a fixed 10k rows per column per
    file of wasted work. A query clones its session's SQL conf at start
    and copies it into the writers' Hadoop conf, so the setting is made
    just for ``.start()`` and the caller's value (kept in the union) is
    restored after. A ``writeStream`` option does not reach the writer."""
    direct = all_distinct_string_columns(columns) if fmt == "orc" else []
    if not direct:
        yield
        return
    prev = spark.conf.get(_ORC_DIRECT, None)
    keep = [c for c in (prev or "").split(",") if c]
    spark.conf.set(_ORC_DIRECT, ",".join(dict.fromkeys(keep + direct)))
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(_ORC_DIRECT)
        else:
            spark.conf.set(_ORC_DIRECT, prev)


#: Longest wait past the deadline for the in-flight batch to publish its
#: progress before a query is stopped anyway.
_STOP_WAIT_CAP_S = 30.0


def _stop_at_boundary(queries: list) -> tuple[float, list]:
    """Stop each query just after its next batch publishes progress.
    Returns the monotonic time of the last stop and, per query, the
    exception it had failed with before its stop (or None).

    A batch writes its data files, commits them in the sink (the file
    sink's manifest entry), appends its commit-log entry, and only then
    publishes progress. A ``stop()`` that lands between the sink commit
    and the progress leaves rows that readers see but no progress counts.
    Right after a progress event the next batch has only just begun, far
    from its own sink commit, so stopping there keeps the reported counts
    equal to the table's."""

    def last_id(q) -> int | None:
        p = q.lastProgress
        return None if p is None else p["batchId"]

    pending = {i: last_id(q) for i, q in enumerate(queries)}
    excs: list = [None] * len(queries)
    cap = time.monotonic() + _STOP_WAIT_CAP_S
    stopped_at = time.monotonic()
    while pending:
        for i, bid in list(pending.items()):
            q = queries[i]
            if not q.isActive or last_id(q) != bid or time.monotonic() > cap:
                stopped_at = time.monotonic()
                excs[i] = q.exception()
                q.stop()
                del pending[i]
        if pending:
            time.sleep(0.01)
    for q in queries:
        try:
            q.awaitTermination(60)
        except Exception:
            pass
    return stopped_at, excs


_COUNTS = "stream_counts"


def _observe_counts(src: DataFrame) -> DataFrame:
    """Fold the committed-row counters (Stream.java:199-200) into the pass
    that writes the batch (a groupBy-count second pass cost ~30% of the
    batch): the batch's row count and its MEASURED base offset, min row id
    (a checkpoint resume continues values from the prior run's offset, so
    a tracked "starts at 0" base would misattribute rows after a restart).
    The per-stream split is then arithmetic over the batch's contiguous
    value range, see _run. A 32-expression count_if-per-stream observe was
    measured costing ~15% of steady throughput (2.86-2.91M vs 3.09-3.34M
    rows/s, addBatch 887-1057 ms vs 840-853 ms, same session) for
    information the source contract already determines."""
    return src.observe(
        _COUNTS,
        F.count(F.lit(1)).alias("n"),
        F.min("row_id").alias("lo"),
    )


def _run(
    spark: SparkSession,
    writers: list[tuple[DataStreamWriter, str]],
    streams_per_query: int,
    trigger_s: float,
    timeout_ms: int,
    fmt: str,
    columns: list[ColumnSpec],
    quiet: bool,
    launch_delay_ms: int = 0,
) -> IngestReport:
    """The reference run loop (Culvert.run → Stream.run → report) over
    ``writers``, each a file-sink writer of an _observe_counts source with
    its checkpoint directory: start the queries ``launch_delay_ms`` apart,
    drain committed counts from their progress until ``timeout_ms`` after
    the last start, stop each at a transaction boundary and report.

    Query j covers streams [j*k, (j+1)*k) for k = ``streams_per_query``:
    stream j*k + i holds the rows ≡ i (mod k) of each batch's contiguous
    value range [lo, lo + n)."""
    k = streams_per_query
    stats = [StreamStats(name=f"stream-{i}") for i in range(len(writers) * k)]
    report = IngestReport(timeout_ms=timeout_ms, streams=stats)
    queries = []
    for j, (writer, ckpt) in enumerate(writers):
        # The reference sleeps between launches (Culvert.java:105-108).
        # Its source is not in this repository, so this note follows the
        # code: no sleep after the last launch, because the timeout clock
        # starts after this loop and a trailing sleep would only add idle
        # time.
        if j and launch_delay_ms:
            time.sleep(launch_delay_ms / 1000.0)
        with _direct_encoding(spark, fmt, columns):
            queries.append(
                writer.option("checkpointLocation", ckpt)
                .trigger(processingTime=f"{trigger_s} seconds")
                .start()
            )
    seen: list[set[int]] = [set() for _ in queries]

    def drain() -> None:
        # A batch's progress (with its observed metrics) is published only
        # after its sink commit — counting from progress is therefore
        # committed-rows semantics, same as the reference.
        for j, q in enumerate(queries):
            for p in sorted(q.recentProgress, key=lambda p: p["batchId"]):
                if p["batchId"] in seen[j]:
                    continue
                seen[j].add(p["batchId"])
                row = (p.get("observedMetrics") or {}).get(_COUNTS)
                if row is None:
                    # The observe node always publishes for a data batch,
                    # so this is defensive only — and with no measured base
                    # offset a per-stream split would be a guess (assuming
                    # lo=0 misattributes after a checkpoint resume, the
                    # exact bug the observed min(row_id) base exists to
                    # prevent). Count the rows toward the total,
                    # unattributed.
                    report.unattributed_rows += p["numInputRows"] or 0
                    continue
                if not row["n"]:
                    continue
                lo = row["lo"]
                split = _residue_counts(lo, lo + row["n"], k)
                for s, n in zip(stats[j * k:(j + 1) * k], split):
                    if n:
                        s.rows_committed += n
                        s.txns_committed += 1
                        if not quiet:
                            print(s.render())
        report.samples.append((time.monotonic(), report.total_rows_committed))

    # Timeout analog (Stream.java:217-223): wait (draining progress as
    # batches commit, so the recentProgress ring buffer can't overflow on
    # long runs), then stop at the next transaction boundary.
    start = time.monotonic()
    deadline = start + timeout_ms / 1000.0
    while time.monotonic() < deadline:
        time.sleep(min(0.5, max(0.0, deadline - time.monotonic())))
        drain()
    stopped_at, excs = _stop_at_boundary(queries)
    drain()
    for exc in excs:
        if exc is not None:
            raise RuntimeError(f"streaming ingest query failed: {exc}")
    report.elapsed_s = stopped_at - start
    if not quiet:
        print(report.render())
    return report


def run_streaming_ingest(
    spark: SparkSession,
    output_path: str,
    checkpoint_root: str,
    num_streams: int = 1,
    commit_after_rows: int = 1_000_000,
    events_per_second: int = 10_000,
    timeout_ms: int = 60_000,
    dynamic_partitioning: bool = False,
    columns: list[ColumnSpec] | None = None,
    seed: int = 42,
    buckets: int | None = None,
    fmt: str = "orc",
    quiet: bool = False,
    fixed_rows_per_batch: int | None = None,
) -> IngestReport:
    """The full reference run loop (Culvert.startCulvert → run → report):
    run P rate-governed streams as the P source partitions of ONE query,
    committing a micro-batch ≈ every ``commit_after_rows`` rows, stop it
    at ``timeout_ms``, and aggregate committed-row throughput. P streams
    in one query have nothing to stagger; for P *independent* queries with
    staggered launches (CLI ``-l``), see run_streaming_ingest_multi.

    Each micro-batch is one transaction, committed through the native
    streaming file sink: tasks stream data files straight into the
    partition directories (no ``_temporary`` staging, no rename pass) and
    the batch commit atomically appends one ``_spark_metadata`` manifest
    entry — a partly-written batch is invisible to metadata-log readers
    exactly like an open Hive txn, and checkpoint + manifest give
    exactly-once across restarts (SURVEY §7.2).

    With ``fmt="orc"`` the query writes the generator's all-distinct
    string columns (user_id, page_id, ad_id, ip_address by default) direct
    (see _direct_encoding). ORC otherwise builds a dictionary over each
    file's first 10,000 rows of every string column and discards it for
    these columns, which end up DIRECT_V2 anyway: a fixed trial per file
    that is 40% of these columns' rows at 25k rows per file, 10% at
    culvert's ``-n 100000``. The files are byte-identical either way.
    Interleaved A/B on perfbench ``stream_txn_100k`` (local[4], 4-vCPU
    VM, two sets of 10 pairs): median commit latency 633.8 -> 598.5 ms
    (7/10 pairs won) and 605.5 -> 540.5 ms (8/10); traced executor CPU
    per transaction 1,115 -> 971 and 1,110 -> 951 ms.

    The run stops at a transaction boundary: after ``timeout_ms`` it waits
    for the next batch to publish progress (at most _STOP_WAIT_CAP_S),
    so the reported counts equal the rows read back through the manifest,
    and the report's rate divides by the time actually run.

    Scale posture: committed throughput tracks source parallelism —
    in-session sweep at a constant 187.5k rows per stream-txn measured
    steady medians 0.46M / 1.04M / 1.72M / 2.94M rows/s at 4 / 8 / 16 / 32
    streams (near-linear until the 32 local cores saturate). Parallelism
    is P source partitions of ONE query, so on a cluster P scales with
    executors while the per-batch driver work stays one manifest append +
    two checkpoint log writes regardless of P. Phase medians at 4 streams
    x 100k-row transactions (local[4], three runs): walCommit 6-13 ms and
    commitOffsets 6-12 ms (with the FileSystem checkpoint manager set in
    session.get_spark), queryPlanning 9-19 ms, against addBatch
    312-547 ms of row generation, ORC write and manifest append.
    """
    trigger_s = _trigger_seconds(commit_after_rows, events_per_second)
    cols = columns or default_event_columns(dynamic_partition=dynamic_partitioning)
    src = generate_stream(
        spark,
        # eps is per stream in the reference (Stream.java:55); the single
        # source carries the aggregate rate across P partitions.
        rows_per_second=events_per_second * num_streams,
        columns=cols,
        seed=seed,
        num_partitions=num_streams,
        keep_row_id=True,
        fixed_rows_per_batch=fixed_rows_per_batch,
    )
    if fixed_rows_per_batch is not None:
        # Fixed-size batches run back-to-back: the sink's sustained
        # throughput, not the offer, paces commits (see generate_stream).
        trigger_s = 0.0
    # Reference stream i ↔ rows with row_id % P == i.
    src = _observe_counts(src).withColumn(
        "stream_id", F.pmod(F.col("row_id"), F.lit(num_streams)).cast("int")
    ).drop("row_id")

    if dynamic_partitioning:
        out = src.drop("stream_id")
    else:
        # Static mode: (year=2018, month=stream_id) — Culvert.java:182.
        # rate/rate-micro-batch distribute values round-robin across source
        # partitions (value % P == partition id, probed), so every task
        # already holds exactly one month value and writes exactly one
        # partition directory — no file fan-out, no shuffle.
        out = src.withColumn("year", F.lit(STATIC_YEAR)).withColumn(
            "month", F.col("stream_id")
        ).drop("stream_id")
    if buckets:
        out = out.repartition(buckets, F.col("user_id"))
    writer = (
        out.writeStream.format(fmt)
        .option("path", output_path)
        .partitionBy("year", "month")
    )
    return _run(
        spark, [(writer, os.path.join(checkpoint_root, "ingest"))],
        num_streams, trigger_s, timeout_ms, fmt, cols, quiet,
    )


def run_streaming_ingest_multi(
    spark: SparkSession,
    output_path: str,
    checkpoint_root: str,
    num_streams: int = 1,
    commit_after_rows: int = 1_000_000,
    events_per_second: int = 10_000,
    timeout_ms: int = 60_000,
    stream_launch_delay_ms: int = 0,
    columns: list[ColumnSpec] | None = None,
    seed: int = 42,
    fmt: str = "orc",
    quiet: bool = False,
) -> IngestReport:
    """Reference-shaped parallel ingest: P *independent* streaming queries,
    launched with a stagger of ``stream_launch_delay_ms`` between starts —
    exactly the reference's thread-launch loop (Culvert.java:105-108, CLI
    ``-l`` CulvertCLI.java:87-93) — each with its own checkpoint, its own
    rate governor, and its own output directory. The timeout clock starts
    after the last launch.

    The fused single-query mode (run_streaming_ingest) is the better Spark
    design (one scheduler, shared batch clock, no committer contention) and
    remains the default; this mode exists for parity when the *ramp-up
    behavior itself* is what's being benchmarked, and as the shape you'd
    use to ingest P genuinely unrelated topics/tables.

    Isolation notes:
    - separate output dirs per stream (``stream-i/``): each query commits
      through its own ``_spark_metadata`` manifest log, which is
      single-writer by design — two queries sharing one directory would
      collide on batch ids in the shared log — distinct roots make every
      commit private (on a cluster, a DSv2/table-format sink would
      serialize commits instead);
    - separate checkpoints: each query's commit log is its own exactly-once
      domain, so one stream restarting never replays another's batches;
    - per-stream seed offset keeps generated rows globally distinct
      (stream i generates the same deterministic stream as a reference
      writer thread with its own RNG).
    """
    cols = columns or default_event_columns()
    writers = []
    for i in range(num_streams):
        src = generate_stream(
            spark,
            rows_per_second=events_per_second,
            columns=cols,
            seed=seed + i,
            num_partitions=1,
            keep_row_id=True,
        )
        out = (
            _observe_counts(src)
            .drop("row_id")
            .withColumn("year", F.lit(STATIC_YEAR))
            .withColumn("month", F.lit(i))
        )
        writers.append((
            out.writeStream.format(fmt)
            .option("path", os.path.join(output_path, f"stream-{i}"))
            .partitionBy("year", "month")
            .queryName(f"culvert-stream-{i}"),
            os.path.join(checkpoint_root, f"stream-{i}"),
        ))
    return _run(
        spark, writers, 1, _trigger_seconds(commit_after_rows, events_per_second),
        timeout_ms, fmt, cols, quiet, stream_launch_delay_ms,
    )
