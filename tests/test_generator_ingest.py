"""Generator + ingest tests (SURVEY.md §5.2-5.3): distribution parity with
the reference's column semantics, determinism at any parallelism, partition
layout, and throughput-report arithmetic."""

from __future__ import annotations

import functools
import hashlib
import os

import pytest
from pyspark.sql import functions as F

from culvert_spark import ingest
from culvert_spark.generator import (
    AD_TYPES,
    EVENT_TYPES,
    ColumnSpec,
    ColumnType,
    all_distinct_string_columns,
    default_event_columns,
    generate,
)

N = 5_000


def test_default_schema_and_domains(spark):
    df = generate(spark, N, seed=7)
    assert df.columns == [
        "user_id", "page_id", "ad_id", "ad_type", "event_type",
        "event_time", "ip_address",
    ]
    ad = {r[0] for r in df.select("ad_type").distinct().collect()}
    ev = {r[0] for r in df.select("event_type").distinct().collect()}
    assert ad == set(AD_TYPES)
    assert ev == set(EVENT_TYPES)


def test_dict_round_robin(spark):
    # STRING_DICT is row-index round-robin, not random (Column.java:117).
    rows = (
        generate(spark, 10, seed=1, keep_row_id=True)
        .select("row_id", "ad_type")
        .orderBy("row_id")
        .collect()
    )
    for r in rows:
        assert r.ad_type == AD_TYPES[r.row_id % len(AD_TYPES)]


def test_typed_ranges(spark):
    cols = [
        ColumnSpec("b", ColumnType.BOOLEAN),
        ColumnSpec("l", ColumnType.LONG),
        ColumnSpec("d", ColumnType.DOUBLE),
        ColumnSpec("yr", ColumnType.INT_YEAR),
        ColumnSpec("mo", ColumnType.INT_MONTH),
        ColumnSpec("ip", ColumnType.STRING_IP_ADDRESS),
        ColumnSpec("uid", ColumnType.STRING_UUID_DICT),
        ColumnSpec("nm", ColumnType.STRING),
    ]
    df = generate(spark, N, cols, seed=3)
    agg = df.agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax"),
        F.min("yr").alias("ymin"), F.max("yr").alias("ymax"),
        F.min("mo").alias("mmin"), F.max("mo").alias("mmax"),
        F.count_distinct("b").alias("nb"),
    ).collect()[0]
    assert 0.0 <= agg.dmin and agg.dmax < 1.0
    assert 2000 <= agg.ymin and agg.ymax < 2050
    assert 0 <= agg.mmin and agg.mmax < 12
    assert agg.nb == 2
    bad_ip = df.filter(
        ~F.col("ip").rlike(r"^(\d{1,3})\.(\d{1,3})\.(\d{1,3})\.(\d{1,3})$")
    ).count()
    assert bad_ip == 0
    bad_uuid = df.filter(
        ~F.col("uid").rlike(
            r"^[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}$"
        )
    ).count()
    assert bad_uuid == 0
    # STRING is "First Last".
    assert df.filter(~F.col("nm").rlike(r"^\S+ \S+$")).count() == 0


def test_uuid_columns_draw_from_independent_pools(spark):
    """Each UUID column is its own pool (reference: one pool per Column,
    Column.java:58) — regression for a seed-only salt that made
    user_id/page_id/ad_id byte-identical on every row."""
    df = generate(spark, N, seed=7)
    same = df.filter(
        (F.col("user_id") == F.col("page_id"))
        | (F.col("user_id") == F.col("ad_id"))
        | (F.col("page_id") == F.col("ad_id"))
    ).count()
    assert same == 0
    # Pool semantics retained: values repeat with period POOL_SIZE, so at
    # N << POOL_SIZE every row's draw is distinct within a column too.
    assert df.select("user_id").distinct().count() == N


def _uuid_reference(seed: int, column: str, row_id: int) -> str:
    """md5 hex of ``uuid<seed>|<column>|<row % 1M>`` split 8-4-4-4-12,
    computed in pure Python."""
    h = hashlib.md5(
        f"uuid{seed}|{column}|{row_id % 1_000_000}".encode()
    ).hexdigest()
    return "-".join((h[:8], h[8:12], h[12:16], h[16:20], h[20:]))


def test_uuid_kernel_matches_python_md5_reference(spark):
    """Pins the byte-level UUID kernel to an independent hashlib
    derivation on both sides of the 1M pool wrap, for two seeds."""
    row_ids = (0, 1, 999_999, 1_000_000, 1_000_001, 7_654_321)
    cols = ("user_id", "page_id", "ad_id")
    for seed in (42, 7):
        df = functools.reduce(
            lambda a, b: a.unionAll(b),
            [
                generate(spark, 1, seed=seed, start_row=r, keep_row_id=True)
                .select("row_id", *cols)
                for r in row_ids
            ],
        )
        got = {r.row_id: tuple(r[c] for c in cols) for r in df.collect()}
        want = {
            r: tuple(_uuid_reference(seed, c, r) for c in cols)
            for r in row_ids
        }
        assert got == want, seed


def test_determinism_across_parallelism(spark):
    # Same seed ⇒ identical content at any partitioning (the improvement
    # over the reference's racy shared Random, SURVEY §1.2).
    def content_hash(num_partitions):
        df = generate(spark, N, seed=42, num_partitions=num_partitions)
        return df.agg(
            F.expr("bit_xor(xxhash64(" + ", ".join(df.columns) + "))").alias("h")
        ).collect()[0].h

    assert content_hash(1) == content_hash(7) == content_hash(32)


def test_seed_changes_data(spark):
    def content_hash(seed):
        df = generate(spark, N, seed=seed)
        return df.agg(
            F.expr("bit_xor(xxhash64(" + ", ".join(df.columns) + "))").alias("h")
        ).collect()[0].h

    assert content_hash(1) != content_hash(2)


def test_static_partition_layout(spark, tmp_path):
    out = str(tmp_path / "static")
    ingest.static_partition_ingest(spark, 1_000, out, stream_id=3, seed=5)
    back = spark.read.orc(out)
    assert back.count() == 1_000
    parts = back.select("year", "month").distinct().collect()
    assert len(parts) == 1 and parts[0].year == 2018 and parts[0].month == 3
    # Partition directories exist on disk.
    assert os.path.isdir(os.path.join(out, "year=2018", "month=3"))


def test_dynamic_partition_layout(spark, tmp_path):
    out = str(tmp_path / "dynamic")
    ingest.dynamic_partition_ingest(spark, 2_000, out, seed=5)
    back = spark.read.orc(out)
    assert back.count() == 2_000
    rng = back.agg(
        F.min("year").alias("ymin"), F.max("year").alias("ymax"),
        F.min("month").alias("mmin"), F.max("month").alias("mmax"),
    ).collect()[0]
    assert 2000 <= rng.ymin and rng.ymax < 2050
    assert 0 <= rng.mmin and rng.mmax < 12


def test_batch_ingest_bucketed_path(spark, tmp_path):
    out = str(tmp_path / "bucketed")
    df = generate(spark, 2_000, seed=9)
    ingest.batch_ingest(
        df, path=out, fmt="parquet", bucket_by=(8, "user_id")
    )
    back = spark.read.parquet(out)
    assert back.count() == 2_000


def test_throughput_report_arithmetic():
    # total/seconds per Culvert.java:169-171.
    r = ingest.IngestReport(
        timeout_ms=60_000,
        streams=[
            ingest.StreamStats("stream-0", rows_committed=92_100_000,
                               txns_committed=921),
        ],
    )
    assert r.total_rows_committed == 92_100_000
    assert r.rows_per_second == 1_535_000
    text = r.render()
    assert "Total rows committed: 92100000" in text
    assert "Throughput: 1535000 rows/second" in text
    assert "Stream [stream-0] committed 921 transactions" in text


def test_throughput_report_divides_by_time_run():
    # The last commit can land after the deadline: the rate divides by
    # the seconds actually run, not the nominal timeout.
    r = ingest.IngestReport(
        timeout_ms=60_000,
        streams=[ingest.StreamStats("stream-0", rows_committed=1_250_000)],
        elapsed_s=62.5,
    )
    assert r.rows_per_second == 20_000


def test_all_distinct_string_columns():
    names = ["user_id", "page_id", "ad_id", "ip_address"]
    assert all_distinct_string_columns(default_event_columns()) == names
    assert all_distinct_string_columns(
        default_event_columns(dynamic_partition=True)
    ) == names
    custom = [
        ColumnSpec("session_id", ColumnType.STRING_UUID_DICT),
        ColumnSpec("color", ColumnType.STRING_DICT),
        ColumnSpec("name", ColumnType.STRING),
    ]
    assert all_distinct_string_columns(custom) == ["session_id"]


def _stripe_encodings(spark, uri: str) -> dict[str, str]:
    """Column name -> ORC encoding kind of the file's first stripe."""
    jvm = spark._jvm
    orc = jvm.org.apache.orc.OrcFile
    reader = orc.createReader(
        jvm.org.apache.hadoop.fs.Path(uri),
        orc.readerOptions(spark._jsc.hadoopConfiguration()),
    )
    rows = reader.rows()
    try:
        footer = rows.readStripeFooter(reader.getStripes().get(0))
    finally:
        rows.close()
    names = list(reader.getSchema().getFieldNames())
    # Column 0 is the root struct; field i is column i + 1.
    return {
        name: footer.getColumns(i + 1).getKind().name()
        for i, name in enumerate(names)
    }


@pytest.mark.parametrize("preset", [None, "event_type"])
def test_streaming_ingest_writes_distinct_columns_direct(
    spark, tmp_path, preset
):
    """The generator's all-distinct string columns are written direct, and
    the session's ``orc.column.encoding.direct`` is left as it was.

    A dictionary key threshold of 1.0 makes ORC's per-file trial keep the
    dictionary even for all-distinct keys, so a DIRECT_V2 pooled column
    here can only come from the direct-encoding setting. A caller's own
    direct columns are kept alongside the generator's."""
    key = "orc.column.encoding.direct"
    out = str(tmp_path / "direct_out")
    if preset is not None:
        spark.conf.set(key, preset)
    spark.conf.set("orc.dictionary.key.threshold", "1.0")
    try:
        report = ingest.run_streaming_ingest(
            spark,
            output_path=out,
            checkpoint_root=str(tmp_path / "direct_ckpt"),
            num_streams=2,
            commit_after_rows=2_000,
            timeout_ms=3_000,
            quiet=True,
            fixed_rows_per_batch=2_000,
        )
        assert spark.conf.get(key, None) == preset
    finally:
        spark.conf.unset(key)
        spark.conf.unset("orc.dictionary.key.threshold")
    assert report.total_rows_committed > 0
    files = spark.read.orc(out).inputFiles()
    kinds = _stripe_encodings(spark, files[0])
    direct = {"user_id", "page_id", "ad_id", "ip_address"}
    if preset is not None:
        direct.add(preset)
    for name in ("user_id", "page_id", "ad_id", "ad_type", "event_type",
                 "ip_address"):
        want = "DIRECT_V2" if name in direct else "DICTIONARY_V2"
        assert kinds[name] == want, kinds


def test_streaming_ingest_smoke(spark, tmp_path):
    out = str(tmp_path / "stream_out")
    ckpt = str(tmp_path / "ckpt")
    report = ingest.run_streaming_ingest(
        spark,
        output_path=out,
        checkpoint_root=ckpt,
        num_streams=2,
        commit_after_rows=2_000,
        events_per_second=10_000,
        timeout_ms=6_000,
        quiet=True,
    )
    assert report.total_rows_committed > 0
    assert all(s.txns_committed >= 1 for s in report.streams)
    back = spark.read.orc(out)
    assert back.count() >= report.total_rows_committed
    months = {r.month for r in back.select("month").distinct().collect()}
    assert months <= {0, 1}  # static mode: month = stream id
    # Default sink is the native streaming file sink: batch visibility is
    # the _spark_metadata manifest (the Hive-txn atomicity analog), not
    # FileOutputCommitter renames.
    assert os.path.isdir(os.path.join(out, "_spark_metadata"))


def test_streaming_ingest_restart_exactly_once(spark, tmp_path):
    """Stop an ingest run, then run AGAIN with the same checkpoint and
    output directory: the checkpoint resumes the rate source's offsets and
    the manifest log keeps committed batches atomic, so the table read
    back through _spark_metadata holds each generated row exactly once —
    no replays, no gaps. user_id is injective in the row id below the 1M
    pool period, so distinct(user_id) == count() proves exactly-once."""
    out = str(tmp_path / "stream_out_restart")
    ckpt = str(tmp_path / "ckpt_restart")
    kwargs = dict(
        output_path=out,
        checkpoint_root=ckpt,
        # 3 streams with 2000-row batches: P does not divide the batch, so
        # a per-stream split computed from a wrong base offset (e.g.
        # assuming the resumed source restarts at value 0) would
        # misattribute rows — the observed min-row-id base keeps the split
        # exact across the restart.
        num_streams=3,
        commit_after_rows=2_000,
        events_per_second=10_000,
        timeout_ms=5_000,
        quiet=True,
        fixed_rows_per_batch=2_000,
    )
    def runs_until_commit(attempts: int = 3) -> list:
        """Run (possibly repeatedly) until a run commits rows. On an
        AGED session (full-suite context) query start can exceed the
        5 s window and commit nothing — each zero-commit retry is
        simply ANOTHER restart from the same checkpoint, which is
        exactly the property under test, so retries strengthen rather
        than weaken it. Three consecutive zero-commit 5 s runs would
        be a real hang and still fails."""
        out_runs = []
        for _ in range(attempts):
            r = ingest.run_streaming_ingest(spark, **kwargs)
            out_runs.append(r)
            if r.total_rows_committed > 0:
                return out_runs
        return out_runs

    first = runs_until_commit()
    second = runs_until_commit()
    runs = first + second
    assert sum(r.total_rows_committed for r in first) > 0
    assert sum(r.total_rows_committed for r in second) > 0
    back = spark.read.orc(out)
    n = back.count()
    # Reading through the manifest shows only committed batches; every
    # run's commits are present, nothing is duplicated. THE exactly-once
    # proof is the injective-user_id distinct check below.
    assert n == sum(r.total_rows_committed for r in runs)
    assert back.select("user_id").distinct().count() == n
    # Per-stream attribution survives the restarts: the reported
    # counters (summed across all runs) match the actual per-partition
    # counts exactly — month IS the stream id in static mode. Each run
    # stops at a transaction boundary, so no batch reaches the manifest
    # without its progress being counted.
    reported = {
        i: sum(r.streams[i].rows_committed for r in runs)
        for i in range(3)
    }
    actual = {
        r["month"]: r["cnt"]
        for r in back.groupBy("month").agg(
            F.count("*").alias("cnt")
        ).collect()
    }
    assert actual == reported


def _log_ids(log_dir: str) -> list[int]:
    """Batch ids present in a Spark metadata log directory (``N`` or
    ``N.compact`` files; checksums and temp files skipped)."""
    ids = []
    for name in os.listdir(log_dir):
        head = name.split(".")[0]
        if head.isdigit() and not name.startswith("."):
            ids.append(int(head))
    return sorted(ids)


def _drop_log_entries(log_dir: str, first_id: int) -> None:
    """Remove every entry from batch ``first_id`` on (and its checksum),
    as if those writes had never happened."""
    for name in os.listdir(log_dir):
        head = name.lstrip(".").split(".")[0]  # N, N.compact, .N.crc
        if head.isdigit() and int(head) >= first_id:
            os.remove(os.path.join(log_dir, name))


@pytest.mark.parametrize(
    "crash_point", ["before_commit_log", "before_manifest"]
)
def test_streaming_ingest_crash_window_recovers_exactly_once(
    spark, tmp_path, crash_point
):
    """A micro-batch commits in three durable steps: data files, the sink's
    _spark_metadata entry, then the checkpoint's commit-log entry. Simulate
    a crash between them by deleting the last batch's later entries after
    a completed run, then restart on the same checkpoint:

    - ``before_commit_log``: the manifest holds batch N, the commit log
      does not. The restart re-plans N and the sink skips it as already
      committed.
    - ``before_manifest``: batch N's data files are on disk, neither log
      has N. The restart rewrites N into new files; the first attempt's
      files stay on disk as orphans no manifest reader sees.

    Either way every generated row is read back exactly once: user_id is
    injective below the 1M pool period, so distinct(user_id) == count()
    == batches in the commit log x rows per batch."""
    rows_per_batch = 2_000
    out = str(tmp_path / "crash_out")
    ckpt_root = str(tmp_path / "crash_ckpt")
    commits = os.path.join(ckpt_root, "ingest", "commits")
    offsets = os.path.join(ckpt_root, "ingest", "offsets")
    manifest = os.path.join(out, "_spark_metadata")

    def run_until_commit(attempts: int = 3) -> None:
        # An aged session can spend a whole window starting the query; a
        # zero-commit run is one more restart from the same checkpoint.
        for _ in range(attempts):
            r = ingest.run_streaming_ingest(
                spark,
                output_path=out,
                checkpoint_root=ckpt_root,
                num_streams=2,
                commit_after_rows=rows_per_batch,
                timeout_ms=5_000,
                quiet=True,
                fixed_rows_per_batch=rows_per_batch,
            )
            if r.total_rows_committed > 0:
                return
        raise AssertionError("no batch committed in three runs")

    def visible() -> set[str]:
        """Data files a reader sees through the sink's manifest."""
        files = spark.read.orc(out).inputFiles()
        return {f.replace("file://", "") for f in files}

    run_until_commit()
    last = _log_ids(commits)[-1]
    # The run stops at a transaction boundary: the manifest holds exactly
    # the committed batches.
    assert _log_ids(manifest) == _log_ids(commits)
    # The stop may have interrupted batch N+1 after its offset WAL write.
    # A crash before commit N precedes it, and recovery replays only the
    # newest WAL batch, so drop it first.
    _drop_log_entries(offsets, last + 1)
    before = visible()
    _drop_log_entries(commits, last)
    if crash_point == "before_manifest":
        _drop_log_entries(manifest, last)
    # Batch N's first-attempt files: committed before the crash, orphaned
    # by it when the manifest entry is gone.
    orphaned = before - visible()

    run_until_commit()
    committed = _log_ids(commits)
    journaled = _log_ids(manifest)
    assert committed == list(range(len(committed))), committed
    assert committed[-1] > last  # the restart re-ran N and moved past it
    assert journaled == committed

    back = spark.read.orc(out)
    n = back.count()
    assert n == len(journaled) * rows_per_batch
    assert back.select("user_id").distinct().count() == n
    after = visible()
    if crash_point == "before_manifest":
        assert orphaned
        assert not orphaned & after
        assert all(os.path.exists(f) for f in orphaned)
    else:
        # The sink skipped the already-journaled batch: no rewrite.
        assert not orphaned
        assert before <= after


def test_compact_files_refuses_streaming_sink_dir(spark, tmp_path):
    """compact_files on a streaming file sink's output would drop its
    _spark_metadata manifest, and the next run on the same checkpoint
    would fail with BATCH_METADATA_NOT_FOUND. It raises instead and leaves
    every file as it was, so the resume still reads back exactly the rows
    both runs reported."""
    from culvert_spark import sources

    out = str(tmp_path / "compact_out")
    kwargs = dict(
        output_path=out,
        checkpoint_root=str(tmp_path / "compact_ckpt"),
        num_streams=2,
        commit_after_rows=2_000,
        timeout_ms=3_000,
        quiet=True,
        fixed_rows_per_batch=2_000,
    )

    def listing() -> dict[str, bytes]:
        found = {}
        for root, _dirs, files in os.walk(out):
            for f in files:
                full = os.path.join(root, f)
                with open(full, "rb") as fh:
                    found[full] = hashlib.md5(fh.read()).digest()
        return found

    first = ingest.run_streaming_ingest(spark, **kwargs)
    before = listing()
    with pytest.raises(ValueError, match="_spark_metadata"):
        sources.compact_files(spark, out, fmt="orc", target_rows_per_file=10**6)
    assert listing() == before
    second = ingest.run_streaming_ingest(spark, **kwargs)
    assert second.total_rows_committed > 0
    assert spark.read.orc(out).count() == (
        first.total_rows_committed + second.total_rows_committed
    )


def test_bucketed_managed_table(spark):
    """bucketBy carries catalog metadata only through saveAsTable: 32
    buckets by user_id, reference DDL parity (README.md:62-63). Bucketed
    joins on user_id then skip the shuffle (SortMergeJoin without
    Exchange on the bucketed side)."""
    from culvert_spark.generator import generate

    df = generate(spark, 3_000, seed=11)
    spark.sql("DROP TABLE IF EXISTS culvert_bucketed")
    ingest.batch_ingest(
        df, table="culvert_bucketed", fmt="orc", bucket_by=(8, "user_id"),
        mode="overwrite",
    )
    back = spark.table("culvert_bucketed")
    assert back.count() == 3_000
    # Catalog records the bucket spec.
    ddl = spark.sql("DESCRIBE TABLE EXTENDED culvert_bucketed").toPandas()
    info = dict(zip(ddl["col_name"], ddl["data_type"]))
    assert info.get("Num Buckets") == "8"
    assert "user_id" in info.get("Bucket Columns", "")
    # Self-join on the bucket key: the bucketed scan needs no Exchange.
    j = back.join(back.alias("b2"), "user_id")
    j.collect()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(user_id" not in plan
    spark.sql("DROP TABLE culvert_bucketed")


def test_multi_query_streaming_stagger(spark, tmp_path):
    """Reference-shaped parallel ingest (Culvert.java:105-108): P
    INDEPENDENT queries with staggered launches, each with its own
    checkpoint and output dir, per-stream committed reports."""
    import time as _time

    out = str(tmp_path / "multi_out")
    ckpt = str(tmp_path / "multi_ckpt")
    t0 = _time.monotonic()
    report = ingest.run_streaming_ingest_multi(
        spark,
        output_path=out,
        checkpoint_root=ckpt,
        num_streams=2,
        commit_after_rows=2_000,
        events_per_second=8_000,
        timeout_ms=6_000,
        stream_launch_delay_ms=400,
        quiet=True,
    )
    elapsed = _time.monotonic() - t0
    # Launch loop staggers BEFORE the shared timeout clock starts.
    assert elapsed >= 0.4 + 6.0
    assert report.total_rows_committed > 0
    assert all(s.txns_committed >= 1 for s in report.streams)
    # The shared run loop samples the multi runner's progress too.
    assert report.samples[-1][1] == report.total_rows_committed
    # Committer isolation: one directory per stream, one checkpoint per
    # stream (queries sharing one dir would collide on batch ids in its
    # single _spark_metadata log).
    for i in range(2):
        stream_dir = os.path.join(out, f"stream-{i}")
        back = spark.read.orc(stream_dir)
        # Each query stops at a transaction boundary, so its manifest
        # holds exactly the rows its progress reported.
        assert back.count() == report.streams[i].rows_committed
        months = {r.month for r in back.select("month").distinct().collect()}
        assert months == {i}
        assert os.path.isdir(os.path.join(ckpt, f"stream-{i}", "commits"))
    # Independent seeds: the two streams generate distinct row streams.
    a = spark.read.orc(os.path.join(out, "stream-0")).select("user_id").limit(5).collect()
    b = spark.read.orc(os.path.join(out, "stream-1")).select("user_id").limit(5).collect()
    assert a != b


@pytest.mark.parametrize(
    "flags",
    [["--fixed-batches", "-b", "5", "-f", "-s"], ["--multi-query"]],
    ids=["fused", "multi"],
)
def test_cli_streaming_run(spark, tmp_path, monkeypatch, flags):
    """The CLI parses the reference's parity flags (-b, -f, -s, and -l on
    the fused path) and starts a streaming run that commits rows."""
    from culvert_spark import cli, session

    monkeypatch.setattr(session, "get_spark", lambda **_: spark)
    out = str(tmp_path / "cli_out")
    argv = ["-p", "2", "-n", "2000", "-e", "10000", "-t", "3000",
            *flags, "-l", "100", "--output", out]
    assert cli.main(argv) == 0
    if "--multi-query" in flags:
        dirs = [os.path.join(out, f"stream-{i}") for i in range(2)]
    else:
        dirs = [out]
    assert sum(spark.read.orc(d).count() for d in dirs) > 0


def test_reader_sees_only_committed_batches(spark, tmp_path):
    """Micro-batch == transaction, reader-visible (Stream.java:66,194-201
    analog): the native file sink journals every batch in _spark_metadata,
    and batch readers of that path plan from the journal — so a concurrent
    reader's row count only ever jumps by whole committed batches, never a
    partial batch's files (the journal entry is written AFTER the batch's
    files, single atomic rename)."""
    import time as _time

    from culvert_spark.generator import generate_stream

    out = str(tmp_path / "acid_out")
    ckpt = str(tmp_path / "acid_ckpt")
    src = generate_stream(spark, rows_per_second=5_000, seed=7)
    q = (
        src.writeStream.format("orc")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 seconds")
        .start()
    )
    observed: list[int] = []
    try:
        deadline = _time.monotonic() + 10.0
        while _time.monotonic() < deadline:
            if os.path.isdir(out):
                try:
                    observed.append(spark.read.orc(out).count())
                except Exception:
                    pass  # sink dir exists but no committed batch yet
            _time.sleep(0.15)
    finally:
        q.stop()
        q.awaitTermination(30)
    # Committed batch sizes from the query's own progress journal.
    batch_rows = [
        int(p["numInputRows"]) for p in q.recentProgress if p["numInputRows"]
    ]
    assert sum(batch_rows) > 0, "no batches committed in the window"
    valid = {0}
    acc = 0
    for n in batch_rows:
        acc += n
        valid.add(acc)
    assert observed, "reader never polled the sink"
    bad = [c for c in observed if c not in valid]
    assert not bad, f"reader observed partial batches: {bad} not in {sorted(valid)}"
