"""SparkSession factory.

Configs are chosen for the 100 TB design point, not just local tests:

- AQE on (runtime join-strategy switch, skew-join splitting, partition
  coalescing) so plans self-correct at scale.
- Arrow on for the few Pandas-UDF code paths (vectorized transfer).
- ``spark.sql.shuffle.partitions`` defaults to a local-friendly value but
  AQE coalesces; on a real cluster set it ~2-3x total cores.
- Broadcast threshold left at default (10 MB) — small dims (region, nation,
  supplier, part at low SF) broadcast automatically; queries additionally
  hint ``broadcast()`` where the dim is guaranteed small at any SF.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import SparkSession

DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "culvert_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    On a real cluster, ``master`` comes from the environment and the
    partition settings below are sized by the resource manager; locally we
    default to ``local[$SPARK_GRAFT_CPUS]``.
    """
    master = master or f"local[{DEFAULT_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Adaptive execution: runtime re-planning, skew handling, coalescing.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for Pandas UDF paths.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Shuffle sizing: local default; AQE coalesces small outputs.
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(DEFAULT_CPUS)),
        )
        # Timestamps: keep session in UTC so generated data is stable
        # regardless of host timezone.
        .config("spark.sql.session.timeZone", "UTC")
        # Whole-stage-codegen bailout aligned with HotSpot's 8000-bytecode
        # JIT limit (DontCompileHugeMethods): fused stages bigger than this
        # would compile but never JIT — per-operator split projections are
        # measured 3.7x faster on the embedding probe stages (see
        # culvert_spark/queries.py t() for the full rationale).
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # Deep generated expression trees (generator columns, unrolled dot
        # products) + streaming's nested analysis can overflow the default
        # JVM thread stack — give Catalyst room.
        .config("spark.driver.extraJavaOptions", "-Xss32m")
        .config("spark.executor.extraJavaOptions", "-Xss32m")
        # Managed tables (bucketBy needs saveAsTable) land in a temp
        # warehouse, not the source tree.
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "culvert_warehouse"),
        )
        # PySpark's DataFrame-debugging origin capture (default on) adds
        # ~3 py4j round trips (conf.get + PySparkCurrentOrigin set/clear)
        # plus a Python stack walk to EVERY wrapped DataFrame API call —
        # pure driver-side construction overhead (guide §5; construction
        # runs inside the bench's timed region). It only enriches error
        # messages with user call sites; results and plans are untouched.
        # PER-PROCESS caveat (round-14 ADVICE): PySpark caches the
        # effective verdict process-wide on the FIRST wrapped DataFrame
        # call (pyspark/errors/utils.py, _enable_debugging_cache), so
        # this opt-out governs a process only when a get_spark() session
        # is the first one active in it — bench.py calls get_spark()
        # before anything else, which is what the optimization needs —
        # and a vanilla session keeps the default (on) only in its OWN
        # process (the driver's contract run), not in a process where a
        # tuned session was already exercised.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # Streaming checkpoint and manifest writes (offset WAL, sink
        # _spark_metadata entry, commit log: three per micro-batch) go
        # through Spark's FileSystem-based manager instead of the default
        # FileContext one. Without Hadoop's native library the FileContext
        # path sets permissions by forking `chmod`, several times per
        # atomic write. Measured per 100k-row transaction (local[4], 4
        # streams): walCommit and commitOffsets medians 21-40 ms each
        # before, 6-13 ms each after. Both managers write a temp file and
        # rename it after an exists check, so the commit protocol and the
        # on-disk layout are the same.
        .config(
            "spark.sql.streaming.checkpointFileManagerClass",
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager",
        )
        # Quieter local runs.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


#: RocksDB state-store provider (SURVEY §9's answer for streaming state
#: that outgrows executor heap: dedup key sets, giant session maps). Spark
#: ships it in core — no extra jars — but it is opt-in per query restart,
#: so it lives here as a profile rather than a get_spark default (the JVM
#: heap provider is faster for the small local-test state spaces).
ROCKSDB_STATE_CONF: dict[str, str] = {
    "spark.sql.streaming.stateStore.providerClass": (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    ),
    # Changelog checkpointing ships per-batch deltas instead of full
    # RocksDB snapshots — the 100 TB-state checkpoint posture.
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled": (
        "true"
    ),
}


def rocksdb_state_profile(spark: SparkSession) -> None:
    """Switch NEW streaming queries in this session to the RocksDB state
    store (off-heap, spill-to-disk state with incremental changelog
    checkpoints). Runtime SQL confs — existing running queries keep the
    provider recorded in their checkpoint. tests/test_streaming.py runs a
    stateful replay under this profile to prove the operators are
    provider-agnostic."""
    for k, v in ROCKSDB_STATE_CONF.items():
        spark.conf.set(k, v)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, "object"]:
    """Register every testdata parquet under ``sf_dir`` as a temp view and
    return {name: DataFrame}. Scans are lazy; Catalyst prunes columns and
    pushes filters into the parquet reader.

    ``events`` is routed through :func:`culvert_spark.queries.t` — its
    ``ts`` column is TIMESTAMP(NANOS) parquet, which Spark 4 refuses to
    read without the nanosAsLong escape hatch plus an explicit ns→µs
    conversion (reading it with a bare ``spark.read.parquet`` raises)."""
    from culvert_spark.queries import t as _t
    names = [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    out = {}
    for name in names:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            df = _t(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
