"""CLI mirroring the reference's 12 flags (CulvertCLI.java:115-139 in
/root/reference), defaults included (CulvertCLI.java:36-47).

The metastore URL / db / table flags become an output path or saved-table
name (no thrift metastore in the Spark engine); ``-b``, ``-f``, ``-s`` are
parsed for invocation parity and passed on nowhere (SURVEY.md §2 Tier A
dispositions), as is ``-l`` without ``--multi-query``: the fused
single-query design has no launches to stagger.

Usage examples:
    python -m culvert_spark.cli -p 4 -n 100000 -e 50000 -t 30000 \
        --output /tmp/culvert_out
    python -m culvert_spark.cli -d --batch-rows 1000000 --output /tmp/out
"""

from __future__ import annotations

import argparse
import sys
import tempfile


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="culvert_spark",
        description="PySpark-native rate-governed streaming ingest benchmark",
    )
    # Reference flags (names + defaults from CulvertCLI.java:36-47,115-139).
    p.add_argument(
        "-u", "--metastore-url", default="thrift://localhost:9083",
        help="accepted for parity; the Spark engine uses --output/--table "
        "instead of a thrift metastore. default = thrift://localhost:9083",
    )
    p.add_argument("--db", default="default", help="destination database name "
                   "(used only with --table). default = default")
    p.add_argument("--table", default=None,
                   help="destination saved-table name (batch mode: managed "
                   "table write, --buckets enables bucketBy; streaming mode "
                   "writes to --output and warns)")
    p.add_argument("-n", "--commit-after-n-rows", type=int, default=1_000_000,
                   help="commit a transaction (micro-batch) about every n "
                   "rows. default = 1_000_000")
    p.add_argument("-t", "--timeout", type=int, default=60_000,
                   help="timeout in ms after which all streams stop. "
                   "default = 60000")
    p.add_argument("-d", "--enable-dynamic-partition", action="store_true",
                   help="route rows by generated (year, month) instead of "
                   "static (2018, stream_id). default = false")
    p.add_argument("-s", "--disable-streaming-optimization",
                   action="store_true",
                   help="parity no-op (Hive streaming-lib switch). "
                   "default = false")
    p.add_argument("-b", "--transaction-batch-size", type=int, default=1,
                   help="parity no-op (Hive txn-id pre-allocation; Spark's "
                   "commit log amortizes naturally). default = 1")
    p.add_argument("-e", "--events-per-second", type=int, default=10_000,
                   help="events/records per second per stream. "
                   "default = 10000")
    p.add_argument("-p", "--parallelism", type=int, default=1,
                   help="number of parallel streams. default = 1")
    p.add_argument("-l", "--stream-launch-delay", type=int, default=0,
                   help="delay in ms between launching streams (--multi-query; "
                   "a parity no-op for the fused single query). default = 0")
    p.add_argument("-f", "--disable-auto-flush", action="store_true",
                   help="parity no-op (ORC auto-flush is a Hive writer "
                   "lever). default = false")
    # Spark-engine additions.
    p.add_argument("--output", default=None,
                   help="output path for the ingested table (default: a "
                   "temp directory)")
    p.add_argument("--format", default="orc", choices=["orc", "parquet"],
                   help="sink file format. default = orc")
    p.add_argument("--buckets", type=int, default=None,
                   help="cluster rows into N files per partition by user_id "
                   "(reference DDL: 32; README.md:62-63)")
    p.add_argument("--seed", type=int, default=42,
                   help="generator seed (every value is a pure function of "
                   "(row_id, seed)). default = 42")
    p.add_argument("--batch-rows", type=int, default=None,
                   help="run one BATCH generate+write of this many rows "
                   "instead of the streaming loop")
    p.add_argument("--fixed-batches", action="store_true",
                   help="make every micro-batch carry exactly "
                   "--commit-after-n-rows rows (rate-micro-batch source) — "
                   "the closest analog of the reference's commitAfterNRows "
                   "txns, and immune to backlog snowballing when the sink "
                   "is slower than the offer")
    p.add_argument("--multi-query", action="store_true",
                   help="run P INDEPENDENT streaming queries with staggered "
                   "launches (-l), one checkpoint + output dir per stream — "
                   "the reference's thread-per-stream shape "
                   "(Culvert.java:105-108); default is the fused "
                   "single-query design")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from culvert_spark.session import get_spark
    from culvert_spark import ingest

    out = args.output or tempfile.mkdtemp(prefix="culvert_out_")
    spark = get_spark(app_name="culvert_ingest")
    print(f"Starting culvert: writing to {out}", file=sys.stderr)

    if args.batch_rows is not None:
        dest = dict(
            table=args.table, db=args.db, buckets=args.buckets,
            seed=args.seed, fmt=args.format,
        )
        if args.enable_dynamic_partition:
            ingest.dynamic_partition_ingest(spark, args.batch_rows, out, **dest)
        else:
            ingest.static_partition_ingest(spark, args.batch_rows, out, **dest)
        if args.table:
            n = spark.table(f"`{args.db}`.`{args.table}`").count()
        else:
            n = spark.read.format(args.format).load(out).count()
        print(f"Total rows committed: {n}")
        return 0

    if args.table:
        print(
            "warning: --table applies to batch mode (--batch-rows); "
            f"streaming writes file sink at {out}",
            file=sys.stderr,
        )
    with tempfile.TemporaryDirectory(prefix="culvert_ckpt_") as ckpt:
        if args.multi_query:
            ingest.run_streaming_ingest_multi(
                spark,
                output_path=out,
                checkpoint_root=ckpt,
                num_streams=args.parallelism,
                commit_after_rows=args.commit_after_n_rows,
                events_per_second=args.events_per_second,
                timeout_ms=args.timeout,
                stream_launch_delay_ms=args.stream_launch_delay,
                seed=args.seed,
                fmt=args.format,
            )
        else:
            ingest.run_streaming_ingest(
                spark,
                output_path=out,
                checkpoint_root=ckpt,
                num_streams=args.parallelism,
                commit_after_rows=args.commit_after_n_rows,
                events_per_second=args.events_per_second,
                timeout_ms=args.timeout,
                dynamic_partitioning=args.enable_dynamic_partition,
                seed=args.seed,
                buckets=args.buckets,
                fmt=args.format,
                fixed_rows_per_batch=(
                    args.commit_after_n_rows if args.fixed_batches else None
                ),
            )
    return 0


if __name__ == "__main__":
    sys.exit(main())
