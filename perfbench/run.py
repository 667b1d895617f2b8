"""Benchmark entry point. Run from the root of a culvert-spark checkout:

    python3 perfbench/run.py --workload stream_txn_100k --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

One workload per process. The last line of standard output is one JSON
object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics of BENCHMARK.json with ``--trace 0``, the per-layer
metrics with ``--trace 1``). The line before it, starting with
``perfbench report``, holds the workload's named figures.

``--workload all`` runs every workload untraced and then traced, each in a
fresh process, and prints every named figure with its unit plus the tracing
overhead (traced minus untraced end-to-end figure).

Everything the run writes stays under ``.perfbench/`` in the checkout: a
per-run scratch directory (Spark local dirs, temp files, tables written,
checkpoints), removed at exit; ``.perfbench/traces/`` with the spans of
traced runs; and ``.perfbench/cache/`` with DuckDB oracle results, keyed by
a digest of the headline tables and the oracle SQL.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("stream_txn_100k", "batch_static_scan", "headline_queries")
REPORT_PREFIX = "perfbench report "
#: Units of the named figures a workload reports.
REPORT_UNITS = {
    "setup_s": "s",
    "committed_rows_per_s": "rows/s",
    "commit_latency_p50_ms": "ms",
    "scan_rows_per_s": "rows/s",
    "stored_bytes_per_row": "B/row",
    "headline_total_s": "s",
    "peak_rss_mb": "MB",
    "error_rate": "share",
    "transactions": "count",
    "ingest_calls": "count",
    "passes": "count",
}


def _isolate(work: str, root: str) -> None:
    """Point every temporary file Spark, the JVM and Python write at
    ``work``, before pyspark is imported."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = "4"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, HERE, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [root, HERE]


def _spec(root: str) -> dict:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def run_one(args, root: str) -> int:
    spec = _spec(root)
    work = os.path.join(root, ".perfbench", f"run-{os.getpid()}")
    _isolate(work, root)
    try:
        import workloads

        b = workloads.Bench(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            os.path.join(root, ".perfbench", "cache"),
        )
        try:
            with b.tracer.span(args.workload, "perfbench"):
                workloads.WORKLOADS[args.workload](b)
            b.finish()
        finally:
            workloads.stop_jvm(b.spark)
        if b.trace:
            traces = os.path.join(root, ".perfbench", "traces")
            os.makedirs(traces, exist_ok=True)
            b.tracer.write(
                os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
                {"layer": b.layer, "report": b.report, "problems": b.problems},
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)

    if b.trace:
        # A layer the workload does not call reports 0.
        wanted = spec["per_layer"]
        values = {m["name"]: 0.0 for m in wanted} | b.layer
        listed = {m["name"] for m in wanted}
        unlisted = {k: v for k, v in b.layer.items() if k not in listed}
        if unlisted:
            b.report["unlisted_layer"] = unlisted
    else:
        wanted, values = spec["end_to_end"], b.e2e
    metrics = {
        m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
        for m in wanted
    }
    print(REPORT_PREFIX + json.dumps({"workload": args.workload, **b.report}))
    print(json.dumps({
        "correct": b.failed == 0,
        "attempted": b.attempted,
        "failed": b.failed,
        "metrics": metrics,
    }))
    return 0


def _child(args, workload: str, trace: int) -> tuple[dict, dict]:
    cmd = [
        sys.executable, os.path.abspath(__file__), "--workload", workload,
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(trace),
    ]
    out = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True).stdout
    lines = out.strip().splitlines()
    report = json.loads(lines[-2][len(REPORT_PREFIX):])
    return report, json.loads(lines[-1])


def run_all(args) -> int:
    """Every workload untraced then traced; print named figures and the
    tracing overhead."""
    summary = {}
    for w in WORKLOADS:
        report, plain = _child(args, w, 0)
        traced_report, traced = _child(args, w, 1)
        print(f"== {w}: attempted {plain['attempted']}, failed {plain['failed']}")
        for k, v in report.items():
            if k in ("workload", "query_ms", "unlisted_layer"):
                continue
            unit = REPORT_UNITS.get(k, "ms" if k.endswith("_ms") else "")
            print(f"  {k:<24} {v:>16.4f} {unit}")
        for k, v in traced_report.items():
            # The traced streaming run is long enough for the p90.
            if k.startswith("commit_latency_p") and k not in report:
                print(f"  {k:<24} {v:>16.4f} ms (traced run, "
                      f"{traced_report['transactions']} transactions)")
        for k, m in plain["metrics"].items():
            print(f"  e2e.{k:<20} {m['value']:>16.4f} {m['unit']}")
        for k, v in traced_report.get("unlisted_layer", {}).items():
            print(f"  layer.{k:<30} {v:>16.4f}")
        for k in ("rows_per_s", "latency_ms"):
            t, u = traced["metrics"][f"trace.{k}"]["value"], plain["metrics"][k]["value"]
            print(f"  trace_overhead.{k:<9} {t - u:>16.4f} "
                  f"{plain['metrics'][k]['unit']} ({(t - u) / u:+.1%})")
        summary[w] = {"correct": plain["correct"] and traced["correct"], **report}
    print(json.dumps(summary))
    return 0 if all(s["correct"] for s in summary.values()) else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # Run the cleanup in finally blocks on SIGTERM too.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    root = os.getcwd()
    if not (
        os.path.isdir(os.path.join(root, "culvert_spark"))
        and os.path.isfile(os.path.join(root, "bench.py"))
    ):
        print(
            "perfbench: run from the root of a culvert-spark checkout "
            "(culvert_spark/ and bench.py not found)",
            file=sys.stderr,
        )
        return 2
    if args.workload == "all":
        return run_all(args)
    return run_one(args, root)


if __name__ == "__main__":
    sys.exit(main())
