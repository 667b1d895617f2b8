"""Tests of the benchmark's own machinery: job-group attribution, the
transaction timeline statistics, the percentile choice, the output checks
and the metric list. Run from the repository root:

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import threading

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH_DIR = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH_DIR)
sys.path[:0] = [ROOT, BENCH_DIR]

import checks  # noqa: E402
import timeline as tl  # noqa: E402
from tracer import Span, StatusApi, Tracer, WritePlanning, attribute, self_times  # noqa: E402


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def _stage(sid, cpu, status="COMPLETE"):
    return {"stageId": sid, "attemptId": 0, "status": status,
            "executorCpuTime": cpu, "numCompleteTasks": 1}


def test_job_in_another_group_is_not_attributed():
    jobs = [
        {"jobId": 0, "jobGroup": "a", "stageIds": [0, 1]},
        {"jobId": 1, "jobGroup": "b", "stageIds": [2]},
        # Reuses stage 1's shuffle output: the stage ran under job 0.
        {"jobId": 2, "jobGroup": "b", "stageIds": [1, 3]},
        {"jobId": 3, "stageIds": [4]},  # no group at all
    ]
    stages = [_stage(0, 10), _stage(1, 20), _stage(2, 300), _stage(3, 400),
              _stage(4, 5000), _stage(5, 60000, status="SKIPPED")]
    a = attribute(jobs, stages, "a")
    b = attribute(jobs, stages, "b")
    assert (a["cpu_ns"], a["stages"], a["jobs"]) == (30, 2, 1)
    assert (b["cpu_ns"], b["stages"], b["jobs"]) == (700, 2, 2)
    assert attribute(jobs, stages, ["a", "b"])["cpu_ns"] == 730
    assert attribute(jobs, stages, "c")["cpu_ns"] == 0


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]").appName("perfbench-tests")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "2")
        .getOrCreate()
    )
    yield s
    s.stop()


def test_concurrent_job_in_another_group_is_not_attributed(spark):
    """A job running at the same time under another group (here, on a second
    thread) contributes nothing to the span's attribution."""
    tracer = Tracer(spark, "t", enabled=True)
    other_group = "t/other"
    started = threading.Event()

    def other():
        spark.sparkContext.setJobGroup(other_group, "other")
        started.set()
        spark.range(0, 3_000_000, 1, 4).selectExpr("sum(id * 7 % 13)").collect()

    th = threading.Thread(target=other)
    th.start()
    started.wait(30)
    with tracer.span("mine", "test") as s:
        spark.range(0, 1000, 1, 1).selectExpr("sum(id)").collect()
    th.join(60)
    assert not th.is_alive()
    jobs, stages = StatusApi(spark).snapshot()
    mine = attribute(jobs, stages, s.group)
    theirs = attribute(jobs, stages, other_group)
    assert mine["jobs"] >= 1 and theirs["jobs"] >= 1
    mine_stages = {
        sid for j in jobs if j.get("jobGroup") == s.group for sid in j["stageIds"]
    }
    their_stages = {
        sid for j in jobs if j.get("jobGroup") == other_group for sid in j["stageIds"]
    }
    assert mine_stages and not (mine_stages & their_stages)
    assert mine["tasks"] < theirs["tasks"]
    # The span restored "no group" on exit: a later job is not attributed.
    spark.range(10).collect()
    jobs2, stages2 = StatusApi(spark).snapshot()
    assert attribute(jobs2, stages2, s.group)["jobs"] == mine["jobs"]


def test_self_time_subtracts_children():
    spans = [
        Span("root", "perfbench", "t", 1, None, 0.0, 10.0),
        Span("a", "ingest", "t", 2, 1, 1.0, 4.0),
        Span("b", "ingest", "t", 3, 1, 3.0, 6.0),  # overlaps a
        Span("c", "generator", "t", 4, 2, 1.5, 2.0),
    ]
    st = self_times(spans)
    assert st["perfbench"] == pytest.approx(10.0 - 5.0)
    assert st["ingest"] == pytest.approx((3.0 - 0.5) + 3.0)
    assert st["generator"] == pytest.approx(0.5)


def test_disabled_tracer_records_nothing():
    tr = Tracer(None, "t", enabled=False)
    with tr.span("x", "y") as s:
        assert s is None
    assert tr.spans == []


# ---------------------------------------------------------------------------
# timeline
# ---------------------------------------------------------------------------


def _progress(bid, rows, start_s, trigger_ms, add_ms=0):
    from datetime import datetime, timezone

    ts = datetime.fromtimestamp(start_s, timezone.utc).isoformat(timespec="milliseconds")
    return {"batchId": bid, "numInputRows": rows, "timestamp": ts.replace("+00:00", "Z"),
            "durationMs": {"triggerExecution": trigger_ms, "addBatch": add_ms}}


def test_steady_window_rate():
    base = 1_700_000_000.0
    # Commits at base+1, +2, +4, +5 (start + triggerExecution).
    events = [
        _progress(0, 100, base + 0.0, 1000),
        _progress(1, 100, base + 1.5, 500),
        _progress(2, 300, base + 3.0, 1000),
        _progress(3, 100, base + 4.5, 500),
        _progress(4, 0, base + 5.0, 10),  # no data: not a transaction
    ]
    txns = tl.timeline(list(reversed(events)))
    assert [t.batch_id for t in txns] == [0, 1, 2, 3]
    assert [t.commit - base for t in txns] == pytest.approx([1, 2, 4, 5])
    # Rows committed after the first commit, over first-to-last commit.
    assert tl.steady_rate(txns) == pytest.approx((100 + 300 + 100) / 4.0)
    window = tl.steady_window(txns, warm=2)
    assert [t.batch_id for t in window] == [2, 3]
    assert tl.steady_rate(window) == pytest.approx(100 / 1.0)
    assert [t.batch_id for t in tl.steady_window(txns, 1, seconds=1.5)] == [1]
    assert [t.batch_id for t in tl.steady_window(txns, 1, seconds=1.6)] == [1, 2]
    assert tl.steady_window(txns, 4) == []
    assert tl.trigger_gaps_ms(txns) == pytest.approx([500, 1000, 500])
    with pytest.raises(ValueError):
        tl.steady_rate(window[:1])


def test_tail_percentile_leaves_ten_samples_beyond():
    for n in range(1, 260):
        values = [float(v) for v in range(n)]
        got = tl.tail_percentile(values)
        if n < 20:
            assert got is None
            continue
        q, value = got
        beyond = sum(v > value for v in values)
        assert beyond >= 10 and 0.5 <= q <= 0.9
        assert value == tl.percentile(values, q)
        # No higher rank within the cap leaves ten beyond.
        assert beyond == 10 or int(value) + 2 > tl.percentile_rank(n, 0.9)
        if n >= 100:
            assert q == 0.9


def test_percentile_nearest_rank():
    assert tl.percentile([5, 1, 3, 2, 4], 0.5) == 3
    assert tl.percentile(list(range(1, 101)), 0.9) == 90


# ---------------------------------------------------------------------------
# checks
# ---------------------------------------------------------------------------


def test_residue_count_matches_brute_force():
    for n in range(0, 40):
        for p in (1, 3, 4):
            for m in range(p):
                assert checks.residue_count(n, m, p) == sum(
                    1 for v in range(n) if v % p == m
                )


def test_residue_checker_flags_one_duplicated_orc_file(spark, tmp_path):
    n, streams = 10_001, 4
    path = str(tmp_path / "t")
    (
        spark.range(n, numPartitions=4)
        .selectExpr("id AS value", "2018 AS year", f"CAST(id % {streams} AS INT) AS month")
        .write.format("orc").partitionBy("year", "month").save(path)
    )
    assert checks.check_stream_table(spark.read.orc(path), n, streams) == []
    part = os.path.join(path, "year=2018", "month=2")
    orc = sorted(f for f in os.listdir(part) if f.endswith(".orc"))[0]
    shutil.copy(os.path.join(part, orc), os.path.join(part, "copy-" + orc))
    problems = checks.check_stream_table(spark.read.orc(path), n, streams)
    assert len(problems) == 1 and problems[0].startswith("month=2:")


def test_canon_and_diff():
    import pandas as pd

    a = checks.canon(pd.DataFrame({"b": [2.5, None], "a": ["x", "y"]}))
    b = checks.canon(pd.DataFrame({"a": ["y", "x"], "b": [float("nan"), 2.5]}))
    assert a == b and checks.diff("q", a, b) == []
    c = checks.canon(pd.DataFrame({"a": ["x", "y"], "b": [2.5, 1.0]}))
    assert checks.diff("q", a, c)


def test_oracle_tables():
    sql = "SELECT * FROM lineitem l JOIN orders o ON 1=1 WHERE o_orderkey > 0"
    assert checks.oracle_tables(sql) == ["orders", "lineitem"]


#: The headline tables: rows and column types of the sf0.1 test data, as
#: its parquet footers record them. The timestamps are naive microseconds,
#: which queries.t() reads as TIMESTAMP_NTZ and casts.
SF01_TABLES = {
    "customer": (15_000, "int64 string int32 double string"),
    "documents": (5_000, "int64 string string string int64"),
    "embeddings": (2_000, "int64 list<element: float> int32"),
    "events": (100_000, "int64 timestamp[us] int64 string double string"),
    "lineitem": (600_000, "int64 int64 int64 int32 double double double double "
                          "string string timestamp[us]"),
    "nation": (25, "int32 string int32"),
    "orders": (150_000, "int64 int64 string double timestamp[us] string"),
    "part": (20_000, "int64 string string string int32 double"),
    "region": (5, "int32 string"),
    "supplier": (1_000, "int64 string int32 double"),
}


def test_headline_tables_are_the_sf01_test_data():
    import pyarrow.parquet as pq
    import workloads

    assert workloads.table_rows(workloads.SF01_DIR) == {
        t: n for t, (n, _) in SF01_TABLES.items()
    }
    for t, (_, types) in SF01_TABLES.items():
        schema = pq.read_schema(os.path.join(workloads.SF01_DIR, f"{t}.parquet"))
        assert " ".join(str(f.type) for f in schema) == types, t


def test_write_planning_comes_from_the_write(spark):
    """The planning time is the noop write's own, one per write, and a
    query that is not a write records none."""
    planning = WritePlanning(spark)
    df = spark.range(0, 100_000, 1, 2).selectExpr("id % 7 AS k").groupBy("k").count()
    df.collect()
    for _ in range(2):
        mark = planning.mark()
        df.write.format("noop").mode("overwrite").save()
        assert 0 <= planning.after(mark) < 60
        assert planning.mark() == mark + 1


# ---------------------------------------------------------------------------
# metric list
# ---------------------------------------------------------------------------


def test_benchmark_json_lists_every_layer_metric():
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [m["name"] for m in spec["per_layer"]] == workloads.layer_metric_names()
    assert {w["name"] for w in spec["workloads"]} <= set(workloads.WORKLOADS)
