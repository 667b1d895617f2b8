"""Output checks. Each returns a list of problems; an empty list passes.

Every check is exact: committed rows against the sink's manifest, per-month
residue counts, order-insensitive query results against DuckDB oracles, and
the YSB read-back against the same query on in-memory generator output.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Tables a headline query can read; its oracle SQL names the ones it does.
TABLES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)


def residue_count(n: int, m: int, p: int) -> int:
    """``|{v < n : v ≡ m (mod p)}|`` for 0 <= m < p."""
    return max(0, (n - m + p - 1) // p)


def check_month_counts(observed: dict[int, int], expected: dict[int, int]) -> list[str]:
    """Exact per-month row counts; a missing or extra month is a problem."""
    problems = []
    for m in sorted(set(observed) | set(expected)):
        got, want = observed.get(m, 0), expected.get(m, 0)
        if got != want:
            problems.append(f"month={m}: {got} rows, expected {want}")
    return problems


def month_counts(df: DataFrame) -> dict[int, int]:
    return {r["month"]: r["count"] for r in df.groupBy("month").count().collect()}


def check_stream_table(df: DataFrame, committed_rows: int, streams: int) -> list[str]:
    """A streamed static-partition table holds exactly the committed value
    range [0, committed_rows), stream m owning the values ≡ m (mod streams)."""
    expected = {
        m: residue_count(committed_rows, m, streams) for m in range(streams)
    }
    return check_month_counts(month_counts(df), expected)


def ysb(df: DataFrame) -> DataFrame:
    """The YSB query: views, counted per ad_type in 10-minute windows."""
    return (
        df.where(F.col("event_type") == "view")
        .groupBy(F.window("event_time", "10 minutes"), "ad_type")
        .count()
    )


def ysb_digest(df: DataFrame) -> tuple:
    """Order-insensitive digest of a YSB result: group count, total count and
    the XOR of one hash per (window, ad_type, count) group."""
    r = ysb(df).agg(
        F.count(F.lit(1)).alias("groups"),
        F.sum("count").alias("rows"),
        F.expr(
            "bit_xor(xxhash64(window.start, window.end, ad_type, count))"
        ).alias("h"),
    ).first()
    return (r["groups"], r["rows"], r["h"])


def canon(pdf) -> tuple[list[str], list[tuple]]:
    """The form in which registered queries are compared with their DuckDB
    oracles: sorted column names, each row as strings (floats via ``repr``,
    timestamps via ``isoformat``, nulls and NaN as ``NULL``), rows sorted."""
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    out = []
    for tup in pdf.itertuples(index=False, name=None):
        row = []
        for v in tup:
            if v is None or (isinstance(v, float) and v != v):
                row.append("NULL")
            elif isinstance(v, float):
                row.append(repr(v))
            elif hasattr(v, "isoformat"):
                row.append(v.isoformat())
            else:
                row.append(str(v))
        out.append(tuple(row))
    out.sort()
    return cols, out


def oracle_tables(sql: str) -> list[str]:
    """Tables an oracle SQL string reads."""
    return [t for t in TABLES if re.search(rf"\b{t}\b", sql)]


def diff(name: str, got: tuple, want: tuple) -> list[str]:
    """Compare two canonical forms (see :func:`canon`)."""
    if got[0] != want[0]:
        return [f"{name}: columns {got[0]} != oracle {want[0]}"]
    if got[1] != want[1]:
        first = [(a, b) for a, b in zip(got[1], want[1]) if a != b][:1]
        return [
            f"{name}: {len(got[1])} rows vs oracle {len(want[1])}; "
            f"first diff {first}"
        ]
    return []


def oracle_results(sf_dir: str, sqls: dict[str, str]) -> dict:
    """Canonical DuckDB oracle result of each SQL string over the parquet
    tables in ``sf_dir``."""
    import duckdb

    con = duckdb.connect()
    try:
        for name in TABLES:
            path = os.path.join(sf_dir, f"{name}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{path}'")
        return {q: canon(con.execute(sql).fetchdf()) for q, sql in sqls.items()}
    finally:
        con.close()


def cached_oracle_results(sf_dir: str, sqls: dict[str, str], cache_dir: str) -> dict:
    """:func:`oracle_results`, memoized on disk by a digest of the SQL and of
    every table file in ``sf_dir``: the same tables and SQL give the same
    oracle results, so only a checkout's first run pays for DuckDB."""
    h = hashlib.sha256(json.dumps(sqls, sort_keys=True).encode())
    for name in sorted(os.listdir(sf_dir)):
        with open(os.path.join(sf_dir, name), "rb") as f:
            h.update(name.encode() + hashlib.sha256(f.read()).digest())
    path = os.path.join(cache_dir, f"oracle-{h.hexdigest()[:32]}.json")
    if os.path.exists(path):
        with open(path) as f:
            return {q: (cols, [tuple(r) for r in rows])
                    for q, (cols, rows) in json.load(f).items()}
    out = oracle_results(sf_dir, sqls)
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(path + ".tmp", path)
    return out
