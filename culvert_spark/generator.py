"""Deterministic synthetic data generator (reference parity).

Reproduces the reference engine's typed column-generator vocabulary
(Column.java:29-40 in /root/reference, generation semantics at
Column.java:102-133) and its default YSB ad-event column set
(Stream.java:151-165) as pure PySpark column expressions.

Design departure from the reference (SURVEY.md §1.2 "determinism lesson"):
the reference drew from a shared static java.util.Random/Faker — racy across
threads and unseeded for UUID pools, so no two runs produce the same data.
Here every value is a pure function of ``(row_id, seed)``, so the generated
table is bit-identical at ANY parallelism (1 partition or 10,000 executors)
— a strict improvement that preserves the reference's distributions:

- pooled types cycle through a 1,000,000-value pool (``Column.java:47``:
  ``SIZE = 1_000_000``), indexed ``row % SIZE``;
- ``STRING_DICT`` is round-robin over the dictionary (``Column.java:117``),
  NOT random — preserved exactly;
- ``INT_YEAR`` ∈ [2000, 2050) (``Column.java:61``), ``INT_MONTH`` ∈ [0, 12)
  (``Column.java:62``);
- IPv4 octets ∈ [1, 254].

Everything is a JVM-side expression over ``spark.range`` (batch) or the
rate source (streaming) — generation is embarrassingly parallel, no Python
in the row path, no shuffle.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from enum import Enum

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

POOL_SIZE = 1_000_000  # Column.java:47

# Reference dictionaries (Stream.java:156-161).
AD_TYPES = ["banner", "modal", "sponsored-search", "mail", "mobile"]
EVENT_TYPES = ["view", "click", "purchase"]

# Small name pools for the STRING (full name) type — the reference uses
# faker.name().fullName() (Column.java:113-114); we keep the "First Last"
# shape with deterministic selection.
_FIRST = [
    "Ada", "Alan", "Edsger", "Grace", "Donald", "Barbara", "John", "Leslie",
    "Tony", "Margaret", "Dennis", "Ken", "Bjarne", "Guido", "James", "Brian",
]
_LAST = [
    "Lovelace", "Turing", "Dijkstra", "Hopper", "Knuth", "Liskov", "Backus",
    "Lamport", "Hoare", "Hamilton", "Ritchie", "Thompson", "Stroustrup",
    "Rossum", "Gosling", "Kernighan",
]

# Fallback dictionary when STRING_DICT has no dictionary — the reference
# falls back to faker color names (Column.java:119-121).
_COLORS = [
    "red", "green", "blue", "yellow", "purple", "orange", "cyan", "magenta",
    "olive", "teal", "navy", "maroon", "silver", "gray", "lime", "indigo",
]

# Default sentence pool for the unrecognized-type fallback
# (Column.java:130-131 uses faker.chuckNorris().fact()).
_SENTENCES = [
    "the quick brown fox jumps over the lazy dog",
    "all exact decimal sums are reproducible",
    "streams commit a transaction every n rows",
    "partitions route by generated year and month",
]


class ColumnType(Enum):
    """Generator vocabulary — one-to-one with Column.Type (Column.java:29-40)."""

    BOOLEAN = "boolean"
    LONG = "long"
    DOUBLE = "double"
    TIMESTAMP = "timestamp"
    STRING = "string"
    STRING_DICT = "string_dict"
    STRING_IP_ADDRESS = "string_ip_address"
    STRING_UUID_DICT = "string_uuid_dict"
    INT_YEAR = "int_year"
    INT_MONTH = "int_month"


@dataclass
class ColumnSpec:
    """(name, type, optional dictionary) — mirrors Column(name, type[, dict])
    (Column.java:67-78)."""

    name: str
    ctype: ColumnType
    dictionary: list[str] | None = field(default=None)


def _h(col: Column, seed: int, salt: str) -> Column:
    """Deterministic 64-bit hash of (row, seed, salt) — the pure-function
    replacement for the reference's shared Random."""
    return F.xxhash64(col, F.lit(seed), F.lit(salt))


def _pool_idx(id_col: Column) -> Column:
    """row % POOL_SIZE — pooled types repeat with period 1M (Column.java:103)."""
    return F.pmod(id_col, F.lit(POOL_SIZE))


def _pick(values: list[str], idx: Column) -> Column:
    """values[idx % len] via element_at (1-based)."""
    arr = F.array(*[F.lit(v) for v in values])
    return F.element_at(arr, (F.pmod(idx, F.lit(len(values))) + 1).cast("int"))


#: md5 input prefix of one UUID-pool value — ``uuid<seed>|<salt>|`` with
#: the pool index appended. Shared with queries._uuid_oracle_expr so the
#: DuckDB parity oracle and this generator CANNOT drift independently
#: (round-7 ADVICE: the oracle used to restate the literal).
def uuid_pool_prefix(seed: int, salt: str) -> str:
    return f"uuid{seed}|{salt}|"


#: The 8-4-4-4-12 hex-segment widths of the UUID reshape (md5 is 32 hex
#: chars; segments are consecutive). Shared with the parity oracle.
UUID_SEGMENTS = (8, 4, 4, 4, 12)


def _uuid_shaped(idx: Column, seed: int, salt: str) -> Column:
    """Deterministic UUID-shaped string: md5 of ``uuid<seed>|<salt>|<idx>``
    reshaped 8-4-4-4-12 (:data:`UUID_SEGMENTS`).

    The reference's UUID pools are explicitly UNSEEDED (Column.java:58 uses
    UUID.randomUUID()) so run-to-run parity is impossible by design; we make
    them deterministic while keeping the 1M-value pool cardinality. ``salt``
    is the column name: each UUID column draws from its OWN pool exactly
    like each reference Column owns its pool (an earlier seed-only
    derivation made user_id/page_id/ad_id byte-identical per row — one
    shared pool — which no reference workload would ever see).

    Kernel: the md5 hex is cast to binary, cut into the five segments as
    BYTE substrings, joined with a binary ``-`` and cast back to string
    once. md5 hex is pure ASCII, so byte and character offsets coincide
    and the value is bit-identical to the string kernel (substring +
    concat_ws on the hex string), whose substrings walk the string's UTF-8
    characters to find each offset. A/B to the noop sink on
    a 4-core host, local[4], best of 3, two runs each: one UUID column
    1.17-1.25 -> 0.64-0.82 s per 4M rows, all seven default columns
    3.65-3.80 -> 2.32-2.37 s. Earlier derivation A/B (3 columns x 16M rows,
    local[32]): salted md5 1.69 s beat xxhash64+lpad(lower(hex())) 2.22 s
    and xxhash64+format_string 2.65 s — md5 emits the 32 hex chars
    directly (a long->binary cast that would feed md5 8 raw bytes is
    blocked under ANSI mode)."""
    hx = F.md5(
        F.concat(
            F.lit(uuid_pool_prefix(seed, salt)), idx.cast("string")
        ).cast("binary")
    ).cast("binary")
    dash = F.lit(bytearray(b"-"))
    parts, off = [], 1
    for seg in UUID_SEGMENTS:
        if parts:
            parts.append(dash)
        parts.append(F.substring(hx, off, seg))
        off += seg
    return F.concat(*parts).cast("string")


def expr_for(spec: ColumnSpec, id_col: Column, seed: int) -> Column:
    """Pure deterministic generator expression for one column
    (semantics per type: Column.java:102-133)."""
    ct = spec.ctype
    salt = spec.name
    if ct is ColumnType.BOOLEAN:
        return (F.pmod(_h(id_col, seed, salt), F.lit(2)) == 0).alias(spec.name)
    if ct is ColumnType.LONG:
        return _h(id_col, seed, salt).alias(spec.name)
    if ct is ColumnType.DOUBLE:
        return (
            F.pmod(_h(id_col, seed, salt), F.lit(1_000_000_000)) / 1.0e9
        ).alias(spec.name)
    if ct is ColumnType.TIMESTAMP:
        # Pooled instants (Column.java:59,111-112: 1M pooled date strings).
        # Span: [2000-01-01, 2018-01-01) UTC, second granularity.
        base = 946_684_800  # 2000-01-01T00:00:00Z
        span = 568_036_800  # 18 years of seconds
        off = F.pmod(_h(_pool_idx(id_col), seed, salt), F.lit(span))
        return F.timestamp_seconds(F.lit(base) + off).alias(spec.name)
    if ct is ColumnType.STRING:
        h1 = F.pmod(_h(id_col, seed, salt + ".first"), F.lit(len(_FIRST)))
        h2 = F.pmod(_h(id_col, seed, salt + ".last"), F.lit(len(_LAST)))
        return F.concat_ws(
            " ", _pick(_FIRST, h1), _pick(_LAST, h2)
        ).alias(spec.name)
    if ct is ColumnType.STRING_DICT:
        # Round-robin, NOT random (Column.java:117: dict[row % len]).
        values = spec.dictionary or _COLORS
        return _pick(values, id_col).alias(spec.name)
    if ct is ColumnType.STRING_IP_ADDRESS:
        idx = _pool_idx(id_col)
        octets = [
            (F.pmod(_h(idx, seed, f"{salt}.o{k}"), F.lit(254)) + 1).cast("int")
            for k in range(4)
        ]
        return F.concat_ws(".", *octets).alias(spec.name)
    if ct is ColumnType.STRING_UUID_DICT:
        return _uuid_shaped(_pool_idx(id_col), seed, salt).alias(spec.name)
    if ct is ColumnType.INT_YEAR:
        # 2000 + (pooled % 50) → [2000, 2050) (Column.java:61,126-127).
        return (
            F.lit(2000) + F.pmod(_h(_pool_idx(id_col), seed, salt), F.lit(50))
        ).cast("int").alias(spec.name)
    if ct is ColumnType.INT_MONTH:
        # [0, 12) — getMonth() is 0-based (Column.java:62,128-129).
        return (
            F.pmod(_h(_pool_idx(id_col), seed, salt), F.lit(12))
        ).cast("int").alias(spec.name)
    # Unrecognized type → sentence pool (Column.java:130-131).
    return _pick(
        _SENTENCES, F.pmod(_h(id_col, seed, salt), F.lit(len(_SENTENCES)))
    ).alias(spec.name)


def default_event_columns(dynamic_partition: bool = False) -> list[ColumnSpec]:
    """The default YSB ad-event column set (Stream.java:151-165); year/month
    are appended only in dynamic-partition mode (Stream.java:77-80)."""
    cols = [
        ColumnSpec("user_id", ColumnType.STRING_UUID_DICT),
        ColumnSpec("page_id", ColumnType.STRING_UUID_DICT),
        ColumnSpec("ad_id", ColumnType.STRING_UUID_DICT),
        ColumnSpec("ad_type", ColumnType.STRING_DICT, AD_TYPES),
        ColumnSpec("event_type", ColumnType.STRING_DICT, EVENT_TYPES),
        ColumnSpec("event_time", ColumnType.TIMESTAMP),
        ColumnSpec("ip_address", ColumnType.STRING_IP_ADDRESS),
    ]
    if dynamic_partition:
        cols.append(ColumnSpec("year", ColumnType.INT_YEAR))
        cols.append(ColumnSpec("month", ColumnType.INT_MONTH))
    return cols


def all_distinct_string_columns(columns: list[ColumnSpec]) -> list[str]:
    """Names of the string columns whose values are distinct within any
    file an ingest writes. UUID and IP columns draw from a POOL_SIZE pool
    indexed ``row % POOL_SIZE``, and a file holds far fewer than POOL_SIZE
    consecutive rows of one stream. A dictionary buys such a column
    nothing, so ORC writers can be told to encode them direct."""
    pooled = (ColumnType.STRING_UUID_DICT, ColumnType.STRING_IP_ADDRESS)
    return [c.name for c in columns if c.ctype in pooled]


def generate(
    spark: SparkSession,
    num_rows: int,
    columns: list[ColumnSpec] | None = None,
    seed: int = 42,
    num_partitions: int | None = None,
    start_row: int = 0,
    keep_row_id: bool = False,
) -> DataFrame:
    """Batch generator: ``spark.range`` + pure expressions. ``start_row``
    offsets the row-id space so P streams can generate disjoint, reproducible
    row ranges (stream i ↔ rows [i*n, (i+1)*n))."""
    columns = columns or default_event_columns()
    rng = (
        spark.range(start_row, start_row + num_rows, 1, num_partitions)
        if num_partitions
        else spark.range(start_row, start_row + num_rows)
    )
    id_col = F.col("id")
    exprs = [expr_for(c, id_col, seed) for c in columns]
    if keep_row_id:
        exprs = [id_col.alias("row_id"), *exprs]
    return rng.select(*exprs)


def generate_stream(
    spark: SparkSession,
    rows_per_second: int,
    columns: list[ColumnSpec] | None = None,
    seed: int = 42,
    num_partitions: int = 1,
    keep_row_id: bool = False,
    fixed_rows_per_batch: int | None = None,
) -> DataFrame:
    """Unbounded generator: rate source → same expressions keyed on the rate
    source's monotonically increasing ``value``. Parallelism = source
    partitions (the Spark analog of P reference streams, Culvert.java:56);
    rows/sec is governed by the source, replacing the reference's per-row
    sleep throttle (Stream.java:203-205).

    ``fixed_rows_per_batch`` switches to the ``rate-micro-batch`` source:
    every micro-batch carries exactly that many rows regardless of wall
    time. The time-based source accumulates a BACKLOG when the sink is
    slower than the offer — the next batch grows with everything that
    accrued, and one over-sized batch can outlive a benchmark deadline
    with zero commits. Fixed-size batches make a slow sink commit *later*,
    never *bigger* — the property a committed-rows/s measurement needs."""
    columns = columns or default_event_columns()
    if fixed_rows_per_batch is not None:
        src = (
            spark.readStream.format("rate-micro-batch")
            .option("rowsPerBatch", fixed_rows_per_batch)
            .option("numPartitions", num_partitions)
            .load()
        )
    else:
        src = (
            spark.readStream.format("rate")
            .option("rowsPerSecond", rows_per_second)
            .option("numPartitions", num_partitions)
            .load()
        )
    id_col = F.col("value")
    exprs = [expr_for(c, id_col, seed) for c in columns]
    if keep_row_id:
        exprs = [id_col.alias("row_id"), *exprs]
    return src.select(*exprs)
