"""Giant-partition-key guards: two-level (segment-and-stitch) windows.

The window/sessionize family partitions by user_id, so ONE user with 10⁹
events pins a single window task to 10⁹ rows (SURVEY §9 "first thing to
break" for those rows). q_ewma_user_daily dodges this by pre-aggregating
to a daily grain before its window; this module generalizes that pattern
to operators whose semantics need event-level adjacency and therefore
cannot simply pre-aggregate:

1. Run the heavy ordered computation inside (user_id, time-bucket)
   sub-partitions — each task sees one bucket of one user, so the biggest
   partition is bounded by events-per-bucket, not events-per-user.
2. Stitch across bucket boundaries with a second window whose partition is
   the per-user BUCKET (or session-run) list — rows bounded by active
   buckets (days), never by events.

Both helpers are exact: segmenting an ordered stream into contiguous
buckets loses only the adjacencies that cross a boundary, and the stitch
level restores exactly those. Results are row-identical to the
single-window formulation at any parallelism (pinned by
tests/test_properties.py::test_two_level_* against naive single-window
twins on a synthetic hot key).

The bucket column is named ``_bucket`` on purpose: plan-quality gates
assert it appears in the Window partition specs of the guarded queries,
proving the sub-partitioning survived Catalyst.

The sessionize guard is ADAPTIVE: a metadata-cheap total-row-count probe
(:func:`_prefers_single_window`) routes small inputs to the classic
single-window plan — the guard's stitch exchange is only worth paying
when a single key *could* pin a task, and total rows bound every key's
rows exactly, so the probe can never miss a hot key. Above the total-row
bound a second, still-exact probe measures the actual quantity the
safety bound is about — the MAX rows of any one key, which IS the
largest per-key unit a window task cannot split (a task's total volume
also depends on the shuffle partition count) — so hot-key-free corpora
keep the cheaper single-exchange plan at any size (round-14; the
round-13 driver bench measured the guard's standing premium at 33%/60%
on a 24M-row hot-key-free input).
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

#: 30-minute inactivity gap in microseconds (the sessionization default).
GAP_US = 1_800_000_000

#: Adaptive-guard cutoff: below this TOTAL row count the single-window
#: plan is safe *by construction* — the largest possible window partition
#: (one user owning every row) is still ≤ this bound, which one task
#: sorts comfortably (~200 MB at 24 B/row). No sampling statistics are
#: needed: total rows upper-bound every key's rows exactly, so the check
#: can never miss a hot key the way a sampled histogram could.
#:
#: This is a SAFETY bound, not a speed crossover: on hot-key-free data
#: the guard's measured same-session premium at 3x this size swings
#: with host state — ~0% (loaded host: 13.90 vs 13.93 s), ~25% (r6
#: quiet preview: 10.98 vs 8.34 s), ~41% (r5 driver run: 11.19 vs
#: 7.93 s); bench.py re-records the pair every round — while the
#: failure it prevents (one task sorting an unbounded hot key's rows)
#: is a job-killer at the 100 TB design point. The premium is the
#: insurance price of not knowing the key histogram; keep the bound
#: conservative and do not tune it upward from quiet-host timings.
SMALL_INPUT_ROWS = 8_000_000


def auto_mode(df: DataFrame, small_rows: int = SMALL_INPUT_ROWS) -> str:
    """The adaptive guard's decision as a value: ``"single"`` when the
    probes say one window task could never be pinned (total rows ≤
    ``small_rows``, or — round-14 — max rows per user ≤ ``small_rows``),
    else ``"two_level"``. This is the exact branch
    :func:`sessionize_session_rows` takes for ``mode="auto"`` —
    exposed so the registered q_sessionize_auto row can pin the decision
    itself (both sides of the threshold) in the driver record, not just
    the two forced plans."""
    return "single" if _prefers_single_window(df, small_rows) else "two_level"


#: Probe memos, weak-keyed on the SparkSession (round-14 memo-key
#: hygiene): session -> {probe key -> value}. A stopped-and-collected
#: session's entries vanish with it, and a NEW session object — even at
#: a recycled ``id()`` — always starts empty, which the old
#: ``id(session)``-keyed tuples could not guarantee. Same probe contract
#: as queries._SPREAD_MEMO (round-13, guide §5): each probe launches a
#: real job per call (~300-450 ms of the sessionize queries'
#: construction time measured at sf0.1 for the count), the same events
#: scan is probed repeatedly within a bench/driver session, and the
#: probed quantities depend only on the write-once file set. Callers
#: pass SCAN-GRAIN frames; and because both guarded plans are
#: row-identical (test-pinned), even a mis-keyed hit could only flip
#: between two equivalent plans — layout, never values.
_COUNT_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()
_MAXKEY_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _probe_memoized(df: DataFrame, memo, probe_key, compute):
    """Run ``compute(df)`` once per (live session, probe_key): the memo
    is weak-keyed on the SparkSession and inner-keyed on ``probe_key``
    (the sorted scan file set plus probe-specific fields). Frames that
    expose no input files are never memoized."""
    try:
        files = tuple(sorted(df.inputFiles()))
    except Exception:  # non-file-backed frame: no memo
        files = ()
    if not files:
        return compute(df)
    per_session = memo.get(df.sparkSession)
    if per_session is None:
        per_session = {}
        memo[df.sparkSession] = per_session
    key = (files,) + probe_key
    val = per_session.get(key)
    if val is None:
        val = compute(df)
        per_session[key] = val
    return val


def _max_rows_per_key(df: DataFrame, key_col: str = "user_id") -> int:
    """EXACT max rows owned by any single ``key_col`` value — the largest
    per-key unit a window task of the single-window plan cannot split.
    One job: scan of the key column only, a combinable per-key
    count (partial aggregation collapses each map task's output to its
    distinct keys), one exchange of (key, count) partials, and a scalar
    max. Memoized per (session, file set, key column) like the count
    probe; empty input counts as 0."""

    def compute(d: DataFrame) -> int:
        row = (
            d.select(key_col)
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).alias("c"))
            .agg(F.coalesce(F.max("c"), F.lit(0)).alias("m"))
            .first()
        )
        return int(row[0])

    return _probe_memoized(df, _MAXKEY_MEMO, (key_col,), compute)


def _prefers_single_window(df: DataFrame, threshold: int = SMALL_INPUT_ROWS) -> bool:
    """True when no single user_id can exceed the single-task sort budget,
    established by two exact probes in escalating cost order:

    1. Total row count (parquet row-group metadata only, zero data
       columns): total rows upper-bound EVERY key's rows, so inputs at
       or under ``threshold`` are safe with no second job — the only
       probe small inputs ever pay.
    2. Max rows per user_id (one key-column scan + combinable count,
       memoized): this is not an estimate of the safety quantity, it IS
       the safety quantity — the largest window partition the
       single-window plan can produce. A hot-key-free 100 TB corpus
       therefore keeps the single-exchange plan (the round-13 driver
       bench measured the guard's standing premium at 33% on 32 cores /
       60% on 8 on a 24M-row hot-key-free input), while any corpus with
       a genuinely pinned key still engages the guard on the same
       ≤ threshold-rows-per-task budget as before.

    Probe cost honesty at 100 TB: probe 2 reads one long/string column
    and shuffles one (key, count) row per distinct key — strictly less
    I/O than either sessionize plan's full-stream exchange, and paid
    once per (session, file set). The asymmetry of round 13 still holds:
    the guard's extra run-grain exchange only *matters* where probe 1 or
    2 disables it, because stitch rows are bounded by active (user, day)
    pairs."""
    n = _probe_memoized(df, _COUNT_MEMO, (), lambda d: d.count())
    if n <= threshold:
        return True
    return _max_rows_per_key(df) <= threshold


def with_bucket(df: DataFrame, ts_col: str = "ts", grain: str = "day") -> DataFrame:
    """Add the ``_bucket`` coarse-time sub-partition column."""
    return df.withColumn("_bucket", F.date_trunc(grain, ts_col))


def segmented_lead_pairs(
    df: DataFrame,
    keys: list[str],
    order: list[str],
    payload: str,
    ts_col: str = "ts",
    grain: str = "day",
) -> DataFrame:
    """All adjacent (from_val, to_val) pairs of ``payload`` per key, in
    ``order`` — the pairs a plain ``LEAD() OVER (PARTITION BY keys ORDER
    BY order)`` would emit — computed without ever materializing one
    user's full stream in a single task.

    Intra-bucket pairs come from LEAD over (keys, _bucket); the one pair
    that crosses each bucket boundary is rebuilt from per-bucket
    first/last payloads (min_by/max_by over the order key — an ordinary
    aggregation with partial merge) LEAD-joined over the per-user bucket
    list. The stitch window's partitions hold one row per active bucket.
    """
    b = with_bucket(df, ts_col, grain)
    wseg = Window.partitionBy(*keys, "_bucket").orderBy(*order)
    intra = (
        b.withColumn("_to", F.lead(payload).over(wseg))
        .where(F.col("_to").isNotNull())
        .select(*keys, F.col(payload).alias("from_val"), F.col("_to").alias("to_val"))
    )
    ord_key = F.struct(*[F.col(c) for c in order])
    seg = b.groupBy(*keys, "_bucket").agg(
        F.min_by(payload, ord_key).alias("_first"),
        F.max_by(payload, ord_key).alias("_last"),
    )
    wb = Window.partitionBy(*keys).orderBy("_bucket")
    cross = (
        seg.withColumn("_to", F.lead("_first").over(wb))
        .where(F.col("_to").isNotNull())
        .select(*keys, F.col("_last").alias("from_val"), F.col("_to").alias("to_val"))
    )
    return intra.unionByName(cross)


def sessionize_session_rows(
    events: DataFrame,
    gap_us: int = GAP_US,
    grain: str = "day",
    mode: str = "auto",
    small_rows: int = SMALL_INPUT_ROWS,
) -> DataFrame:
    """Session-level rows (user_id, session_id, n_events, min_us, max_us)
    under a ``gap_us`` inactivity rule, giant-key-guarded adaptively.

    ``mode="auto"`` (default) picks the plan from the two-stage exact
    probe (:func:`auto_mode`, cutoff ``small_rows``): inputs where no
    user can own more than ``small_rows`` rows — small totals, or larger
    corpora whose measured hottest user stays under the bound — take the
    plain single-window sessionizer (one exchange, no guard overhead);
    genuinely hot-keyed inputs take the two-level guard. ``mode="two_level"`` /
    ``mode="single"`` force a plan (tests pin both paths row-identical
    on a synthetic hot key, and the plan gate forces ``two_level`` so
    the guard shape stays proven at any test scale).

    Two-level: level 1 sessionizes inside (user_id, _bucket): lag → gap
    flag → running sum → per-local-session aggregate. Level 2 merges
    adjacent local sessions across bucket boundaries with the SAME gap
    rule over session rows: two runs merge iff the next run's first event
    follows the previous run's last event within the gap — exactly the
    condition under which the single-pass sessionizer would not have
    split. Runs inside one bucket never merge (they are separated by
    > gap by construction), so the merge is exact, including sessions
    chaining across several midnights.

    The stitch partition is bounded structurally: a new session needs a
    > gap silence, so one (user, day) holds at most 86 400 s/gap_s + 1
    local sessions (48 for the 30-min default) — level 2 is tiny no
    matter how many events a hot user produces."""
    if mode == "auto":
        mode = auto_mode(events, small_rows)
    if mode == "single":
        return _sessionize_single_window(events, gap_us)
    # The level-1 shuffle carries (user_id, us, event_id, _bucket) only:
    # the bucket is the integer epoch day (identical day boundaries to
    # date_trunc under the pinned UTC session, one long instead of a
    # timestamp) and ordering by us == ordering by ts (unix_micros is
    # monotone), so the original timestamp column never enters the
    # exchange.
    b = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
    ).withColumn("_bucket", F.expr("us div 86400000000"))
    wseg = Window.partitionBy("user_id", "_bucket").orderBy("us", "event_id")
    marked = b.withColumn(
        "_new",
        F.when(
            F.lag("us").over(wseg).isNull()
            | ((F.col("us") - F.lag("us").over(wseg)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wrun = wseg.rowsBetween(Window.unboundedPreceding, 0)
    local = marked.withColumn("_loc", F.sum("_new").over(wrun))
    runs = local.groupBy("user_id", "_bucket", "_loc").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("min_us"),
        F.max("us").alias("max_us"),
    )
    w2 = Window.partitionBy("user_id").orderBy("min_us")
    stitched = runs.withColumn(
        "_newg",
        F.when(
            F.lag("max_us").over(w2).isNull()
            | ((F.col("min_us") - F.lag("max_us").over(w2)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    w2run = w2.rowsBetween(Window.unboundedPreceding, 0)
    glob = stitched.withColumn("session_id", F.sum("_newg").over(w2run))
    return glob.groupBy("user_id", "session_id").agg(
        F.sum("n_events").alias("n_events"),
        F.min("min_us").alias("min_us"),
        F.max("max_us").alias("max_us"),
    )


def _sessionize_single_window(events: DataFrame, gap_us: int) -> DataFrame:
    """The classic one-exchange sessionizer (lag → gap flag → running sum
    → per-session aggregate over a user_id window). Same output contract
    as the two-level path; only safe when no single user can exceed a
    task's sort budget — which ``mode="auto"`` has already established
    exactly, via the total row count or the max-rows-per-user probe."""
    b = events.select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_id",
    )
    wseq = Window.partitionBy("user_id").orderBy("us", "event_id")
    marked = b.withColumn(
        "_new",
        F.when(
            F.lag("us").over(wseq).isNull()
            | ((F.col("us") - F.lag("us").over(wseq)) > gap_us),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    wrun = wseq.rowsBetween(Window.unboundedPreceding, 0)
    sess = marked.withColumn("session_id", F.sum("_new").over(wrun))
    return sess.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("us").alias("min_us"),
        F.max("us").alias("max_us"),
    )
