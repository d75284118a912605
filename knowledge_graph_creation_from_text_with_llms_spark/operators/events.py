"""Event-stream analytics operators (batch form).

The reference has no stream/window processing (SURVEY.md §2.9); these
are the beyond-reference capabilities a training-data pipeline needs
for event/telemetry tables: gap-based sessionization (lag window +
running sum — the batch twin of a streaming session window),
per-type stats, and JSON property extraction.

Money/metric sums use integer cents (`round(value*100)`) so results
are order-independent and exactly comparable across engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_US = 30 * 60 * 1_000_000  # 30 min


def _cents(value: Column) -> Column:
    return F.round(value * 100).cast("long")


def _epoch_us(ts_col: str) -> Column:
    """Epoch microseconds of a TIMESTAMP_NTZ column, independent of
    spark.sql.session.timeZone (a cast to TIMESTAMP would interpret the
    naive value in the session zone and shift the epoch — the driver's
    session may not be UTC). Matches DuckDB epoch_us exactly."""
    return F.expr(
        f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Gap-based sessions per user: a new session starts when the time
    since the previous event exceeds SESSION_GAP_US. Returns one row per
    session: (user_id, session_idx, n_events, start_us, end_us,
    value_cents). Deterministic ordering: (ts, event_id)."""
    us = _epoch_us("ts")
    base = events.select(
        F.col("user_id"),
        us.alias("_us"),
        F.col("event_id"),
        _cents(F.col("value")).alias("_cents"),
    )
    w = Window.partitionBy("user_id").orderBy("_us", "event_id")
    prev = F.lag("_us").over(w)
    new_session = F.when(
        prev.isNull() | ((F.col("_us") - prev) > SESSION_GAP_US), F.lit(1)
    ).otherwise(F.lit(0))
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    with_sess = base.withColumn("session_idx", F.sum(new_session).over(run))
    return with_sess.groupBy("user_id", "session_idx").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.min("_us").alias("start_us"),
        F.max("_us").alias("end_us"),
        F.sum("_cents").alias("value_cents"),
    )


def type_stats(events: DataFrame) -> DataFrame:
    """Per event_type: volume, distinct users, exact cent totals."""
    return events.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(_cents(F.col("value"))).alias("value_cents"),
        F.min("event_id").alias("first_event_id"),
    )


def json_prop_stats(events: DataFrame) -> DataFrame:
    """Extract the integer property `k` from the JSON props column and
    aggregate by its value bucket (pushdown-friendly typed access to
    semi-structured data)."""
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        events.select(k.alias("k"))
        .where(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


def user_gap_stats(events: DataFrame) -> DataFrame:
    """Per user: inter-event gap extremes (lag window), event count."""
    us = _epoch_us("ts")
    w = Window.partitionBy("user_id").orderBy(us, F.col("event_id"))
    gap = us - F.lag(us).over(w)
    gaps = events.select(F.col("user_id"), gap.alias("gap_us"))
    return gaps.groupBy("user_id").agg(
        (F.count(F.lit(1))).alias("n_events"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
    )


def funnel_stages(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
) -> DataFrame:
    """Ordered-funnel conversion: one row per stage with the number of
    users who completed the funnel UP TO that stage in event-time
    order — stage k counts users with some stage-k event strictly
    after their earliest qualifying stage-(k-1) event (earliest-match
    semantics, the standard product-analytics funnel). Stage 1 counts
    every user with a stage-1 event, also one whose stage-1 events all
    have a NULL ts; a NULL ts never precedes a later stage. An empty
    or repeated stage list raises ValueError.

    ONE scan of the event table and ONE user-key shuffle regardless of
    funnel depth: each user's funnel events are collected into one
    ts-sorted array and the monotonic carry (t_k = first stage-k ts
    strictly after t_{k-1}) is a linear aggregate fold over it; a
    final 1-row aggregate counts survivors per stage. The trade:
    per-user row width is that user's funnel-event count, so a hot
    user with 10⁸ funnel events is one 10⁸-element array on one task.
    A staged form (per stage one filtered min-aggregation + user-key
    join, k-1 joins for k stages) never builds a wide row, at k scans
    instead of one; the gates' DuckDB oracles are that form.
    """
    if not stages or len(set(stages)) != len(stages):
        raise ValueError(f"funnel stages must be non-empty and distinct, got {stages!r}")
    k = len(stages)
    mapping = F.create_map(
        *[x for i, s in enumerate(stages) for x in (F.lit(s), F.lit(i))]
    )
    ev = events.where(F.col("event_type").isin(list(stages))).select(
        "user_id", mapping[F.col("event_type")].alias("_k"), "ts"
    )
    # ONE sorted (ts, stage) array per user, then a LINEAR aggregate
    # fold: acc[i] = earliest stage-i ts strictly after acc[i-1]. The
    # sort puts equal-ts events in stage order, and the strict > keeps
    # a tie from advancing the funnel either way. (A per-stage-array +
    # nested-filter fold was tried first: its carry expression nests
    # O(k²) and the codegen blew up to ~6× this form's wall time at
    # sf0.1.)
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_list(F.struct("ts", "_k"))).alias("_evs")
    )
    ts_type = ev.schema["ts"].dataType
    acc0 = F.array_repeat(F.lit(None).cast(ts_type), k)

    def _step(acc, e):
        return F.transform(
            acc,
            lambda v, i: F.coalesce(
                v,
                F.when(
                    (i == e.getField("_k"))
                    & ((i == 0) | (e.getField("ts") > F.get(acc, i - 1))),
                    e.getField("ts"),
                ),
            ),
        )

    reached_ts = per_user.select(
        F.aggregate(F.col("_evs"), acc0, _step).alias("_t"),
        F.exists("_evs", lambda e: e.getField("_k") == 0).alias("_in0"),
    )
    # stage 1 by presence: a NULL-ts stage-1 event leaves _t[0] NULL
    agg = reached_ts.agg(
        F.count(F.when(F.col("_in0"), F.lit(1))).cast("long").alias("_n0"),
        *[F.count(F.get(F.col("_t"), i)).cast("long").alias(f"_n{i}") for i in range(1, k)],
    )
    rows = F.array(
        *[
            F.struct(
                F.lit(i + 1).alias("stage_idx"),
                F.lit(s).alias("stage"),
                F.col(f"_n{i}").alias("n_users"),
            )
            for i, s in enumerate(stages)
        ]
    )
    return agg.select(F.explode(rows).alias("_r")).select("_r.*")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    how: str = "left",
) -> DataFrame:
    """Point-in-time (as-of) join: each left row picks up the right
    row with the LARGEST right.ts <= left.ts within the same key —
    the temporal join Spark lacks natively (market data, feature
    stores, slowly-changing state). Equal timestamps match (>=).

    Implementation is the single-shuffle union + ordered-window
    carry-forward: tag sides, union, and last(ignorenulls) each right
    value over (key ORDER BY ts, side) ROWS UNBOUNDED PRECEDING —
    right rows sort BEFORE left rows at equal ts, so >= semantics fall
    out of the sort key. No join explosion, no range cross product:
    cost is one shuffle on the key + one sort per partition, the same
    plan shape at 100 TB (skewed keys: pre-split hot keys or salt the
    window like any windowed op).

    Requires right unique per (key, ts) — pre-aggregate otherwise
    (duplicate right rows at one timestamp would make the carried
    value order-dependent). `how='left'` keeps unmatched left rows
    with nulls; 'inner' drops them.

    NULL-correctness (round-4 ADVICE): the right row's value columns
    are carried as ONE struct with a single last(ignorenulls=True) —
    the struct is null only for left-side union rows, so a NULL in the
    most recent right row is carried AS the match's NULL (row-level
    as-of semantics, matching DuckDB's native ASOF JOIN) instead of
    being skipped for a stale older value; columns from different
    right rows can never mix into one output row; and 'inner'
    match-ness is the struct's presence, independent of whether the
    matched row's values happen to be NULL or the right side has any
    value columns at all.
    """
    from pyspark.sql import types as T

    rcols = [
        c for c in right.columns if c not in key_cols and c != ts_col
    ]
    lcols = [c for c in left.columns]
    clash = [c for c in rcols if c in lcols]
    if clash:
        raise ValueError(
            f"asof_join: right value columns {clash} collide with left "
            "columns — rename before joining"
        )
    if "_matched" in rcols:
        raise ValueError(
            "asof_join: right column name '_matched' is reserved for the "
            "internal match marker — rename before joining"
        )
    # _matched leads the struct so zero-value-column rights still mark
    rv_type = T.StructType(
        [T.StructField("_matched", T.BooleanType(), False)]
        + [T.StructField(c, right.schema[c].dataType) for c in rcols]
    )
    l = left.withColumn("_side", F.lit(1)).withColumn(
        "_rv", F.lit(None).cast(rv_type)
    )
    r = right.withColumn("_side", F.lit(0)).withColumn(
        "_rv",
        F.struct(F.lit(True).alias("_matched"), *[F.col(c) for c in rcols]),
    )
    for c in lcols:
        if c not in key_cols and c != ts_col:
            r = r.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    u = l.select(*lcols, "_rv", "_side").unionByName(
        r.select(*lcols, "_rv", "_side")
    )
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(F.col(ts_col).asc(), F.col("_side").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = u.select(
        *lcols,
        "_side",
        F.last(F.col("_rv"), ignorenulls=True).over(w).alias("_rv"),
    )
    out = carried.where(F.col("_side") == 1)
    if how == "inner":
        out = out.where(F.col("_rv").isNotNull())
    return out.select(
        *lcols, *[F.col("_rv").getField(c).alias(c) for c in rcols]
    )


def retention_cohorts(events: DataFrame) -> DataFrame:
    """Cohort retention matrix: users are cohorted by the epoch-day of
    their FIRST event; each (cohort_day, day_offset) cell counts the
    distinct users of that cohort active that many days later. All-day
    integer arithmetic (epoch_us DIV 86400e6) so the matrix is
    bit-identical cross-engine. Two key-partitioned aggregations —
    first-event per user, then the cell counts; no windows over the
    full event table."""
    # integer DIV, not float division: a double quotient that rounds
    # up across an integer boundary would shift the day cross-engine
    ed = events.select(
        "user_id", _epoch_us("ts").alias("_us")
    ).select("user_id", F.expr("_us DIV 86400000000").alias("_day"))
    first = ed.groupBy("user_id").agg(F.min("_day").alias("cohort_day"))
    return (
        ed.join(first, "user_id")
        .groupBy(
            "cohort_day",
            (F.col("_day") - F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count_distinct("user_id").alias("n_users"))
    )
