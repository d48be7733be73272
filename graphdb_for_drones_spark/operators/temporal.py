"""Temporal operators: as-of join and sessionization.

Neither exists as a Spark built-in; both are implemented as compositions
of built-in operators chosen for their 100 TB plan shape:

* ``asof_join`` — the classic scalable formulation: tag the two event
  streams, UNION them, and carry the right side's latest value forward
  with a ``last(ignorenulls)`` running window.  One shuffle on
  (key, time) — never a range join, whose O(n·m) per-key blowup is the
  naive implementation's downfall.  (Same trick Flink/KDB users apply on
  Spark; cf. Databricks' tempo.)

* ``sessionize`` — gap-based session ids via lag + running sum, the
  standard two-window formulation.  One shuffle on the user key; both
  windows share the same partitioning so Catalyst plans a single
  exchange + sort.

The reference has no temporal operators (SURVEY.md §2.5 R1: none) —
these are beyond-reference additions for the training-data-pipeline
surface (event-history features, session corpus construction).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from graphdb_for_drones_spark.operators._pin import pin


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    value_col: str,
    direction: str = "backward",
) -> DataFrame:
    """For each left row, attach ``value_col`` of the right row with the
    greatest ``right_ts`` <= ``left_ts`` (direction="backward"; ties on
    the timestamp take the right row — i.e. a right event at exactly the
    left timestamp matches).  Returns the left rows + ``asof_<value_col>``
    (+ ``asof_ts``), null when no prior right row exists.

    Implementation: union of tagged streams ordered by
    (ts, side) — right rows sort before left rows at equal ts — and a
    running ``last(ignorenulls=True)`` per key.  Scales as one exchange
    on ``on`` + sort, regardless of how many right rows precede each
    left row.

    Tie semantics: among right rows sharing the SAME (key, right_ts) the
    carried value is arbitrary (sort is not stable across partitionings)
    — deduplicate the right side first if that matters; distinct
    timestamps per key are fully deterministic (property-tested)."""
    if direction != "backward":
        raise ValueError("only direction='backward' is implemented")
    lcols = left.columns
    l = left.select(
        F.col(on).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        F.lit(None).cast(right.schema[value_col].dataType).alias("__rv"),
        F.lit(None).cast(right.schema[right_ts].dataType).alias("__rts"),
        F.struct(*lcols).alias("__row"),
    )
    r = right.select(
        F.col(on).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        F.col(value_col).alias("__rv"),
        F.col(right_ts).alias("__rts"),
        F.lit(None).cast(l.schema["__row"].dataType).alias("__row"),
    )
    u = l.unionByName(r)
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__side", "__rts")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        u.withColumn("__asof_v", F.last("__rv", ignorenulls=True).over(w))
        .withColumn("__asof_ts", F.last("__rts", ignorenulls=True).over(w))
        .filter(F.col("__side") == 1)
    )
    return out.select(
        *[F.col("__row")[c].alias(c) for c in lcols],
        F.col("__asof_v").alias(f"asof_{value_col}"),
        F.col("__asof_ts").alias("asof_ts"),
    )


def range_join(
    left: DataFrame,
    intervals: DataFrame,
    left_ts: str,
    start_col: str,
    end_col: str,
    bucket_ms: int = 3_600_000,
) -> DataFrame:
    """Point-in-interval range join, bucketized: intervals are exploded
    onto the fixed time buckets they cover; points equi-join on their
    single bucket; an exact containment filter finishes
    (start <= ts < end).  Every matching (point, interval) pair meets on
    exactly one bucket (the point's), so no dedup is needed.

    This is the scalable formulation of the theta join
    ``ON ts BETWEEN start AND end``: the equi-join shuffles on bucket
    keys and the per-bucket work is bounded by interval span /
    ``bucket_ms`` — never the O(points × intervals) nested loop a
    BETWEEN join degenerates to.  All columns in epoch millis."""
    # Spark's `div` (IntegralDivide) truncates toward zero, not floor —
    # bucket 0 spans (-bucket_ms, bucket_ms) for negative epochs.  That is
    # still correct here because what the join needs is CONSISTENCY, not a
    # particular rounding: both sides bucket with the same monotone
    # function, so an interval's bucket sequence always covers every
    # bucket its points land in, and the exact containment filter decides
    # membership.  Empty/inverted intervals (end <= start) are dropped
    # BEFORE the explode: sequence(start, smaller_end) would otherwise
    # generate a descending bucket array whose spurious candidate rows the
    # containment filter hides from results but not from cost.
    iv = intervals.filter(F.col(end_col) > F.col(start_col)).withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                F.expr(f"`{start_col}` div {bucket_ms}"),
                # end is exclusive: last covered bucket is (end-1) div bucket
                F.expr(f"(`{end_col}` - 1) div {bucket_ms}"),
            )
        ),
    )
    pt = left.withColumn("__bucket", F.expr(f"`{left_ts}` div {bucket_ms}"))
    return (
        pt.join(iv, "__bucket")
        .filter(
            (F.col(left_ts) >= F.col(start_col))
            & (F.col(left_ts) < F.col(end_col))
        )
        .drop("__bucket")
    )


def islands(
    df: DataFrame,
    key_col: str = "user_id",
    order_col: str = "ts",
    value_col: str = "event_type",
    order_tiebreak: str = "event_id",
    out_col: str = "island_id",
) -> DataFrame:
    """Gaps-and-islands by VALUE CHANGE — the SCD2 / interval-collapse
    primitive: consecutive rows (per key, in (order, tiebreak) total
    order) carrying the same value share an island id; a value
    transition — or the key's first row — starts a new one.
    ``sessionize``'s sibling: sessions break on TIME GAPS, islands
    break on value transitions.  Null-safe (consecutive NULL values
    share an island).  Returns the input plus ``out_col`` (1-based per
    key).  One exchange on the key; the running sum rides a unique
    total order, so the default RANGE frame equals ROWS."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(order_col), F.col(order_tiebreak)
    )
    change = (
        (F.row_number().over(w) == 1)
        | ~F.lag(F.col(value_col)).over(w).eqNullSafe(F.col(value_col))
    ).cast("int")
    return df.withColumn(out_col, F.sum(change).over(w))


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    order_tiebreak: str = "event_id",
    gap_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Assign gap-based session ids: a new session starts when the gap
    from the user's previous event exceeds ``gap_ms`` (comparison in
    epoch millis — exact integers, no float/timezone hazards).

    Returns the input plus ``session_seq`` (1-based per user)."""
    tsm = F.unix_millis(F.col(ts_col))
    w = Window.partitionBy(user_col).orderBy(tsm, F.col(order_tiebreak))
    new_session = F.when(
        tsm - F.lag(tsm).over(w) > gap_ms, F.lit(1)
    ).otherwise(F.lit(0))
    # first row per user: lag is null → when() falls to otherwise(0);
    # running sum then starts at 0 — add 1 for a 1-based id
    seq = (
        F.sum(new_session).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        + 1
    )
    return events.withColumn("session_seq", seq.cast("long"))


def session_stats(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_ms: int = 30 * 60 * 1000,
) -> DataFrame:
    """Per-session aggregates over ``sessionize`` output: start (epoch
    ms), event count, duration in ms."""
    s = sessionize(events, user_col=user_col, ts_col=ts_col, gap_ms=gap_ms)
    tsm = F.unix_millis(F.col(ts_col))
    return s.groupBy(user_col, "session_seq").agg(
        F.min(tsm).alias("session_start_ms"),
        F.count(F.lit(1)).alias("n_events"),
        (F.max(tsm) - F.min(tsm)).alias("duration_ms"),
    )


def resample_counts(
    df: DataFrame,
    ts_col: str = "ts",
    group_col: str = "event_type",
    bucket_ms: int = 3_600_000,
    value_col: str | None = None,
) -> DataFrame:
    """Gap-filled time-series resampling: per group, the COMPLETE bucket
    grid from the group's first to last event (``sequence`` + explode —
    generated engine-side, no driver loop), left-joined with per-bucket
    counts, gaps zero-filled — the resample/downsample step every
    time-series dashboard and feature pipeline needs, with the property
    aggregates can't give you: silent-outage buckets EXIST with n=0.

    Returns (group, bucket_start epoch-ms long, n long[, total value
    DECIMAL-summed → double]).  Scale shape: counts are one partial-
    aggregated groupBy; the grid explode is bounded by span/bucket (not
    rows); the join-back is a small-grid ⋈ small-counts equi join.
    """
    ms = F.unix_millis(F.col(ts_col).cast("timestamp"))
    bucket = (ms - F.pmod(ms, F.lit(bucket_ms))).alias("bucket_start")
    aggs = [F.count(F.lit(1)).cast("long").alias("n")]
    if value_col is not None:
        aggs.append(
            F.sum(F.col(value_col).cast("decimal(18,6)"))
            .cast("double")
            .alias("total")
        )
    # pinned: both the grid bounds and the final join consume this
    # frame, and an unpinned double reference re-scans the events
    # source twice (the multi-reference rule); post-aggregation it is
    # bucket-count sized
    counts = pin(
        df.select(
            F.col(group_col).alias("grp"), bucket, *([value_col] if value_col else [])
        ).groupBy("grp", "bucket_start").agg(*aggs)
    )
    bounds = counts.groupBy("grp").agg(
        F.min("bucket_start").alias("__lo"), F.max("bucket_start").alias("__hi")
    )
    grid = bounds.select(
        "grp",
        F.explode(
            F.sequence(F.col("__lo"), F.col("__hi"), F.lit(bucket_ms))
        ).alias("bucket_start"),
    )
    out_cols = [
        "grp",
        "bucket_start",
        F.coalesce(F.col("n"), F.lit(0).cast("long")).alias("n"),
    ]
    if value_col is not None:
        out_cols.append(
            F.coalesce(F.col("total"), F.lit(0.0)).alias("total")
        )
    return grid.join(counts, ["grp", "bucket_start"], "left").select(*out_cols)


def retention_cohorts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    period_days: int = 7,
) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    are cohorted by the period of their FIRST activity, and each
    (cohort, offset) cell counts how many of them were active exactly
    ``offset`` periods later, with ``retention`` = cell / cohort size.

    Period ids are integer epoch-millis division (``unix_millis div
    period_ms`` — exact, engine-neutral, the ``epoch_ms // N`` oracle
    shape), so cohort boundaries are bit-identical across engines; the
    one ratio is a single IEEE division of exact longs.

    Plan shape at 100 TB: distinct (user, period) — one user-keyed
    exchange; the per-user MIN cohort rides the SAME key (AQE reuses
    the exchange); the join back is user-keyed (co-partitioned, no
    extra shuffle class); the final (cohort, offset) aggregate is
    cohort-cardinality-bounded.  The (user, period) distinct rows are
    already unique per user — plain COUNT, never a COUNT DISTINCT
    Expand.  Returns (cohort_period, period_offset, n_users,
    cohort_size, retention)."""
    period_ms = period_days * 86_400_000
    uw = (
        df.select(
            F.col(user_col).alias("u"),
            F.expr(
                f"unix_millis(cast({ts_col} as timestamp)) div {period_ms}"
            ).alias("w"),
        )
        .filter(F.col("u").isNotNull() & F.col("w").isNotNull())
        .distinct()
    )
    cohort = uw.groupBy("u").agg(F.min("w").alias("cw"))
    cells = (
        uw.join(cohort, "u")
        .groupBy(
            F.col("cw").alias("cohort_period"),
            (F.col("w") - F.col("cw")).alias("period_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )
    w0 = Window.partitionBy("cohort_period")
    size = F.max(
        F.when(F.col("period_offset") == 0, F.col("n_users"))
    ).over(w0)
    return cells.select(
        "cohort_period",
        "period_offset",
        "n_users",
        size.alias("cohort_size"),
        F.round(
            F.col("n_users").cast("double") / size.cast("double"), 9
        ).alias("retention"),
    )


def funnel_counts(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: tuple[str, ...],
) -> DataFrame:
    """Ordered funnel completion — for each prefix of ``steps``, how
    many users performed those event types IN TIME ORDER (strictly
    increasing timestamps; same-instant events do not chain, the
    deterministic reading of "then").  The classic product-analytics
    question ("view → click → purchase"), answered with the textbook
    first-reach recurrence: t_k(u) = MIN ts of a step-k event with
    ts > t_{k-1}(u) — each step is one user-keyed join + MIN aggregate,
    so every shuffle rides the user key (co-partitioned chain, no
    row blowup at 100 TB; K steps = K joins, K fixed and small).

    The K step frames union into ONE lazy plan (no eager pins — the
    bench thunks rule); branch k re-derives steps 1..k, an O(K²)-scan
    trade that keeps plan construction free.  ``conversion`` is each
    count over the step-0 count: exact longs, one IEEE division,
    NULL when the funnel head is empty.  Returns (step_idx, step,
    n_users, conversion)."""
    base = df.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(type_col).alias("s"),
    ).filter(F.col("u").isNotNull() & F.col("t").isNotNull())

    def reach(k: int) -> DataFrame:
        cur = (
            base.filter(F.col("s") == steps[0])
            .groupBy("u")
            .agg(F.min("t").alias("t"))
        )
        for s in steps[1 : k + 1]:
            ev = base.filter(F.col("s") == s).select(
                "u", F.col("t").alias("t2")
            )
            cur = (
                ev.join(cur, "u")
                .filter(F.col("t2") > F.col("t"))
                .groupBy("u")
                .agg(F.min("t2").alias("t"))
            )
        return cur

    parts = [
        reach(k).groupBy().agg(
            F.lit(k).cast("long").alias("step_idx"),
            F.lit(steps[k]).alias("step"),
            F.count(F.lit(1)).cast("long").alias("n_users"),
        )
        for k in range(len(steps))
    ]
    counts = parts[0]
    for p in parts[1:]:
        counts = counts.unionByName(p)
    head = F.max(
        F.when(F.col("step_idx") == 0, F.col("n_users"))
    ).over(Window.partitionBy())
    return counts.select(
        "step_idx",
        "step",
        "n_users",
        F.when(
            head > 0,
            F.round(F.col("n_users").cast("double") / head.cast("double"), 9),
        ).alias("conversion"),
    )


def funnel_latency(
    df: DataFrame,
    user_col: str,
    ts_col: str,
    type_col: str,
    steps: tuple[str, ...],
) -> DataFrame:
    """Time-to-convert for funnel COMPLETERS: the same first-reach
    recurrence as ``funnel_counts``, carrying the head timestamp
    through the chain, then one global aggregate over
    latency = t_K − t_1 in epoch milliseconds (exact long
    subtraction; the mean sums as DECIMAL(38,0) before ONE double
    division, so the report is driver-hash-exact).  Same co-partitioned
    user-keyed plan shape as the counts entry.  Returns one row:
    (n_completers, avg_latency_ms, min_latency_ms, max_latency_ms) —
    NULL stats on an empty completer set instead of an ANSI failure."""
    base = df.select(
        F.col(user_col).alias("u"),
        F.col(ts_col).alias("t"),
        F.col(type_col).alias("s"),
    ).filter(F.col("u").isNotNull() & F.col("t").isNotNull())
    cur = (
        base.filter(F.col("s") == steps[0])
        .groupBy("u")
        .agg(F.min("t").alias("t0"))
        .withColumn("t", F.col("t0"))
    )
    for s in steps[1:]:
        ev = base.filter(F.col("s") == s).select("u", F.col("t").alias("t2"))
        cur = (
            ev.join(cur, "u")
            .filter(F.col("t2") > F.col("t"))
            .groupBy("u", "t0")
            .agg(F.min("t2").alias("t"))
        )
    lat = cur.select(
        (F.unix_millis("t") - F.unix_millis("t0")).alias("ms")
    )
    n = F.count(F.lit(1)).cast("long")
    return lat.groupBy().agg(
        n.alias("n_completers"),
        F.when(
            n > 0,
            F.round(
                F.sum(F.col("ms").cast("decimal(38,0)")).cast("double")
                / n.cast("double"),
                9,
            ),
        ).alias("avg_latency_ms"),
        F.min("ms").alias("min_latency_ms"),
        F.max("ms").alias("max_latency_ms"),
    )
