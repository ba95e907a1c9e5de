"""Analytic window-function family (SURVEY.md §2.5 extension).

The reference ranks neighbors per query row (app/evaluation.py:133-171)
— the only window shape it has. A full engine needs the rest of the
analytic family: running aggregates, ntile bucketing, distribution
ranks, and value-range (RANGE) frames. All of these execute in one
hash shuffle on the partition key followed by an in-partition sort —
no Python, no extra pass — so they scale exactly like the top-k
window that already ships.

Determinism contract (the oracle gate depends on it):
- every ordering passed in must be made unique by a tiebreaker
  column, EXCEPT for RANGE frames and rank-family functions, whose
  peer handling makes ties deterministic by definition;
- running money sums aggregate in DECIMAL (order-independent
  addition inside the frame) and project round(double, 4).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window
from ..caching import cache_auto


def running_agg(
    df: DataFrame,
    partition: list[str],
    order: list[Column],
    value: Column,
    out_col: str = "running_value",
) -> DataFrame:
    """Cumulative aggregate over an explicit ROWS frame.

    ROWS (not the default RANGE) so Spark and any SQL twin agree on
    peer rows; the caller's ``order`` must be unique per partition.
    """
    w = (
        Window.partitionBy(*partition)
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return df.withColumn(out_col, F.sum(value).over(w))


def ntile_buckets(
    df: DataFrame,
    partition: list[str],
    order: list[Column],
    n: int,
    out_col: str = "bucket",
) -> DataFrame:
    """ntile(n): equal-height buckets per partition (first buckets take
    the remainder rows — the standard SQL semantics both Spark and
    DuckDB implement). Unique order required for determinism."""
    w = Window.partitionBy(*partition).orderBy(*order)
    return df.withColumn(out_col, F.ntile(n).over(w))


def global_rank(
    df: DataFrame,
    order: list[Column],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> DataFrame:
    """Exact global 1-based row_number WITHOUT the single-partition
    WindowExec (``Window.orderBy`` with no partition moves the whole
    corpus through one task — the warning Spark prints is real at
    100 TB).

    Two-phase exact ranking, the distributed-sort classic:

    1. ``repartitionByRange`` + per-partition sort — Spark's scalable
       range sort (sampled boundaries, P-way parallel);
    2. per-partition row counts — one tiny job collecting P scalars —
       turned into cumulative offsets and broadcast back;
    3. partition-LOCAL row_number (WindowExec over ``__pid``, P-way
       parallel) + the partition's offset.

    ``order`` must be a TOTAL order (include a tie-break column):
    rows equal under ``order`` may straddle a range boundary, and only
    a total order makes every straddle-resolution produce the same
    ranks. The repartitioned frame is persisted so the sampled range
    boundaries are identical between the count job and the main job
    (resampling could move rows between partitions and corrupt
    offsets).

    NOT lazy: the offsets job (range shuffle + P-scalar collect) runs
    AT CONSTRUCTION, and the repartitioned frame stays persisted for
    the session (the repo's LRU-evicted-under-pressure pattern) —
    build these frames when you mean to run them.
    """
    return _global_rank_impl(df, order, out_col, num_partitions)[0]


def global_rank_with_total(
    df: DataFrame,
    order: list[Column],
    out_col: str = "rank",
    num_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """``global_rank`` plus the TOTAL row count, which the offsets
    job computes anyway — callers that need both (ntile cuts,
    reversed ranks, top-N-from-the-other-end) save a full extra
    aggregate job over the ranked frame."""
    return _global_rank_impl(df, order, out_col, num_partitions)[:2]


def global_rank_cumsum(
    df: DataFrame,
    order: list[Column],
    value_col: str,
    rank_col: str = "rank",
    cumsum_col: str = "cumsum",
    num_partitions: int | None = None,
) -> DataFrame:
    """``global_rank`` plus the exact global RUNNING SUM of
    ``value_col`` in the same order, from the same single range
    repartition: the per-partition offset job collects (row count,
    value sum) pairs and both offsets ride the same broadcast. The
    frequent-tokens / equi-depth family needs exactly this
    (rank + cumulative mass) and would otherwise fall back to a
    single-partition window.

    INTEGER-ONLY contract: the running sum accumulates in int64
    (order-independent, engine-exact — the repo-wide oracle policy),
    so ``value_col`` must be an integral column; fractional types
    raise rather than silently truncate. Pre-scale doubles to micro
    units if you need fractional mass.
    """
    dt = df.schema[value_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        raise TypeError(
            f"global_rank_cumsum sums {value_col!r} in exact int64; "
            f"got {dt} — pre-scale to integer (micro) units"
        )
    return _global_rank_impl(
        df, order, rank_col, num_partitions, value_col, cumsum_col
    )[0]


def _global_rank_impl(
    df: DataFrame,
    order: list[Column],
    out_col: str,
    num_partitions: int | None,
    value_col: str | None = None,
    cumsum_col: str = "cumsum",
):
    """(ranked frame, total rows, the persisted range-partitioned
    frame) — a caller that collects the ranks right away can release
    the third instead of leaving it cached for the session."""
    spark = df.sparkSession
    p = num_partitions or int(
        spark.conf.get("spark.sql.shuffle.partitions", "32")
    )
    parted = (
        df.repartitionByRange(p, *order)
        .sortWithinPartitions(*order)
        .withColumn("__pid", F.spark_partition_id())
        .transform(cache_auto)
    )
    aggs = [F.count(F.lit(1)).alias("cnt")]
    if value_col is not None:
        aggs.append(F.sum(F.col(value_col).cast("long")).alias("vsum"))
    stats = sorted(
        (r["__pid"], r["cnt"], (r["vsum"] if value_col else 0) or 0)
        for r in parted.groupBy("__pid").agg(*aggs).collect()
    )
    offsets, acc, vacc = [], 0, 0
    for pid, cnt, vsum in stats:
        offsets.append((pid, acc, vacc))
        acc += cnt
        vacc += vsum
    off_df = spark.createDataFrame(
        offsets, "__pid int, __off long, __voff long"
    )
    w = Window.partitionBy("__pid").orderBy(*order)
    out = parted.join(F.broadcast(off_df), "__pid").withColumn(
        out_col,
        (F.row_number().over(w) + F.col("__off")).cast("long"),
    )
    if value_col is not None:
        out = out.withColumn(
            cumsum_col,
            (
                F.sum(F.col(value_col).cast("long")).over(
                    w.rowsBetween(Window.unboundedPreceding, 0)
                )
                + F.col("__voff")
            ).cast("long"),
        )
    return out.drop("__pid", "__off", "__voff"), acc, parted


def global_ntile(
    df: DataFrame,
    n: int,
    order: list[Column],
    out_col: str = "bucket",
) -> DataFrame:
    """``ntile(n)`` over the WHOLE frame with the scale-safe
    ``global_rank`` underneath — bit-identical to
    ``Window.orderBy(...)`` + ``F.ntile`` (first ``total mod n``
    buckets take the extra row, the SQL semantics) but P-way parallel.
    ``order`` must be total (see ``global_rank``)."""
    # the offsets job already knows the total — no extra count action
    ranked, total = global_rank_with_total(df, order, out_col="__gr")
    q, r = divmod(total, n)
    big_span = r * (q + 1)
    # integer floor-div (64-bit exact at any corpus size; double
    # division would lose rank precision past 2^53)
    bucket = F.expr(
        f"CASE WHEN __gr <= {big_span}L"
        f" THEN (__gr - 1L) div {q + 1}L"
        f" ELSE {r}L + (__gr - {big_span}L - 1L) div {max(q, 1)}L"
        f" END"
    )
    return ranked.withColumn(
        out_col, (bucket + 1).cast("int")
    ).drop("__gr")


def rank_stats(
    df: DataFrame,
    partition: list[str],
    order: list[Column],
) -> DataFrame:
    """Distribution ranks: percent_rank ((rank-1)/(n-1)) and cume_dist
    (peers≤current / n). Both are tie-stable — peers share a value —
    so no tiebreaker is needed; the ratios are exact small-integer
    divisions and bit-identical across engines."""
    w = Window.partitionBy(*partition).orderBy(*order)
    return df.withColumn("pct_rank", F.percent_rank().over(w)).withColumn(
        "cume_dist", F.cume_dist().over(w)
    )


def range_frame_agg(
    df: DataFrame,
    partition: list[str],
    order_key: Column,
    value: Column,
    preceding: int,
    out_col: str = "range_value",
) -> DataFrame:
    """Sliding RANGE frame over a numeric order key: for each row, the
    aggregate of all rows whose key lies in [key − preceding, key].

    RANGE (value-based) frames are tie-deterministic — all peer rows
    join the frame — which makes them the right tool for event-time
    rolling windows where timestamps can collide. For time windows,
    pass an integer epoch (e.g. ``unix_micros(ts)``) as ``order_key``
    and the window width in the same unit; integer bounds sidestep
    engine-specific interval arithmetic.
    """
    w = (
        Window.partitionBy(*partition)
        .orderBy(order_key)
        .rangeBetween(-preceding, 0)
    )
    return df.withColumn(out_col, F.sum(value).over(w))


def resample_ffill(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    value_col: str,
    step_seconds: int = 3600,
) -> DataFrame:
    """Fixed-step time-series resampling with gap filling and
    forward-fill: per group, one row per ``step_seconds`` bucket from
    the corpus's first bucket to its last — empty buckets appear with
    cnt=0 and carry the most recent observed value forward (the
    standard resample().ffill() shape, as a distributed query).

    Per-bucket value is ``max`` (order-independent — an avg would sum
    doubles in engine-specific order and break cross-engine hashing).
    Buckets are integer epoch seconds: interval arithmetic differs
    across engines, integer floor-division doesn't.

    Scale shape: one partial-aggregated groupBy for the observations,
    a broadcast 1-row range + distinct-groups spine (groups ×
    range/step rows — spine mass is schedule-bounded, not data-
    bounded), one left join keyed (group, bucket), one per-group
    ordered window for the fill. Null ts / null group rows are
    excluded (they belong to no bucket).
    """
    bucket = (
        F.floor(F.unix_timestamp(F.col(ts_col)) / step_seconds)
        * step_seconds
    ).cast("long")
    ep = (
        df.filter(F.col(ts_col).isNotNull() & F.col(group_col).isNotNull())
        .select(
            F.col(group_col).alias("grp"),
            bucket.alias("bucket"),
            F.col(value_col).alias("__v"),
        )
    )
    obs = ep.groupBy("grp", "bucket").agg(
        F.count(F.lit(1)).alias("cnt"), F.max("__v").alias("vmax")
    )
    rng = ep.agg(
        F.min("bucket").alias("lo"), F.max("bucket").alias("hi")
    )
    spine = (
        ep.select("grp")
        .distinct()
        .crossJoin(F.broadcast(rng))
        .select(
            "grp",
            F.explode(
                F.sequence("lo", "hi", F.lit(step_seconds).cast("long"))
            ).alias("bucket"),
        )
    )
    w = Window.partitionBy("grp").orderBy("bucket")
    return (
        spine.join(obs, ["grp", "bucket"], "left")
        .select(
            "grp",
            "bucket",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
            "vmax",
        )
        .withColumn("filled", F.last("vmax", ignorenulls=True).over(w))
    )


def group_zscore(
    df: DataFrame,
    group_col: str,
    value_col: str,
    out_col: str = "z",
) -> DataFrame:
    """Per-group z-score normalization (feature scaling): sample mean
    and stddev per group, z = (x − mean)/sd rounded to 4 digits.

    The moments come from DECIMAL sums (Σx, Σx² — order-independent
    addition, so Spark's partial-agg order can't flip a rounded
    digit) via the one-pass identity var = (Σx² − (Σx)²/n)/(n−1),
    clamped at 0 against truncation-level negatives. Groups with
    n = 1 or sd = 0 emit null (no scale to normalize by).

    Scale shape: one partial-aggregated groupBy producing one row per
    group, broadcast back onto the rows — the table itself is never
    shuffled (vs the window formulation, which re-shuffles every row
    by group). Null values pass through with a null score.
    """
    x = F.col(value_col)
    stats = (
        df.filter(x.isNotNull())
        .groupBy(group_col)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(x.cast("decimal(28,10)")).alias("__s1"),
            F.sum((x * x).cast("decimal(28,10)")).alias("__s2"),
        )
    )
    n = F.col("__n").cast("double")
    s1 = F.col("__s1").cast("double")
    s2 = F.col("__s2").cast("double")
    mean = s1 / n
    var = F.greatest(
        (s2 - (s1 * s1) / n) / (n - F.lit(1.0)), F.lit(0.0)
    )
    sd = F.sqrt(var)
    return (
        df.join(F.broadcast(stats), group_col, "left")
        .withColumn(
            out_col,
            F.when(
                (F.col("__n") > 1) & (sd > 0.0) & x.isNotNull(),
                F.round((x - mean) / sd, 4),
            ),
        )
        .drop("__n", "__s1", "__s2")
    )


def funnel_counts(
    df: DataFrame,
    key: str,
    step_col: str,
    order_cols: list,
    steps: list[str],
) -> DataFrame:
    """Ordered-funnel analysis: how many entities reached step k —
    i.e. performed ``steps[0..k]`` as an in-order (not necessarily
    adjacent) subsequence of their event stream.

    One shuffle: events collapse to a per-entity ordered step array
    (``collect_list(struct(order, step))`` → ``array_sort`` — Spark
    gives no intra-group collect order, the sort establishes it);
    subsequence matching is then pure array arithmetic
    (``array_position`` over successively sliced suffixes — no UDF,
    no regex), and the stage counts come off a tiny aggregate.
    Returns ``(stage, step, entities)`` with one row per funnel stage.
    """
    ordered = df.groupBy(key).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(*order_cols, F.col(step_col)))
            ),
            lambda s: s[step_col],
        ).alias("__arr")
    )
    # walk the funnel: pos_k = first occurrence of steps[k] strictly
    # after pos_{k-1}; 0 from array_position means "absent"
    cur = ordered.withColumn("__off", F.lit(0))
    flags = []
    for k, step in enumerate(steps):
        rel = F.array_position(
            F.slice(
                F.col("__arr"),
                F.col("__off") + 1,
                F.greatest(
                    F.size("__arr") - F.col("__off"), F.lit(0)
                ),
            ),
            step,
        )
        hit = F.when(rel > 0, F.col("__off") + rel)
        # absent step: park the offset at the array end so every later
        # slice is empty (an INT sentinel would overflow slice's cast)
        cur = cur.withColumn(f"__p{k}", hit).withColumn(
            "__off", F.coalesce(F.col(f"__p{k}"), F.size("__arr"))
        )
        flags.append(
            F.sum(
                F.when(F.col(f"__p{k}").isNotNull(), 1).otherwise(0)
            ).alias(f"__s{k}")
        )
    totals = cur.agg(*flags)
    # ONE aggregate row exploded into the per-stage rows — a union of
    # per-stage selects would re-run the whole collapse+count subplan
    # once per funnel stage (measured: 3x the scans at 3 stages)
    stage_structs = F.array(
        *[
            F.struct(
                F.lit(k + 1).alias("stage"),
                F.lit(step).alias("step"),
                F.col(f"__s{k}").alias("entities"),
            )
            for k, step in enumerate(steps)
        ]
    )
    return totals.select(F.explode(stage_structs).alias("__r")).select(
        "__r.stage", "__r.step", "__r.entities"
    )


def cohort_retention(
    df: DataFrame,
    user_col: str,
    ts_col: str,
) -> DataFrame:
    """Weekly cohort-retention matrix — the classic product-analytics
    rollup: users are assigned to the cohort of their first active
    ISO week (``date_trunc('week')``, Monday start — identical in
    Spark and DuckDB), and each cell counts the cohort's users active
    ``week_offset`` weeks later. Output:
    ``(cohort_week, week_offset, active_users)``, ordered.

    All-integer: week offsets are ``datediff div 7`` (truncation of
    week-aligned diffs is exact) and cells are exact counts — no
    float anywhere, engine-exact by construction.

    Scale shape: one DISTINCT to the (user, week) grain, one tiny
    first-week aggregate joined back on the user key, one cell
    aggregate — three key-partitioned Exchanges, no window over the
    raw fact table, no collect.
    """
    wk = F.date_trunc("week", F.col(ts_col)).cast("date")
    uw = (
        df.filter(
            F.col(user_col).isNotNull() & F.col(ts_col).isNotNull()
        )
        .select(F.col(user_col).alias("__u"), wk.alias("__w"))
        .distinct()
    )
    first = uw.groupBy("__u").agg(F.min("__w").alias("cohort_week"))
    cells = (
        uw.join(first, "__u")
        .select(
            "cohort_week",
            F.expr("datediff(__w, cohort_week) div 7").alias(
                "week_offset"
            ),
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.count(F.lit(1)).alias("active_users"))
    )
    return cells.orderBy("cohort_week", "week_offset")


def event_transitions(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    type_col: str,
    tie_col: str,
) -> DataFrame:
    """First-order Markov transition matrix over per-key event
    sequences: count each (previous type → type) step, with the
    transition probability in integer ppm (floor div OUTSIDE the
    counts — engine-exact). ``tie_col`` makes the within-key ordering
    total (same-timestamp events would otherwise order
    nondeterministically). Output:
    ``(prev_type, next_type, cnt, p_ppm)``, ordered.

    Scale shape: one key-partitioned window (lag) and one pair
    aggregate; the per-prev normalizer is a tiny second aggregate
    joined back broadcast — the event table shuffles once.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(key_col).orderBy(
        F.asc(ts_col), F.asc(tie_col)
    )
    steps = (
        df.filter(
            F.col(key_col).isNotNull()
            & F.col(type_col).isNotNull()
            # the ordering columns must be non-null for the claimed
            # total order — NULL placement differs across engines
            # (Spark ASC: nulls first; DuckDB default: nulls last)
            & F.col(ts_col).isNotNull()
            & F.col(tie_col).isNotNull()
        )
        .withColumn("__prev", F.lag(type_col).over(w))
        .filter(F.col("__prev").isNotNull())
        .select(
            F.col("__prev").alias("prev_type"),
            F.col(type_col).alias("next_type"),
        )
    )
    cnt = steps.groupBy("prev_type", "next_type").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    tot = cnt.groupBy("prev_type").agg(F.sum("cnt").alias("__tot"))
    return (
        cnt.join(F.broadcast(tot), "prev_type")
        .select(
            "prev_type",
            "next_type",
            "cnt",
            F.expr("(1000000L * cnt) div __tot").alias("p_ppm"),
        )
        .orderBy("prev_type", "next_type")
    )


def time_weighted_avg(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    tie_col: str,
) -> DataFrame:
    """Per-key time-weighted average: each observation is weighted by
    the seconds it was "in effect" (until the key's next event; the
    final observation has no duration and is excluded — the standard
    step-function TWA over a finite window). Output:
    ``(key, twa, total_seconds)``.

    Cross-engine exactness: value × duration products and their sum
    run in DECIMAL (value cast DECIMAL(18,6), duration an exact
    int64 of epoch seconds) — order-independent — with ONE double
    conversion + round at the end. Keys whose events all share one
    timestamp (total duration 0) are dropped rather than divided by
    zero.

    Scale shape: one key-partitioned window (lead) + one aggregate —
    a single Exchange on the key.
    """
    from pyspark.sql.window import Window

    base = df.filter(
        F.col(key_col).isNotNull()
        & F.col(ts_col).isNotNull()
        & F.col(value_col).isNotNull()
        & F.col(tie_col).isNotNull()
    )
    w = Window.partitionBy(key_col).orderBy(
        F.asc(ts_col), F.asc(tie_col)
    )
    stepped = (
        base.withColumn("__next", F.lead(ts_col).over(w))
        .filter(F.col("__next").isNotNull())
        .select(
            F.col(key_col).alias("key"),
            (
                F.unix_timestamp("__next")
                - F.unix_timestamp(ts_col)
            ).alias("__dt"),
            F.col(value_col).cast("decimal(18,6)").alias("__v"),
        )
    )
    agg = stepped.groupBy("key").agg(
        F.sum(F.col("__v") * F.col("__dt")).alias("__wsum"),
        F.sum("__dt").alias("total_seconds"),
    )
    return (
        agg.filter(F.col("total_seconds") > 0)
        .select(
            "key",
            F.round(
                F.col("__wsum").cast("double")
                / F.col("total_seconds"),
                6,
            ).alias("twa"),
            "total_seconds",
        )
        .orderBy("key")
    )


def seasonality_profile(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str | None = None,
) -> DataFrame:
    """Weekly seasonality index: per day-of-week activity (row count,
    or DECIMAL-exact value sum when ``value_col`` is given) relative
    to the uniform expectation, as integer ppm — the classical
    seasonal-index decomposition step (index > 1e6 ⇒ that weekday
    runs hot). NULL timestamps excluded.

    ``index_ppm = (7 · PPM · dow_total) div grand_total`` — exact
    integer counts (or integer cents for values), one floor division
    at the end, so the profile is engine-exact. One hash aggregate +
    a 1-row broadcast for the grand total.

    Output: ``(dow, n_events, total_cents?, index_ppm)`` — ``dow``
    1=Monday…7=Sunday (ISO, ``dayofweek``-independent across
    engines via the weekday formula), ordered by dow.
    """
    ts = F.col(ts_col)
    # ISO weekday from the epoch-day: 1970-01-01 was a Thursday (=4);
    # DATEDIFF-based formula is engine-portable (Spark dayofweek is
    # Sunday-first, DuckDB isodow is ISO — sidestep both)
    epoch_day = F.datediff(
        F.to_date(ts), F.to_date(F.lit("1970-01-01"))
    )
    dow = F.pmod(epoch_day + F.lit(3), F.lit(7)) + F.lit(1)
    base = df.filter(ts.isNotNull()).select(
        dow.alias("dow"),
        *(
            [
                F.round(F.col(value_col).cast("double") * 100, 0)
                .cast("long")
                .alias("__cents")
            ]
            if value_col
            else []
        ),
    )
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col:
        aggs.append(F.sum("__cents").alias("total_cents"))
    per = base.groupBy("dow").agg(*aggs)
    metric = "total_cents" if value_col else "n_events"
    tot = per.agg(F.sum(metric).alias("__g"))
    out_cols = ["dow", "n_events"] + (
        ["total_cents"] if value_col else []
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            *out_cols,
            F.expr(f"(7 * 1000000L * {metric}) div __g").alias(
                "index_ppm"
            ),
        )
        .orderBy("dow")
    )


def ohlc_bars(
    df: DataFrame,
    ts_col: str = "ts",
    value_col: str = "value",
    key_col: str | None = None,
    bucket: str = "1 hour",
) -> DataFrame:
    """OHLC resampling bars (open/high/low/close + volume) per time
    bucket — the canonical downsampling of a value stream for
    monitoring dashboards and feature windows. ``open``/``close``
    are the FIRST/LAST values by (ts, tie-break on nothing — the
    min/max ts rows; duplicate timestamps take the min/max VALUE at
    that instant, a deterministic policy an oracle can replay),
    high/low are extremes, n is the bar's row count.

    One hash aggregate on (key, bucket) — ``min_by``/``max_by`` with
    a composite (ts, value) struct keep it a single pass (no window,
    no self-join); at 100 TB the bar table is |keys| × |buckets|,
    corpus scanned once.
    """
    b = F.window(F.col(ts_col), bucket).getField("start").alias("bar_ts")
    keys = ([F.col(key_col)] if key_col else []) + [b]
    # deterministic under duplicate timestamps: order by (ts, value)
    ordkey = F.struct(F.col(ts_col), F.col(value_col))
    return (
        df.filter(F.col(value_col).isNotNull())
        .groupBy(*keys)
        .agg(
            F.min_by(value_col, ordkey).alias("open"),
            F.max(value_col).alias("high"),
            F.min(value_col).alias("low"),
            F.max_by(value_col, ordkey).alias("close"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy(*([key_col] if key_col else []), "bar_ts")
    )
