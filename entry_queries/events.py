"""Events: windows, sessionization, JSON extraction, funnels and time
joins over the events table (SURVEY §2.10 windows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from entry_queries.common import _t, query


@query(oracle="""
            select cast(date_trunc('day', ts) as date) as day, event_type,
                   count(*) as n_events,
                   round(sum(value), 4) as sum_value
            from events
            group by day, event_type
        """)
def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )


@query(oracle="""
            select user_id, last_event_id, last_event_type from (
              select user_id, event_id as last_event_id, event_type as last_event_type,
                     row_number() over (partition by user_id
                                        order by ts desc, event_id desc) as rn
              from events
            ) where rn = 1
        """)
def q_events_last_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """row_number window — the seq-on-page pattern (SURVEY §2.5)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.col("ts").desc(), F.col("event_id").desc())
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("last_event_id"),
            F.col("event_type").alias("last_event_type"),
        )
    )


@query(oracle="""
            with gaps as (
              select user_id, ts, event_id,
                     epoch_us(ts) - lag(epoch_us(ts)) over w as gap
              from events
              window w as (partition by user_id order by ts, event_id)
            ), sess as (
              select user_id, ts,
                     sum(case when gap is null or gap > 1800000000 then 1 else 0 end)
                       over (partition by user_id order by ts, event_id
                             rows between unbounded preceding and current row) as session_id
              from gaps
            )
            select user_id, cast(session_id as bigint) as session_id,
                   count(*) as n_events,
                   cast((max(epoch_us(ts)) - min(epoch_us(ts))) // 1000000 as bigint) as duration_sec
            from sess
            group by user_id, session_id
        """)
def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + cumulative-sum sessionization (30-min gap)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gap = us - F.lag(us).over(w)
    sess = F.sum(
        F.when(gap.isNull() | (gap > 1_800_000_000), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("session_id", sess)
        .groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            ((F.max(us) - F.min(us)) / F.lit(1_000_000)).cast("bigint").alias(
                "duration_sec"
            ),
        )
    )


@query(oracle="""
            with base as (
              select event_id, user_id,
                     cast(epoch_us(ts) // 1000000 as bigint) as secs,
                     cast(value as decimal(18,6)) as v
              from events
            )
            select event_id, user_id,
                   floor(cast(sum(v) over w as double)
                         / (count(*) over w) * 1000000.0 + 0.5) / 1000000.0
                     as hour_avg,
                   count(*) over w as hour_n
            from base
            window w as (partition by user_id order by secs
                         range between 3600 preceding and current row)
        """)
def q_events_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame sliding window: per-user mean event value over the
    preceding hour (inclusive). Decimal running sums + floor rounding
    keep the frame aggregation engine-exact."""
    ev = _t(spark, sf_dir, "events")
    # integer division: a double roundtrip can cross the floor boundary
    secs = F.expr("unix_micros(ts) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy(secs)
        .rangeBetween(-3600, 0)
    )
    vsum = F.sum(F.col("value").cast("decimal(18,6)")).over(w)
    vcnt = F.count("*").over(w)
    mean = (
        F.floor(
            vsum.cast("double") / vcnt * F.lit(1000000.0) + F.lit(0.5)
        )
        / F.lit(1000000.0)
    )
    return ev.select(
        "event_id",
        "user_id",
        mean.alias("hour_avg"),
        vcnt.alias("hour_n"),
    )


@query(oracle="""
            select event_type,
                   round(avg(k), 4) as avg_k,
                   max(k) as max_k,
                   count(*) as n
            from (
              select event_type,
                     cast(json_extract_string(props, '$.k') as bigint) as k
              from events
            )
            group by event_type
        """)
def q_events_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction from the props column."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("bigint")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.round(F.avg("k"), 4).alias("avg_k"),
            F.max("k").alias("max_k"),
            F.count("*").alias("n"),
        )
    )


@query(oracle="""
            with e as (
              select user_id, epoch_us(ts) as us, event_type from events
            ), s1 as (
              select user_id, min(us) as t1 from e
              where event_type = 'view' group by user_id
            ), s2 as (
              select e.user_id, min(us) as t2
              from e join s1 using (user_id)
              where event_type = 'click' and us >= t1
                and us <= t1 + 86400000000
              group by e.user_id
            ), s3 as (
              select e.user_id, min(us) as t3
              from e join s2 using (user_id) join s1 using (user_id)
              where event_type = 'purchase' and us >= t2
                and us <= t1 + 86400000000
              group by e.user_id
            )
            select s1.user_id, t1, t2, t3,
                   cast(1 + case when t2 is not null then 1 else 0 end
                          + case when t3 is not null then 1 else 0 end as bigint)
                     as stage
            from s1 left join s2 using (user_id) left join s3 using (user_id)
        """)
def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """view→click→purchase funnel within 24h of the first view:
    per-user first-touch step timestamps (min-based semantics, tie-
    proof across engines) and reached stage. One groupBy(user) shuffle;
    the step chain is array expressions over the collected events."""
    from unstructured_spark.operators.funnel import funnel

    ev = _t(spark, sf_dir, "events")
    return funnel(ev, ["view", "click", "purchase"], within_seconds=24 * 3600)


@query(oracle="""
            with e as (
              select user_id, epoch_us(ts) as us, event_type from events
            ), s1 as (
              select user_id, min(us) as t1 from e
              where event_type = 'view' group by user_id
            ), s2 as (
              select e.user_id, min(us) as t2
              from e join s1 using (user_id)
              where event_type = 'click' and us >= t1
                and us <= t1 + 86400000000
              group by e.user_id
            ), s3 as (
              select e.user_id, min(us) as t3
              from e join s2 using (user_id) join s1 using (user_id)
              where event_type = 'purchase' and us >= t2
                and us <= t1 + 86400000000
              group by e.user_id
            ), per_user as (
              select cast(1 + case when t2 is not null then 1 else 0 end
                            + case when t3 is not null then 1 else 0 end
                          as bigint) as stage
              from s1 left join s2 using (user_id) left join s3 using (user_id)
            )
            select cast(step as bigint) as step,
                   cast(sum(case when stage >= step then 1 else 0 end)
                        as bigint) as users
            from per_user, (select unnest(range(1, 4)) as step)
            group by step
        """)
def q_funnel_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Step-reach counts for the view→click→purchase funnel: one row
    per step with the number of users who reached it — the headline
    conversion table on top of q_funnel's per-user frame. One scalar
    aggregate over the funnel output, exploded back to rows."""
    from unstructured_spark.operators.funnel import funnel, funnel_summary

    ev = _t(spark, sf_dir, "events")
    per_user = funnel(ev, ["view", "click", "purchase"], within_seconds=24 * 3600)
    return funnel_summary(per_user, 3)


@query(oracle="""
            with med as (
              select user_id, quantile_cont(value, 0.5) as med
              from events group by user_id
            ), j as (
              select e.user_id, e.event_id, e.value,
                     abs(e.value - m.med) as absdev
              from events e join med m using (user_id)
            ), mad as (
              select user_id, quantile_cont(absdev, 0.5) as mad
              from j group by user_id
            )
            select j.user_id, j.event_id,
                   floor(j.value * 1000000 + 0.5) / 1000000 as value
            from j join mad using (user_id)
            where j.absdev > 3.0 * mad.mad
        """)
def q_value_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier detection on event values: median /
    MAD (sort-based statistics — deterministic across engines, unlike
    mean/stdev whose distributed summation order varies), flagging
    |value − median| > 3·MAD.

    Shape (r12): both percentiles ride aggregate-WINDOWS over the same
    user_id partitioning — one scan, ONE exchange, two Window operators
    (the second consumes the first's column, same partition key, no
    re-shuffle). The r12-before form was two grouped percentile
    aggregates joined back onto the event rows, and its mid frame
    ``j = ev JOIN med`` was referenced twice (MAD aggregate + final
    join) with zero ReusedExchange in the executed plan — 4 FileScans
    and 4 shuffles for the same result. Per-partition state is bounded
    by a user's event count either way (exact percentile buffers the
    group in both forms). The explicit user_id IS NOT NULL filter
    replicates the old inner-join-on-key semantics for NULL keys."""
    ev = _t(spark, sf_dir, "events").filter(F.col("user_id").isNotNull())
    w = Window.partitionBy("user_id")
    j = ev.withColumn(
        "med", F.percentile("value", F.lit(0.5)).over(w)
    ).withColumn("absdev", F.abs(F.col("value") - F.col("med")))
    return (
        j.withColumn("mad", F.percentile("absdev", F.lit(0.5)).over(w))
        .filter(F.col("absdev") > 3.0 * F.col("mad"))
        .select("user_id", "event_id", F.round("value", 6).alias("value"))
    )


@query(oracle="""
            with active as (
              select distinct user_id as u,
                     epoch_us(ts) // 604800000000 as p
              from events
            ), cohorts as (
              select u, min(p) as cohort_p from active group by u
            )
            select c.cohort_p as cohort_period,
                   a.p - c.cohort_p as period_offset,
                   cast(count(distinct a.u) as bigint) as users
            from active a join cohorts c on a.u = c.u
            group by 1, 2
        """)
def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly cohort retention triangle over events: first-activity
    week per user, users-still-active per (cohort, offset). Integer
    epoch-microsecond buckets — engine-exact."""
    from unstructured_spark.operators.funnel import cohort_retention

    return cohort_retention(_t(spark, sf_dir, "events"))


@query(oracle="""
            with agg as (
              select user_id, count(*) as n,
                     cast(sum(cast(value as decimal(18,6))) as double) as td
              from events group by user_id
            )
            select user_id, n,
                   floor(td * 10000.0 + 0.5) / 10000.0 as total,
                   floor(td / n * 1000000.0 + 0.5) / 1000000.0 as mean
            from agg
        """)
def q_salted_user_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-stage aggregation (salted partial + final) —
    result identical to a direct groupBy, verified by the oracle."""
    from unstructured_spark.operators.skew import salted_aggregate

    ev = _t(spark, sf_dir, "events").withColumn(
        "value", F.col("value").cast("decimal(18,6)")
    )
    out = salted_aggregate(
        ev,
        ["user_id"],
        {"n": ("*", "count"), "total": ("value", "sum")},
    )
    # Decimal partials make the salted sum exact (order-independent), so
    # the double rendering below is bit-identical to any single-pass sum.
    td = F.col("total").cast("double")
    return out.select(
        "user_id",
        "n",
        (F.floor(td * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)).alias(
            "total"
        ),
        (
            F.floor(td / F.col("n") * F.lit(1000000.0) + F.lit(0.5))
            / F.lit(1000000.0)
        ).alias("mean"),
    )


@query(oracle="""
            select l.event_id, l.user_id,
              (select arg_max(r.event_id, r.ts) from events r
                where r.event_type = 'click' and r.user_id = l.user_id
                  and r.ts <= l.ts) as click_event_id,
              (select date_diff('second', max(r.ts), l.ts) from events r
                where r.event_type = 'click' and r.user_id = l.user_id
                  and r.ts <= l.ts) as lag_seconds
            from events l
            where l.event_type = 'error'
        """)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """For each error event, the user's latest click at-or-before it
    (union-window as-of join: one shuffle, no range-join explosion)."""
    from unstructured_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    out = asof_join(errors, clicks, on="user_id", ts="ts")
    return out.select(
        "event_id",
        "user_id",
        F.col("asof_click_id").alias("click_event_id"),
        (
            F.unix_timestamp("ts") - F.unix_timestamp("asof_ts")
        ).cast("bigint").alias("lag_seconds"),
    )


@query(oracle="""
            select l.event_id as left_id, r.event_id as right_id, l.user_id
            from events l
            join events r
              on l.user_id = r.user_id
             and abs(date_diff('second', r.ts, l.ts)) <= 300
            where l.event_type = 'error' and r.event_type = 'click'
        """)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(error, click) pairs by the same user within 300 s — banded
    range join (time-bucket co-partitioning bounds the search)."""
    from unstructured_spark.operators.asof import range_join_seconds

    ev = _t(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("left_id"), "user_id", "ts"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    out = range_join_seconds(
        errors, clicks, on="user_id", ts="ts", window_seconds=300
    )
    return out.select(
        "left_id", F.col("r_event_id").alias("right_id"), "user_id"
    )
