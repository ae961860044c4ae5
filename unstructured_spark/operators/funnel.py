"""Ordered-funnel analysis over an event stream.

Beyond-reference relational surface (the events table's
sessionize/as-of family): for an ordered list of step event types,
how far did each user progress, with the whole funnel constrained to
a time window anchored at the first step?

Semantics (first-touch, min-based — deliberately defined through
``min`` aggregates so exact timestamp ties resolve identically in any
engine, instead of a sort-order-dependent scan):

    t₁ = min ts of a step-1 event
    tᵢ = min ts of a step-i event with tᵢ₋₁ ≤ ts ≤ t₁ + within

Users who never reach step 1 are omitted.

Scale shape: ONE shuffle — an exchange on user — then every tᵢ is a
conditional-min WINDOW aggregate over the user partition
(``min(when(et = step_i and us between tᵢ₋₁ and t₁+w, us)) over
(partition by user)``); tᵢ₋₁ is a per-user-constant column from the
previous window, so the chain needs no per-user array and no further
shuffle (the final per-user collapse re-uses the same hash
partitioning). A hot user with 10⁸ events SPILLS through the window
sorter instead of materializing one 10⁸-element ``collect_list`` array
in a single task's heap — that is the property that survives 100 TB.

Timestamps compare as epoch microseconds (bigint) so engine timestamp
semantics never enter the comparison.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def funnel(
    events: DataFrame,
    steps: list[str],
    *,
    within_seconds: int,
    user: str = "user_id",
    ts: str = "ts",
    etype: str = "event_type",
) -> DataFrame:
    """Per-user funnel progression: (user_id, t1..tk as epoch-micros,
    stage) where stage = number of steps reached (≥1)."""
    if len(steps) < 2:
        raise ValueError("a funnel needs at least two steps")
    w_us = int(within_seconds) * 1_000_000
    ev = events.select(
        F.col(user).alias("user_id"),
        F.unix_micros(F.col(ts)).alias("us"),
        F.col(etype).alias("et"),
    )
    # conditional-min window chain: every window shares
    # partitionBy(user) with no orderBy, so one exchange feeds every
    # WindowExec and the closing groupBy
    wu = Window.partitionBy("user_id")
    cur = ev.withColumn(
        "t1",
        F.min(F.when(F.col("et") == steps[0], F.col("us"))).over(wu),
    ).filter(F.col("t1").isNotNull())
    for i, step in enumerate(steps[1:], start=2):
        prev = F.col(f"t{i - 1}")
        deadline = F.col("t1") + F.lit(w_us)
        cur = cur.withColumn(
            f"t{i}",
            F.min(
                F.when(
                    (F.col("et") == step)
                    & (F.col("us") >= prev)
                    & (F.col("us") <= deadline),
                    F.col("us"),
                )
            ).over(wu),
        )
    tcols = [f"t{i}" for i in range(1, len(steps) + 1)]
    # per-user constants → min() collapses to the value; same hash
    # partitioning as the windows, so no second exchange
    cur = cur.groupBy("user_id").agg(*[F.min(c).alias(c) for c in tcols])
    stage = F.lit(1)
    for i in range(2, len(steps) + 1):
        stage = stage + F.col(f"t{i}").isNotNull().cast("int")
    return cur.withColumn("stage", stage.cast("bigint"))


def funnel_summary(per_user: DataFrame, num_steps: int) -> DataFrame:
    """Step-reach counts + conversion from step 1: one row per step."""
    aggs = [
        F.sum((F.col("stage") >= i).cast("bigint")).alias(f"reached_{i}")
        for i in range(1, num_steps + 1)
    ]
    wide = per_user.agg(*aggs)
    rows = F.array(
        *[
            F.struct(
                F.lit(i).cast("bigint").alias("step"),
                F.col(f"reached_{i}").alias("users"),
            )
            for i in range(1, num_steps + 1)
        ]
    )
    return (
        wide.select(F.explode(rows).alias("r"))
        .select(
            "r.step",
            "r.users",
        )
    )


def cohort_retention(
    events: DataFrame,
    *,
    user: str = "user_id",
    ts: str = "ts",
    period_seconds: int = 7 * 86400,
) -> DataFrame:
    """Cohort retention: users grouped by first-activity period, then
    for each later period the count still active — the standard
    retention-triangle input (cohort_period, period_offset, users).

    Integer-exact: periods are epoch-microsecond floor-divisions, so
    any engine computes identical buckets. Shape: one per-user min
    aggregate (the cohort), one distinct over (user, period), a
    shuffle-aligned join on user, and the final count-distinct — all
    keyed on uniform ids.
    """
    p_us = int(period_seconds) * 1_000_000
    active = (
        events.select(
            F.col(user).alias("u"), F.unix_micros(F.col(ts)).alias("_us")
        )
        # integer division, not floor(double/double): at ~1.7e15 µs a
        # double quotient can land one ulp below an exact multiple and
        # floor off-by-one; `div` is exact in both engines
        .select("u", F.expr(f"_us div {p_us}").cast("bigint").alias("p"))
        .distinct()
    )
    cohorts = active.groupBy("u").agg(F.min("p").alias("cohort_p"))
    joined = active.join(cohorts, "u")
    return (
        joined.groupBy(
            F.col("cohort_p").alias("cohort_period"),
            (F.col("p") - F.col("cohort_p")).alias("period_offset"),
        )
        .agg(F.count_distinct("u").alias("users"))
    )
