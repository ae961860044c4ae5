"""Ordered funnel (min-based first-touch semantics)."""

import datetime as dt

from unstructured_spark.operators.funnel import funnel, funnel_summary

COLS = "user_id long, ts timestamp, event_type string"
T0 = dt.datetime(2024, 1, 1, 0, 0, 0)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(u, T0 + dt.timedelta(seconds=s), t) for u, s, t in rows], COLS
    )


class TestFunnel:
    def test_full_conversion_in_order(self, spark):
        ev = _ev(spark, [(1, 0, "view"), (1, 10, "click"), (1, 20, "purchase")])
        [r] = funnel(ev, ["view", "click", "purchase"], within_seconds=3600).collect()
        assert r["stage"] == 3
        assert r["t2"] - r["t1"] == 10_000_000
        assert r["t3"] - r["t2"] == 10_000_000

    def test_out_of_order_does_not_count(self, spark):
        # purchase happens BEFORE the first click → stage stops at 2
        ev = _ev(spark, [(1, 0, "view"), (1, 5, "purchase"), (1, 10, "click")])
        [r] = funnel(ev, ["view", "click", "purchase"], within_seconds=3600).collect()
        assert r["stage"] == 2 and r["t3"] is None

    def test_window_anchored_at_first_step(self, spark):
        # click inside the window, purchase 2h after the view → outside
        ev = _ev(spark, [(1, 0, "view"), (1, 60, "click"), (1, 7200, "purchase")])
        [r] = funnel(ev, ["view", "click", "purchase"], within_seconds=3600).collect()
        assert r["stage"] == 2

    def test_no_first_step_user_omitted(self, spark):
        ev = _ev(spark, [(1, 0, "click"), (2, 0, "view")])
        rows = funnel(ev, ["view", "click"], within_seconds=60).collect()
        assert [r["user_id"] for r in rows] == [2]

    def test_first_touch_uses_earliest_step1(self, spark):
        # two views; the funnel anchors at the FIRST one, so the
        # 30-second window has expired by the click
        ev = _ev(spark, [(1, 0, "view"), (1, 100, "view"), (1, 110, "click")])
        [r] = funnel(ev, ["view", "click"], within_seconds=30).collect()
        assert r["stage"] == 1

    def test_equal_timestamps_count(self, spark):
        # min-based semantics: a step-2 event AT t1 counts (ts >= t1)
        ev = _ev(spark, [(1, 0, "view"), (1, 0, "click")])
        [r] = funnel(ev, ["view", "click"], within_seconds=60).collect()
        assert r["stage"] == 2 and r["t1"] == r["t2"]

    def test_summary_counts(self, spark):
        ev = _ev(
            spark,
            [
                (1, 0, "view"), (1, 1, "click"), (1, 2, "purchase"),
                (2, 0, "view"), (2, 1, "click"),
                (3, 0, "view"),
            ],
        )
        per_user = funnel(ev, ["view", "click", "purchase"], within_seconds=60)
        got = {r["step"]: r["users"] for r in funnel_summary(per_user, 3).collect()}
        assert got == {1: 3, 2: 2, 3: 1}

    def test_tricky_events_pinned(self, spark):
        # out-of-order steps, a step past the window, no first step,
        # equal timestamps and a repeated first step in one frame
        ev = _ev(
            spark,
            [
                (1, 0, "view"), (1, 5, "purchase"), (1, 10, "click"),
                (2, 0, "view"), (2, 60, "click"), (2, 7200, "purchase"),
                (3, 0, "click"),
                (4, 0, "view"), (4, 0, "click"), (4, 1, "purchase"),
                (5, 0, "view"), (5, 100, "view"), (5, 110, "click"),
            ],
        )
        rows = funnel(ev, ["view", "click", "purchase"], within_seconds=3600)
        assert rows.columns == ["user_id", "t1", "t2", "t3", "stage"]
        t0 = int(T0.timestamp()) * 1_000_000
        s = 1_000_000
        got = sorted(tuple(r) for r in rows.collect())
        assert got == [
            (1, t0, t0 + 10 * s, None, 2),
            (2, t0, t0 + 60 * s, None, 2),
            (4, t0, t0, t0 + 1 * s, 3),
            (5, t0, t0 + 110 * s, None, 2),
        ]

    def test_default_plan_has_no_collect_list_and_one_exchange(self, spark):
        # the scale contract: the default funnel never materializes a
        # per-user event array, and the whole chain hangs off ONE
        # exchange on user_id
        ev = _ev(spark, [(1, 0, "view"), (1, 10, "click")])
        df = funnel(ev, ["view", "click"], within_seconds=60)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "collect_list" not in plan
        n_exchange = plan.count("Exchange hashpartitioning")
        assert n_exchange == 1, plan


class TestCohortRetention:
    def test_triangle_counts(self, spark):
        from unstructured_spark.operators.funnel import cohort_retention

        # users 1,2 start week 0; user 1 returns week 1; user 3 starts week 1
        week = 7 * 86400
        ev = _ev(
            spark,
            [
                (1, 0, "view"), (2, 0, "view"),
                (1, week + 10, "view"),
                (3, week + 20, "view"),
            ],
        )
        rows = cohort_retention(ev).collect()
        base = min(r["cohort_period"] for r in rows)
        got = {(r["cohort_period"] - base, r["period_offset"]): r["users"] for r in rows}
        assert got[(0, 0)] == 2  # cohort week 0 size
        assert got[(0, 1)] == 1  # user 1 retained
        assert got[(1, 0)] == 1  # cohort week 1

    def test_duplicate_events_count_once(self, spark):
        from unstructured_spark.operators.funnel import cohort_retention

        ev = _ev(spark, [(1, 0, "view"), (1, 5, "click"), (1, 9, "view")])
        rows = cohort_retention(ev).collect()
        assert len(rows) == 1 and rows[0]["users"] == 1
