"""Event analytics operators (sessionization, stats, JSON props)."""

import datetime as dt

from knowledge_graph_creation_from_text_with_llms_spark.operators import events


def _events(spark):
    t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    def row(eid, user, minutes, etype="click", value=1.5, k=7):
        return (
            eid,
            t0 + dt.timedelta(minutes=minutes),
            user,
            etype,
            value,
            '{"k": %d}' % k,
        )

    rows = [
        row(1, 1, 0),
        row(2, 1, 10),      # same session (gap 10 min)
        row(3, 1, 50),      # new session (gap 40 min)
        row(4, 2, 0, etype="purchase", value=9.99, k=13),
    ]
    return spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string,"
        " value double, props string",
    )


def test_sessionize_gap_semantics(spark):
    out = {
        (r.user_id, r.session_idx): r
        for r in events.sessionize(_events(spark)).collect()
    }
    assert len(out) == 3
    s1 = out[(1, 1)]
    assert s1.n_events == 2 and s1.value_cents == 300
    s2 = out[(1, 2)]
    assert s2.n_events == 1
    assert (s2.start_us - s1.start_us) == 50 * 60 * 1_000_000


def test_type_stats_exact_cents(spark):
    out = {r.event_type: r for r in events.type_stats(_events(spark)).collect()}
    assert out["click"].n_events == 3
    assert out["click"].value_cents == 450
    assert out["purchase"].value_cents == 999  # 9.99 → exact integer cents


def test_json_prop_stats(spark):
    out = {r.k_bucket: r for r in events.json_prop_stats(_events(spark)).collect()}
    assert out[7].n == 3 and out[3].n == 1
    assert out[3].min_k == 13


def test_user_gap_stats(spark):
    out = {r.user_id: r for r in events.user_gap_stats(_events(spark)).collect()}
    assert out[1].min_gap_us == 10 * 60 * 1_000_000
    assert out[1].max_gap_us == 40 * 60 * 1_000_000
    assert out[2].min_gap_us is None  # single event → no gaps


def test_funnel_stages_hand_events(spark):
    from datetime import datetime as dt

    from knowledge_graph_creation_from_text_with_llms_spark.operators import events as ev

    rows = [
        # u1 completes the funnel in order
        (1, 1, "view", dt(2024, 1, 1, 0, 0)),
        (2, 1, "click", dt(2024, 1, 1, 0, 5)),
        (3, 1, "purchase", dt(2024, 1, 1, 0, 9)),
        # u2 clicks BEFORE viewing: click must not count
        (4, 2, "click", dt(2024, 1, 1, 0, 0)),
        (5, 2, "view", dt(2024, 1, 1, 0, 1)),
        # u3 view+click at the SAME ts: strictly-after → no advance
        (6, 3, "view", dt(2024, 1, 1, 0, 0)),
        (7, 3, "click", dt(2024, 1, 1, 0, 0)),
        # u4 never views
        (8, 4, "purchase", dt(2024, 1, 1, 0, 0)),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, user_id long, event_type string, ts timestamp"
    )
    got = {r.stage: (r.stage_idx, r.n_users) for r in ev.funnel_stages(df).collect()}
    assert got == {"view": (1, 3), "click": (2, 1), "purchase": (3, 1)}


def test_asof_join_semantics(spark):
    """Equal timestamps match (>=), later state wins, unmatched left
    rows keep nulls (left) or drop (inner), column clashes rejected."""
    from pyspark.sql import functions as F

    from knowledge_graph_creation_from_text_with_llms_spark.operators import events

    left = spark.createDataFrame(
        [(1, 100, 10), (2, 100, 20), (3, 100, 5), (4, 200, 50)],
        "event_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [(100, 10, 111), (100, 15, 222), (300, 1, 999)],
        "user_id long, ts long, state long",
    )
    out = {
        r.event_id: r.state
        for r in events.asof_join(left, right, ["user_id"], "ts").collect()
    }
    assert out[1] == 111   # equal ts matches
    assert out[2] == 222   # latest state at/before 20
    assert out[3] is None  # before any right row
    assert out[4] is None  # user with no right rows at all
    inner = events.asof_join(left, right, ["user_id"], "ts", how="inner")
    assert {r.event_id for r in inner.collect()} == {1, 2}
    import pytest as _pytest

    with _pytest.raises(ValueError, match="collide"):
        events.asof_join(
            left, right.withColumnRenamed("state", "event_id"), ["user_id"], "ts"
        )


def test_retention_cohorts_hand(spark):
    """Two users, one cohort day apart; offsets count distinct users."""
    from knowledge_graph_creation_from_text_with_llms_spark.operators import events

    day = 86_400_000_000
    rows = [
        (1, 0), (1, day), (1, 2 * day),       # user 1: days 0,1,2
        (2, day), (2, day + 1), (2, 3 * day), # user 2: days 1,1,3
    ]
    ev = spark.createDataFrame(
        [(u, us) for u, us in rows], "user_id long, us long"
    ).selectExpr("user_id", "timestamp_micros(us) AS ts")
    got = {
        (r.cohort_day, r.day_offset): r.n_users
        for r in events.retention_cohorts(ev).collect()
    }
    assert got[(0, 0)] == 1 and got[(0, 1)] == 1 and got[(0, 2)] == 1
    assert got[(1, 0)] == 1 and got[(1, 2)] == 1
    assert (1, 1) not in got  # user 2 has no day-2 event


def test_asof_join_null_right_values_are_row_level(spark):
    """Round-4 ADVICE (medium): a NULL in the most recent right row
    must be carried AS that match's NULL — never skipped for a stale
    older value, never mixed with another right row's columns — and
    'inner' keeps a matched row even when all its values are NULL
    (match-ness is row presence, as in DuckDB's native ASOF JOIN)."""
    from pyspark.sql import functions as F

    from knowledge_graph_creation_from_text_with_llms_spark.operators import events

    left = spark.createDataFrame(
        [(1, 100, 20), (2, 100, 40), (3, 200, 10)],
        "event_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [
            (100, 10, 111, "a"),     # full row
            (100, 30, None, "b"),    # newest at ts 30: state NULL, tag set
            (200, 5, None, None),    # all value columns NULL
        ],
        "user_id long, ts long, state long, tag string",
    )
    rows = {
        r.event_id: (r.state, r.tag)
        for r in events.asof_join(left, right, ["user_id"], "ts").collect()
    }
    assert rows[1] == (111, "a")
    # ts 40 matches the ts-30 row: state must be NULL (not stale 111),
    # tag must be "b" — both from the SAME right row
    assert rows[2] == (None, "b")
    # matched row with all-NULL values: still a match
    assert rows[3] == (None, None)
    inner = events.asof_join(left, right, ["user_id"], "ts", how="inner")
    assert {r.event_id for r in inner.collect()} == {1, 2, 3}
    # zero right value columns: inner keeps only truly matched lefts
    slim = right.select("user_id", "ts")
    inner2 = events.asof_join(
        left.where(F.col("event_id").isin(1, 3)).unionByName(
            spark.createDataFrame([(9, 300, 1)], "event_id long, user_id long, ts long")
        ),
        slim,
        ["user_id"],
        "ts",
        how="inner",
    )
    assert {r.event_id for r in inner2.collect()} == {1, 3}


def _python_funnel(rows, stages):
    """Plain-Python staged funnel over (event_id, user_id, event_type,
    ts) rows: per user, stage k's time is the earliest stage-k ts
    strictly after stage k-1's; {(stage_idx, stage): users reaching it}."""
    by_user = {}
    for _eid, uid, etype, ts in rows:
        by_user.setdefault(uid, []).append((etype, ts))
    counts = [0] * len(stages)
    for evs in by_user.values():
        prev = None
        for i, stage in enumerate(stages):
            after = [ts for t, ts in evs if t == stage and (i == 0 or ts > prev)]
            if not after:
                break
            prev = min(after)
            counts[i] += 1
    return {(i + 1, s): counts[i] for i, s in enumerate(stages)}


def test_funnel_single_pass_equals_staged(spark):
    """The one-scan funnel (sorted stage arrays + monotonic carry fold)
    must equal a plain-Python staged funnel on a messy event set:
    interleaved stages, ties (equal ts must NOT advance), repeats,
    users breaking at every depth."""
    from knowledge_graph_creation_from_text_with_llms_spark.operators import events as ev

    rows = []
    eid = 0
    # u1 completes all 3; u2 ties at stage 2 (blocked); u3 does stages
    # out of order; u4 repeats stage 1 many times then finishes; u5
    # only stage 2 (never entered)
    spec = {
        1: [("view", 10), ("click", 20), ("purchase", 30)],
        2: [("view", 10), ("click", 10), ("purchase", 30)],
        3: [("click", 5), ("purchase", 6), ("view", 7), ("click", 8)],
        4: [("view", 1), ("view", 2), ("view", 3), ("click", 2), ("purchase", 2)],
        5: [("click", 50), ("purchase", 60)],
    }
    for uid, evs in spec.items():
        for t, ts in evs:
            rows.append((eid, uid, t, ts))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts long")
    stages = ("view", "click", "purchase")
    got = {(r.stage_idx, r.stage): r.n_users for r in ev.funnel_stages(df, stages).collect()}
    assert got == _python_funnel(rows, stages)
    # hand-checked: u1,u2,u3,u4 enter; u1 (20>10), u3 (8>7), u4 (2>1)
    # click; only u1 purchases (u3's purchase@6 precedes its click@8,
    # u4's purchase@2 ties its click@2 — strictly-after blocks both)
    assert {s: n for (_, s), n in got.items()} == {"view": 4, "click": 3, "purchase": 1}


def test_funnel_single_pass_random_equivalence(spark):
    """Randomized cross-check against the plain-Python staged funnel
    (200 users, seeded RNG, 5-stage funnel with heavy interleaving)."""
    import random

    from knowledge_graph_creation_from_text_with_llms_spark.operators import events as ev

    rng = random.Random(42)
    stages = ("s1", "s2", "s3", "s4", "s5")
    rows = []
    eid = 0
    for uid in range(200):
        for _ in range(rng.randint(0, 12)):
            rows.append((eid, uid, rng.choice(stages), rng.randint(0, 30)))
            eid += 1
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts long")
    got = {(r.stage_idx, r.stage): r.n_users for r in ev.funnel_stages(df, stages).collect()}
    want = _python_funnel(rows, stages)
    assert got == want
    assert 0 < want[(5, "s5")] < want[(1, "s1")]  # the fixture breaks at some depth


def test_funnel_rejects_repeated_stage(spark):
    import pytest

    df = spark.createDataFrame(
        [(0, 1, "view", 1)], "event_id long, user_id long, event_type string, ts long"
    )
    with pytest.raises(ValueError, match="distinct"):
        events.funnel_stages(df, ("view", "click", "view"))
    with pytest.raises(ValueError, match="distinct"):
        events.funnel_stages(df, ())


def test_funnel_null_ts_stage1_matches_oracle(spark):
    """A user whose stage-1 events all have a NULL ts still enters the
    funnel, as the `events_funnel` oracle's staged CTEs count it
    (min(ts) is NULL but the group exists); a NULL ts never precedes a
    later stage. Fold and oracle run on the same 4 rows."""
    import duckdb
    import pandas as pd

    from knowledge_graph_creation_from_text_with_llms_spark import gate

    rows = [
        (1, 1, "view", None),
        (2, 1, "click", None),
        (3, 2, "view", 5),
        (4, 2, "click", 6),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, event_type string, ts long")
    got = {(r.stage_idx, r.stage): r.n_users for r in events.funnel_stages(df).collect()}
    con = duckdb.connect()
    con.register(
        "events",
        pd.DataFrame(rows, columns=["event_id", "user_id", "event_type", "ts"]).astype(
            {"ts": "Int64"}
        ),
    )
    want = {
        (r[0], r[1]): r[2] for r in con.execute(gate.ORACLES["events_funnel"]).fetchall()
    }
    assert got == want == {(1, "view"): 2, (2, "click"): 1, (3, "purchase"): 0}
