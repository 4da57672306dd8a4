"""Semantics pins for operators/eventflow.py on hand-built event logs
(the oracle queries check engine parity on the fixture; these pin the
operator contracts: gap boundaries, strict funnel ordering, cohort
first-day assignment)."""

import pytest
from pyspark.sql import functions as F

from semantic_cpp_spark.operators import eventflow

M = 1_000_000  # 1 second in microseconds


def _events(spark, rows):
    # rows: (event_id, user_id, tus, event_type, value)
    return spark.createDataFrame(
        rows, "event_id long, user_id long, tus long, event_type string, value double"
    )


def test_sessionize_gap_boundary(spark):
    gap = 10 * M
    rows = [
        (0, 1, 0, "a", 0.0),
        (1, 1, 10 * M, "a", 0.0),      # exactly gap → SAME session (> test)
        (2, 1, 20 * M + 1, "a", 0.0),  # gap+1 → new session
        (3, 2, 5 * M, "a", 0.0),       # other user independent
    ]
    out = eventflow.sessionize(_events(spark, rows), gap_us=gap).collect()
    sess = {r["event_id"]: r["session_idx"] for r in out}
    assert sess == {0: 0, 1: 0, 2: 1, 3: 0}


def test_session_summary_rollup(spark):
    rows = [
        (0, 1, 0, "a", 1.5),
        (1, 1, 1 * M, "a", 2.5),
        (2, 1, 100 * M, "a", 4.0),  # new session after 30-min default? no — use small gap
    ]
    out = eventflow.session_summary(_events(spark, rows), gap_us=10 * M).collect()
    by_idx = {r["session_idx"]: r for r in out}
    assert by_idx[0]["n_events"] == 2
    assert by_idx[0]["dur_us"] == 1 * M
    assert by_idx[0]["sum_value"] == 4.0
    assert by_idx[1]["n_events"] == 1
    assert by_idx[1]["t_start"] == 100 * M


def test_funnel_strict_ordering(spark):
    rows = [
        # user 1: full funnel in order
        (0, 1, 0, "signup", 0.0),
        (1, 1, 10, "view", 0.0),
        (2, 1, 20, "purchase", 0.0),
        # user 2: purchase BEFORE view → stage 2 only
        (3, 2, 0, "signup", 0.0),
        (4, 2, 5, "purchase", 0.0),
        (5, 2, 10, "view", 0.0),
        # user 3: no signup → stage 0 (appears with null t_1)
        (6, 3, 0, "view", 0.0),
        # user 4: view tied with signup ts → NOT strictly after → stage 1
        (7, 4, 0, "signup", 0.0),
        (8, 4, 0, "view", 0.0),
    ]
    out = {
        r["user_id"]: r
        for r in eventflow.funnel(
            _events(spark, rows), ["signup", "view", "purchase"]
        ).collect()
    }
    assert out[1]["stage"] == 3 and out[1]["t_3"] == 20
    assert out[2]["stage"] == 2 and out[2]["t_2"] == 10 and out[2]["t_3"] is None
    assert out[3]["stage"] == 0 and out[3]["t_1"] is None
    assert out[4]["stage"] == 1


def test_funnel_randomized_vs_naive(spark):
    """Randomized pin for the fold rewrite: the one-shuffle greedy fill
    must equal the naive per-step conditional-min semantics (earliest
    step-1, then earliest step-2 strictly after, ...) on arbitrary event
    soups, including duplicate timestamps and irrelevant types."""
    import random

    steps = ["a", "b", "c"]
    types = steps + ["x", "y"]
    for seed in (5, 77):
        rng = random.Random(seed)
        rows = [
            (i, rng.randint(1, 6), rng.randint(0, 30), rng.choice(types), 0.0)
            for i in range(120)
        ]
        got = {
            r["user_id"]: (r["t_1"], r["t_2"], r["t_3"], r["stage"])
            for r in eventflow.funnel(_events(spark, rows), steps).collect()
        }
        # naive reference: per user, sorted by time, per-step conditional min
        by_user = {}
        for _, u, t, ty, _v in rows:
            by_user.setdefault(u, []).append((t, ty))
        for u, evs in by_user.items():
            if not any(ty in steps for _, ty in evs):
                assert u not in got
                continue
            ts = [None, None, None]
            prev = None
            for j, step in enumerate(steps):
                cand = [
                    t
                    for t, ty in evs
                    if ty == step and (j == 0 or (prev is not None and t > prev))
                ]
                ts[j] = min(cand) if cand and (j == 0 or prev is not None) else None
                prev = ts[j]
                if prev is None:
                    break
            stage = max((j + 1 for j in range(3) if ts[j] is not None), default=0)
            assert got[u] == (ts[0], ts[1], ts[2], stage), (seed, u, evs)


def test_funnel_repeated_step_names(spark):
    """A funnel may legitimately repeat a step ([purchase, purchase] =
    'second purchase'): slot j fills from any event of steps[j]'s TYPE
    strictly after slot j-1, so two distinct purchase events fill both
    slots — and a single event never fills two."""
    rows = [
        (0, 1, 0, "purchase", 0.0),
        (1, 1, 10, "purchase", 0.0),
        (2, 1, 20, "purchase", 0.0),
        (3, 2, 5, "purchase", 0.0),  # only one purchase → stage 1
    ]
    out = {
        r["user_id"]: r
        for r in eventflow.funnel(
            _events(spark, rows), ["purchase", "purchase"]
        ).collect()
    }
    assert out[1]["stage"] == 2 and out[1]["t_1"] == 0 and out[1]["t_2"] == 10
    assert out[2]["stage"] == 1 and out[2]["t_1"] == 5 and out[2]["t_2"] is None


def test_retention_cohort_matrix(spark):
    day = eventflow.US_PER_DAY
    rows = [
        # user 1 first seen day 0, active days 0,1,3 (two events day 0 → distinct)
        (0, 1, 0, "a", 0.0),
        (1, 1, 100, "a", 0.0),
        (2, 1, day + 5, "a", 0.0),
        (3, 1, 3 * day, "a", 0.0),
        # user 2 first seen day 1, active day 1 only
        (4, 2, day + 7, "a", 0.0),
    ]
    out = {
        (r["cohort_day"], r["day_offset"]): r["n_users"]
        for r in eventflow.retention_cohorts(_events(spark, rows)).collect()
    }
    assert out == {(0, 0): 1, (0, 1): 1, (0, 3): 1, (1, 0): 1}


def test_interval_join_boundaries_and_multimatch(spark):
    from semantic_cpp_spark.operators.interval import interval_join

    left = spark.createDataFrame(
        [(1, 10, 1000), (2, 11, 5000)], "user_id long, lid long, lt long"
    )
    right = spark.createDataFrame(
        [
            (1, 20, 1000),   # == lt → included (inclusive lower)
            (1, 21, 1500),
            (1, 22, 2000),   # == lt + window → included (inclusive upper)
            (1, 23, 2001),   # just outside
            (1, 24, 999),    # before
            (2, 25, 5500),
            (3, 26, 1500),   # wrong key
        ],
        "user_id long, rid long, rt long",
    )
    out = sorted(
        (r["lid"], r["rid"])
        for r in interval_join(left, right, "user_id", "lt", "rt", 1000).collect()
    )
    assert out == [(10, 20), (10, 21), (10, 22), (11, 25)]


def test_interval_join_bucket_straddle(spark):
    # window 100: left at t=250 (bucket 2) must catch right at t=340
    # (bucket 3) — the two-bucket replication
    from semantic_cpp_spark.operators.interval import interval_join

    left = spark.createDataFrame([(1, 1, 250)], "k long, lid long, lt long")
    right = spark.createDataFrame([(1, 2, 340)], "k long, rid long, rt long")
    got = interval_join(left, right, "k", "lt", "rt", 100).collect()
    assert len(got) == 1 and got[0]["rid"] == 2


def test_interval_join_survives_user_b_column(spark):
    """A pre-existing __b column must not be clobbered by the internal
    bucket column (ADVICE r3/r4): the temp name now dodges collisions."""
    from semantic_cpp_spark.operators.interval import interval_join

    left = spark.createDataFrame(
        [(1, 1, 250, "keep")], "k long, lid long, lt long, __b string"
    )
    right = spark.createDataFrame([(1, 2, 260)], "k long, rid long, rt long")
    got = interval_join(left, right, "k", "lt", "rt", 100).collect()
    assert len(got) == 1 and got[0]["__b"] == "keep"


def test_interval_join_random_vs_naive(spark):
    """Randomized losslessness: bucket-blocked interval join must equal
    the naive all-pairs range scan on arbitrary key/time layouts
    (seeded, deterministic), including hot keys and boundary times."""
    import random

    for seed in (2, 42):
        rng = random.Random(seed)
        W = 50
        left = [
            (rng.randint(1, 4), i, rng.randint(0, 500))
            for i in range(40)
        ]
        right = [
            (rng.randint(1, 4), 100 + i, rng.randint(0, 500))
            for i in range(60)
        ]
        exp = sorted(
            (l[0], l[1], r[1])
            for l in left
            for r in right
            if l[0] == r[0] and l[2] <= r[2] <= l[2] + W
        )
        from semantic_cpp_spark.operators.interval import interval_join

        ldf = spark.createDataFrame(left, "k long, lid long, lt long")
        rdf = spark.createDataFrame(right, "k long, rid long, rt long")
        got = sorted(
            (r["k"], r["lid"], r["rid"])
            for r in interval_join(ldf, rdf, "k", "lt", "rt", W).collect()
        )
        assert got == exp, f"seed={seed}"


def test_merge_intervals_semantics(spark):
    rows = [
        # key 1: [0,10] [5,20] overlap → block; [20,30] touches end==start → merges
        (1, 0, 10), (1, 5, 20), (1, 20, 30),
        # [31,40] disjoint (31 > 30) → new block
        (1, 31, 40),
        # contained interval [32,35] stays in the same block
        (1, 32, 35),
        # key 2 independent
        (2, 0, 1),
    ]
    df = spark.createDataFrame(rows, "k long, s long, e long")
    out = {
        (r["k"], r["block_idx"]): (r["b_start"], r["b_end"], r["n_intervals"])
        for r in eventflow.merge_intervals(df, "k", "s", "e").collect()
    }
    assert out == {
        (1, 0): (0, 30, 3),
        (1, 1): (31, 40, 2),
        (2, 0): (0, 1, 1),
    }


def test_conversion_latency_hand_computed(spark):
    # converted users 1..4 with latencies 20s, 40s, 60s, 80s;
    # user 5 stalls at stage 2 and must not contribute.
    rows = []
    eid = 0
    for u, lat_s in [(1, 20), (2, 40), (3, 60), (4, 80)]:
        rows += [
            (eid, u, 0, "signup", 0.0),
            (eid + 1, u, 5 * M, "view", 0.0),
            (eid + 2, u, lat_s * M, "purchase", 0.0),
        ]
        eid += 3
    rows += [(eid, 5, 0, "signup", 0.0), (eid + 1, 5, M, "view", 0.0)]
    out = eventflow.conversion_latency(
        _events(spark, rows), ["signup", "view", "purchase"]
    ).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_converted"] == 4
    assert r["avg_latency_s"] == 50.0
    # rank p*(n-1): p50 -> rank 1.5 -> 40 + 0.5*(60-40) = 50
    assert r["p50_latency_s"] == 50.0
    # p90 -> rank 2.7 -> 60 + 0.7*(80-60) = 74
    assert r["p90_latency_s"] == 74.0


def test_conversion_latency_no_conversions(spark):
    rows = [(0, 1, 0, "signup", 0.0), (1, 1, M, "view", 0.0)]
    out = eventflow.conversion_latency(
        _events(spark, rows), ["signup", "view", "purchase"]
    ).collect()
    assert len(out) == 1
    assert out[0]["n_converted"] == 0
    assert out[0]["p50_latency_s"] is None


def test_rfm_segments_hand_computed(spark):
    # three purchasers with clearly separated metrics; one non-purchaser.
    rows = [
        # user 1: 1 purchase, old, small
        (0, 1, 0, "purchase", 10.0),
        # user 2: 2 purchases, mid-recent, mid
        (1, 2, 10 * M, "purchase", 20.0),
        (2, 2, 50 * M, "purchase", 25.0),
        # user 3: 3 purchases, most recent, big
        (3, 3, 30 * M, "purchase", 40.0),
        (4, 3, 60 * M, "purchase", 40.0),
        (5, 3, 100 * M, "purchase", 40.0),
        # user 4: views only -> excluded
        (6, 4, 90 * M, "view", 99.0),
    ]
    out = {r["user_id"]: r for r in eventflow.rfm_segments(
        _events(spark, rows)).collect()}
    assert set(out) == {1, 2, 3}
    assert out[1]["recency_us"] == 100 * M and out[3]["recency_us"] == 0
    assert out[3]["n_purchases"] == 3 and out[3]["monetary"] == 120.0
    # ascending tercile bands: user3 lowest recency -> r_band 0;
    # user1 highest recency -> r_band 2; frequency/monetary reverse.
    assert (out[3]["r_band"], out[3]["f_band"], out[3]["m_band"]) == (0, 2, 2)
    assert (out[1]["r_band"], out[1]["f_band"], out[1]["m_band"]) == (2, 0, 0)
    assert (out[2]["r_band"], out[2]["f_band"], out[2]["m_band"]) == (1, 1, 1)


def test_debounce_gap_boundary(spark):
    gap = 10 * M
    rows = [
        (0, 1, 0, "click", 0.0),
        (1, 1, 10 * M, "click", 0.0),       # exactly gap -> duplicate (> test)
        (2, 1, 20 * M + 1, "click", 0.0),   # gap+1 from #1 -> kept
        (3, 1, 5 * M, "view", 0.0),         # other type independent -> kept
        (4, 2, 6 * M, "click", 0.0),        # other user independent -> kept
    ]
    out = {r["event_id"]: r["keep"] for r in eventflow.debounce(
        _events(spark, rows), gap).collect()}
    assert out == {0: True, 1: False, 2: True, 3: True, 4: True}


def test_max_concurrency_sweep_line_hand_computed(spark):
    """Three users on day 0: u1 [0s,100s], u2 [50s,150s], u3 [140s,200s]
    → peak 2 (u1∩u2 and u2∩u3 overlap, never all three)."""
    gap = 10 * M
    rows = []
    eid = 0
    for uid, (s, e) in [(1, (0, 100)), (2, (50, 150)), (3, (140, 200))]:
        for t in range(s, e + 1, 5):   # 5s cadence < gap → one session each
            rows.append((eid, uid, t * M, "a", 0.0))
            eid += 1
    out = eventflow.max_concurrency_per_day(_events(spark, rows), gap_us=gap).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.day, r.n_sessions, r.max_concurrent) == (0, 3, 2)


def test_max_concurrency_midnight_spanning_session(spark):
    """A session crossing the day boundary counts in BOTH days, and the
    inclusive-end semantics make it concurrent with a session starting
    at its last instant."""
    day = 86_400_000_000
    rows = [
        # u1: session from day0 23:59:50 into day1 00:00:10 (5s cadence)
        *[(i, 1, day - 10 * M + t * M, "a", 0.0) for i, t in enumerate(range(0, 21, 5))],
        # u2: single-event session on day1 at exactly u1's end instant
        (100, 2, day + 10 * M, "a", 0.0),
    ]
    out = {r.day: r for r in eventflow.max_concurrency_per_day(
        _events(spark, rows), gap_us=10 * M).collect()}
    assert (out[0].n_sessions, out[0].max_concurrent) == (1, 1)
    assert (out[1].n_sessions, out[1].max_concurrent) == (2, 2)


def test_max_concurrency_same_instant_deltas(spark):
    """One session ENDS at the exact instant another starts (inclusive
    ends → they overlap at that instant → concurrency 2), and a
    back-to-back pair where the end precedes the start by 1µs stays at
    1 — pins the pre-summed tie handling."""
    gap = 10 * M
    rows = [
        (0, 1, 0, "a", 0.0), (1, 1, 100 * M, "a", 0.0),          # u1 [0,100s]
        (2, 2, 100 * M, "a", 0.0), (3, 2, 200 * M, "a", 0.0),    # u2 [100s,200s]
    ]
    out = eventflow.max_concurrency_per_day(_events(spark, rows), gap_us=gap).collect()
    # u1 and u2 sessions here: within each user, events 100s apart > gap
    # → each user has TWO single-event sessions; u1's at 100s and u2's at
    # 100s coincide exactly → peak 2
    assert out[0].max_concurrent == 2


def test_last_touch_attribution_hand_computed(spark):
    """u1: view@10s, click@20s, purchase@30s → attributed to click@20s.
    u2: purchase with touch outside lookback → unattributed.
    u3: purchase with NO preceding touch → unattributed."""
    lb = 50 * M
    rows = [
        (0, 1, 10 * M, "view", 0.0),
        (1, 1, 20 * M, "click", 0.0),
        (2, 1, 30 * M, "purchase", 0.0),
        (3, 2, 0, "view", 0.0),
        (4, 2, 100 * M, "purchase", 0.0),   # 100s > 50s lookback
        (5, 3, 10 * M, "error", 0.0),
        (6, 3, 20 * M, "purchase", 0.0),
    ]
    out = {r.event_id: r for r in eventflow.last_touch_attribution(
        _events(spark, rows), conversion_type="purchase",
        touch_types=("view", "click", "signup"), lookback_us=lb).collect()}
    assert (out[2].t_touch, out[2].touch_type, out[2].latency_us) == (20 * M, "click", 10 * M)
    assert out[4].t_touch is None and out[4].touch_type is None
    assert out[6].t_touch is None


def test_last_touch_same_instant_tie_and_strictness(spark):
    """A touch AT the conversion instant with a smaller event_id counts
    (ROWS ... 1 PRECEDING is row-based); two touches at the same instant
    resolve to the alphabetically-last type (the documented encode
    tie-break)."""
    rows = [
        (0, 1, 10 * M, "click", 0.0),
        (1, 1, 10 * M, "view", 0.0),     # same instant, higher rank
        (2, 1, 10 * M, "purchase", 0.0), # same instant, later row
    ]
    out = eventflow.last_touch_attribution(
        _events(spark, rows), lookback_us=60 * M).collect()
    assert len(out) == 1
    assert (out[0].t_touch, out[0].touch_type, out[0].latency_us) == (10 * M, "view", 0)


def test_decayed_activity_power_of_two_exact(spark):
    """Hand-computed: events 0, 1, 2 days before the max day with value
    100 each → score = 100·(1 + 0.5 + 0.25); a 31-day-old event is
    excluded; n_recent counts survivors."""
    day = 86_400_000_000
    rows = [
        (0, 1, 40 * day, "a", 100.0),
        (1, 1, 39 * day, "a", 100.0),
        (2, 1, 38 * day, "a", 100.0),
        (3, 1, 9 * day, "a", 100.0),    # 31 days old -> excluded
        (4, 2, 40 * day, "a", 0.25),    # fractional cents-exact value
    ]
    out = {r.user_id: r for r in eventflow.decayed_activity(
        _events(spark, rows)).collect()}
    assert (out[1].n_recent, out[1].score) == (3, 175.0)
    assert (out[2].n_recent, out[2].score) == (1, 0.25)


def test_decayed_activity_half_life_validation(spark):
    df = _events(spark, [(0, 1, 0, "a", 1.0)])
    with pytest.raises(ValueError):
        eventflow.decayed_activity(df, half_life_days=7, horizon_days=30)


def test_mad_outliers_hand_computed(spark):
    """Nine values at 1..9 plus a 1000 spike: med=5.5, MAD=2.5 →
    z(1000) = 0.6745·994.5/2.5 ≈ 268 flagged; z(9) ≈ 0.94 not."""
    rows = [(i, 1, i * M, "a", float(v)) for i, v in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 1000])]
    out = eventflow.mad_outliers(_events(spark, rows), z_cut=3.5).collect()
    assert [(r.event_id, r.value) for r in out] == [(9, 1000.0)]
    assert abs(out[0].robust_z - round(0.6745 * (1000 - 5.5) / 2.5, 6)) < 1e-9


def test_mad_outliers_zero_mad_group_excluded(spark):
    """A group where >50% of values are identical has MAD=0 — excluded
    entirely (modified z undefined), even though a spike exists."""
    rows = [(i, 1, i * M, "a", 5.0) for i in range(9)] + [(9, 1, 9 * M, "a", 99.0)]
    assert eventflow.mad_outliers(_events(spark, rows)).count() == 0


def test_asof_join_forward_hand_computed(spark):
    """Forward as-of: inclusive at-or-after matching, per key, nulls
    when nothing follows; simultaneous right rows resolved by tiebreak."""
    from semantic_cpp_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 25, "b"), (2, 5, "c"), (3, 1, "d")],
        "k long, lt long, tag string",
    )
    right = spark.createDataFrame(
        [(1, 10, 100.0), (1, 20, 200.0), (1, 30, 300.0), (2, 4, 400.0)],
        "k long, rt long, pay double",
    )
    out = {r.tag: r for r in asof_join_forward(
        left, right, key="k", left_time="lt", right_time="rt",
        right_payload=["pay"]).collect()}
    assert out["a"].pay == 100.0   # inclusive: right AT left time matches
    assert out["b"].pay == 300.0   # next-after
    assert out["c"].pay is None    # only earlier right rows exist
    assert out["d"].pay is None    # key has no right rows at all


def test_asof_forward_tiebreak_orders_simultaneous_rights(spark):
    from semantic_cpp_spark.operators.asof import asof_join_forward

    left = spark.createDataFrame([(1, 10)], "k long, lt long")
    right = spark.createDataFrame(
        [(1, 10, 7, "late"), (1, 10, 3, "early")],
        "k long, rt long, rid long, name string",
    )
    out = asof_join_forward(
        left, right, key="k", left_time="lt", right_time="rt",
        right_payload=["name"], tiebreak="rid",
    ).collect()
    assert out[0].name == "early"


def test_markov_transitions_hand_computed(spark):
    """u1: a->b->a ; u2: a->b. Transitions: a->b x2, b->a x1.
    P(b|a)=1.0, P(a|b)=1.0; cross-user pairs must NOT appear."""
    rows = [
        (0, 1, 0, "a", 0.0), (1, 1, M, "b", 0.0), (2, 1, 2 * M, "a", 0.0),
        (3, 2, 0, "a", 0.0), (4, 2, M, "b", 0.0),
    ]
    out = {(r.cur, r.next): r for r in eventflow.markov_transitions(
        _events(spark, rows)).collect()}
    assert set(out) == {("a", "b"), ("b", "a")}
    assert (out[("a", "b")].n_pair, out[("a", "b")].p) == (2, 1.0)
    assert (out[("b", "a")].n_pair, out[("b", "a")].p) == (1, 1.0)


def test_top_session_paths_respects_session_boundary(spark):
    """a>b>c appears only when all three fall in ONE session: a 31-min
    gap splits the triple and no path forms across it."""
    gap = 30 * 60 * M
    rows = [
        (0, 1, 0, "a", 0.0), (1, 1, M, "b", 0.0), (2, 1, 2 * M, "c", 0.0),
        (3, 2, 0, "a", 0.0), (4, 2, M, "b", 0.0),
        (5, 2, M + gap + M, "c", 0.0),       # next session -> no a>b>c
    ]
    out = {r.path: r.n for r in eventflow.top_session_paths(
        _events(spark, rows), k=10, gap_us=gap).collect()}
    assert out == {"a>b>c": 1}


def test_top_session_paths_rejects_other_lengths(spark):
    with pytest.raises(ValueError):
        eventflow.top_session_paths(_events(spark, [(0, 1, 0, "a", 0.0)]), path_len=4)


def test_asof_join_nearest_semantics(spark):
    from semantic_cpp_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame(
        [
            ("a", 1, 100),   # nearest right: 90 (back 10) vs 130 (fwd 30)
            ("a", 2, 128),   # nearest right: 130 (fwd 2) vs 90 (back 38)
            ("a", 3, 110),   # EQUIDISTANT 90/130 -> backward (90) wins
            ("b", 4, 50),    # only a forward right row exists (80)
            ("c", 5, 10),    # no right rows at all -> nulls
        ],
        "k string, lid long, lt long",
    )
    right = spark.createDataFrame(
        [("a", 901, 90), ("a", 902, 130), ("b", 903, 80)],
        "k string, rid long, rt long",
    )
    out = {
        r["lid"]: (r["rid"], r["asof_dist"])
        for r in asof_join_nearest(
            left, right, key="k", left_time="lt", right_time="rt",
            right_payload=["rid"],
        ).collect()
    }
    assert out[1] == (901, 10)
    assert out[2] == (902, 2)
    assert out[3] == (901, 20)  # tie -> earlier (backward) row
    assert out[4] == (903, 30)  # forward-only match
    assert out[5] == (None, None)  # no candidates on key c


def test_asof_backward_tiebreak_picks_smallest_on_simultaneous(spark):
    """ADVICE r8 (medium): two right rows at the IDENTICAL (key, time)
    at-or-before the left row must resolve to the smallest tiebreak —
    without the tiebreak the backward pick is plan-dependent."""
    from semantic_cpp_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 10)], "k long, lt long")
    right = spark.createDataFrame(
        [(1, 10, 7, "late"), (1, 10, 3, "early"), (1, 5, 1, "older")],
        "k long, rt long, rid long, name string",
    )
    out = asof_join(
        left, right, key="k", left_time="lt", right_time="rt",
        right_payload=["name"], tiebreak="rid",
    ).collect()
    assert out[0].name == "early"


def test_asof_nearest_tiebreak_both_passes(spark):
    """The nearest composition threads the tiebreak through BOTH the
    backward and the forward pass: simultaneous right rows on either
    side of the left row resolve to min(tiebreak) deterministically."""
    from semantic_cpp_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame([(1, 10), (1, 30)], "k long, lt long")
    right = spark.createDataFrame(
        [(1, 8, 12), (1, 8, 4), (1, 33, 9), (1, 33, 2)],
        "k long, rt long, rid long",
    )
    out = {
        r["lt"]: r["rid"]
        for r in asof_join_nearest(
            left, right, key="k", left_time="lt", right_time="rt",
            right_payload=["rid"], tiebreak="rid",
        ).collect()
    }
    assert out[10] == 4   # backward pair at t=8 -> min rid
    assert out[30] == 2   # forward pair at t=33 -> min rid


def test_asof_tolerance_boundary_inclusive(spark):
    """tolerance= is the pandas merge_asof max-gap contract, boundary-
    INCLUSIVE: a match exactly `tolerance` away survives on all three
    variants; one unit beyond nulls out."""
    from semantic_cpp_spark.operators.asof import (
        asof_join, asof_join_forward, asof_join_nearest,
    )

    left = spark.createDataFrame(
        [(1, 100), (2, 100)], "k long, lt long"
    )
    # k=1: right exactly 10 behind; k=2: right 11 behind
    right = spark.createDataFrame(
        [(1, 90, 901), (2, 89, 902)], "k long, rt long, rid long"
    )
    back = {r["k"]: r["rid"] for r in asof_join(
        left, right, key="k", left_time="lt", right_time="rt",
        right_payload=["rid"], tolerance=10,
    ).collect()}
    assert back == {1: 901, 2: None}

    # forward mirror: right 10 / 11 ahead
    rightf = spark.createDataFrame(
        [(1, 110, 901), (2, 111, 902)], "k long, rt long, rid long"
    )
    fwd = {r["k"]: r["rid"] for r in asof_join_forward(
        left, right=rightf, key="k", left_time="lt", right_time="rt",
        right_payload=["rid"], tolerance=10,
    ).collect()}
    assert fwd == {1: 901, 2: None}

    near = {r["k"]: (r["rid"], r["asof_dist"]) for r in asof_join_nearest(
        left, right, key="k", left_time="lt", right_time="rt",
        right_payload=["rid"], tolerance=10,
    ).collect()}
    assert near == {1: (901, 10), 2: (None, None)}


def test_asof_nearest_tolerance_takes_other_side(spark):
    """When the nearer candidate falls OUTSIDE the gap but the farther
    side falls inside, nearest-with-tolerance must take the surviving
    side (candidates null independently before the argmin)."""
    from semantic_cpp_spark.operators.asof import asof_join_nearest

    left = spark.createDataFrame([(1, 100)], "k long, lt long")
    # backward at dist 20 (outside tol 15), forward at dist 12 (inside)
    right = spark.createDataFrame(
        [(1, 80, 901), (1, 112, 902)], "k long, rt long, rid long"
    )
    out = asof_join_nearest(
        left, right, key="k", left_time="lt", right_time="rt",
        right_payload=["rid"], tolerance=15,
    ).collect()
    assert (out[0].rid, out[0].asof_dist) == (902, 12)
