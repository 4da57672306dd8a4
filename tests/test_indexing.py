"""with_ordinal strategy equivalence + determinism."""

import math

import pytest
from pyspark.sql import functions as F

from semantic_cpp_spark import indexing
from semantic_cpp_spark.indexing import (
    IDX,
    normalize_index,
    rebase_index,
    release_ordinal_caches,
    with_ordinal,
)
from semantic_cpp_spark.operators import eventflow
from semantic_cpp_spark.pipeline import dedup

M = 1_000_000  # 1 second in microseconds


def _mk(spark, n=1000):
    # sparse, shuffled keys to stress bucket/range assignment
    return spark.range(n).select(
        (F.col("id") * 37 % n * 1000 + F.col("id")).alias("key"),
        F.col("id").alias("payload"),
    )


def test_strategies_agree(spark):
    df = _mk(spark)
    expect = {
        r["key"]: r[IDX]
        for r in with_ordinal(df, ["key"], strategy="window").collect()
    }
    for strategy in ("bucket", "range"):
        got = {
            r["key"]: r[IDX]
            for r in with_ordinal(df, ["key"], strategy=strategy).collect()
        }
        assert got == expect, strategy


def test_ordinal_dense_and_ordered(spark):
    df = _mk(spark, 500)
    out = with_ordinal(df, ["key"]).collect()
    idxs = sorted(r[IDX] for r in out)
    assert idxs == list(range(500))
    by_key = sorted(out, key=lambda r: r["key"])
    assert [r[IDX] for r in by_key] == list(range(500))


def test_rebase_after_filter(spark):
    df = with_ordinal(_mk(spark, 100), ["key"])
    kept = df.filter(F.col(IDX) % 3 == 0)
    out = rebase_index(kept)
    idxs = sorted(r[IDX] for r in out.collect())
    assert idxs == list(range(34))


def test_normalize_wraps_negative(spark):
    df = spark.createDataFrame(
        [(-3, "a"), (-2, "b"), (-1, "c"), (0, "d")], f"{IDX} long, value string"
    )
    out = {r["value"]: r[IDX] for r in normalize_index(df).collect()}
    # n=4: -3 -> 1, -2 -> 2, -1 -> 3, 0 -> 0
    assert out == {"a": 1, "b": 2, "c": 3, "d": 0}


def test_dense_key_fast_path(spark):
    """A dense 0-based (or offset) integer key becomes the ordinal via a
    pure map — and still agrees with the window strategy."""
    from pyspark.sql import functions as F

    df = spark.range(100).select((F.col("id") + 7).alias("key"), F.col("id").alias("p"))
    out = with_ordinal(df, ["key"], strategy="auto")
    assert "Exchange" not in out._jdf.queryExecution().executedPlan().toString()
    got = {r["key"]: r[IDX] for r in out.collect()}
    expect = {
        r["key"]: r[IDX]
        for r in with_ordinal(df, ["key"], strategy="window").collect()
    }
    assert got == expect


def test_range_quantile_bounds_path(spark):
    """A named ASC numeric leading key takes the deterministic
    quantile-bounds range path — literal boundaries, no persist — and
    must agree with the window ground truth on doubles with duplicates,
    nulls (first) and NaN (last), with string tiebreaks ordered within
    equal keys."""
    import math

    rows = []
    vals = [3.5, 1.0, None, float("nan"), 2.25, 3.5, -1.5, None, 0.0, 2.25]
    for i, v in enumerate(vals * 30):
        rows.append((v, f"t{i:04d}"))
    df = spark.createDataFrame(rows, "k double, tie string")
    def _norm(v):
        # nan != nan in Python tuple equality; normalise to a sentinel
        if isinstance(v, float) and math.isnan(v):
            return "NaN"
        return v

    got = [
        (_norm(r["k"]), r["tie"])
        for r in sorted(
            with_ordinal(df, ["k", "tie"], strategy="range").collect(),
            key=lambda r: r[IDX],
        )
    ]
    expect = [
        (_norm(r["k"]), r["tie"])
        for r in sorted(
            with_ordinal(df, ["k", "tie"], strategy="window").collect(),
            key=lambda r: r[IDX],
        )
    ]

    def _null_nan_order(t):
        k = t[0]
        return (
            0 if k is None else (2 if k == "NaN" else 1),
            -math.inf if k is None or k == "NaN" else k,
            t[1],
        )

    assert got == expect
    assert got == sorted(got, key=_null_nan_order)
    # the quantile path must not persist anything (no range cache entry)
    plan = (
        with_ordinal(df, ["k", "tie"], strategy="range")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "InMemoryTableScan" not in plan


def test_range_quantile_bounds_deterministic(spark):
    """two independent constructions produce identical ordinals (the
    boundaries are frozen literals, not a nondeterministic sample)."""
    df = spark.range(2000).select(
        (F.col("id") % 97 * 1.5).alias("k"), F.col("id").alias("tie")
    )
    a = {r["tie"]: r[IDX] for r in with_ordinal(df, ["k", "tie"], strategy="range").collect()}
    release_ordinal_caches()
    b = {r["tie"]: r[IDX] for r in with_ordinal(df, ["k", "tie"], strategy="range").collect()}
    assert a == b


def _nan_eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        return (math.isnan(a) and math.isnan(b)) or math.isclose(a, b, rel_tol=1e-12)
    return a == b


def _degenerate_inputs(spark):
    """(name, DataFrame with a double key ``k`` and a unique ``tie``)."""
    nan = float("nan")
    cases = {
        "empty": [],
        "all_null": [None] * 40,
        "nan_null_mixed": [nan, None, 2.5, nan, -1.0, None, 2.5, 7.0, nan, 0.0] * 8,
        "constant": [4.25] * 60,
        "ninety_pct_one_value": [1.0] * 90 + [float(i) for i in range(10)],
    }
    for name, vals in cases.items():
        rows = [(v, i) for i, v in enumerate(vals)]
        yield name, spark.createDataFrame(rows, "k double, tie long")


def test_quantile_range_path_degenerate_inputs(spark):
    """The quantile-bucket range path agrees with the window ground truth
    on empty, all-null, NaN/null-mixed, constant and 90%-one-value keys."""
    for name, df in _degenerate_inputs(spark):
        got = {
            r["tie"]: r[IDX]
            for r in with_ordinal(df, ["k", "tie"], strategy="range").collect()
        }
        expect = {
            r["tie"]: r[IDX]
            for r in with_ordinal(df, ["k", "tie"], strategy="window").collect()
        }
        assert got == expect, name


def test_quantile_percentiles_degenerate_inputs(spark):
    """percentiles_exact_sorted equals F.percentile on the same
    degenerate inputs (null when nothing is left after dropping nulls)."""
    from semantic_cpp_spark.functions.stats import percentiles_exact_sorted

    ps = [0.0, 0.1, 0.5, 0.9, 1.0]
    names = [f"p{i}" for i in range(len(ps))]
    for name, df in _degenerate_inputs(spark):
        got = percentiles_exact_sorted(df, F.col("k"), ps, names).collect()[0]
        expect = df.agg(
            *[F.percentile("k", F.lit(p)).alias(nm) for p, nm in zip(ps, names)]
        ).collect()[0]
        for nm in names:
            assert _nan_eq(got[nm], expect[nm]), (name, nm, got[nm], expect[nm])


def test_integer_keys_with_nulls_keep_every_row(spark):
    """A null integer key sorts first and keeps its row on the auto
    density probe and the bucket strategy (a null bucket id would be
    dropped by the offsets join; null keys are never 'dense')."""
    rows = [(k, i) for i, k in enumerate([0, 1, None, 2, None, 3])]
    sparse = [(k * 100000 if k is not None else None, i) for k, i in rows]
    for data in (rows, sparse):
        release_ordinal_caches()
        df = spark.createDataFrame(data, "k long, tie long")
        expect = {
            r["tie"]: r[IDX]
            for r in with_ordinal(df, ["k", "tie"], strategy="window").collect()
        }
        for strategy in ("auto", "bucket"):
            got = {
                r["tie"]: r[IDX]
                for r in with_ordinal(df, ["k", "tie"], strategy=strategy).collect()
            }
            assert got == expect, (strategy, data)
        single = with_ordinal(df.select("k"), ["k"]).collect()
        assert sorted(r[IDX] for r in single) == list(range(6))


def test_nondeterministic_input_gets_dense_ordinals(spark):
    """A nondeterministic plan takes the persisted sampled path, so the
    probe, counts and ranks all see one evaluation; percentiles fall back
    to the full-ordinal path over the same pinned rows."""
    from semantic_cpp_spark.functions.stats import percentiles_exact_sorted

    df = spark.range(3000).select(F.rand(11).alias("k"), F.col("id").alias("tie"))
    for strategy in ("auto", "range"):
        out = with_ordinal(df, ["k"], strategy=strategy)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "InMemoryTableScan" in plan, strategy
        rows = sorted(out.collect(), key=lambda r: r[IDX])
        assert [r[IDX] for r in rows] == list(range(3000))
        assert [r["k"] for r in rows] == sorted(r["k"] for r in rows)
    # rand() * 0 keeps the values fixed but the plan nondeterministic
    nd = spark.range(101).select((F.col("id") + F.rand(5) * 0).alias("v"))
    got = percentiles_exact_sorted(nd, F.col("v"), [0.5, 0.25], ["m", "q"]).first()
    assert (got["m"], got["q"]) == (50.0, 25.0)


def test_conservation_failure_never_passes_silently(spark, monkeypatch):
    """A bucket histogram that does not sum to the probed count makes the
    range path raise and percentiles fall back to the full-ordinal path."""
    from semantic_cpp_spark.functions.stats import percentiles_exact_sorted

    real = indexing.eager_aggregate

    def off_by_one(df, *aggs):
        out = dict(real(df, *aggs))
        out["n"] += 1
        return out

    monkeypatch.setattr(indexing, "eager_aggregate", off_by_one)
    df = spark.range(500).select(
        (F.col("id") * 0.5).alias("k"), F.col("id").alias("tie")
    )
    release_ordinal_caches()
    with pytest.raises(indexing.ConservationError):
        with_ordinal(df, ["k", "tie"], strategy="range")
    got = percentiles_exact_sorted(df, F.col("k"), [0.5, 0.9], ["m", "p"]).first()
    expect = df.agg(
        F.percentile("k", F.lit(0.5)).alias("m"),
        F.percentile("k", F.lit(0.9)).alias("p"),
    ).first()
    assert _nan_eq(got["m"], expect["m"]) and _nan_eq(got["p"], expect["p"])


def test_quantile_path_job_and_plan_pins(spark):
    """Status-store pin: on an uncached input a percentiles_exact_sorted
    build submits at most 3 jobs (one single-stage probe, the histogram's
    map and result jobs), and the quantile-path with_ordinal plan ranks
    with literal offsets — no broadcast of an offsets table."""
    import uuid

    from semantic_cpp_spark.functions.stats import percentiles_exact_sorted

    sc = spark.sparkContext
    df = spark.range(20000).select(
        (F.col("id") * 7919 % 20000 * 0.5).alias("k"), F.col("id").alias("tie")
    )
    group = f"pin_{uuid.uuid4().hex}"
    sc.setJobGroup(group, "percentiles build")
    try:
        percentiles_exact_sorted(df, F.col("k"), [0.5, 0.9], ["m", "p"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert 1 <= len(jobs) <= 3, jobs
    plan = (
        with_ordinal(df, ["k", "tie"], strategy="range")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastExchange" not in plan
    assert "element_at" in plan

def test_ordinal_probe_memoised(spark):
    """The auto-strategy density probe runs its eager aggregate once per
    logical plan, not once per with_ordinal call."""
    release_ordinal_caches()
    df = spark.range(100).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
    with_ordinal(df, ["k"])
    assert len(indexing._MEMO) == 1
    ((_, n, dense),) = indexing._MEMO.values()
    assert n == 100 and dense
    # same plan again → still one entry (hit, no second probe job)
    with_ordinal(df, ["k"])
    assert len(indexing._MEMO) == 1
    # a different plan gets its own entry
    with_ordinal(df.filter("k >= 50"), ["k"])
    assert len(indexing._MEMO) == 2


def test_release_ordinal_caches_unpersists_every_memoised_frame(spark):
    """One release for every persisted intermediate: a string-key range
    ordinal, conversion_latency's latency table and minhash_lsh_pairs'
    signature table are all unpersisted, counted, and dropped from the
    memo."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    release_ordinal_caches()
    spark.catalog.clearCache()
    assert cache.isEmpty()

    strs = spark.createDataFrame([("b", 1), ("a", 2), ("c", 3)], "s string, v int")
    out = with_ordinal(strs, ["s"], strategy="range")
    assert [r["s"] for r in out.orderBy(IDX).collect()] == ["a", "b", "c"]
    events = spark.createDataFrame(
        [(0, 1, 0, "signup", 0.0), (1, 1, 10 * M, "purchase", 0.0)],
        "event_id long, user_id long, tus long, event_type string, value double",
    )
    conv = eventflow.conversion_latency(events, ["signup", "purchase"]).first()
    assert conv["n_converted"] == 1
    docs = spark.createDataFrame(
        [(0, "a b c d e f"), (1, "a b c d e f"), (2, "u v w x y z")],
        "doc_id long, text string",
    )
    pairs = dedup.minhash_lsh_pairs(docs, F.col("text"), F.col("doc_id"))
    assert [(r["d1"], r["d2"]) for r in pairs.collect()] == [(0, 1)]

    assert not cache.isEmpty()
    assert release_ordinal_caches() == 3
    assert cache.isEmpty()
    assert not indexing._MEMO


_DOC = "the quick brown fox jumps over the lazy dog near the river bank today"

# owner → (schema, first file, appended file, one build's result, result
# before the append, result after it)
_APPEND_CASES = {
    # a second converted user arrives in the appended file
    "eventflow": (
        "event_id long, user_id long, tus long, event_type string, value double",
        [(0, 1, 0, "signup", 0.0), (1, 1, 10 * M, "view", 0.0),
         (2, 1, 20 * M, "purchase", 0.0)],
        [(3, 2, 0, "signup", 0.0), (4, 2, 5 * M, "view", 0.0),
         (5, 2, 40 * M, "purchase", 0.0)],
        lambda df: eventflow.conversion_latency(
            df, ["signup", "view", "purchase"]
        ).first()["n_converted"],
        1,
        2,
    ),
    # a key between the first two arrives; memoised quantile offsets of
    # the first snapshot would give two rows the same ordinal
    "indexing": (
        "k double",
        [(1.0,), (3.0,)],
        [(2.0,)],
        lambda df: sorted((r["k"], r[IDX]) for r in with_ordinal(df, ["k"]).collect()),
        [(1.0, 0), (3.0, 1)],
        [(1.0, 0), (2.0, 1), (3.0, 2)],
    ),
    # a near-duplicate of doc 0 arrives in the appended file
    "dedup": (
        "doc_id long, text string",
        [(0, _DOC), (1, "an unrelated document about parquet files and spark jobs")],
        [(2, _DOC.replace("today", "tonight"))],
        lambda df: sorted(
            (r["d1"], r["d2"])
            for r in dedup.minhash_lsh_pairs(df, F.col("text"), F.col("doc_id")).collect()
        ),
        [],
        [(0, 2)],
    ),
}


@pytest.mark.parametrize("owner", sorted(_APPEND_CASES))
def test_persisted_memo_sees_appended_files(spark, tmp_path, owner):
    """Builds over a re-read source see a file appended to it. The memo
    keys on the resolved input files, not just the plan hash: the append
    leaves semanticHash unchanged, and a hash-only key would serve a
    stale memoised value (the range ordinal's offsets). Spark's write
    path re-caches persisted frames over the path, which the eventflow
    and dedup cases rely on as well."""
    schema, first, appended, build, before, after = _APPEND_CASES[owner]
    src = str(tmp_path / "src")
    spark.createDataFrame(first, schema).coalesce(1).write.parquet(src)
    assert build(spark.read.parquet(src)) == before
    spark.createDataFrame(appended, schema).coalesce(1).write.mode("append").parquet(src)
    assert build(spark.read.parquet(src)) == after


def test_memo_eviction_keeps_persisted_frames(spark, monkeypatch):
    """FIFO eviction at the memo bound drops probe results only: a
    persisted range partitioning stays memoised (a lazy plan may still
    read it) until release_ordinal_caches."""
    release_ordinal_caches()
    monkeypatch.setattr(indexing, "_MEMO_MAX", 2)
    strs = spark.createDataFrame([("b", 1), ("a", 2)], "s string, v int")
    with_ordinal(strs, ["s"], strategy="range")
    (frame,) = indexing._MEMO.values()
    for lo in range(3):
        with_ordinal(spark.range(lo, 10).select(F.col("id").alias("k")), ["k"])
    assert len(indexing._MEMO) == 2 and frame in indexing._MEMO.values()
    assert release_ordinal_caches() == 1
