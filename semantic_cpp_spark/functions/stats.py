"""Statistical aggregate expression builders (reference collector.h, SURVEY §2.5).

Where Spark built-ins match the reference semantics we use them
(var_pop, stddev_pop, exact percentile); where formulas differ
(skewness/kurtosis are SAMPLE-adjusted in the reference while Spark's
builtins are population estimators) we compose the reference formula from
sum/avg/stddev_pop primitives — still fully JVM-side partial+final
aggregation, one shuffle, no UDFs.

All builders return Column aggregate expressions usable in ``df.agg`` /
``groupBy().agg``.
"""

from __future__ import annotations

from bisect import bisect_right

from pyspark.sql import Column
from pyspark.sql import functions as F


def summate(col: Column) -> Column:
    """useSummate (reference collector.h:488-506)."""
    return F.sum(col)


def average_or_zero(col: Column) -> Column:
    """useAverage: empty stream → 0, not null (reference collector.h:520-524)."""
    return F.coalesce(F.avg(col), F.lit(0.0))


def value_range(col: Column) -> Column:
    """useRange collector: max − min (reference collector.h:546-602).

    The reference treats (0,0) min/max as its empty sentinel — a genuine
    bug for all-zero streams (collector.h:553, :562-565); we implement the
    sane max-min and document the deviation (SURVEY §7.4)."""
    return F.max(col) - F.min(col)


def variance_pop(col: Column) -> Column:
    """useVariance: POPULATION variance, Welford+Chan in the reference
    (collector.h:688-760) == Spark var_pop's partial/merge scheme."""
    return F.var_pop(col)


def stddev_pop(col: Column) -> Column:
    """useStandardDeviation: population stddev (reference collector.h:762-836)."""
    return F.stddev_pop(col)


def median_exact(col: Column) -> Column:
    """useMedian: exact midpoint-average (reference collector.h:2205-2249).
    Spark `percentile` (exact, linear interpolation) matches the
    even-n average rule at p=0.5."""
    return F.percentile(col, F.lit(0.5))


def percentile_exact(col: Column, p: float) -> Column:
    """usePercentile: exact linear interpolation on rank p/100·(n−1)
    (reference collector.h:2279-2335) — Spark's exact `percentile` uses the
    identical rule (and so does DuckDB quantile_cont)."""
    if not 0.0 <= p <= 100.0:
        raise ValueError("percentile must be in [0, 100]")  # collector.h:2282
    return F.percentile(col, F.lit(p / 100.0))


def skewness_ref(col: Column) -> Column:
    """useSkewness: sample-adjusted Fisher–Pearson
    ``n/((n−1)(n−2)) · Σ((x−μ)/s)³`` with s = POPULATION stddev;
    n<3 → 0 (reference collector.h:3065-3145). Spark's builtin computes
    population g1 = m3/m2^1.5 — different formula, hence composed here."""
    n = F.count(col).cast("double")
    mu = F.avg(col)
    s = F.stddev_pop(col)
    m3 = F.sum(F.pow(col, 3)) - 3 * mu * F.sum(F.pow(col, 2)) + 2 * F.pow(mu, 3) * F.count(col)
    g = (n / ((n - 1) * (n - 2))) * (m3 / F.pow(s, 3))
    return F.when((F.count(col) < 3) | (s == 0), F.lit(0.0)).otherwise(g)


def kurtosis_ref(col: Column) -> Column:
    """useKurtosis: sample-adjusted EXCESS kurtosis
    ``n(n+1)(n−1)·Σd⁴ / ((n−2)(n−3)·s⁴·n²) − 3(n−1)²/((n−2)(n−3))``
    with s = population stddev; n<4 → 0 (reference collector.h:3147-3239)."""
    cnt = F.count(col)
    n = cnt.cast("double")
    mu = F.avg(col)
    s = F.stddev_pop(col)
    # Σ(x−μ)⁴ expanded to power sums (single pass, partial-aggregatable).
    s1 = F.sum(col)
    s2 = F.sum(F.pow(col, 2))
    s3 = F.sum(F.pow(col, 3))
    s4 = F.sum(F.pow(col, 4))
    m4 = s4 - 4 * mu * s3 + 6 * F.pow(mu, 2) * s2 - 4 * F.pow(mu, 3) * s1 + F.pow(mu, 4) * n
    term = (n * (n + 1) * (n - 1) * m4) / ((n - 2) * (n - 3) * F.pow(s, 4) * F.pow(n, 2))
    adj = 3 * F.pow(n - 1, 2) / ((n - 2) * (n - 3))
    return F.when((cnt < 4) | (s == 0), F.lit(0.0)).otherwise(term - adj)


def mode_deterministic(col: Column, idx: Column) -> Column:
    """useMode: most frequent value (reference collector.h:2251-2277 — its
    phasor-magnitude trick reduces to occurrence count for integer
    indices; ties there are unordered_map-order nondeterministic).
    We pin the tie-break deterministically: smallest value wins.
    Single-expression form for ungrouped use; for grouped use prefer the
    two-level groupBy pipeline in operators.collectors."""
    # mode() builtin is non-deterministic on ties; use max_by over
    # (count, -value) pairs built from a collected map — small-cardinality
    # only. Callers with big data use the groupBy pipeline instead.
    raise NotImplementedError("use operators.collectors.mode_df (groupBy pipeline)")


def percentile_approx_scale(col: Column, p: float, accuracy: int = 10000) -> Column:
    """The documented SCALE escape hatch for percentile: exact percentile
    (the reference's contract, collector.h:2279-2335) buffers per-partition
    value counts; at extreme cardinality a production pipeline should opt
    into Spark's approx_percentile (t-digest-style sketch, bounded memory,
    mergeable). Not oracle-checked — approximation is engine-specific."""
    if not 0.0 <= p <= 100.0:
        raise ValueError("percentile must be in [0, 100]")
    return F.percentile_approx(col, F.lit(p / 100.0), F.lit(accuracy))


def percentiles_exact_sorted(df, col: Column, ps: list[float], names: list[str]):
    """Exact percentiles by BUCKET-HISTOGRAM RANK SELECTION — the scale
    path for the exact contract. `F.percentile` is algebraically partial
    but its final merge sorts every distinct value on ONE reducer
    (measured: parallelizing the partial phase doesn't move the ~1.7 s
    floor on 600k rows because the merge dominates).

    Only ≤ 2·len(ps) global ranks are ever read, so the column is
    bucketed by ``indexing.quantile_buckets`` (one single-stage probe for
    the count and bounds, one exact histogram → per-bucket offsets), the
    driver locates the buckets holding a needed rank, and the final job
    ranks ONLY those buckets — the full column is never shuffled, and
    only the needed rows feed the 1-row interpolation aggregate. Bucket
    order is consistent with value order and ties carry equal values, so
    every tie order yields the same value at a rank. A nondeterministic
    input, or a histogram that does not sum to the probed count, takes
    the full-ordinal path instead: every row ranked over one persisted
    sampled range partitioning, with the count taken from it.

    Same linear-interpolation rule as `F.percentile` / DuckDB
    quantile_cont (rank p·(n−1), collector.h:2279-2335), pinned by a
    cross-implementation test. ps are fractions in [0, 1]. Returns a
    1-row DataFrame with `names` columns (null when the input is empty).
    """
    from semantic_cpp_spark.indexing import (
        ConservationError,
        bucket_ordinal,
        is_deterministic,
        quantile_buckets,
        with_ordinal,
    )

    if len(ps) != len(names):
        raise ValueError("ps and names must align")
    if not ps:
        # zero percentiles: a 0-column select is legal downstream but the
        # isin() rank filter below would throw
        return df.sparkSession.range(1).select()
    for p in ps:
        if not 0.0 <= p <= 1.0:
            raise ValueError("percentile fraction must be in [0, 1]")
    vals = df.select(col.alias("__v")).filter(col.isNotNull())
    spark = df.sparkSession
    qb = None
    if is_deterministic(vals):
        try:
            qb = quantile_buckets(
                vals, "__v", max(spark.sparkContext.defaultParallelism, 2)
            )
        except ConservationError:
            pass
    if qb is None:
        # a Column key (not the name) takes with_ordinal's persisted
        # sampled range path, so the ranks and n come from one evaluation
        ranked = with_ordinal(vals, [F.col("__v")], name="__r", strategy="range")
        n = ranked.count()
    else:
        n = qb[1][-1]
    if n == 0:
        return spark.range(1).select(
            *[F.lit(None).cast("double").alias(nm) for nm in names]
        )
    bounds: list[tuple[int, int, float]] = []
    need: set[int] = set()
    for p in ps:
        r = p * (n - 1)
        lo, hi = int(r // 1), -int(-r // 1)
        bounds.append((lo, hi, r - lo))
        need.update((lo, hi))
    if qb is not None:
        bucket, offsets = qb
        # the bucket of global rank r is the last one starting at or below
        # r (an empty bucket shares its start with the next one)
        hits = sorted({bisect_right(offsets, r) - 1 for r in need})
        ranked = bucket_ordinal(vals, bucket, offsets, [F.col("__v")], "__r", hits)
    aggs = []
    for i, (lo, hi, _) in enumerate(bounds):
        for tag, rank in (("lo", lo), ("hi", hi)):
            pick = F.when(F.col("__r") == rank, F.col("__v"))
            aggs.append(F.min(pick).alias(f"__{tag}{i}"))
    picked = ranked.filter(F.col("__r").isin(*need)).agg(*aggs)
    outs = []
    for i, (_, _, frac) in enumerate(bounds):
        # lo·(1−d) + hi·d, DuckDB quantile_cont's arithmetic: lo + d·(hi−lo)
        # differs from it in the last bit (717034429784.5 vs …784.4999 on
        # one fixture), enough to flip a 6-decimal rounding. An exact rank
        # returns its value as is, so an infinite one never meets 0·inf.
        lo, hi = F.col(f"__lo{i}"), F.col(f"__hi{i}")
        v = lo if frac == 0 else lo * (F.lit(1.0) - F.lit(frac)) + hi * F.lit(frac)
        outs.append(v.alias(names[i]))
    return picked.select(*outs)


def band_by_cuts(
    col: Column, cut_cols: list[str], *, check: bool = False
) -> Column:
    """Band index from ascending broadcast cutoffs: band 0 below the
    first cutoff, band i+1 at/above cutoff i — half-open intervals, ties
    go UP (deterministic, unlike ntile's count-balanced splits). The one
    shared fold for every cutoff-banding operator (quality bands, RFM
    terciles, equi-depth histogram), so the tie/boundary semantics can
    never diverge between them.

    Shape (r11): for ASCENDING cuts, "highest satisfied cutoff" equals
    "count of satisfied cutoffs", so the band is a flat
    size(filter(array(cuts), x -> col >= x)) — one wide node — instead
    of the pre-r11 nested when-chain, whose JVM-stack ceiling was ~400
    entries (the curation lookup finding); a 10³-bucket equi-depth
    histogram now plans. Null col → no cutoff satisfied → band 0,
    exactly as the when-chain fell through.

    PRECONDITION (ADVICE r11): cuts must be ASCENDING and NON-NULL —
    the count form silently diverges from "highest satisfied cutoff"
    otherwise. A NULL cut is EXCLUDED from the count (col >= NULL is
    null, dropped by the filter), whereas the pre-r11 when-chain could
    still band a value ABOVE a null cut via a later arm. ``check=True``
    compiles an in-plan guard (array_sort equality + null scan) that
    raises at execution on unsorted or null cuts instead of banding
    wrong — cheap (the cut array is a handful of broadcast scalars per
    row), off by default since every in-repo caller feeds ascending
    null-free percentile cuts by construction."""
    arr = F.array(*[F.col(c) for c in cut_cols])
    band = F.size(F.filter(arr, lambda x: col >= x)).cast("long")
    if check:
        ok = ~F.exists(arr, lambda x: x.isNull()) & (arr == F.array_sort(arr))
        return F.when(ok, band).otherwise(
            F.raise_error(
                F.concat(
                    F.lit(
                        "band_by_cuts: cut columns must be ascending "
                        "and non-null, got "
                    ),
                    F.to_json(F.struct(arr.alias("cuts"))),
                )
            )
        )
    return band


def ratio_round6(num: Column, den: Column) -> Column:
    """round(num/den, 6) for EXACT non-negative int64 inputs, computed
    so both engines agree on EVERY input — including the exact-half
    class round(double, 6) gets wrong: a ratio whose reduced
    denominator divides 2·10⁶ can land exactly on a half at the 7th
    decimal (measured: 42379746/12 in the LM gate; a 128-word document
    would do the same to fertility), and Spark's and DuckDB's double
    rounding disagree there.

    Form: integer half-up division q = (2·10⁶·num + den) ÷ (2·den) via
    ``div_long`` (JVM IntegralDivide — exact pure-long arithmetic at
    ANY magnitude; the earlier (x − x mod y)/y double form was exact
    only below 2⁵³, ADVICE r12), then /1e6 for display (exact:
    q < 2⁵³). DuckDB mirror: ``(2000000::BIGINT*num + den) // (2*den)
    / 1000000.0`` (the BIGINT cast matters when num is a literal —
    bare 2000000*literal multiplies in INT32 and overflows). Requires 2·10⁶·num + den < 2⁶³ (num < 4.6e12)."""
    x = F.lit(2_000_000).cast("long") * num.cast("long") + den.cast("long")
    y = F.lit(2).cast("long") * den.cast("long")
    return div_long(x, y) / F.lit(1000000.0)


def round6_scaled(x: Column) -> Column:
    """round(x, 6) for a DOUBLE, computed as ``round(x·10⁶, 0) / 10⁶`` in
    double arithmetic — the scaled form DuckDB's round(double, 6) uses.
    Spark's round(double, 6) instead applies HALF_UP to the shortest
    decimal string of x, so the two disagree when x is stored just below
    a half: 17102.8889555 prints as such and rounds to …956, while the
    scaled product 17102888955.499998 rounds to …955. At scale 0 both
    engines agree (below 2⁵² the shortest string of a double and its
    exact value lie on the same side of every half), so this form
    matches DuckDB on every input."""
    return F.round(x * F.lit(1e6), 0) / F.lit(1e6)


def div_long(x: Column, y: Column) -> Column:
    """EXACT int64 integer division (truncated toward zero, like SQL
    ``div`` / DuckDB ``//`` on non-negative operands) — stays in pure
    long arithmetic on the JVM (Catalyst IntegralDivide via the
    registered ``div`` SQL function), so unlike any double-routed form
    ((x − pmod)/y, floor(x/y)) the quotient is correct at ANY int64
    magnitude: a long → double conversion above 2⁵³ is inexact and can
    return q±1 even for perfect multiples (measured at 2⁶²).
    DuckDB mirror for non-negative operands: ``x // y``."""
    return F.call_function("div", x.cast("long"), y.cast("long"))
