"""Dense global ordinal assignment — the ``__idx`` column.

The reference models every stream as ``(element, Timestamp index)`` pairs
(reference function.h:11, :53-57); the index is a first-class mutable
coordinate (reverse negates it, translate shifts it, findAt looks it up —
reference semantic.h:1448-1461, :1577-1590; collector.h:859-910). Our engine
carries it as a LongType column ``__idx``, dense 0..n-1 at every re-based
boundary.

Scale design (SURVEY.md §7 hard-part 1): a global ``row_number()`` window
funnels all rows through ONE task — unusable at 100 TB. Every scalable
strategy is the zipWithIndex scheme (split rows into ordered buckets →
per-bucket counts → cumulative offsets → local rank + offset) in pure
DataFrame ops — no RDD round-trip, no Python serialization:

- dense integer key (``auto``): one single-stage probe finds ``key - min``
  is already the ordinal — a pure narrow map, nothing shuffles.

- "bucket" (integer key): bucket = ``floor(key / width)``, derived from
  data, so the per-bucket counts and the final ranks agree without
  caching. Offsets are computed lazily in the sink job (counts exchange +
  offsets window over the tiny counts table + broadcast join), because
  bucket ids are unbounded.

- "range", named ascending numeric leading key: ``quantile_buckets`` —
  the one quantile-bucket primitive, shared with
  ``stats.percentiles_exact_sorted``. One single-stage probe (row count
  plus ``percentile_approx`` bounds) freezes the bounds into a
  ``#bounds <= key`` bucket expression, and one exact histogram gives the
  offsets on the driver. The sink job then only hash-partitions by bucket
  and adds a LITERAL offset (``element_at(array(offsets), bucket + 1)``)
  to the local rank — no counts exchange, no offsets window, no join.

- "range", any other key, or any input whose analysed plan is
  nondeterministic: ``repartitionByRange`` buckets, pinned by a persist
  so every job sees the same rows and splits; offsets as for "bucket".

Determinism requires the order key to be a TOTAL order (unique); all engine
sources guarantee one (event_id, doc_id, ... or an explicit position).
"""

from __future__ import annotations

from itertools import accumulate
from typing import Iterable, Union

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

IDX = "__idx"
_PID = "__sem_pid"
_OFF = "__sem_off"

# The engine's one memo for plan-derived intermediates: (semanticHash,
# input-file-snapshot hash, tag) → value. Values are eager probe results
# (density, quantile buckets, dedup's hot-route flag) and lazily persisted
# DataFrames (the sampled range partitioning, dedup's signatures,
# eventflow's shared tables). semanticHash identifies the logical plan and
# the file-snapshot hash ties it to the data listing, so a re-read after
# append/overwrite misses the memo instead of serving stale results. Tags
# are namespaced by their owner ("indexing.density", "dedup.signatures").
# FIFO-bounded for probe values only: a persisted frame is never evicted,
# because a lazy plan may still read it and re-sampling a range
# partitioning would change its ordinals. release_ordinal_caches drops it.
_MEMO: dict[tuple, object] = {}
_MEMO_MAX = 512


def _plan_key(df: DataFrame) -> tuple[int, int]:
    return (
        df._jdf.queryExecution().analyzed().semanticHash(),
        hash(tuple(sorted(df.inputFiles()))),
    )


def memo(df: DataFrame, tag, compute):
    """``compute()`` memoised per (logical plan of ``df``, file snapshot,
    ``tag``); released by ``release_ordinal_caches``."""
    key = _plan_key(df) + (tag,)
    hit = _MEMO.get(key)
    if hit is None:
        if len(_MEMO) >= _MEMO_MAX:
            old = next(
                (k for k, v in _MEMO.items() if not isinstance(v, DataFrame)), None
            )
            _MEMO.pop(old, None)
        hit = _MEMO[key] = compute()
    return hit


def release_ordinal_caches() -> int:
    """Clear the memo and unpersist every DataFrame it holds; returns how
    many were unpersisted. Call at session boundaries (bench runs, test
    fixture finalizers): a dependent plan materialised later recomputes
    its inputs, so the flush must not fall between the materialisations
    of one ordinal assignment."""
    frames = [v for v in _MEMO.values() if isinstance(v, DataFrame)]
    _MEMO.clear()
    n = 0
    for df in frames:
        try:
            df.unpersist()
            n += 1
        except Exception:
            pass
    return n


_NUMERIC = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)

# types the quantile-bucket range path accepts: anything whose cast to
# double is a monotone (possibly non-strict) map — equal-after-cast keys
# just share a bucket and the local window orders them by the TRUE key, so
# lossy casts (int64 > 2^53, high-precision decimals) stay correct.
_QNUMERIC = _NUMERIC + (T.FloatType, T.DoubleType, T.DecimalType)

ColumnOrName = Union[Column, str]


class ConservationError(RuntimeError):
    """A bucket histogram does not account for every probed row."""


def _cols(order_by: Iterable[ColumnOrName]) -> list[Column]:
    return [F.col(c) if isinstance(c, str) else c for c in order_by]


def is_deterministic(df: DataFrame) -> bool:
    """Whether every evaluation of ``df``'s analysed plan yields the same
    rows — the precondition for probing a plan in one job and ranking it
    in another. Persisted intermediates count as pinned: the check runs
    on the analysed plan with cached data substituted."""
    return df._jdf.queryExecution().withCachedData().deterministic()


def eager_aggregate(df: DataFrame, *aggs: Column) -> dict:
    """Evaluate global aggregates over ``df`` in ONE single-stage job.

    ``df.agg(...).first()`` costs a shuffle-map job plus a result job;
    here the aggregates ride a ``noop`` write as an ``Observation``, so
    each task folds its rows into the partial buffers and the driver
    merges them — no exchange. Returns ``{alias: value}``; an empty input
    gives 0 for counts and null for every other aggregate. Prune ``df`` to
    the aggregated columns first: the noop sink reads every column."""
    obs = Observation()
    df.observe(obs, *aggs).write.format("noop").mode("overwrite").save()
    return obs.get


def quantile_buckets(df: DataFrame, key: str, nb: int) -> tuple[Column, list[int]]:
    """The one quantile-bucket primitive: ``(bucket, offsets)`` for the
    numeric column ``key``.

    One ``eager_aggregate`` probe takes the row count and ``nb``-quantile
    ``percentile_approx`` bounds; the bounds are frozen into ``bucket =
    #bounds <= key`` — a pure deterministic row function, non-strictly
    monotone in ascending key order (null → 0, i.e. nulls first; NaN ≥
    every bound → last bucket, i.e. NaN last). Bounds only balance the
    buckets: skew or a degenerate column (all null, constant) costs
    balance, never values. One exact histogram then yields ``offsets``:
    ``offsets[b]`` rows sit in buckets below ``b``, ``offsets[-1]`` is the
    row count. Raises ``ConservationError`` when the histogram does not
    sum to the probed count, so no caller ranks against stale offsets.
    ``df`` must be deterministic (``is_deterministic``)."""
    kd = F.col(key).cast("double")
    probe = eager_aggregate(
        df.select(key),
        F.count(F.lit(1)).alias("n"),
        # percentile_approx runs as a codegen aggregate; accuracy 1000
        # bounds the sketch. Nulls are ignored by the sketch; NaN bounds
        # are dropped (a NaN bound would act as +inf anyway).
        F.percentile_approx(
            kd, F.array(*[F.lit(i / nb) for i in range(1, nb)]), F.lit(1000)
        ).alias("b"),
    )
    bounds = sorted({b for b in probe["b"] or [] if b is not None and b == b})
    # a comparison-sum chain, not filter(array, lambda): the higher-order
    # function trips an optimizer INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND when
    # the grouping expression is collapsed into a downstream aggregate
    # (Spark 4.1), and per-term when() stays codegen-able arithmetic.
    terms = [
        F.when(kd >= F.lit(float(b)), F.lit(1)).otherwise(F.lit(0)) for b in bounds
    ]
    bucket = sum(terms, F.lit(0)).cast("long")
    hist = dict(df.groupBy(bucket.alias(_PID)).count().collect())
    if sum(hist.values()) != probe["n"]:
        raise ConservationError(
            f"bucket histogram holds {sum(hist.values())} rows, "
            f"probe saw {probe['n']}"
        )
    counts = (hist.get(b, 0) for b in range(len(bounds) + 1))
    return bucket, list(accumulate(counts, initial=0))


def bucket_ordinal(
    df: DataFrame,
    bucket: Column,
    offsets: list[int],
    cols: list[Column],
    name: str,
    keep: list[int] | None = None,
) -> DataFrame:
    """Global rank ``name`` of the rows of ``df`` from ``quantile_buckets``'
    ``(bucket, offsets)``: the local rank within its bucket by ``cols``
    plus the bucket's driver-side offset as a literal array element — one
    hash exchange on the bucket, no join. ``keep`` ranks only the rows of
    those buckets (filtered before the exchange); they still get their
    global ranks."""
    tagged = df.withColumn(_PID, bucket)
    if keep is not None:
        tagged = tagged.filter(F.col(_PID).isin(keep))
    local = Window.partitionBy(_PID).orderBy(*cols)
    off = F.element_at(
        F.array(*[F.lit(o) for o in offsets]), (F.col(_PID) + 1).cast("int")
    )
    return tagged.withColumn(
        name, (F.row_number().over(local) - 1 + off).cast("long")
    ).drop(_PID)


def _leading_key(df: DataFrame, order_by: list[ColumnOrName], types) -> str | None:
    """Name of the LEADING order column if it is a named column of one of
    ``types`` (works for compound keys too: bucketing on the first column
    is a coarser monotone function of the lexicographic key — equal
    leading values share a bucket, and the local window orders by the
    full key)."""
    if not order_by or not isinstance(order_by[0], str):
        return None
    name = order_by[0]
    try:
        dtype = df.schema[name].dataType
    except KeyError:
        return None
    return name if isinstance(dtype, types) else None


def with_ordinal(
    df: DataFrame,
    order_by: Iterable[ColumnOrName],
    name: str = IDX,
    strategy: str = "auto",
    num_partitions: int | None = None,
    bucket_width: int = 1 << 16,
) -> DataFrame:
    """Attach a dense 0..n-1 LongType ordinal ``name`` ordered by ``order_by``.

    strategy: "auto" probes a single integer-like key for DENSITY first
    (min/max/count in one single-stage job on the pruned key column): a
    dense key means ``name = key - min`` is a pure narrow map and the big
    side NEVER shuffles — the dominant case for well-formed ids (event_id,
    doc_id, a previous __idx before filtering). Non-dense integer keys use
    "bucket"; compound/non-numeric keys use "range". "window" (global
    row_number — single-task sort) exists for tests/cross-checks only. An
    input whose analysed plan is nondeterministic always takes the
    persisted sampled range path, so every job ranks the same rows.

    The probe memo assumes source data is IMMUTABLE within a session for a
    given plan: the cache key combines the analyzed plan's semanticHash
    with the relation's input-file snapshot, so re-reading a path after an
    append/overwrite (a new file listing) misses the memo, but mutating
    files in place behind a live DataFrame is undefined — call
    ``release_ordinal_caches()`` to force a fresh probe.
    """
    order_by = list(order_by)
    cols = _cols(order_by)
    if not cols:
        raise ValueError("with_ordinal requires at least one order column")

    if strategy == "window":
        w = Window.partitionBy(F.pmod(F.spark_partition_id(), F.lit(1))).orderBy(*cols)
        return df.withColumn(name, (F.row_number().over(w) - 1).cast("long"))
    if strategy not in ("auto", "bucket", "range"):
        raise ValueError(f"unknown strategy {strategy!r}")
    if not is_deterministic(df):
        strategy, order_by = "range", cols  # Column keys: sampled path

    if strategy == "auto":
        key = _leading_key(df, order_by, _NUMERIC)
        if key is not None and len(order_by) == 1:
            def density():
                p = eager_aggregate(
                    df.select(key),
                    F.min(key).alias("lo"),
                    F.max(key).alias("hi"),
                    F.count(key).alias("n"),
                    F.count(F.lit(1)).alias("rows"),
                )
                n, lo = p["n"], p["lo"] or 0
                return lo, p["rows"], 0 < n == p["rows"] and p["hi"] - lo + 1 == n

            lo, rows, dense = memo(df, ("indexing.density", key), density)
            if rows == 0:
                return df.withColumn(name, F.lit(0).cast("long"))
            if dense:
                return df.withColumn(
                    name, (F.col(key).cast("long") - F.lit(lo)).cast("long")
                )
        strategy = "range" if key is None else "bucket"

    if strategy == "bucket":
        key = _leading_key(df, order_by, _NUMERIC)
        if key is None:
            raise ValueError("bucket strategy needs a leading integer-like key")
        # null keys sort first: they take the lowest bucket id instead of a
        # null one, which the offsets join would drop
        bucket = F.floor(F.col(key).cast("long") / F.lit(bucket_width)).cast("long")
        tagged = df.withColumn(_PID, F.coalesce(bucket, F.lit(-(1 << 63))))
    else:
        n = num_partitions or max(df.sparkSession.sparkContext.defaultParallelism, 2)
        qkey = _leading_key(df, order_by, _QNUMERIC)
        if qkey is not None:
            # the frozen bucket expression is a pure row function, so no
            # persist is needed for retry/rematerialisation consistency;
            # the local window orders by the FULL key within each bucket.
            bucket, offsets = memo(
                df, ("indexing.qb", qkey, n), lambda: quantile_buckets(df, qkey, n)
            )
            return bucket_ordinal(df, bucket, offsets, cols, name)
        # sampled range partitioning, pinned by a persist: the sample is
        # nondeterministic, so every materialisation of an unpersisted plan
        # could assign different buckets. Memoised per logical plan so
        # re-running the same plan reuses ONE persisted DataFrame instead of
        # tripping CacheManager's "already cached" warning.
        tagged = memo(
            df,
            ("indexing.range", tuple(str(c) for c in cols), n),
            lambda: df.repartitionByRange(n, *cols)
            .withColumn(_PID, F.spark_partition_id())
            .persist(StorageLevel.MEMORY_AND_DISK),
        )

    counts = tagged.groupBy(_PID).agg(F.count(F.lit(1)).alias("__cnt"))
    # The offsets cumulative sum is a GLOBAL window by design — but only
    # over the tiny per-bucket counts table (one row per bucket/partition).
    # The explicit single-partition key silences WindowExec's "No Partition
    # Defined" warning so it stays a signal for REAL accidental global
    # windows. pmod(bucket id, 1) is always 0 (ids are never null) but
    # neither foldable (a plain lit(0) or x * 0 is folded out of the
    # partition spec and the warning returns) nor nondeterministic, so a
    # ranked output still counts as deterministic.
    w_off = (
        Window.partitionBy(F.pmod(F.col(_PID), F.lit(1)))
        .orderBy(_PID)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        _OFF, F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long")
    ).select(_PID, _OFF)
    local = Window.partitionBy(_PID).orderBy(*cols)
    return (
        tagged.join(F.broadcast(offsets), _PID)
        .withColumn(name, (F.row_number().over(local) - 1 + F.col(_OFF)).cast("long"))
        .drop(_PID, _OFF)
    )


def rebase_index(df: DataFrame, name: str = IDX) -> DataFrame:
    """Re-number ``name`` densely 0..k-1 preserving current index order.

    The reference re-bases indices after filter/flatMap/distinct/sort/
    concatenate (e.g. semantic.h:1207 re-counts survivors) but PRESERVES
    them through map/skip/sub/peek — callers pick the matching behavior.

    The incoming index is unique (dense upstream, filtered here), so the
    deterministic bucket strategy always applies.
    """
    tmp = f"{name}__new"
    out = with_ordinal(df, [name], name=tmp, strategy="bucket")
    return out.drop(name).withColumnRenamed(tmp, name)


def normalize_index(df: DataFrame, name: str = IDX) -> DataFrame:
    """Python-style modulo wrap of indices into [0, n): ``((i % n) + n) % n``.

    This is the reference's OrderedCollectable normalisation
    (semantic.h:492-504) applied at every ``toOrdered`` materialisation; it
    is what turns ``reverse()``'s negated indices into the observable
    rotation-reversal (element 0 stays at 0, elements 1..n-1 reverse —
    SURVEY.md §2.3) and wraps ``translate()`` offsets around.

    n is a scalar aggregate joined back via a broadcast of the 1-row side —
    no shuffle of the big side.
    """
    n_df = df.agg(F.count(F.lit(1)).cast("long").alias("__n"))
    i = F.col(name)
    nn = F.col("__n")
    return (
        df.crossJoin(F.broadcast(n_df))
        .withColumn(name, ((i % nn) + nn) % nn)
        .drop("__n")
    )
