"""Registry-contract pins and the oracle gate.

The oracle gate runs every registered query at sf0.001 and compares it
with its DuckDB oracle through ``scripts/verify_local.py``'s ``mismatch``.
An external gate also verifies the first 50 entries of ``queries()`` in
insertion order, so the rotation of that window stays pinned here. The
oracle RESULT-TYPE contract pins every oracle column to the type set that
canonicalises identically to Spark (DuckDB ``sum(INTEGER)`` silently
returns HUGEINT)."""

import importlib.util
import json
import os
import pathlib
import shutil
import sys

import pytest

from semantic_cpp_spark import registry
from semantic_cpp_spark.indexing import release_ordinal_caches

ROOT = pathlib.Path(__file__).resolve().parents[1]
SF = "/root/testdata/sf0.001"


def _load_script(path):
    spec = importlib.util.spec_from_file_location(path.stem, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


verify_local = _load_script(ROOT / "scripts" / "verify_local.py")

# Queries that re-enter in round 17 on a behavioral/plan change —
# each must sit inside this round's 50-slot driver window for a fresh
# row (rule (a) of the standing rotation policy):
TOUCHED_THIS_ROUND = [
    # exact percentiles through the shared quantile-bucket primitive
    # (single-stage probe, literal offsets, lo*(1-d) + hi*d interpolation)
    "evt_conversion_latency",
    "agg_quantiles",
    "evt_rfm_segments",
    "rel_equidepth_histogram",
    "txt_quality_above_median",
    # numeric range ordinal path with literal offsets
    "sem_sort_stable",
    "txt_vocab_ids",
]

# The 43 r12-vintage queries at the rotation deadline
# (scripts/rotation_recount.py 17 — due rule: latest row <= N-5).
DUE_THIS_ROUND = [
    "agg_salted_hot_key",
    "asof_next_purchase_after_signup",
    "dedup_cc_clusters",
    "dedup_cluster_stats",
    "emb_cluster_cohesion",
    "emb_ivf_balance",
    "emb_kmeans_step",
    "evt_inter_event_gaps",
    "evt_sliding_uniques",
    "evt_top_paths",
    "graph_kcore_membership",
    "ir_hybrid_rrf",
    "pipe_dedup_funnel",
    "rel_basket_lift",
    "rel_brand_return_rate",
    "rel_customers_without_urgent_orders",
    "rel_q10_returned_items",
    "rel_q17_small_qty_revenue",
    "rel_q18_large_orders",
    "rel_q19_bracketed_discounts",
    "rel_q22_idle_balance",
    "rel_q4_semi_join",
    "rel_q7_nation_volume",
    "rel_q8_market_share",
    "rel_scd2_customer_history",
    "samp_negative_pairs",
    "samp_train_val_split",
    "sim_dim_truncation_recall",
    "sim_lsh_recall_at_5",
    "stream_count_windows",
    "stream_distinct_keys",
    "stream_running_stats",
    "stream_session_5m",
    "stream_slide_2h_30m",
    "stream_sliding_uniques",
    "stream_sliding_uniques_bounded",
    "stream_sliding_uniques_hll",
    "stream_stream_join",
    "stream_topk_per_user",
    "stream_tumble_hour",
    "txt_bpe_merges",
    "txt_bpe_merges_eow",
    "txt_bpe_segment_kernel",
]

# r17 window policy: 43 r12-vintage due + 7 rule-(a) changed-code
# re-entries = exactly 50. Nothing is pushed below the cut.
EXPECTED_SPILL = 0


def test_touched_and_due_queries_inside_50_window():
    window = list(registry.queries())[:50]
    missing = [n for n in DUE_THIS_ROUND + TOUCHED_THIS_ROUND if n not in window]
    assert not missing, f"outside driver window: {missing}"
    # the policy deadline: the due queries LEAD the window
    assert window[: len(DUE_THIS_ROUND)] == DUE_THIS_ROUND


def test_priority_names_all_exist():
    # A typo in _PRIORITY silently burns a window slot; catch it here.
    names = set(registry.queries())
    ghosts = [n for n in registry._PRIORITY if n not in names]
    assert not ghosts, f"_PRIORITY names not registered: {ghosts}"


def test_priority_fills_the_window_exactly():
    """_PRIORITY must hold exactly 50 + EXPECTED_SPILL unique names: fewer
    silently shrinks driver coverage, more silently pushes entries out of
    the gate beyond the documented spill."""
    assert len(registry._PRIORITY) == 50 + EXPECTED_SPILL, len(registry._PRIORITY)
    assert len(set(registry._PRIORITY)) == len(registry._PRIORITY), (
        "duplicate names in _PRIORITY"
    )


def _latest_rows() -> tuple[dict[str, int], int]:
    """(latest recorded round per query, max recorded round) over ALL
    committed driver artifacts — any row counts for vintage purposes
    (staleness is about when the driver last LOOKED, not whether it
    passed; red rows force rule-(a) re-entry separately)."""
    latest: dict[str, int] = {}
    max_round = 0
    for p in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = int(p.stem.split("_r")[1])
        max_round = max(max_round, rnd)
        for name in json.loads(p.read_text()):
            latest[name] = max(latest.get(name, 0), rnd)
    return latest, max_round


def test_rotation_invariant_no_row_older_than_4_rounds():
    """The standing rotation policy: entering round N+1 (N = newest
    committed artifact), any registered query whose latest driver row is
    vintage N-4 or older must sit in the current window (it is about to
    get a fresh row) or in the documented EXPECTED_SPILL section of
    _PRIORITY — otherwise its row ages out of the span-5 validity
    window unrefreshed. Dynamic over the committed artifacts (the old
    hardcoded `r <= 4` form stopped checking anything after r9).

    DESIGNED TRIPWIRE (ADVICE r14 raised it, VERDICT r14 "What's
    wrong #1" adjudicated it): the moment the round-N driver artifacts
    are committed, this test goes red until _PRIORITY is rotated to
    the round-N+1 window — one round TIGHTER than the recount's
    deadline, deliberately: it makes building the next window the
    unskippable FIRST act of every round. The enforced policy is
    therefore "the first commit of round N+1 rotates the window",
    not "artifacts and rotation land together" (the driver commits
    artifacts itself, so same-commit is impossible)."""
    latest, max_round = _latest_rows()
    window = set(list(registry.queries())[:50])
    spill = set(registry._PRIORITY[50:])
    stale = [
        n for n, r in latest.items()
        if r <= max_round - 4 and n in registry.queries()
        and n not in window and n not in spill
    ]
    assert not stale, (
        f"r{max_round - 4}-vintage rows neither in window nor spill: {stale}"
    )


def test_rotation_recount_due_rule_matches_span5_invariant():
    """Script-vs-policy consistency pin (VERDICT r13 "What's wrong #1" —
    the second appearance of this contradiction class, so it gets a
    test): for the upcoming round N+1, scripts/rotation_recount.py's
    DUE bucket must be exactly the registered queries whose newest
    driver row is vintage N-4 or older — the cohort whose rows fall out
    of the span-5 validity window (rounds M-4..M valid during round M)
    unless refreshed. The r13 off-by-one (deadline N-4 instead of N-5)
    made the script also sweep in the still-valid N-3 cohort and report
    a phantom 42-slot overflow against the registry's own plan."""
    rotation_recount = _load_script(ROOT / "scripts" / "rotation_recount.py")
    latest, max_round = rotation_recount.latest_green_rows()
    next_round = max_round + 1
    due, no_row, ok, _ = rotation_recount.buckets(next_round)
    names = list(registry.queries())
    expected_due = sorted(
        n for n in names if 0 < latest.get(n, 0) <= max_round - 4
    )
    assert due == expected_due, (
        "recount DUE bucket diverges from the span-5 invariant cohort "
        f"(vintage <= r{max_round - 4}): script={len(due)} "
        f"expected={len(expected_due)}"
    )
    # the three buckets partition the registry
    assert sorted(due + no_row + ok) == sorted(names)
    # and no-row is exactly the never-recorded set
    assert no_row == sorted(n for n in names if n not in latest)


def test_every_query_callable_and_oracles_subset():
    qs = registry.queries()
    assert all(callable(f) for f in qs.values())
    assert set(registry.oracle_sql()) <= set(qs)


def test_query_names_are_slugs():
    """A register() call that loses its name argument silently registers
    the SQL text as the query name (and the query becomes rows-only in
    the driver gate) — pin the name shape instead."""
    import re

    for name in registry.queries():
        assert re.fullmatch(r"[a-z0-9_]{3,60}", name), repr(name)[:80]


# -- oracle result-type contract ---------------------------------------------
# The driver compares Spark and DuckDB results after canonicalisation; the
# only types proven to canonicalise identically on both engines are the ones
# below (INTEGER included: the mm_* width/height columns are driver-green in
# r6). DuckDB's sum(INTEGER) returns HUGEINT (int128), which the driver's
# canonicaliser renders differently from Spark's BIGINT — that single class
# cost samp_train_val_split its r6 row. DESCRIBE every oracle so it can
# never recur.

_ALLOWED_ORACLE_TYPES = {
    "BIGINT", "INTEGER", "DOUBLE", "VARCHAR", "BOOLEAN", "DATE", "TIMESTAMP",
}


@pytest.fixture(scope="module")
def duck():
    if not os.path.isdir(SF):
        pytest.skip("driver testdata not present")
    con = verify_local.connect(SF)
    yield con
    con.close()


def test_every_oracle_result_type_is_canonical(duck):
    offenders = []
    for name, sql in registry.oracle_sql().items():
        for col, typ, *_ in duck.execute(f"DESCRIBE {sql}").fetchall():
            if typ not in _ALLOWED_ORACLE_TYPES:
                offenders.append((name, col, typ))
    assert not offenders, (
        f"oracle result columns outside the canonical type set "
        f"(cast them, e.g. ::BIGINT): {offenders}"
    )


# -- oracle gate ---------------------------------------------------------------
# Distinct ``aspect`` values of each family union. A union that drops a
# member aspect still matches its own oracle, so the gate also checks this
# census, on the rows it has already collected.
FAMILY_ASPECTS = {
    "dedup_simhash_family": {"sig", "pair"},
    "emb_semdedup_family": {"fixed", "scaled"},
    "mm_decode_family": {"ahash", "histogram", "audio", "video", "tiff"},
    "evt_rollup_merge_family": {"merge", "var", "hll", "quantile"},
    "agg_sketch_cardinality": {"hll", "cms"},
    "dedup_span_cuts_family": {"cuts", "apply", "text"},
    "asof_nearest_family": {"nearest", "tol"},
    "sim_pq_train_family": {"k16", "k256"},
    "sim_ivfpq_family_topk": {"adc", "ivf", "residual"},
}


@pytest.mark.parametrize("name", list(registry.queries()))
def test_query_matches_oracle(spark, duck, name):
    release_ordinal_caches()
    sdf = registry.queries()[name](spark, SF)
    cols = sdf.columns
    rows = [tuple(r) for r in sdf.collect()]
    msg = verify_local.mismatch(duck, registry.oracle_sql()[name], cols, rows)
    assert msg is None, msg
    if name in FAMILY_ASPECTS:
        aspect = cols.index("aspect")
        assert {r[aspect] for r in rows} == FAMILY_ASPECTS[name]


def test_verify_local_imports_its_own_checkout(tmp_path):
    """Run from a copy, verify_local must put the copy's engine first on
    sys.path, not whichever checkout happens to be installed."""
    (tmp_path / "scripts").mkdir()
    copy = tmp_path / "scripts" / "verify_local.py"
    shutil.copy(ROOT / "scripts" / "verify_local.py", copy)
    saved = list(sys.path)
    try:
        _load_script(copy)
        first = sys.path[0]
    finally:
        sys.path[:] = saved
    assert first == str(tmp_path.resolve())
