"""Rotation recount: derive the next 50-query window's due list from the
CORRECTNESS_r*.json artifacts of the external gate (the rule is stated
at registry._PRIORITY).

For every registered query: latest GREEN row (err unset or the
deliberate rows-only 'no_oracle', and no explicit False match flag),
or '-' if none. Then,
given the upcoming round number N, the policy buckets:

  DUE       latest green row <= N-5 (rows from N-4..N survive round N,
            so a query whose newest row is vintage N-5 falls out of the
            validity span unless refreshed in round N)
  NO-ROW    registered but never driver-verified (rule-(b) candidates)
  OK        fresher than the deadline

Usage: python scripts/rotation_recount.py [next_round_number] [--emit-priority]
(default round: max recorded round + 1). Prints the bucket lists and a
suggested window size breakdown; the human (or next session) still
ranks rule-(a) re-entries by what changed that round.

--emit-priority additionally prints a ready-to-paste _PRIORITY
skeleton: oldest-vintage due first (vintage asc, name asc), then the
no-row rule-(b) names, then a marked gap for this round's rule-(a)
re-entries — the mechanical part of window building; only the
rule-(a) slots need judgment.
"""

from __future__ import annotations

import json
import pathlib
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parents[1]))

ROOT = pathlib.Path(__file__).resolve().parents[1]


def latest_green_rows() -> tuple[dict[str, int], int]:
    latest: dict[str, int] = {}
    max_round = 0
    for p in sorted(ROOT.glob("CORRECTNESS_r*.json")):
        rnd = int(p.stem.split("_r")[1])
        max_round = max(max_round, rnd)
        for name, row in json.loads(p.read_text()).items():
            if row.get("err") in (None, "no_oracle") and not any(
                row.get(k) is False
                for k in ("rows_match", "schema_match", "hash_match")
            ):
                latest[name] = max(latest.get(name, 0), rnd)
    return latest, max_round


def buckets(next_round: int) -> tuple[list[str], list[str], list[str], dict[str, int]]:
    """(due, no_row, ok, latest) for the given upcoming round.

    Span-5 invariant: rows from rounds N-4..N are valid during round N,
    so the cohort that MUST refresh in round N is exactly vintage N-5
    (and anything older). r12 refreshed the r7 cohort, r13 the r8
    cohort — deadline = N-5, not N-4 (an N-4 deadline would flag the
    still-valid N-4 cohort a round early and report a phantom overflow;
    VERDICT r13 "What's wrong #1"). Pinned against the committed
    artifacts by tests/test_registry_contract.py."""
    from semantic_cpp_spark import registry

    latest, _ = latest_green_rows()
    deadline = next_round - 5
    names = list(registry.queries())
    due = sorted(n for n in names if 0 < latest.get(n, 0) <= deadline)
    no_row = sorted(n for n in names if n not in latest)
    ok = [n for n in names if latest.get(n, 0) > deadline]
    return due, no_row, ok, latest


def main() -> None:
    from semantic_cpp_spark import registry

    _, max_round = latest_green_rows()
    args = [a for a in sys.argv[1:] if a != "--emit-priority"]
    emit = "--emit-priority" in sys.argv[1:]
    next_round = int(args[0]) if args else max_round + 1
    deadline = next_round - 5
    names = list(registry.queries())
    due, no_row, ok, latest = buckets(next_round)
    print(f"# rotation recount for round r{next_round} "
          f"(deadline: latest row <= r{deadline})")
    print(f"registered: {len(names)}  with-row: "
          f"{sum(1 for n in names if n in latest)}  "
          f"ok: {len(ok)}  due: {len(due)}  no-row: {len(no_row)}")
    census: dict[int, int] = {}
    for n in names:
        if n in latest:
            census[latest[n]] = census.get(latest[n], 0) + 1
    print("vintage census (registered queries only): "
          + "  ".join(f"r{r}:{c}" for r, c in sorted(census.items()))
          + f"  no-row:{len(no_row)}")
    span = 5  # valid span of the invariant: rows from N-4..N survive round N
    demand = len(names) / span
    print(f"steady-state demand: {len(names)}/{span} = {demand:.1f} "
          f"slots/round ({50 - demand:+.1f} slack)")
    print(f"\n== DUE ({len(due)}) — rule-(c) deadline, must lead the window:")
    for n in due:
        print(f"  {n}  (r{latest[n]})")
    window = set(names[:50])
    print(f"\n== NO-ROW ({len(no_row)}) — rule-(b) first rows:")
    for n in no_row:
        mark = " [in CURRENT window — row incoming this round]" if n in window else ""
        print(f"  {n}{mark}")
    total = len(due) + len(no_row)
    print(f"\nwindow math: {len(due)} due + {len(no_row)} first-rows = "
          f"{total} of 50 slots; {max(0, 50 - total)} spare for rule-(a) "
          "re-entries / oldest-vintage backfill"
          + (f"; OVERFLOW {total - 50} — spill the newest-vintage due "
             "entries and document EXPECTED_SPILL" if total > 50 else ""))
    if emit:
        spare = max(0, 50 - total)
        print(f"\n# -- suggested r{next_round} _PRIORITY skeleton "
              "(mechanical part; rank rule-(a) yourself) --")
        print("_PRIORITY = [")
        print(f"    # -- (c) due refreshes, oldest vintage first "
              f"(deadline r{deadline}) --")
        for n in sorted(due, key=lambda n: (latest[n], n)):
            print(f'    "{n}",  # r{latest[n]}')
        print("    # -- (b) first rows (no driver row yet) --")
        for n in no_row:
            print(f'    "{n}",')
        print(f"    # -- (a) re-entries: FILL IN this round's "
              f"executed-path changes ({spare} spare slots) --")
        print("]")


if __name__ == "__main__":
    main()
