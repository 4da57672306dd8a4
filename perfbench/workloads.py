"""The benchmark's workloads.

Each workload is a list of registered queries run on fixtures generated
from the run's seed. Persisted-intermediate memos are released before every
query, so each query builds its intermediates inside its own timing, as a
one-off query does.

The lists are short on purpose. On a 4-CPU host with 5-30% CPU steal a run
pays 10-20 s to start the session and 20-45 s for the two warm-up passes,
and the whole benchmark (48 runs) has to fit in under an hour, so a run has
room for about one timed pass of two queries.
"""

from __future__ import annotations

from dataclasses import dataclass

# Nominal length of one timed pass of either workload on an idle 4-CPU host
# (3.5-5 s measured; 7-10 s under 25% CPU steal). A run makes
# max(1, round(seconds / PASS_S)) timed passes: a fixed count, because the
# JIT keeps warming from pass to pass (the fourth pass takes about 30% less
# CPU than the first) and a count that grew on a faster host would move the
# per-pass figures with the host's speed.
PASS_S = 4.0


@dataclass(frozen=True)
class Workload:
    name: str
    sf: float
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in [
        # Short batch queries bound by per-job overhead. The stable sort
        # assigns dense ordinals twice (indexing.with_ordinal); the conversion
        # latency query runs the exact-percentile path (functions.stats) with
        # its blocking probe jobs and checkpoints one intermediate.
        Workload(
            name="batch_operators",
            sf=0.01,
            queries=("sem_sort_stable", "evt_conversion_latency"),
        ),
        # Bounded Structured Streaming replays: all work happens inside the
        # build (streaming.ops.run_to_memory) and writes state-store commits
        # and WAL. Running stats updates its state in Python
        # (applyInPandasWithState); the stream-stream join is bound by state
        # commits. The batch ordinal and percentile layers are bypassed.
        Workload(
            name="stream_replay",
            sf=0.01,
            queries=("stream_running_stats", "stream_stream_join"),
        ),
    ]
}
