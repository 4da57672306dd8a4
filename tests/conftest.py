import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    import tempfile

    from semantic_cpp_spark.session import get_spark

    s = get_spark(
        "tests",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            # static conf — must be set at session creation (bucketed-table
            # tests write managed tables)
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="semwh_"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    yield s
    # Unpersist every memoised intermediate and clear the engine's
    # plan-keyed memo at the session boundary.
    from semantic_cpp_spark.indexing import release_ordinal_caches

    release_ordinal_caches()


# -- driver-budget core battery ---------------------------------------------
# The full suite takes ~25-33 minutes, longer than a CI test gate can wait.
# The default run is the CORE battery (plan pins; the registry/driver
# contract, which holds the oracle gate: every registered query against
# its DuckDB oracle at sf0.001; batch==stream parity; ordinal machinery),
# sized inside that budget. The full battery stays one env var away and is
# the pre-commit gate:
#
#     SEM_FULL_TESTS=1 python -m pytest tests/ -q
#
_CORE_MODULES = {
    "test_plans",
    "test_registry_contract",
    "test_indexing",
    "test_streaming",
}
_FULL = "SEM_FULL_TESTS"
_SKIP_REASON = (
    f"full-battery test: run with {_FULL}=1 (default run is the core battery)"
)


def pytest_report_header(config):
    if os.environ.get(_FULL):
        return f"{_FULL}=1: full battery, every test module runs"
    return (
        f"core battery: only {', '.join(sorted(_CORE_MODULES))} run; "
        f"set {_FULL}=1 for the full battery"
    )


def pytest_collection_modifyitems(config, items):
    if os.environ.get(_FULL):
        return
    skip = pytest.mark.skip(reason=_SKIP_REASON)
    for item in items:
        mod = getattr(item, "module", None)
        name = mod.__name__.rsplit(".", 1)[-1] if mod else ""
        if name not in _CORE_MODULES:
            item.add_marker(skip)


def pytest_report_collectionfinish(config, start_path, items):
    if os.environ.get(_FULL):
        return []
    skipped = sum(
        any(m.kwargs.get("reason") == _SKIP_REASON for m in item.iter_markers("skip"))
        for item in items
    )
    return [f"core battery skips {skipped} of {len(items)} tests ({_FULL}=1 runs them)"]
