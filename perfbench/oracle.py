"""Compare a query's Spark rows with its DuckDB oracle on the same fixture.

The comparison is the repository's correctness gate, imported from
``scripts/verify_local.py`` so both always apply the same rules.
"""

from __future__ import annotations

import sys
from pathlib import Path


def _verify_local(root: Path):
    saved = list(sys.path)
    sys.path.insert(0, str(root / "scripts"))
    try:
        import verify_local
    finally:
        # verify_local puts its own checkout on sys.path when imported;
        # keep the engine resolving from this checkout only
        sys.path[:] = saved
    return verify_local


class Oracle:
    def __init__(self, root: Path, sf_dir: str) -> None:
        import duckdb

        self._vl = _verify_local(root)
        self._con = duckdb.connect()
        for t in self._vl.TABLES:
            self._con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
            )

    def mismatch(self, sql: str, cols: list[str], rows: list[tuple]) -> str | None:
        """None when ``rows`` equal the oracle's result, else a reason."""
        vl = self._vl
        res = self._con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if len(rows) != len(orows):
            return f"rowcount {len(rows)} vs {len(orows)}"
        if sorted(c.lower() for c in cols) != sorted(c.lower() for c in ocols):
            return f"schema {sorted(cols)} vs {sorted(ocols)}"
        if vl.rows_key(rows, cols) != vl.rows_key(orows, ocols):
            return "values differ"
        return None

    def close(self) -> None:
        self._con.close()
