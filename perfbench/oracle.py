"""Result check against the DuckDB oracle, with cached oracle digests.

An engine result is collected over Arrow and digested inside DuckDB with
the same order-insensitive canonical hash ``tools/oracle_at_scale.py``
uses (doubles rounded to 9 places, NaN/NULL collapsed to a sentinel,
columns in name order). The oracle side runs the catalog's DuckDB SQL on
the same parquet tables. Oracle digests are cached per fixture signature
and SQL text, so a fixture is only ever re-digested when it or the SQL
changes. A hash mismatch on a float-bearing result falls back to the
tool's relative-tolerance comparison, as at scale.

A few queries have an oracle whose exact contract cannot hold on these
fixtures; ``TOLERANCE`` gives each a documented per-column band, and
every other column of their result must still match exactly.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT / "tools"))

from oracle_at_scale import TABLES, canon_hash, close_check  # noqa: E402


# query -> column -> ("rel" | "abs", tolerance)
TOLERANCE = {
    # HLL sketch (lg_k=12): the oracle is an exact count(DISTINCT), which
    # the sketch only returns below ~3k distincts; sf0.1 is above that.
    # The band is the engine's own estimating-regime contract,
    # tests/test_plans.py::test_hll_estimate_tolerance
    "a_hll_distinct": {"approx_distinct": ("rel", 0.05)},
    # theta sketch: exact below its nominal entries only; the bands are
    # tests/test_plans.py::test_theta_overlap_tolerance (5% on set sizes,
    # 10% where estimates are combined)
    "a_theta_overlap": {
        "n_a": ("rel", 0.05), "n_b": ("rel", 0.05), "n_union": ("rel", 0.05),
        "n_intersection": ("rel", 0.10), "n_only_a": ("rel", 0.10),
    },
    # round(avg(value), 4) where a group's mean sits on a half-way point:
    # the two engines' sums differ in the last bits and round to adjacent
    # values, one unit of the fourth decimal apart, either way
    "a14_panel_collapse": {"value_mean": ("abs", 1e-4)},
}


def within(con, name: str, engine_sql: str, oracle_sql: str) -> bool:
    """Row-aligned comparison under ``TOLERANCE[name]``: rows are sorted
    on every column, banded columns last, and must match one to one."""
    import numpy as np

    band = TOLERANCE[name]
    a = con.execute(engine_sql).df()
    b = con.execute(oracle_sql).df()
    if a.shape != b.shape or sorted(a.columns) != sorted(b.columns):
        return False
    cols = [c for c in a.columns if c not in band] + list(band)
    a = a[cols].sort_values(cols, ignore_index=True)
    b = b[cols].sort_values(cols, ignore_index=True)
    for c in cols:
        if c not in band:
            if not (a[c].astype(str) == b[c].astype(str)).all():
                return False
            continue
        kind, tol = band[c]
        x, y = a[c].astype(float).to_numpy(), b[c].astype(float).to_numpy()
        scale = np.maximum(np.abs(y), 1.0) if kind == "rel" else 1.0
        if not (np.abs(x - y) <= tol * scale + 1e-9).all():
            return False
    return True


class Oracle:
    def __init__(self, data_dir: str, fixture_sig: str, cache_path: Path):
        import duckdb

        self.sig = fixture_sig
        self.cache_path = cache_path
        self.cache = json.loads(cache_path.read_text()) if cache_path.exists() else {}
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        for t in TABLES:
            p = Path(data_dir) / f"{t}.parquet"
            pat = f"{p}/**/*.parquet" if p.is_dir() else str(p)
            self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pat}')")

    def _expected(self, sql: str, order: str) -> list:
        key = hashlib.sha256(f"{self.sig}\0{sql}\0{order}".encode()).hexdigest()
        if key not in self.cache:
            n, h = canon_hash(self.con, f"SELECT {order} FROM ({sql}) o", "o")
            self.cache[key] = [n, None if h is None else int(h)]
            tmp = self.cache_path.with_suffix(f".{os.getpid()}.tmp")
            tmp.write_text(json.dumps(self.cache))
            tmp.replace(self.cache_path)
        return self.cache[key]

    def check(self, name: str, df, sql: str) -> bool:
        """True when ``df`` (the engine's result) matches the oracle."""
        import pyarrow as pa

        got = df.toArrow()
        # Spark hands instants over as UTC-zoned timestamps; the oracle's
        # parquet columns are zone-less wall clocks in the same UTC
        got = pa.table({
            c: (col.cast(pa.timestamp(col.type.unit))
                if pa.types.is_timestamp(col.type) and col.type.tz else col)
            for c, col in zip(got.column_names, got.columns)
        })
        rel = f"r_{name}"
        self.con.register(rel, got)
        order = ", ".join(f'"{c}"' for c in sorted(df.columns))
        src = f"SELECT {order} FROM {rel}"
        try:
            n, h = canon_hash(self.con, src, "s")
            on, oh = self._expected(sql, order)
            ok = n == on and (None if h is None else int(h)) == oh
            expect = f"SELECT {order} FROM ({sql}) o"
            if not ok and name in TOLERANCE:
                ok = n == on and within(self.con, name, src, expect)
            elif not ok and n == on and n <= 2_000_000:
                ok, _ = close_check(self.con, src, expect)
        finally:
            self.con.unregister(rel)
        return ok
