"""Correctness check of op results against the DuckDB oracle.

Each op's result is canonicalized with ``testing.canonicalize`` (column
order, row order, timestamp zone) and reduced to a digest that is equal
exactly when the repo's own gate (``testing.assert_frames_match``: exact
values, dtypes ignored) would call two results equal. The oracle's digests
are computed once per dataset and cached beside it, because some oracles
take far longer than the op they check; each cached digest is keyed by
the oracle SQL and the code that computes it, so it is recomputed when
either changes.
"""

from __future__ import annotations

import hashlib
import json
import os
import time

import numpy as np
import pandas as pd


def _norm_scalar(v) -> str:
    if v is None or (isinstance(v, float) and v != v):
        return "∅"
    if isinstance(v, (bool, np.bool_)):
        return repr(bool(v))
    if isinstance(v, (int, float, np.integer, np.floating)):
        return repr(float(v) + 0.0)
    if isinstance(v, tuple):
        return "(" + ",".join(_norm_scalar(x) for x in v) + ")"
    return repr(v)


def result_digest(pdf: pd.DataFrame) -> tuple[int, str]:
    """(row count, digest) of a result after canonicalization.

    Numeric and boolean columns compare as float64 values (so an int64
    column equals a float64 column holding the same numbers, as with
    ``check_dtype=False``); NULL and NaN are one value; -0.0 equals 0.0.
    """
    from datafusion_ray_spark.testing import canonicalize

    c = canonicalize(pdf)
    h = hashlib.sha256(json.dumps(list(c.columns)).encode())
    for col in c.columns:
        s = c[col]
        if pd.api.types.is_bool_dtype(s) or pd.api.types.is_numeric_dtype(s):
            a = s.to_numpy(dtype=np.float64, na_value=np.nan) + 0.0
            a[np.isnan(a)] = np.nan
            h.update(b"n" + a.tobytes())
        elif pd.api.types.is_datetime64_any_dtype(s):
            h.update(b"t" + s.astype("int64").to_numpy().tobytes())
        else:
            h.update(b"o" + "\x1f".join(_norm_scalar(v) for v in s).encode())
    return len(c), h.hexdigest()[:24]


def oracle_key(sql: str | None) -> str:
    """Key of one cached oracle digest: a hash of the oracle SQL, of this
    module (the digest arithmetic) and of the DuckDB view definitions the
    SQL runs against."""
    import inspect

    from datafusion_ray_spark.sources.tables import duckdb_register

    h = hashlib.sha256()
    with open(__file__, "rb") as f:
        h.update(f.read())
    h.update(inspect.getsource(duckdb_register).encode())
    h.update(repr(sql).encode())
    return h.hexdigest()[:16]


class OracleCache:
    """Expected ``(rows, digest)`` per op for one dataset, computed with
    DuckDB on first request and stored in ``<data_dir>/oracle.json``; an
    entry whose ``key`` (``oracle_key``) no longer matches is computed
    again. Ops without oracle SQL get ``digest=None``: their check is that
    they return the same row count on every run."""

    def __init__(self, data_dir: str):
        self.data_dir = data_dir
        self.path = os.path.join(data_dir, "oracle.json")
        self.entries: dict[str, dict] = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                self.entries = json.load(f)
        self.compute_s = 0.0

    def expected(self, ops: dict[str, str | None]) -> dict[str, dict]:
        """``ops`` maps op name to its oracle SQL (or None)."""
        keys = {n: oracle_key(sql) for n, sql in ops.items()}
        missing = [n for n in ops if self.entries.get(n, {}).get("key") != keys[n]]
        if missing:
            import duckdb

            from datafusion_ray_spark.sources.tables import duckdb_register

            t0 = time.perf_counter()
            con = duckdb.connect()
            try:
                con.execute("SET threads TO 4")
                duckdb_register(con, self.data_dir)
                for name in missing:
                    sql = ops[name]
                    t = time.perf_counter()
                    if sql is None:
                        self.entries[name] = {"rows": None, "digest": None,
                                              "key": keys[name]}
                        continue
                    rows, digest = result_digest(con.sql(sql).df())
                    self.entries[name] = {
                        "rows": rows, "digest": digest, "key": keys[name],
                        "oracle_s": time.perf_counter() - t,
                    }
            finally:
                con.close()
            self.compute_s = time.perf_counter() - t0
            tmp = f"{self.path}.tmp{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(self.entries, f, indent=1)
            os.replace(tmp, self.path)
        return {n: self.entries[n] for n in ops}
