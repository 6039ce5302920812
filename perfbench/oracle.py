"""DuckDB oracle check for the benchmark's op outputs.

Each checked op's reference output (written by the harness as one
parquet directory) is compared with its `SparkEntry.oracleSql` query run
in DuckDB over the same input tables: columns and rows sorted, floats
within rtol = atol = 1e-9, then a strict pass on dtype kind and float
sign bits. DuckDB results are cached under the build directory, keyed by
the SQL text and the input tables' digest (`digest`).
"""
import hashlib
import os
import pickle

import duckdb
import numpy as np
import pandas as pd

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(df):
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        col = df[c]
        nonnull = col.dropna()
        if col.dtype == object and len(nonnull) and isinstance(
                nonnull.iloc[0], (bytes, bytearray)):
            df[c] = col.apply(lambda b: b.hex() if isinstance(b, (bytes, bytearray)) else b)
        elif col.dtype == object:
            try:
                df[c] = pd.to_datetime(col).astype("datetime64[us]")
            except Exception:
                df[c] = col.apply(lambda v: "<null>" if _isna(v) else str(v))
        elif str(col.dtype).startswith("datetime64"):
            if getattr(col.dt, "tz", None):
                col = col.dt.tz_localize(None)
            df[c] = pd.to_datetime(col).astype("datetime64[us]")
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _isna(v):
    try:
        return bool(pd.isna(v))
    except (TypeError, ValueError):
        return False


class Oracle:
    def __init__(self, data_dir, cache_dir, digest):
        self.data_dir = data_dir
        self.cache_dir = cache_dir
        self.digest = digest
        self._con = None
        os.makedirs(cache_dir, exist_ok=True)

    def _expected(self, sql):
        key = hashlib.sha256((self.digest + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, key + ".pkl")
        if os.path.exists(path):
            with open(path, "rb") as fh:
                return pickle.load(fh)
        if self._con is None:
            self._con = duckdb.connect()
            for t in TABLES:
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                                  f"read_parquet('{self.data_dir}/{t}.parquet')")
        df = self._con.execute(sql).fetchdf()
        with open(path + ".tmp", "wb") as fh:
            pickle.dump(df, fh)
        os.replace(path + ".tmp", path)
        return df

    def check(self, out_dir, sql):
        """(ok, message) for one op's output directory against its SQL."""
        try:
            exp = self._expected(sql)
        except Exception as ex:  # an oracle DuckDB cannot run fails the op
            return False, f"oracle-exec: {str(ex)[:200]}"
        g, e = norm(pd.read_parquet(out_dir)), norm(exp)
        if g.shape != e.shape:
            return False, f"shape spark={g.shape} duckdb={e.shape}"
        try:
            pd.testing.assert_frame_equal(g, e, check_dtype=False, check_exact=False,
                                          rtol=1e-9, atol=1e-9)
        except AssertionError as ex:
            return False, str(ex)[:200]
        for c in g.columns:
            gk, ek = g[c].dtype.kind, e[c].dtype.kind
            if gk != ek and {gk, ek} <= {"i", "u", "f", "O"}:
                return False, f"dtype {c}: spark={g[c].dtype} duckdb={e[c].dtype}"
            if gk == "f":
                flips = np.signbit(g[c].fillna(0.0)) != np.signbit(e[c].fillna(0.0))
                if flips.any():
                    return False, f"signed zero in {c} ({int(flips.sum())} rows)"
        return True, "ok"
