"""Correctness gates of the benchmark, run outside all timing.

- CDC: the replicated state must equal the feed generator's model, and
  so must `CdcApplier.replayCompact` over the same feed.
- Curation: each query's output must match its DuckDB oracle SQL
  (`SparkEntry.oracleSql`), compared with `tools/compare.py`'s own
  `norm` and `values_equal`: columns sorted by name, rows sorted, values
  equal with int/float kinds kept apart.
"""
import os
import sys

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "tools"))
from compare import norm, values_equal  # noqa: E402


def _read_state(path: str) -> dict:
    t = pq.read_table(path)
    order = np.argsort(t.column("o_orderkey").to_numpy(), kind="stable")
    out = {}
    for name in t.column_names:
        col = t.column(name)
        if pa.types.is_timestamp(col.type):
            col = col.cast(pa.timestamp("us")).cast(pa.int64())
        out[name] = col.to_numpy(zero_copy_only=False)[order]
    return out


def state_mismatches(path: str, want: dict) -> int:
    """Rows of the state at `path` that differ from the model `want`
    (missing, extra or changed); 0 when they are equal.
    """
    got = _read_state(path)
    if sorted(got) != sorted(want):
        return max(len(want["o_orderkey"]), 1)
    gk, wk = got["o_orderkey"], want["o_orderkey"]
    if len(gk) != len(wk) or not np.array_equal(gk, wk):
        return len(np.setxor1d(gk, wk)) or max(len(wk), 1)
    bad = np.zeros(len(wk), dtype=bool)
    for c in want:
        bad |= ~(got[c] == want[c])
    return int(bad.sum())


def oracle_mismatch(con, sql: str, out_dir: str):
    """None when the Spark output at `out_dir` matches the oracle SQL,
    else a one-line reason.
    """
    got = norm(pd.read_parquet(out_dir))
    exp = norm(con.sql(sql).df())
    if list(got.columns) != list(exp.columns):
        return f"columns differ: {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"row count {len(got)} vs {len(exp)}"
    if len(got) == 0:
        return "empty output"
    for c in got.columns:
        gk, ek = got[c].dtype.kind, exp[c].dtype.kind
        if {gk, ek} <= set("iuf") and (gk in "iu") != (ek in "iu"):
            return f"column {c} dtype kind differs: {got[c].dtype} vs {exp[c].dtype}"
        for i, (a, b) in enumerate(zip(got[c].tolist(), exp[c].tolist())):
            if not values_equal(a, b):
                return f"column {c} differs at row {i}: {a!r} vs {b!r}"
    return None


def curation_mismatches(data_dir: str, work: str, oracle: dict) -> dict:
    """query -> reason for every query whose output fails its oracle."""
    con = duckdb.connect()
    for f in sorted(os.listdir(data_dir)):
        if f.endswith(".parquet"):
            con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM "
                    f"'{os.path.join(data_dir, f)}'")
    bad = {}
    for q, sql in sorted(oracle.items()):
        out = os.path.join(work, "out", q)
        try:
            reason = oracle_mismatch(con, sql, out) if os.path.isdir(out) \
                else "no output"
        except Exception as e:  # an oracle or read error fails the query
            reason = f"{type(e).__name__}: {e}"
        if reason:
            bad[q] = reason
    return bad
