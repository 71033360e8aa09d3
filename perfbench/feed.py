"""Seeded CDC change-feed generator for the `orders` table.

The generator is the benchmark's own component: it writes parquet change
files and nothing else, so the program under test sees only those files.
It keeps an in-memory model of the table, which is the CDC oracle: after
the run, the replicated state must equal `model_table()`.

A change row carries `op` (insert | update | delete), the after-image,
`_before_o_orderkey` (set on a primary-key move), and the binlog-style
order columns `_ts_ms` (its scheduled creation time on a logical clock)
and `_seq` (commit order). File `i` holds the changes created during
`[i * period_ms, (i + 1) * period_ms)` of that clock; negative `i` are
the backlog written before the live phase. Rows inside a file are
shuffled, while `_seq` is monotone across files, as in a binlog.

Each file has the same op mix, with inserts of new keys matched by
deletes so the state size stays level. In the `hot` variant every change
falls in a few hash buckets of the state store: updates go to a few
dozen hot keys, inserts, deletes and key moves to other keys of the same
buckets.
"""
import io

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Logical epoch of the change clock: `_ts_ms` = epoch + schedule offset.
EPOCH_MS = 1_700_000_000_000
SNAPSHOT_TS_MS = EPOCH_MS - 86_400_000

SCHEMA = pa.schema([
    ("op", pa.string()),
    ("o_orderkey", pa.int64()),
    ("o_custkey", pa.int64()),
    ("o_orderstatus", pa.string()),
    ("o_totalprice", pa.float64()),
    ("o_orderdate", pa.timestamp("us")),
    ("o_orderpriority", pa.string()),
    ("_before_o_orderkey", pa.int64()),
    ("_ts_ms", pa.int64()),
    ("_seq", pa.int64()),
])
STATE_COLS = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
              "o_orderdate", "o_orderpriority", "_ts_ms", "_seq"]

STATUSES = ["F", "O", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
DAY_US = 86_400_000_000
DATE0_US = 788_918_400_000_000  # 1995-01-01


def _rotl(x, r):
    return (x << np.uint32(r)) | (x >> np.uint32(32 - r))


def _mix_k1(k):
    k = k * np.uint32(0xCC9E2D51)
    return _rotl(k, 15) * np.uint32(0x1B873593)


def _mix_h1(h, k):
    h = _rotl(h ^ k, 13)
    return h * np.uint32(5) + np.uint32(0xE6546B64)


def spark_bucket(keys, n_buckets: int) -> np.ndarray:
    """`pmod(hash(key), n)` as Spark computes it for a bigint key
    (Murmur3 x86_32 of the two 32-bit halves, seed 42).
    """
    k = np.asarray(keys, dtype=np.int64).view(np.uint64)
    lo = (k & np.uint64(0xFFFFFFFF)).astype(np.uint32)
    hi = (k >> np.uint64(32)).astype(np.uint32)
    h = np.full(lo.shape, 42, dtype=np.uint32)
    h = _mix_h1(_mix_h1(h, _mix_k1(lo)), _mix_k1(hi))
    h ^= np.uint32(8)
    h ^= h >> np.uint32(16)
    h = h * np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h = h * np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h.view(np.int32).astype(np.int64) % n_buckets


def _column(values, typ):
    """Arrow column from Python values; timestamps arrive as epoch micros."""
    if pa.types.is_timestamp(typ):
        return pa.array([None if v is None else int(v) for v in values],
                        type=pa.int64()).cast(typ)
    if pa.types.is_integer(typ):
        return pa.array([None if v is None else int(v) for v in values], type=typ)
    return pa.array(values, type=typ)


def snapshot_table(orders: pa.Table) -> pa.Table:
    """The `orders` rows as insert changes: the state bootstrap."""
    n = orders.num_rows
    cols = {c: orders.column(c) for c in orders.column_names}
    cols["op"] = pa.array(["insert"] * n)
    cols["_before_o_orderkey"] = pa.nulls(n, pa.int64())
    cols["_ts_ms"] = pa.array(np.full(n, SNAPSHOT_TS_MS, dtype=np.int64))
    cols["_seq"] = pa.array(np.arange(n, dtype=np.int64))
    return pa.table({f.name: cols[f.name] for f in SCHEMA}, schema=SCHEMA)


class _KeyPool:
    """Keys with O(1) insert, remove and uniform random pick."""

    def __init__(self, keys):
        self.keys = list(keys)
        self.pos = {k: i for i, k in enumerate(self.keys)}

    def add(self, k):
        self.pos[k] = len(self.keys)
        self.keys.append(k)

    def remove(self, k):
        i = self.pos.pop(k)
        last = self.keys.pop()
        if i < len(self.keys):
            self.keys[i] = last
            self.pos[last] = i

    def pick(self, rng):
        return self.keys[int(rng.integers(0, len(self.keys)))]


class Feed:
    """Change files for one seed; `file_bytes(i)` must be called for
    i = first, first + 1, ... in order, since each file changes the model.
    """

    def __init__(self, snapshot: pa.Table, seed: int, hot: bool,
                 changes_per_file: int, mix: dict, n_buckets: int = 64,
                 hot_buckets: int = 8, hot_keys: int = 32):
        self.rng = np.random.default_rng([seed, 7, int(hot)])
        self.n = changes_per_file
        self.counts = {op: int(round(share * changes_per_file))
                       for op, share in mix.items()}
        self.counts["update"] = changes_per_file - sum(
            v for k, v in self.counts.items() if k != "update")
        assert self.counts["insert"] == self.counts["delete"]
        keys = snapshot.column("o_orderkey").to_numpy()
        self.model = {int(k): list(r) for k, r in zip(keys, zip(
            *(snapshot.column(c).to_numpy() if c != "o_orderdate" else
              snapshot.column(c).cast(pa.int64()).to_numpy()
              for c in STATE_COLS[1:])))}
        self.next_key = int(keys.max()) + 1
        self.seq = snapshot.num_rows
        self.n_buckets = n_buckets
        if hot:
            buckets = self.rng.choice(n_buckets, size=hot_buckets, replace=False)
            self.hot_buckets = set(int(b) for b in buckets)
            in_hot = keys[np.isin(spark_bucket(keys, n_buckets), buckets)]
            hot_set = self.rng.choice(in_hot, size=hot_keys, replace=False)
            self.hot_keys = [int(k) for k in hot_set]
            hs = set(self.hot_keys)
            self.pool = _KeyPool(int(k) for k in in_hot if int(k) not in hs)
        else:
            self.hot_buckets = None
            self.hot_keys = None
            self.pool = _KeyPool(int(k) for k in keys)

    def _new_key(self) -> int:
        while True:
            k = self.next_key
            self.next_key += 1
            if self.hot_buckets is None or \
                    int(spark_bucket([k], self.n_buckets)[0]) in self.hot_buckets:
                self.pool.add(k)
                return k

    def _update_key(self) -> int:
        if self.hot_keys is not None:
            return self.hot_keys[int(self.rng.integers(0, len(self.hot_keys)))]
        return self.pool.pick(self.rng)

    def _take_key(self) -> int:
        k = self.pool.pick(self.rng)
        self.pool.remove(k)
        return k

    def _random_row(self):
        r = self.rng
        return [int(r.integers(0, 15_000)), STATUSES[int(r.integers(0, 3))],
                round(float(r.uniform(1000.0, 500_000.0)), 2),
                DATE0_US + int(r.integers(0, 2404)) * DAY_US,
                PRIORITIES[int(r.integers(0, 5))]]

    def file_bytes(self, i: int, period_ms: int):
        """Build file `i`; returns its parquet bytes and each change's
        schedule offset in ms relative to the live start.
        """
        r = self.rng
        ops = np.array(sum(([op] * c for op, c in self.counts.items()), []))
        ops = ops[r.permutation(len(ops))]
        offsets = i * period_ms + (np.arange(self.n) + 0.5) * period_ms / self.n
        rows = []
        for op, off in zip(ops, offsets):
            ts = EPOCH_MS + int(np.floor(off))
            seq = self.seq
            self.seq += 1
            before = None
            if op == "insert":
                key = self._new_key()
                vals = self._random_row()
            elif op == "update":
                key = self._update_key()
                vals = list(self.model[key][:5])
                vals[1] = STATUSES[int(r.integers(0, 3))]
                vals[2] = round(float(r.uniform(1000.0, 500_000.0)), 2)
            elif op == "delete":
                key = self._take_key()
                del self.model[key]
                rows.append(("delete", key, None, None, None, None, None,
                             None, ts, seq))
                continue
            else:  # a primary-key move: delete the old key, insert the new
                before = self._take_key()
                vals = list(self.model.pop(before)[:5])
                vals[2] = round(float(r.uniform(1000.0, 500_000.0)), 2)
                key = self._new_key()
                op = "update"
            self.model[key] = vals + [ts, seq]
            rows.append((op, key, *vals, before, ts, seq))
        rows = [rows[j] for j in r.permutation(len(rows))]
        cols = list(zip(*rows))
        table = pa.table([_column(c, f.type) for c, f in zip(cols, SCHEMA)],
                         schema=SCHEMA)
        buf = io.BytesIO()
        pq.write_table(table, buf)
        return buf.getvalue(), offsets

    def model_table(self) -> dict:
        """Expected final state, sorted by key, as numpy columns."""
        keys = np.array(sorted(self.model), dtype=np.int64)
        rows = [self.model[int(k)] for k in keys]
        out = {"o_orderkey": keys}
        for j, c in enumerate(STATE_COLS[1:]):
            out[c] = np.array([row[j] for row in rows])
        return out
