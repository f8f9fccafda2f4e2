"""Seeded input generator for the benchmark.

Produces the three CDC-tracked tables (``events``, ``orders``,
``lineitem``) with the schemas and value domains of the engine's
fixtures, from a seed alone, so the engine only ever sees generated
parquet files:

- :func:`base_tables` — full tables at a scale factor (sf 1.0 =
  1M events, 1.5M orders, 6M line items), rows in a seed-permuted
  order;
- :class:`DeltaStream` — successive full-table snapshots for steady
  ticks: each tick re-stamps a fifth of its changed rows (updates of
  existing keys) and appends the rest as fresh keys, all with change
  values strictly past the previous snapshot's maximum.

Every snapshot goes to its own new directory: ``load_table`` memoizes
the analyzed relation (and its file listing) per path, so rewriting a
file in place would go unseen.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: table -> (change column, order key column): the tick's watermark
#: column and the chunking key, as the engine's sweep tests track them
TRACKED = {
    "events": ("ts", "event_id"),
    "orders": ("o_orderdate", "o_orderkey"),
    "lineitem": ("l_shipdate", "l_orderkey"),
}

#: share of a delta tick's changed rows that re-stamp existing keys
UPDATE_SHARE = 0.2

#: rows per table at scale factor 1.0
ROWS_AT_SF1 = {"events": 1_000_000, "orders": 1_500_000, "lineitem": 6_000_000}

_US_PER_DAY = 86_400 * 1_000_000
_EPOCH_2024 = np.datetime64("2024-01-01", "us").astype(np.int64)
_EPOCH_1995 = np.datetime64("1995-01-01", "us").astype(np.int64)
_TS = pa.timestamp("us")

EVENT_TYPES = np.array(["click", "view", "purchase", "signup", "error"])
ORDER_STATUS = np.array(["O", "F", "P"])
ORDER_PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
RETURN_FLAGS = np.array(["N", "A", "R"])
LINE_STATUS = np.array(["O", "F"])
PROPS = np.array([f'{{"k": {k}}}' for k in range(100)])


def _events(rng: np.random.Generator, keys: np.ndarray, ts: np.ndarray, n_users: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "event_id": pa.array(keys, pa.int64()),
            "ts": pa.array(ts, _TS),
            "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, len(EVENT_TYPES), n)]),
            "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
            "props": pa.array(PROPS[rng.integers(0, len(PROPS), n)]),
        }
    )


def _orders(rng: np.random.Generator, keys: np.ndarray, dates: np.ndarray, n_cust: int) -> pa.Table:
    n = len(keys)
    return pa.table(
        {
            "o_orderkey": pa.array(keys, pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n), pa.int64()),
            "o_orderstatus": pa.array(ORDER_STATUS[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(np.round(rng.uniform(1000.0, 500000.0, n), 2)),
            "o_orderdate": pa.array(dates, _TS),
            "o_orderpriority": pa.array(ORDER_PRIORITY[rng.integers(0, 5, n)]),
        }
    )


def _lineitem(rng: np.random.Generator, n: int, n_orders: int, n_parts: int, n_supp: int) -> pa.Table:
    return pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_orders, n), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_parts, n), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
            "l_extendedprice": pa.array(np.round(rng.uniform(900.0, 105000.0, n), 2)),
            "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
            "l_returnflag": pa.array(RETURN_FLAGS[rng.integers(0, 3, n)]),
            "l_linestatus": pa.array(LINE_STATUS[rng.integers(0, 2, n)]),
            "l_shipdate": pa.array(
                _EPOCH_1995 + (1 + rng.integers(0, 2500, n)) * _US_PER_DAY, _TS
            ),
        }
    )


def base_tables(seed: int, scale: float, tables=tuple(TRACKED)) -> dict[str, pa.Table]:
    """The tracked tables at ``scale`` (sf), rows in seed-permuted
    order. Keys are dense from 0, so ``key div 100000`` chunk buckets
    are filled the way the fixtures fill them."""
    rng = np.random.default_rng([seed, 1])
    rows = {t: max(1, int(round(ROWS_AT_SF1[t] * scale))) for t in ROWS_AT_SF1}
    out: dict[str, pa.Table] = {}
    if "events" in tables:
        n = rows["events"]
        ts = _EPOCH_2024 + np.sort(rng.integers(0, 30 * _US_PER_DAY, n))
        out["events"] = _events(rng, np.arange(n), ts, max(1, int(15000 * scale)))
    if "orders" in tables:
        n = rows["orders"]
        dates = _EPOCH_1995 + rng.integers(0, 2405, n) * _US_PER_DAY
        out["orders"] = _orders(rng, np.arange(n), dates, max(1, int(150000 * scale)))
    if "lineitem" in tables:
        out["lineitem"] = _lineitem(
            rng, rows["lineitem"], rows["orders"],
            max(1, int(200000 * scale)), max(1, int(10000 * scale)),
        )
    return {t: tbl.take(rng.permutation(tbl.num_rows)) for t, tbl in out.items()}


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> str:
    """One ``<table>.parquet`` per table (a single row group, like the
    fixtures) in a directory that must not exist yet."""
    os.makedirs(out_dir)
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return out_dir


def max_change(tbl: pa.Table, table: str) -> int:
    """The table's max change value, as epoch microseconds."""
    col = tbl[TRACKED[table][0]]
    return int(pa.compute.max(col).cast(pa.int64()).as_py())


class DeltaStream:
    """Successive snapshots of ``tables`` for steady delta ticks.

    ``next()`` returns the next full snapshot and, per table, the keys
    whose rows changed in it. Each tick changes ``rows_per_tick`` rows
    per table: ``UPDATE_SHARE`` of them re-stamp existing keys (other
    columns redrawn), the rest insert fresh keys above the current
    maximum. Change values are strictly past the previous snapshot's
    maximum, so a watermark scan returns exactly the changed rows:
    ``events.ts`` advances by up to one 300 s poll interval,
    ``orders.o_orderdate`` by one day per tick."""

    def __init__(self, seed: int, tables: dict[str, pa.Table], rows_per_tick: int = 2000):
        self.rng = np.random.default_rng([seed, 2])
        self.tables = dict(tables)
        self.rows_per_tick = rows_per_tick
        self.n_update = int(round(rows_per_tick * UPDATE_SHARE))

    def _changed(self, table: str, tbl: pa.Table) -> tuple[pa.Table, np.ndarray]:
        rng = self.rng
        change_col, key_col = TRACKED[table]
        keys = tbl[key_col].to_numpy()
        updated = rng.choice(keys, self.n_update, replace=False)
        fresh = keys.max() + 1 + np.arange(self.rows_per_tick - self.n_update)
        changed = np.concatenate([updated, fresh])
        top = max_change(tbl, table)
        if table == "events":
            stamps = top + np.sort(rng.integers(1, 300 * 1_000_000, len(changed)))
            rows = _events(rng, changed, stamps, 1500)
        elif table == "orders":
            stamps = np.full(len(changed), top + _US_PER_DAY)
            rows = _orders(rng, changed, stamps, 15000)
        else:
            raise ValueError(f"no delta generator for {table!r}")
        kept = tbl.filter(pa.compute.invert(pa.compute.is_in(tbl[key_col], pa.array(updated))))
        return pa.concat_tables([kept, rows.take(rng.permutation(len(changed)))]), changed

    def next(self) -> tuple[dict[str, pa.Table], dict[str, np.ndarray]]:
        changed: dict[str, np.ndarray] = {}
        for table in sorted(self.tables):
            self.tables[table], changed[table] = self._changed(table, self.tables[table])
        return dict(self.tables), changed


def expected_chunk_ids(table: str, keys: np.ndarray, chunk_size: int = 100) -> set[str]:
    """Chunk ids one tick writes for a delta with these order keys:
    per ``key div (chunk_size * 1000)`` bucket, keys sorted, the first
    key of every ``chunk_size`` rows -> ``table#bucket#first_key``.
    Ties between equal keys cannot move a chunk's first key, so the
    JSON tie-break of the engine's chunk order is not needed here."""
    width = chunk_size * 1000
    keys = np.sort(np.asarray(keys, dtype=np.int64))
    buckets = keys // width
    ids: set[str] = set()
    for b in np.unique(buckets):
        in_bucket = keys[buckets == b]
        ids.update(f"{table}#{b}#{k}" for k in in_bucket[::chunk_size])
    return ids
