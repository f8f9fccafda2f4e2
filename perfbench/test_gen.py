"""Tests of the benchmark's input generator.

    python3 -m pytest perfbench/test_gen.py -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

DELTA_TABLES = ("events", "orders")


def _write_all(root, seed: int) -> dict:
    """Write one base snapshot and two delta snapshots; return
    {relative path: file bytes}."""
    base = gen.base_tables(seed, 0.002)
    gen.write_tables(base, os.path.join(root, "t0000"))
    stream = gen.DeltaStream(seed, {t: base[t] for t in DELTA_TABLES}, rows_per_tick=200)
    for k in (1, 2):
        gen.write_tables(stream.next()[0], os.path.join(root, f"t{k:04d}"))
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            path = os.path.join(d, f)
            with open(path, "rb") as fh:
                out[os.path.relpath(path, root)] = fh.read()
    return out


def test_same_seed_gives_identical_bytes(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 7)
    assert len(a) == 3 + 2 * len(DELTA_TABLES)
    assert a == b


def test_other_seed_gives_other_inputs(tmp_path):
    a = _write_all(str(tmp_path / "a"), 7)
    b = _write_all(str(tmp_path / "b"), 8)
    assert a.keys() == b.keys()
    assert all(a[k] != b[k] for k in a)


def test_delta_is_exactly_the_rows_past_the_watermark():
    base = gen.base_tables(5, 0.002, DELTA_TABLES)
    stream = gen.DeltaStream(5, base, rows_per_tick=200)
    snap, changed = stream.next()
    for t in DELTA_TABLES:
        change_col, key_col = gen.TRACKED[t]
        past = snap[t].filter(
            pc.greater(snap[t][change_col].cast(pa.int64()), gen.max_change(base[t], t))
        )
        assert sorted(past[key_col].to_pylist()) == sorted(changed[t].tolist())
        # a fifth re-stamps existing keys, the rest are fresh keys
        assert snap[t].num_rows == base[t].num_rows + 160
        assert len(set(snap[t][key_col].to_pylist())) == snap[t].num_rows


def test_expected_chunk_ids_take_every_hundredth_key_per_bucket():
    keys = np.concatenate([np.arange(250)[::-1], [100_000, 100_007]])
    assert gen.expected_chunk_ids("events", keys) == {
        "events#0#0",
        "events#0#100",
        "events#0#200",
        "events#1#100000",
    }
