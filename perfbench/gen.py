"""Seeded input generator for the keyed-upsert benchmark.

Everything a run feeds the engine comes from here: the base load and
every batch, as pyarrow tables. Batch ``i`` depends only on the seed,
the workload spec and ``i`` (the key state it updates advances in batch
order), so the same seed always yields the same inputs and a different
seed yields different ones. Precombine values come from the batch
index, never the clock.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa

#: logical row width in bytes: id (8) + part (4) + ts (8) + v (8) + pad (16)
ROW_BYTES = 44
PAD_WIDTH = 16


@dataclass(frozen=True)
class Spec:
    """One workload's data shape and op mix."""

    name: str
    base_rows: int
    n_parts: int
    #: "day": base keys spread round-robin over day partitions, inserts
    #: land in the newest day; "hash": part = id % n_parts everywhere
    layout: str
    batch_rows: int
    update_frac: float
    late_frac: float
    #: updates and late rows hit keys of the newest ``hot_parts``
    #: partitions (None: keys of every partition)
    hot_parts: int | None
    #: untimed cycles run after the base load and counted in setup_s
    warmup_cycles: int
    #: nominal seconds of one timed cycle: --seconds / cycle_s fixes the
    #: op count of a run, so the count never depends on how fast it ran
    cycle_s: float

    def n_cycles(self, seconds: float) -> int:
        return max(2, round(seconds / self.cycle_s))


SPECS = {
    s.name: s
    for s in (
        # small upserts into the 2 newest of 30 day partitions: per-commit
        # fixed cost (driver Python, manifest I/O, job count) dominates
        Spec(
            name="upsert_trickle",
            base_rows=60_000,
            n_parts=30,
            layout="day",
            batch_rows=500,
            update_frac=0.80,
            late_frac=0.05,
            hot_parts=2,
            warmup_cycles=1,
            cycle_s=3.0,
        ),
        # upserts that rewrite all 16 key-hash partitions: executor
        # merge/write and per-file footer and bloom work grow with rows
        Spec(
            name="upsert_bulk",
            base_rows=40_000,
            n_parts=16,
            layout="hash",
            batch_rows=4_000,
            update_frac=0.80,
            late_frac=0.0,
            hot_parts=None,
            warmup_cycles=1,
            cycle_s=5.0,
        ),
    )
}


def pad_of(v: np.ndarray) -> np.ndarray:
    """Fixed-width string payload derived from ``v`` (so it is checked
    whenever ``v`` is)."""
    return np.char.zfill(np.char.mod("%x", v), PAD_WIDTH)


def _table(ids, part, ts, v) -> pa.Table:
    return pa.table(
        {
            "id": pa.array(ids, pa.int64()),
            "part": pa.array(part, pa.int32()),
            "ts": pa.array(ts, pa.int64()),
            "v": pa.array(v, pa.int64()),
            "pad": pa.array(pad_of(v).astype(object), pa.string()),
        }
    )


class Generator:
    """Base table and batches of one workload for one seed."""

    def __init__(self, spec: Spec, seed: int):
        self.spec = spec
        self.seed = seed
        n = spec.base_rows
        self._part = (np.arange(n) % spec.n_parts).astype(np.int32)
        self._next_id = n
        self._batches = 0

    def _rng(self, i: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, i])

    def base(self) -> pa.Table:
        n = self.spec.base_rows
        ids = np.arange(n, dtype=np.int64)
        v = self._rng(0).integers(0, 1 << 30, n, dtype=np.int64)
        return _table(ids, self._part[:n], np.zeros(n, np.int64), v)

    def batch(self, i: int) -> pa.Table:
        """Batch ``i`` (1-based; must be asked for in order). Keys within
        a batch are distinct; late rows carry precombine ``-i``, below
        every value already in the table, so they must lose."""
        if i != self._batches + 1:
            raise ValueError(f"batch {i} asked for after {self._batches}")
        self._batches = i
        s, rng = self.spec, self._rng(i)
        n_upd = round(s.batch_rows * s.update_frac)
        n_late = round(s.batch_rows * s.late_frac)
        n_ins = s.batch_rows - n_upd - n_late
        known = self._next_id
        if s.hot_parts is None:
            pool = None
        else:
            hot = np.arange(s.n_parts - s.hot_parts, s.n_parts)
            pool = np.flatnonzero(np.isin(self._part[:known], hot))
        picked = (
            rng.choice(known, n_upd + n_late, replace=False)
            if pool is None
            else rng.choice(pool, n_upd + n_late, replace=False)
        ).astype(np.int64)
        new_ids = np.arange(known, known + n_ins, dtype=np.int64)
        new_part = (
            np.full(n_ins, s.n_parts - 1, np.int32)
            if s.layout == "day"
            else (new_ids % s.n_parts).astype(np.int32)
        )
        self._part = np.concatenate([self._part, new_part])
        self._next_id += n_ins
        ids = np.concatenate([picked, new_ids])
        ts = np.concatenate(
            [
                np.full(n_upd, i, np.int64),
                np.full(n_late, -i, np.int64),
                np.full(n_ins, i, np.int64),
            ]
        )
        v = rng.integers(0, 1 << 30, len(ids), dtype=np.int64)
        return _table(ids, self._part[ids], ts, v)

    def lookup_keys(self, rng: np.random.Generator, k: int = 10) -> list[int]:
        return sorted(int(x) for x in rng.choice(self._next_id, k, replace=False))
