"""Tests of the benchmark itself: its percentile rule, its generator, its
DuckDB model and the exact repeat of its counts.

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import dataclasses
import math
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), os.path.dirname(os.path.dirname(HERE))]

from gen import SPECS, Generator  # noqa: E402
from model import Model  # noqa: E402
from stats import tail, tail_percentile  # noqa: E402


@pytest.mark.parametrize(
    "n, p", [(10, None), (11, None), (20, 50), (21, 52), (40, 75), (100, 90), (1000, 99)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, p):
    assert tail_percentile(n) == p
    if p is not None:
        assert n - math.ceil(n * p / 100) >= 10
        assert p == 99 or n - math.ceil(n * (p + 1) / 100) < 10


def test_tail_value_and_fallback():
    vals = [float(i) for i in range(1, 41)]
    assert tail(vals) == (30.0, 75)
    assert tail([3.0, 1.0, 2.0]) == (3.0, None)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_generator_same_seed_same_inputs(name):
    a, b = Generator(SPECS[name], 7), Generator(SPECS[name], 7)
    assert a.base().equals(b.base())
    for i in range(1, 4):
        assert a.batch(i).equals(b.batch(i))


@pytest.mark.parametrize("name", sorted(SPECS))
def test_generator_other_seed_other_inputs(name):
    a, b = Generator(SPECS[name], 7), Generator(SPECS[name], 8)
    assert not a.base().equals(b.base())
    assert not a.batch(1).equals(b.batch(1))


@pytest.mark.parametrize("name", sorted(SPECS))
def test_batch_mix(name):
    spec = SPECS[name]
    g = Generator(spec, 3)
    g.base()
    batch = g.batch(1)
    ids = batch.column("id").to_pylist()
    ts = batch.column("ts").to_pylist()
    assert len(ids) == len(set(ids)) == spec.batch_rows
    inserts = sum(1 for k in ids if k >= spec.base_rows)
    late = sum(1 for t in ts if t < 0)
    assert late == round(spec.batch_rows * spec.late_frac)
    assert inserts == spec.batch_rows - round(spec.batch_rows * spec.update_frac) - late
    if spec.hot_parts is not None:
        hot = set(range(spec.n_parts - spec.hot_parts, spec.n_parts))
        assert set(batch.column("part").to_pylist()) <= hot
    with pytest.raises(ValueError):
        g.batch(3)


def test_model_event_time_wins():
    import pyarrow as pa

    def t(ids, ts, v):
        n = len(ids)
        return pa.table(
            {
                "id": pa.array(ids, pa.int64()),
                "part": pa.array([0] * n, pa.int32()),
                "ts": pa.array(ts, pa.int64()),
                "v": pa.array(v, pa.int64()),
                "pad": pa.array(["x"] * n, pa.string()),
            }
        )

    m = Model(t([1, 2, 3], [5, 5, 5], [10, 20, 30]))
    # 1: newer wins; 2: tie goes to the incoming row; 3: late row loses; 4: insert
    m.apply(t([1, 2, 3, 4], [6, 5, 4, 1], [11, 21, 31, 41]))
    assert [r[3] for r in m.lookup([1, 2, 3, 4])] == [11, 21, 30, 41]
    assert m.agg()[:2] == (4, 11 + 21 + 30 + 41)
    assert m.rows_in_parts({0}) == 4
    m.close()


# -- one tiny end-to-end configuration, run twice in one session ------------

COUNTS_E2E = (
    "commit_spark_jobs",
    "commit_spark_tasks",
    "read_spark_jobs",
    "read_spark_tasks",
    "cdc_rows_per_batch_row",
    "write_amp",
    "space_amp",
    "ok_ratio",
)
COUNTS_LAYER = (
    "spark.jobs_per_commit",
    "manifest.read_calls_per_op",
    "manifest.list_calls_per_op",
    "bloom.keys_built_per_commit",
    "lookup.candidate_file_ratio",
    "lookup.false_positive_ratio",
    "data.files_written_per_commit",
    "data.partitions_rewritten_per_commit",
    "data.live_files",
    "clean.files_deleted_per_call",
)


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    s = run.start_spark(work, 2, trace=True)
    yield s
    run.stop_spark(s)


@pytest.mark.parametrize("name", sorted(SPECS))
def test_counts_repeat_exactly(spark, tmp_path, name):
    import run

    spec = dataclasses.replace(SPECS[name], base_rows=3000, batch_rows=200)
    outs = []
    for i in range(2):
        work = str(tmp_path / f"r{i}")
        os.makedirs(work)
        result, meta = run.run_workload(spark, spec, 11, 4, 1, work, trace=True)
        assert result["correct"] and result["failed"] == 0
        outs.append((result["metrics"], meta["e2e"]))
    (l1, e1), (l2, e2) = outs
    for k in COUNTS_E2E:
        assert e1[k]["value"] == e2[k]["value"], k
    for k in COUNTS_LAYER:
        assert l1[k]["value"] == l2[k]["value"], k
    assert e1["ok_ratio"]["value"] == 1.0
    busy_plus_gap = (
        l1["spark.busy_s_per_commit"]["value"] + l1["driver_gap_s_per_commit"]["value"]
    )
    assert busy_plus_gap == pytest.approx(l1["trace.commit_wall_s"]["value"])
