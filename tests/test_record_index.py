"""Record-level index (key → file): build, central per-commit
maintenance, pruning-superset lookups, compaction, lifecycle
(rollback / rebase-drop / clean GC / validate), and integration with
read_keys and the DV DML probes.

The load-bearing invariant everywhere: every live row's (key, host
file) pair is present in some registered segment, so lookups filtered
to live files are a SUPERSET of the true hosts — pruning, never
correctness. ↦ Hudi 1.0 metadata-table record_index; the reference
relies on the same tagging implicitly via hoodie upsert
(glue/HudiJarGlueJob.py:83)."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from hudi_glue_spark.table import KeyedTable
from hudi_glue_spark.table import manifest as M
from hudi_glue_spark.table import record_index as RI
from hudi_glue_spark.table.keyed_table import EVENT_TIME_WINS


def _mk(spark, root, n=400, **kw) -> KeyedTable:
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="pk",
        precombine="ts",
        partition_by="part",
        policy=EVENT_TIME_WINS,
        stats_cols=["pk", "ts"],
        key_bloom=True,
        **kw,
    )
    base = spark.range(0, n).select(
        F.col("id").alias("pk"),
        (F.col("id") % 4).cast("string").alias("part"),
        F.col("id").alias("ts"),
        (F.col("id") * 2).alias("val"),
    )
    tbl.bulk_insert(base)
    return tbl


def rows_set(df):
    return {tuple(r) for r in df.collect()}


def _hosts(tbl, spark, keys, col=None):
    got = (
        tbl.files_hosting_keys(spark, keys)
        if col is None
        else tbl.files_hosting_values(spark, col, keys)
    )
    assert got is not None
    return got


def _true_hosts(tbl, spark, keys, col=None):
    k = tbl.key[0] if col is None else col
    man = M.read_manifest(tbl.path)
    df = tbl._positioned_read(spark, man, man.files, columns=[k])
    return {
        r["__file"]
        for r in df.filter(F.col(k).isin(keys))
        .select("__file")
        .distinct()
        .collect()
    }


#: one set of assertions pins both index slots: the record index on the
#: key (col None) and a secondary index on a column
SLOTS = pytest.mark.parametrize("col", [None, "val"], ids=["record", "column"])


def _build(tbl, spark, col):
    if col is None:
        return tbl.build_record_index(spark)
    return tbl.build_column_index(spark, col)


def _info(tbl, col, at=None):
    if col is None:
        return tbl.record_index_info(at)
    return tbl.column_index_info(col, at)


def _compact(tbl, spark, col):
    if col is None:
        return tbl.compact_record_index(spark)
    return tbl.compact_column_index(spark, col)


def test_build_and_point_lookup(spark):
    t = _mk(spark, "/tmp/rli_build")
    assert t.record_index_info() is None
    assert t.files_hosting_keys(spark, [1]) is None  # no index -> fallback
    t.build_record_index(spark)
    reg = t.record_index_info()
    assert reg is not None and reg["base"] and not reg["deltas"]
    # superset + tightness: the index names exactly the true host here
    hosts = _hosts(t, spark, [7])
    assert set(hosts) >= _true_hosts(t, spark, [7])
    assert len(hosts) < M.read_manifest(t.path).n_files
    # locate_keys agrees and read_keys returns the rows
    loc = {tuple(r) for r in t.locate_keys(spark, [7, 8, 9999]).collect()}
    assert {p for p, _f in loc} == {7, 8}  # miss absent
    assert t.read_keys(spark, [7, 8]).count() == 2
    # empty probe
    assert t.files_hosting_keys(spark, []) == []


def test_central_maintenance_across_ops(spark):
    """Every mutating op advances the index through the _commit hook —
    no op-specific wiring — and lookups stay supersets throughout."""
    t = _mk(spark, "/tmp/rli_ops")
    t.build_record_index(spark)

    # upsert (CoW rewrite): moved rows' new hosts must be found
    t.upsert(
        spark.createDataFrame(
            [(2, "2", 5000, -1), (1000, "0", 1, -5)],
            "pk long, part string, ts long, val long",
        )
    )
    reg = t.record_index_info()
    assert reg["deltas"], "upsert must append a delta run"
    for k in (2, 1000, 7):
        assert set(_hosts(t, spark, [k])) >= _true_hosts(t, spark, [k])
    assert t.read_keys(spark, [2]).collect()[0]["val"] == -1
    assert t.read_keys(spark, [1000]).count() == 1

    # delete (CoW): removed key resolves to no live file
    t.delete(spark.createDataFrame([(3,)], "pk long"))
    assert _hosts(t, spark, [3]) == []
    assert t.read_keys(spark, [3]).count() == 0

    # DV upsert: winners in new files, losers masked — still correct
    t.upsert_dv(
        spark.createDataFrame(
            [(4, "0", 9000, -4)], "pk long, part string, ts long, val long"
        )
    )
    assert set(_hosts(t, spark, [4])) >= _true_hosts(t, spark, [4])
    got = t.read_keys(spark, [4]).collect()
    assert len(got) == 1 and got[0]["val"] == -4

    # DV delete: no new files -> registration carries, mask filters
    t.delete_dv([5])
    assert t.read_keys(spark, [5]).count() == 0
    # optimize folds masks; rewritten partitions' rows get new entries
    t.optimize(spark)
    for k in (2, 4, 1000):
        assert set(_hosts(t, spark, [k])) >= _true_hosts(t, spark, [k])
    assert t.read_keys(spark, [4]).collect()[0]["val"] == -4
    assert t.read_keys(spark, [5]).count() == 0
    # every segment the registration names exists; no audit problems
    assert [p for p in t.validate() if "cleanable" not in p] == []


@SLOTS
def test_compaction_folds_and_prunes_dead_entries(spark, col):
    t = _mk(spark, "/tmp/rli_compact")
    _build(t, spark, col)
    for i in range(3):
        t.upsert(
            spark.createDataFrame(
                [(i * 7, "1", 10_000 + i, -i)],
                "pk long, part string, ts long, val long",
            )
        )
    reg = _info(t, col)
    assert len(reg["deltas"]) == 3
    # keys 0, 7, 14, 21, 399 — or their current vals
    probes = [0, 7, 14, 21, 399] if col is None else [0, -1, -2, 42, 798]
    before = {k: _hosts(t, spark, [k], col) for k in probes}
    assert _compact(t, spark, col) is not None
    reg2 = _info(t, col)
    assert reg2["deltas"] == {} and reg2["base"]
    for k, hosts in before.items():
        got = _hosts(t, spark, [k], col)
        assert set(got) >= _true_hosts(t, spark, [k], col)
        assert set(got) <= set(hosts)  # folding only removes dead refs
    # nothing to fold -> None
    assert _compact(t, spark, col) is None


@SLOTS
def test_rli_rollback_and_clean_lifecycle(spark, col):
    t = _mk(spark, "/tmp/rli_lifecycle")
    _build(t, spark, col)
    c_idx = t.commits()[-1]
    t.upsert(
        spark.createDataFrame(
            [(2, "2", 5000, -1)], "pk long, part string, ts long, val long"
        )
    )
    reg_after = _info(t, col)
    # rollback to the index commit restores ITS registration exactly
    t.rollback(c_idx)
    assert _info(t, col) == _info(t, col, at=c_idx)
    assert _info(t, col) != reg_after
    p2 = 2 if col is None else 4  # key 2, or its val at c_idx
    assert set(_hosts(t, spark, [p2], col)) >= _true_hosts(t, spark, [p2], col)
    # rollback to the pre-index commit drops the registration
    t.rollback(t.commits()[0])
    assert _info(t, col) is None
    # rebuild, mutate, compact, then clean: orphaned segments reclaimed,
    # registered ones survive
    _build(t, spark, col)
    t.upsert(
        spark.createDataFrame(
            [(9, "1", 7000, -9)], "pk long, part string, ts long, val long"
        )
    )
    _compact(t, spark, col)
    n_before = len(RI.list_segments(t.path))
    t.clean(retain_commits=1)
    kept = set(RI.list_segments(t.path))
    reg = _info(t, col)
    assert set(reg["base"]) <= kept
    assert len(kept) < n_before  # pre-compaction segments reclaimed
    p9 = 9 if col is None else -9  # key 9, or its new val
    assert set(_hosts(t, spark, [p9], col)) >= _true_hosts(t, spark, [p9], col)
    assert [p for p in t.validate() if "cleanable" not in p] == []


def test_registration_spill_lifecycle(spark, monkeypatch):
    """§9d#1 metadata-tree spill: registrations whose span maps outgrow
    REG_SPILL_BYTES move to a parquet sidecar under _rli/, the commit
    JSON keeping only a pointer — and every consumer (lookups,
    compaction trigger, rollback, clean, validate) reads through it."""
    import json as _json

    monkeypatch.setattr(RI, "REG_SPILL_BYTES", 0)  # force packing
    t = _mk(spark, "/tmp/rli_spill")
    t.build_record_index(spark)
    t.build_column_index(spark, "val")
    raw = (M.read_manifest(t.path).stats or {}).get("column_indexes")["val"]
    assert "ref" in raw and "base" not in raw  # pointer, not maps
    assert os.path.isfile(os.path.join(RI.rli_dir(t.path), raw["ref"]))
    # info methods materialize the maps; lookups prune through them
    assert t.record_index_info()["base"]
    assert t.column_index_info("val")["base"]
    assert set(_hosts(t, spark, [7])) >= _true_hosts(t, spark, [7])
    hv = t.files_hosting_values(spark, "val", [14])
    assert hv and set(hv) >= _true_hosts(t, spark, [7])  # val=14 ↔ pk=7
    # DML appends a delta and re-packs; commit JSON stays FLAT
    t.upsert(
        spark.createDataFrame(
            [(2, "2", 5000, -1)], "pk long, part string, ts long, val long"
        )
    )
    for cid in t.commits():
        s = M.read_manifest(t.path, cid).stats or {}
        for r in [
            s.get("record_index"),
            *(s.get("column_indexes") or {}).values(),
        ]:
            if r:
                assert "base" not in r and "deltas" not in r
    raw2 = (M.read_manifest(t.path).stats or {}).get("record_index")
    assert raw2["n_deltas"] == 1
    assert set(_hosts(t, spark, [2])) >= _true_hosts(t, spark, [2])
    # maintained == rebuild through pointers: compact folds the deltas
    c_before = t.commits()[-1]
    t.compact_record_index(spark)
    assert t.record_index_info()["deltas"] == {}
    # rollback restores the TARGET's pointer (sidecar still retained)
    t.rollback(c_before)
    assert t.record_index_info() == t.record_index_info(at=c_before)
    assert t.record_index_info()["deltas"]
    # clean keeps every retained commit's sidecars + segments; validate
    # stays sound
    t.clean(retain_commits=2)
    assert set(_hosts(t, spark, [2])) >= _true_hosts(t, spark, [2])
    assert [p for p in t.validate() if "cleanable" not in p] == []
    # clean to 1 commit reclaims the now-unreferenced older sidecars
    t.clean(retain_commits=1)
    live_names = t._index_segment_names(M.read_manifest(t.path).stats)
    on_disk = set(RI.list_segments(t.path))
    assert live_names <= on_disk
    assert [p for p in t.validate() if "cleanable" not in p] == []


def test_clean_rli_sweep_skips_on_unreadable_live_sidecar(
    spark, monkeypatch
):
    """ADVICE r10: a transiently unreadable packed-registration
    sidecar on a LIVE commit makes clean() skip the whole ``_rli``
    sweep (unreadable ≠ unreferenced) instead of unlinking the base
    segments that registration still references; a later clean with
    the sidecar readable reclaims normally. Also: crash-orphaned
    ``.tmp-*`` pack staging is swept only past the age horizon."""
    monkeypatch.setattr(RI, "REG_SPILL_BYTES", 0)  # force packing
    t = _mk(spark, "/tmp/rli_sickcar")
    t.build_record_index(spark)
    t.upsert(
        spark.createDataFrame(
            [(7, "3", 5000, -1)], "pk long, part string, ts long, val long"
        )
    )
    rdir = RI.rli_dir(t.path)
    ref = (M.read_manifest(t.path).stats or {})["record_index"]["ref"]
    sidecar = os.path.join(rdir, ref)
    with open(sidecar, "rb") as fh:
        good = fh.read()
    with open(sidecar, "wb") as fh:
        fh.write(b"not a parquet file")
    # aged orphan staging + a fresh one (a racing pack mid-write)
    old_tmp = os.path.join(rdir, ".tmp-orphan")
    new_tmp = os.path.join(rdir, ".tmp-inflight")
    for p in (old_tmp, new_tmp):
        with open(p, "wb") as fh:
            fh.write(b"x")
    os.utime(old_tmp, (os.path.getmtime(old_tmp) - 3600,) * 2)
    before = {f for f in os.listdir(rdir) if not f.startswith(".tmp-")}
    t.clean(retain_commits=1)
    after = {f for f in os.listdir(rdir) if not f.startswith(".tmp-")}
    assert after == before  # sweep skipped: nothing GC'd blind
    assert not os.path.exists(old_tmp)  # aged staging swept
    assert os.path.exists(new_tmp)  # fresh staging survives
    os.unlink(new_tmp)
    # sidecar restored → the next clean reclaims the dropped commits'
    # now-orphaned sidecars, and the live index still answers
    with open(sidecar, "wb") as fh:
        fh.write(good)
    t.clean(retain_commits=1)
    live = t._index_segment_names(M.read_manifest(t.path).stats)
    assert live <= set(os.listdir(rdir))
    assert set(_hosts(t, spark, [7])) >= _true_hosts(t, spark, [7])
    assert [p for p in t.validate() if "cleanable" not in p] == []


def test_lookup_join_distributed(spark):
    """VERDICT r9 #5: lookup_join consumes the index entries with a
    DISTRIBUTED join (the _rli segments appear as a scan in the plan;
    zero driver collect) and returns exactly the batch keys' current
    rows — through CoW moves, deletes, and DV masks."""
    import pytest

    t = _mk(spark, "/tmp/rli_lkj")
    batch = spark.createDataFrame(
        [(2,), (2,), (9,), (3,), (123456,)], "k long"  # dup + miss
    )
    with pytest.raises(ValueError, match="no record index"):
        t.lookup_join(spark, batch)
    t.build_record_index(spark)
    t.upsert(  # moves pk=2 to a rewritten file
        spark.createDataFrame(
            [(2, "2", 5000, -1)], "pk long, part string, ts long, val long"
        )
    )
    t.delete(spark.createDataFrame([(3,)], "pk long"))  # pk=3 gone
    t.delete_dv([9])  # pk=9 masked, not rewritten
    out = t.lookup_join(spark, batch)
    assert rows_set(out) == {(2, "2", 5000, -1)}
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "_rli" in plan  # index entries joined as a distributed scan
    # secondary-index variant: val -> rows
    t.build_column_index(spark, "val")
    out2 = t.lookup_join(
        spark, spark.createDataFrame([(-1,), (14,)], "v long"), col="val"
    )
    assert rows_set(out2) == {(2, "2", 5000, -1), (7, "3", 7, 14)}
    with pytest.raises(ValueError, match="column 'nope'"):
        t.lookup_join(spark, batch, col="nope")


def test_lookup_join_pruned_scans_host_subset(spark):
    """§9e#2: lookup_join(prune=True) collects the distinct HOST
    files (O(hosts)) and scans only those — inputFiles is a STRICT
    subset of the live set when hosts ≪ files — while returning
    byte-identical rows to the full-scan variant, through CoW moves,
    deletes, and DV masks."""
    t = _mk(spark, "/tmp/rli_lkj_pruned")
    t.build_record_index(spark)
    t.upsert(  # moves pk=2 into a rewritten file
        spark.createDataFrame(
            [(2, "2", 5000, -1)], "pk long, part string, ts long, val long"
        )
    )
    t.delete(spark.createDataFrame([(3,)], "pk long"))
    t.delete_dv([9])
    batch = spark.createDataFrame(
        [(2,), (2,), (9,), (3,), (7,), (123456,)], "k long"
    )
    full = t.lookup_join(spark, batch)
    pruned = t.lookup_join(spark, batch, prune=True)
    assert rows_set(pruned) == rows_set(full) == {
        (2, "2", 5000, -1),
        (7, "3", 7, 14),
    }
    live = set(M.read_manifest(t.path).files)

    def _rel(files):
        return {
            f.split("/data/", 1)[1] for f in files if "/data/" in f
        }

    scanned = _rel(pruned.inputFiles())
    full_scanned = _rel(full.inputFiles())
    assert scanned < full_scanned <= live  # STRICT host subset
    # every true host is in the subset (superset invariant holds)
    true_hosts = _true_hosts(t, spark, [2, 7])
    assert true_hosts <= scanned
    # past the cap the pruned variant falls back to the full scan
    old = KeyedTable.LOOKUP_PRUNE_MAX_FILES
    try:
        KeyedTable.LOOKUP_PRUNE_MAX_FILES = 0
        capped = t.lookup_join(spark, batch, prune=True)
        assert rows_set(capped) == rows_set(full)
        assert _rel(capped.inputFiles()) == full_scanned
    finally:
        KeyedTable.LOOKUP_PRUNE_MAX_FILES = old


def test_registration_small_maps_stay_inline(spark):
    """Below the spill bound nothing changes: maps stay in the commit
    JSON (no pointer, no sidecar) — zero-surprise default."""
    t = _mk(spark, "/tmp/rli_nospill")
    t.build_record_index(spark)
    raw = (M.read_manifest(t.path).stats or {}).get("record_index")
    assert "ref" not in raw and raw["base"]


def test_rli_guards_and_duplicates(spark):
    # composite key refused
    shutil.rmtree("/tmp/rli_comp", ignore_errors=True)
    t = KeyedTable(
        "/tmp/rli_comp", key=["pk", "part"], precombine="ts"
    )
    t.bulk_insert(
        spark.createDataFrame(
            [(1, "a", 1, 1)], "pk long, part string, ts long, val long"
        )
    )
    with pytest.raises(ValueError, match="single-column"):
        t.build_record_index(spark)
    # duplicate keys (bulk_insert dedupe=False): ALL hosts found
    shutil.rmtree("/tmp/rli_dup", ignore_errors=True)
    t2 = KeyedTable(
        "/tmp/rli_dup",
        key="pk",
        precombine="ts",
        partition_by="part",
        stats_cols=["pk", "ts"],
        key_bloom=True,
    )
    base = spark.range(0, 400).select(
        F.col("id").alias("pk"),
        (F.col("id") % 4).cast("string").alias("part"),
        F.col("id").alias("ts"),
        (F.col("id") * 2).alias("val"),
    )
    dup = spark.createDataFrame(
        [(7, "0", 50_000, -70)], "pk long, part string, ts long, val long"
    )
    t2.bulk_insert(base.unionByName(dup), dedupe=False)  # pk=7 twice
    t2.build_record_index(spark)
    hosts = _hosts(t2, spark, [7])
    assert set(hosts) >= _true_hosts(t2, spark, [7])
    assert len(_true_hosts(t2, spark, [7])) == 2
    assert t2.read_keys(spark, [7]).count() == 2
    # drop: unregistered; files_hosting_keys falls back to None
    t2.drop_record_index()
    assert t2.record_index_info() is None
    assert t2.files_hosting_keys(spark, [7]) is None
    assert t2.read_keys(spark, [7]).count() == 2  # bloom path still works


@pytest.mark.parametrize("col", [None, "v"], ids=["record", "column"])
def test_rli_dropped_on_occ_rebase_and_rebuilt_by_maintenance(
    spark, tmp_path, monkeypatch, col
):
    """An OCC loser's rebase cannot carry EITHER side's registration
    (each covers only its own new files) — the rebased commit drops the
    index with a marker, lookups fall back to blooms, and
    run_maintenance rebuilds from the marker."""
    import datetime

    from pyspark.sql import Row

    from tests.test_lifecycle import _rival_during_write

    def ts(d):
        return datetime.datetime(2024, 1, d)

    root = str(tmp_path / "rli_rebase")
    t = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        key_scope="partition",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 4}", v=0.0, ts=ts(1)) for i in range(40)]
        )
    )
    _build(t, spark, col)
    rival_batch = spark.createDataFrame(
        [Row(id=100 + i, grp="g1", v=9.0, ts=ts(2)) for i in range(5)]
    )
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    t.upsert_with_retry(
        spark.createDataFrame(
            [Row(id=200 + i, grp="g0", v=5.0, ts=ts(2)) for i in range(5)]
        )
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)
    head = M.read_manifest(root)
    stats = head.stats or {}
    assert "rebased_onto" in stats
    assert _info(t, col) is None
    if col is None:
        assert stats.get("record_index_dropped") == "occ_rebase"
        assert t.files_hosting_keys(spark, [0]) is None  # honest: no index
        assert t.read_keys(spark, [204]).count() == 1  # bloom fallback works
    else:
        assert stats.get("column_indexes_dropped") == [col]
        assert t.files_hosting_values(spark, col, [0.0]) is None
        assert t.read_isin(spark, col, [5.0]).count() == 5  # stats fallback
    summary = t.run_maintenance(spark)
    if col is None:
        assert "record_index_rebuilt" in summary
    else:
        assert summary.get("column_index_rebuilt") == [col]
    mine, rival = (204, 100) if col is None else (5.0, 9.0)
    assert set(_hosts(t, spark, [mine], col)) >= _true_hosts(t, spark, [mine], col)
    assert set(_hosts(t, spark, [rival], col)) >= _true_hosts(t, spark, [rival], col)


def test_rli_global_upsert_partition_move(spark):
    """GLOBAL key scope with an index: the touched-partition probe
    resolves a cross-partition key move from the index (no table
    scan) — the old host partition is rewritten, exactly one live row
    survives, and results match the un-indexed twin."""
    a = _mk(spark, "/tmp/rli_move_a")  # default key_scope = global
    b = _mk(spark, "/tmp/rli_move_b")
    a.build_record_index(spark)
    # pk=6 lives in part '2' (6 % 4); the update moves it to part '0'
    batch = spark.createDataFrame(
        [(6, "0", 99_000, -6)], "pk long, part string, ts long, val long"
    )
    a.upsert(batch)
    b.upsert(batch)
    assert rows_set(a.read(spark)) == rows_set(b.read(spark))
    got = a.read(spark).filter("pk = 6").collect()
    assert len(got) == 1 and got[0]["part"] == "0"
    # the index resolves the moved key to its new host
    assert set(_hosts(a, spark, [6])) >= _true_hosts(a, spark, [6])
    assert a.read_keys(spark, [6]).collect()[0]["val"] == -6


def test_column_index_lookup_and_maintenance(spark):
    """Secondary index on a non-key column: min/max stats can't prune
    scattered values (every file spans most `val % 10` classes); the
    column index resolves exact hosts, stays maintained across CoW and
    MoR DML through the same central hook, folds, and read_isin
    prefers it."""
    t = _mk(spark, "/tmp/ci_basic", n=800)
    # val = pk*2 -> probe a scattered value set
    t.build_column_index(spark, "val")
    reg = t.column_index_info("val")
    assert reg is not None and reg["base"] and reg["key"] == "val"
    probe = [14, 202, 1598]  # pk 7, 101, 799
    hosts = t.files_hosting_values(spark, "val", probe)
    assert hosts is not None and 0 < len(hosts) <= len(probe) + 1
    got = t.read_isin(spark, "val", probe)
    assert got.count() == 3
    assert {r["pk"] for r in got.collect()} == {7, 101, 799}

    # maintenance: CoW upsert rewrites a partition; MoR upsert appends
    t.upsert(
        spark.createDataFrame(
            [(7, "3", 90_000, -777)], "pk long, part string, ts long, val long"
        )
    )
    t.upsert_dv(
        spark.createDataFrame(
            [(101, "1", 91_000, -888)],
            "pk long, part string, ts long, val long",
        )
    )
    reg = t.column_index_info("val")
    assert len(reg["deltas"]) == 2
    assert t.read_isin(spark, "val", [-777]).count() == 1
    assert t.read_isin(spark, "val", [-888]).count() == 1
    assert t.read_isin(spark, "val", [14, 202]).count() == 0  # old values gone
    # fold
    assert t.compact_column_index(spark, "val") is not None
    assert t.column_index_info("val")["deltas"] == {}
    assert t.read_isin(spark, "val", [-777, -888, 1598]).count() == 3
    assert [p for p in t.validate() if "cleanable" not in p] == []


def test_column_index_coexists_with_record_index(spark):
    """Both kinds registered at once: each advances independently per
    commit, rollback restores both, clean keeps only referenced
    segments, drop_columns on the indexed column drops ITS index
    honestly (the record index survives)."""
    t = _mk(spark, "/tmp/ci_both")
    t.build_record_index(spark)
    t.build_column_index(spark, "val")
    c_both = t.commits()[-1]
    t.upsert(
        spark.createDataFrame(
            [(2, "2", 70_000, -2)], "pk long, part string, ts long, val long"
        )
    )
    assert t.record_index_info()["deltas"]
    assert t.column_index_info("val")["deltas"]
    assert t.read_keys(spark, [2]).collect()[0]["val"] == -2
    assert t.read_isin(spark, "val", [-2]).count() == 1

    t.rollback(c_both)
    assert t.record_index_info() == t.record_index_info(at=c_both)
    assert t.column_index_info("val") == t.column_index_info("val", at=c_both)
    assert t.read_isin(spark, "val", [4]).count() == 1  # pk=2 restored

    # drop_columns("val"): the val index must drop, the key index stays
    t.drop_columns(["val"])
    assert t.column_index_info("val") is None
    assert t.record_index_info() is not None
    assert t.read_keys(spark, [2]).count() == 1
    t.clean(retain_commits=1)
    assert [p for p in t.validate() if "cleanable" not in p] == []


def test_column_index_range_and_streaming_maintenance(spark):
    """files_hosting_range prunes a narrow range on a scattered column
    and read_range composes it; a streaming keyed ingest's per-batch
    commits advance both index kinds through the same central hook."""
    import tempfile

    t = _mk(spark, "/tmp/ci_range", n=800)
    t.build_column_index(spark, "val")
    hosts = t.files_hosting_range(spark, "val", 100, 104)  # pk 50..52
    assert hosts is not None and 0 < len(hosts) <= 3
    got = t.read_range(spark, "val", 100, 104)
    assert {r["pk"] for r in got.collect()} == {50, 51, 52}
    assert t.files_hosting_range(spark, "pk", 0, 1) is None  # no index

    # streaming: micro-batch commits ride upsert -> central hook
    from hudi_glue_spark.streaming.ingest import stream_ingest

    t2 = _mk(spark, "/tmp/ci_stream", n=100)
    t2.build_record_index(spark)
    t2.build_column_index(spark, "val")
    batch = spark.range(100, 140).select(
        F.col("id").alias("pk"),
        (F.col("id") % 4).cast("string").alias("part"),
        (F.col("id") + 50_000).alias("ts"),
        (F.col("id") * 3).alias("val"),
    )
    with tempfile.TemporaryDirectory() as wd:
        src_dir = f"{wd}/src"
        batch.coalesce(1).write.parquet(src_dir)
        stream = (
            spark.readStream.schema(batch.schema).parquet(src_dir)
        )
        q = stream_ingest(t2, stream, f"{wd}/ckpt")
        assert q.awaitTermination(120)
    assert t2.read(spark).count() == 140
    assert t2.record_index_info()["deltas"]
    assert t2.column_index_info("val")["deltas"]
    assert t2.read_keys(spark, [120]).collect()[0]["val"] == 360
    assert t2.read_isin(spark, "val", [360]).count() == 1


def test_wanted_index_converges_when_marker_not_at_head(
    spark, tmp_path, monkeypatch
):
    """§9d#2: a commit landing between a rebase-drop and the next
    maintenance pass hides the ``*_dropped`` marker from HEAD. The
    persisted wanted-indexes intent (written by build_*, retracted by
    drop_*) still triggers the rebuild — maintenance CONVERGES on the
    declared index set regardless of interleaving."""
    import datetime

    from pyspark.sql import Row

    from tests.test_lifecycle import _rival_during_write

    def ts(d):
        return datetime.datetime(2024, 1, d)

    root = str(tmp_path / "rli_wanted")
    t = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        key_scope="partition",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 4}", v=0.0, ts=ts(1)) for i in range(40)]
        )
    )
    t.build_record_index(spark)
    t.build_column_index(spark, "v")
    assert (t.wanted_indexes or {}).get("record_index") is True
    assert "v" in (t.wanted_indexes or {}).get("columns", [])
    # OCC race → the rebased commit drops BOTH registrations
    orig = _rival_during_write(
        monkeypatch, spark, root,
        spark.createDataFrame(
            [Row(id=100 + i, grp="g1", v=9.0, ts=ts(2)) for i in range(5)]
        ),
    )
    t.upsert_with_retry(
        spark.createDataFrame(
            [Row(id=200 + i, grp="g0", v=5.0, ts=ts(2)) for i in range(5)]
        )
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)
    assert (M.read_manifest(root).stats or {}).get("record_index") is None
    # ANOTHER commit lands before maintenance → markers leave HEAD
    t.upsert(
        spark.createDataFrame([Row(id=300, grp="g2", v=1.0, ts=ts(3))])
    )
    head = M.read_manifest(root).stats or {}
    assert "record_index_dropped" not in head
    assert "column_indexes_dropped" not in head
    summary = t.run_maintenance(spark)
    assert "record_index_rebuilt" in summary
    assert "v" in summary.get("column_index_rebuilt", [])
    # and a fresh instance loaded from meta converges the same way
    assert (KeyedTable.load(root).wanted_indexes or {}).get("record_index")
    # explicit drop retracts the intent: no rebuild loop
    t.drop_record_index()
    t.drop_column_index("v")
    summary2 = t.run_maintenance(spark)
    assert "record_index_rebuilt" not in summary2
    assert "column_index_rebuilt" not in summary2


def test_read_keys_null_probe(spark, tmp_path):
    """r14: a NULL record key is a legal row identity (eqNullSafe
    everywhere), so a NULL probe must RETURN the row — blooms and the
    record index can't attest NULL hosts and `isin` is NULL-poisoned,
    which used to silently drop it. The NULL portion reads the pinned
    snapshot unpruned; non-null probes keep the indexed path."""
    import datetime

    from hudi_glue_spark.table import KeyedTable

    ts = lambda h: datetime.datetime(2024, 1, 1, h)  # noqa: E731
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts",
                   key_bloom=True)
    sch = "pk bigint, val double, update_ts timestamp"
    t.bulk_insert(spark.createDataFrame(
        [(1, 1.0, ts(1)), (2, 2.0, ts(1)), (None, 9.0, ts(1))], sch))
    got = {(r["pk"], r["val"])
           for r in t.read_keys(spark, [None, 1]).collect()}
    assert got == {(1, 1.0), (None, 9.0)}
    # all-null probe list; and the fast path alone is unchanged
    assert {(r["pk"], r["val"])
            for r in t.read_keys(spark, [None]).collect()} == {(None, 9.0)}
    assert {(r["pk"], r["val"])
            for r in t.read_keys(spark, [2]).collect()} == {(2, 2.0)}
