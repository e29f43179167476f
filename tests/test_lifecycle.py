"""End-to-end table lifecycle: every KeyedTable operation in one story,
with state checked after each step — the integration counterpart to the
per-operation unit tests."""

from __future__ import annotations

import datetime
import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from hudi_glue_spark.table import KeyedTable, ingest


def _ts(day: int, hour: int = 0) -> datetime.datetime:
    return datetime.datetime(2026, 3, day, hour)


def test_full_lifecycle(spark, tmp_path):
    t = KeyedTable(
        str(tmp_path / "t"), key="id", precombine="ts", partition_by="grp"
    )

    # 1. initial load
    load = spark.createDataFrame(
        [Row(id=i, grp=f"g{i % 2}", amount=float(i), ts=_ts(1, i % 24))
         for i in range(100)]
    )
    ingest(t, load)
    assert t.read(spark).count() == 100

    # 2. incremental upsert: update half, insert 10 new
    upd = spark.createDataFrame(
        [Row(id=i, grp=f"g{i % 2}", amount=float(i) + 1000, ts=_ts(2))
         for i in range(0, 100, 2)]
        + [Row(id=100 + i, grp="g0", amount=0.0, ts=_ts(2)) for i in range(10)]
    )
    ingest(t, upd)
    snap = t.read(spark)
    assert snap.count() == 110
    assert snap.filter("amount >= 1000").count() == 50

    # 3. MERGE: delete big amounts, update the rest of the touched keys
    src = spark.createDataFrame(
        [Row(id=i, grp=f"g{i % 2}", amount=-1.0, ts=_ts(3)) for i in range(20)]
    )
    t.merge_into(src, delete_condition="target.amount >= 1000")
    snap = t.read(spark)
    assert snap.count() == 100  # 10 deleted (even ids < 20 had amount>=1000)
    assert snap.filter("amount = -1.0").count() == 10  # odd ids < 20 updated

    # 4. predicate delete
    t.delete_where(spark, "id >= 100")
    assert t.read(spark).count() == 90

    # 5. CDC across the whole story so far
    changes = t.diff_commits(spark, t.commits()[0])
    kinds = {r["_change_type"] for r in changes.collect()}
    assert kinds == {"update", "delete"}

    # 6. clustered compaction + clean, then external registration
    t.optimize(spark, target_file_mb=64, small_file_mb=10, sort_by=["ts"])
    assert t.read(spark).count() == 90
    t.clean(retain_commits=1)
    t.register_external(spark, "lifecycle_ext")
    try:
        assert spark.table("lifecycle_ext").count() == 90
    finally:
        t.unregister_external(spark, "lifecycle_ext")

    # 7. content sanity at the end of the story
    final = {r["id"]: r["amount"] for r in t.read(spark).collect()}
    assert final[1] == -1.0          # merged update
    assert final[21] == 21.0         # untouched original
    assert 0 not in final            # merge-deleted
    assert 100 not in final          # predicate-deleted
    # range read agrees with a plain filter
    lo, hi = _ts(2), _ts(3)
    a = {r["id"] for r in t.read_range(spark, "ts", lo, hi).collect()}
    b = {
        r["id"]
        for r in t.read(spark)
        .filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
        .collect()
    }
    assert a == b


def test_concurrent_writers_exactly_one_commit_wins(tmp_path):
    """Optimistic-concurrency publish: two writers race the SAME commit
    id through the hard-link publish (manifest.write_manifest). Exactly
    one link succeeds — whatever the interleaving, so no sleeps — the
    other gets ConcurrentCommitError and retries cleanly with the next
    id. Both manifests end up published, ids strictly ordered."""
    import threading

    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "t")

    def mk(commit_id: str, tag: str) -> M.Manifest:
        return M.Manifest(
            commit_id=commit_id,
            op=f"bulk_insert_{tag}",
            ts=M.utc_now_iso(),
            files=[],
            schema_json='{"type":"struct","fields":[]}',
        )

    barrier = threading.Barrier(2)
    results: dict[str, str] = {}

    def writer(tag: str) -> None:
        cid = M.next_commit_id(root)  # both observe the same next id
        barrier.wait()
        try:
            M.write_manifest(root, mk(cid, tag))
            results[tag] = f"won:{cid}"
        except M.ConcurrentCommitError:
            retry = M.next_commit_id(root)  # loser sees the winner's id
            M.write_manifest(root, mk(retry, tag))
            results[tag] = f"retried:{retry}"

    threads = [threading.Thread(target=writer, args=(t,)) for t in ("a", "b")]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    outcomes = sorted(v.split(":")[0] for v in results.values())
    assert outcomes == ["retried", "won"], results
    assert M.list_commit_ids(root) == ["00000001", "00000002"]
    ops = {M.read_manifest(root, c).op for c in ["00000001", "00000002"]}
    assert ops == {"bulk_insert_a", "bulk_insert_b"}


def test_torn_write_invisible_to_readers(spark, tmp_path):
    """Crash consistency: a writer that dies AFTER moving data files but
    BEFORE publishing its manifest leaves readers untouched — reads are
    manifest-exact, never directory listings. validate() reports the
    orphan as cleanable and clean() removes it."""
    import os
    import shutil

    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(
        str(tmp_path / "t"), key="id", precombine="ts", partition_by="grp"
    )
    ingest(t, spark.createDataFrame(
        [Row(id=i, grp=f"g{i % 2}", amount=float(i), ts=_ts(1))
         for i in range(50)]
    ))
    before = {(r.id, r.amount) for r in t.read(spark).collect()}

    # simulate the torn write: stage a data file under a commit id that
    # never published (copy an existing file — content is irrelevant,
    # only that it sits in the data dir unreferenced)
    ddir = M.data_dir(t.path)
    src = os.path.join(ddir, M.read_manifest(t.path).files[0])
    torn = os.path.join(os.path.dirname(src), "99999999-00000.parquet")
    shutil.copyfile(src, torn)

    # readers trust the manifest: snapshot identical, torn file invisible
    assert {(r.id, r.amount) for r in t.read(spark).collect()} == before
    problems = t.validate()
    assert any("orphan" in p and "99999999-00000" in p for p in problems)

    # the cleaner physically removes what no retained manifest references
    t.clean(retain_commits=10)
    assert not os.path.exists(torn)
    assert t.validate() == []
    assert {(r.id, r.amount) for r in t.read(spark).collect()} == before


def test_upsert_with_retry_rereads_rival_snapshot(spark, tmp_path, monkeypatch):
    """A writer losing the commit race must re-run the WHOLE merge
    against the rival's head (the rival may have touched the same
    keys), and the failed attempt's staged files stay orphaned —
    flagged by validate(), reclaimed by clean(), never read."""
    from pyspark.sql import Row

    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "race")
    t = KeyedTable(root, key="pk", precombine="v")
    t.bulk_insert(
        spark.createDataFrame([Row(pk=1, v=1.0), Row(pk=2, v=1.0)])
    )
    base = M.read_manifest(root)

    orig = M.write_manifest
    fired = {}

    def rival_once(r, man, **kw):
        if r == root and man.op == "upsert" and not fired:
            fired["x"] = 1
            # a concurrent writer claims this commit id first with a
            # metadata-only commit carrying the same live files
            orig(
                r,
                M.Manifest(
                    commit_id=man.commit_id,
                    op="rival_noop",
                    ts=M.utc_now_iso(),
                    files=base.files,
                    schema_json=base.schema_json,
                    stats={"rows_written": 0},
                ),
            )
        return orig(r, man, **kw)

    monkeypatch.setattr(M, "write_manifest", rival_once)
    t.upsert_with_retry(spark.createDataFrame([Row(pk=2, v=9.0), Row(pk=3, v=3.0)]))

    ops = [M.read_manifest(root, c).op for c in t.commits()]
    assert ops == ["bulk_insert", "rival_noop", "upsert"]
    got = {r.pk: r.v for r in t.read(spark).collect()}
    assert got == {1: 1.0, 2: 9.0, 3: 3.0}
    # the losing attempt's staged files are orphans until clean()
    monkeypatch.setattr(M, "write_manifest", orig)
    orphans = [p for p in t.validate() if "orphan file" in p]
    assert orphans
    t.clean(retain_commits=1)
    assert [p for p in t.validate() if "orphan" in p] == []
    assert {r.pk for r in t.read(spark).collect()} == {1, 2, 3}


def test_upsert_with_retry_backs_off_between_attempts(
    spark, tmp_path, monkeypatch
):
    """r15 (long-horizon soak, seed 22): immediate retry after a lost
    OCC race livelocks a slow merge against fast rivals — the retry
    loop must sleep a jittered, capped, GROWING backoff between
    attempts, and backoff_s=0 must restore immediate retry."""
    import time as _time

    from pyspark.sql import Row

    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "backoff")
    t = KeyedTable(root, key="pk", precombine="v")
    t.bulk_insert(spark.createDataFrame([Row(pk=1, v=1.0)]))

    fails = {"n": 0}
    orig_upsert = KeyedTable.upsert

    def flaky(self, batch, **kw):
        if fails["n"] < 3:
            fails["n"] += 1
            raise M.ConcurrentCommitError("simulated lost race")
        return orig_upsert(self, batch, **kw)

    # intercept the jitter draw, not time.sleep (Spark's own internals
    # sleep constantly); returning 0 keeps the test instant
    import random as _random

    draws: list[tuple[float, float]] = []
    orig_uniform = _random.uniform

    def spy_uniform(a, b):
        draws.append((a, b))
        return 0.0

    monkeypatch.setattr(KeyedTable, "upsert", flaky)
    monkeypatch.setattr(_random, "uniform", spy_uniform)
    t.upsert_with_retry(
        spark.createDataFrame([Row(pk=1, v=2.0)]), retries=5
    )
    monkeypatch.setattr(_random, "uniform", orig_uniform)
    assert len(draws) == 3  # one backoff draw per lost race
    # jittered exponential bounds: base*2^attempt, capped at 2.0
    assert [b for _, b in draws] == [0.05, 0.1, 0.2]
    # backoff_s=0 → immediate retry, zero draws
    fails["n"] = 0
    draws.clear()
    monkeypatch.setattr(_random, "uniform", spy_uniform)
    t.upsert_with_retry(
        spark.createDataFrame([Row(pk=1, v=3.0)]),
        retries=5,
        backoff_s=0,
    )
    assert draws == []
    assert {r.pk: r.v for r in t.read(spark).collect()} == {1: 3.0}


def test_rival_commit_during_merge_window_detected(spark, tmp_path, monkeypatch):
    """The lost-update guard: a rival that publishes BETWEEN the
    writer's snapshot read and its publish must surface as
    ConcurrentCommitError (writer publishes under the PLANNED child id,
    which the rival has taken) — never be silently clobbered out of
    the next snapshot. The retry then re-merges against the rival's
    head, so the rival's rows survive."""
    from pyspark.sql import Row

    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "racewin")
    t = KeyedTable(root, key="pk", precombine="v")
    t.bulk_insert(spark.createDataFrame([Row(pk=1, v=1.0)]))

    orig = KeyedTable._write_files
    fired = {}

    def write_with_rival(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if self.path == root and not fired:
            fired["x"] = 1
            # rival: a full writer that read the SAME head and
            # publishes first (adds pk=99)
            rival = KeyedTable(root, key="pk", precombine="v")
            monkeypatch.setattr(KeyedTable, "_write_files", orig)
            try:
                rival.upsert(spark.createDataFrame([Row(pk=99, v=9.0)]))
            finally:
                monkeypatch.setattr(KeyedTable, "_write_files", write_with_rival)
        return out

    monkeypatch.setattr(KeyedTable, "_write_files", write_with_rival)
    t.upsert_with_retry(spark.createDataFrame([Row(pk=2, v=2.0)]))
    monkeypatch.setattr(KeyedTable, "_write_files", orig)

    # BOTH writers' rows present — the rival was not clobbered
    got = {r.pk: r.v for r in t.read(spark).collect()}
    assert got == {1: 1.0, 2: 2.0, 99: 9.0}
    ops = [M.read_manifest(root, c).op for c in t.commits()]
    assert ops.count("upsert") == 2
    t.clean(retain_commits=1)
    assert t.validate() == []


def test_clean_plan_blocks_shard_reuse(spark, tmp_path):
    """Once a clean plan is published, write_manifest must not reuse a
    shard the plan claims — the cleaner may unlink it between the
    writer's selection and its publish. The writer re-serializes those
    files' stats into fresh shards instead."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "noreuse")
    t = KeyedTable(root, key="id", precombine="ts", partition_by="grp")
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 4}", ts=_ts(1)) for i in range(40)]
        )
    )
    head = M.read_manifest(root)
    claimed = list(head.shards or [])
    assert claimed, "expected sharded manifest"
    # plan claiming every current shard (as if they were all aging out)
    M.write_clean_plan(
        root,
        {"planned_at": M.utc_now_iso(), "drop": [], "files": [],
         "shards": claimed},
    )
    try:
        t.upsert(
            spark.createDataFrame([Row(id=0, grp="g0", ts=_ts(2))])
        )
        new_head = M.read_manifest(root)
        assert not set(new_head.shards or []) & set(claimed)
        # and the snapshot is fully readable with correct content
        assert t.read(spark).count() == 40
    finally:
        M.clear_clean_plan(root)


def test_clean_plan_survives_vanishing_staging_file(
    spark, tmp_path, monkeypatch
):
    """r15 soak seed 88: _plan_clean listed a rival writer's manifest
    .tmp staging file, then the rival's os.replace removed the name
    before the planner's getmtime — FileNotFoundError crashed
    run_maintenance mid-walk. A vanished file is not an orphan the
    plan may claim: planning must skip it and proceed."""
    import os as _os

    from hudi_glue_spark.table import KeyedTable

    root = str(tmp_path / "vanish")
    t = KeyedTable(root, key="id", precombine="ts", partition_by="grp")
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 2}", ts=_ts(1)) for i in range(8)]
        )
    )
    t.upsert(spark.createDataFrame([Row(id=0, grp="g0", ts=_ts(2))]))
    # the deterministic twin of the race: the listing sees a name that
    # no longer exists by stat time
    real_listdir = _os.listdir

    def phantom_listdir(path=None):
        names = real_listdir(path)
        if str(path).endswith("_manifests"):
            names = list(names) + ["tmpphantom123.tmp"]
        return names

    monkeypatch.setattr(_os, "listdir", phantom_listdir)
    removed = t.clean(retain_commits=1, orphan_grace_s=300.0)
    monkeypatch.undo()
    assert not any("tmpphantom" in r for r in removed)
    assert t.read(spark).count() == 8  # snapshot intact


def test_clean_race_writer_reference_unclaimed_at_execute(spark, tmp_path):
    """A writer that selected a reuse shard BEFORE the plan became
    visible and published after it: execution's re-check sees the new
    commit referencing the claimed shard and must NOT delete it — the
    racing writer's snapshot stays readable."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "racewin2")
    t = KeyedTable(root, key="id", precombine="ts", partition_by="grp")
    for day in (1, 2, 3):
        t.upsert(
            spark.createDataFrame(
                [Row(id=i, grp=f"g{i % 2}", ts=_ts(day)) for i in range(20)]
            )
        )
    # plan: retain only the head commit
    plan = t._plan_clean(retain_commits=1, orphan_grace_s=0.0)
    assert plan is not None and plan["drop"]
    M.write_clean_plan(root, plan)
    # rival writer publishes a manifest that reuses a CLAIMED shard
    # (simulating selection completed before the plan appeared)
    head = M.read_manifest(root)
    dropped_man = M.read_manifest(root, plan["drop"][0])
    racing_shard = next(
        (s for s in (dropped_man.shards or []) if s in set(plan["shards"])),
        None,
    )
    if racing_shard is None:
        # every dropped shard also referenced by head — claim is empty
        # for shards; nothing to race on. Still execute + validate.
        t.clean(retain_commits=1)
        assert t.validate() == []
        return
    rival_files = sorted(
        set(head.files) | set(M.shard_file_set(root, racing_shard))
    )
    rival = M.Manifest(
        commit_id=M.next_commit_id(root),
        op="rival_reuse",
        ts=M.utc_now_iso(),
        files=rival_files,
        schema_json=head.schema_json,
        stats={"rows_written": 0, "partition_by": ["grp"]},
    )
    rival.shards = sorted(set(head.shards or []) | {racing_shard})
    rival._files = rival_files
    rival._n_files = len(rival_files)
    rival.root = root
    M.write_manifest(root, rival)
    # resume the published plan: the racing shard — and every data file
    # the rival's live commit references — must survive execution
    t.clean(retain_commits=1)
    assert os.path.isfile(os.path.join(M.manifests_dir(root), racing_shard))
    ddir = M.data_dir(root)
    for f in rival_files:
        assert os.path.isfile(os.path.join(ddir, f)), f
    assert t.read(spark).count() >= 20  # snapshot fully readable
    missing = [p for p in t.validate() if "missing" in p]
    assert missing == []


def test_clean_crash_replay_reentrant(spark, tmp_path):
    """A clean that crashes mid-execution leaves its plan behind; the
    next clean() RESUMES that plan (idempotent unlinks) and the table
    stays sound throughout — no retained commit ever references a
    deleted file."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "crashclean")
    t = KeyedTable(root, key="id", precombine="ts", partition_by="grp")
    for day in (1, 2, 3, 4):
        t.upsert(
            spark.createDataFrame(
                [Row(id=i, grp=f"g{i % 2}", ts=_ts(day), v=float(day))
                 for i in range(20)]
            )
        )
    plan = t._plan_clean(retain_commits=1, orphan_grace_s=0.0)
    assert plan is not None and plan["drop"]
    M.write_clean_plan(root, plan)
    # derive the claimed data files the way execution does (the plan
    # itself lists only orphans — dropped-commit claims are derived
    # from the still-present manifests)
    head_files = set(M.read_manifest(root).files)
    claimed = sorted(
        {
            f
            for c in plan["drop"]
            for f in M.read_manifest(root, c).files
            if f not in head_files
        }
    ) + list(plan.get("orphans", []))
    assert claimed
    # simulated crash #1 (file phase): half the claimed files are
    # gone, all commit JSONs and the plan remain — the only file-vs-
    # JSON state a real crash can leave, because execution deletes
    # files BEFORE commit JSONs (the derived-claims invariant)
    ddir = M.data_dir(root)
    for rel in claimed[: max(1, len(claimed) // 2)]:
        os.unlink(os.path.join(ddir, rel))
    # mid-crash: snapshot still readable; only PLANNED-DROP commits may
    # reference the already-deleted files — every surviving commit's
    # references are intact
    assert t.read(spark).count() == 20
    broken = [
        p
        for p in t.validate()
        if "missing file" in p
        and not any(f"commit {c}:" in p for c in plan["drop"])
    ]
    assert broken == []
    # resume — different args are IGNORED while a plan is pending
    t.clean(retain_commits=99)
    assert M.read_clean_plan(root) is None
    assert t.commits() == [
        c for c in t.commits() if c not in set(plan["drop"])
    ]
    assert t.read(spark).count() == 20
    assert t.validate() == []

    # simulated crash #2 (commit-JSON phase): every claimed file is
    # already gone and ONE dropped commit's JSON was unlinked before
    # the crash — replay drops the remaining JSONs and shards
    for day in (5, 6, 7):
        t.upsert(
            spark.createDataFrame(
                [Row(id=i, grp=f"g{i % 2}", ts=_ts(day), v=float(day))
                 for i in range(20)]
            )
        )
    plan2 = t._plan_clean(retain_commits=1, orphan_grace_s=0.0)
    assert plan2 is not None and len(plan2["drop"]) >= 2
    M.write_clean_plan(root, plan2)
    head_files2 = set(M.read_manifest(root).files)
    claimed2 = {
        f
        for c in plan2["drop"]
        for f in M.read_manifest(root, c).files
        if f not in head_files2
    }
    for rel in sorted(claimed2):
        p = os.path.join(ddir, rel)
        if os.path.exists(p):
            os.unlink(p)
    os.unlink(
        os.path.join(M.commits_dir(root), plan2["drop"][0] + ".json")
    )
    t.clean(retain_commits=99)
    assert M.read_clean_plan(root) is None
    assert t.read(spark).count() == 20
    assert t.validate() == []


def test_savepoint_after_plan_pins_commit(spark, tmp_path):
    """A savepoint taken between plan publication and execution wins:
    the planned-drop commit survives execution (re-checked against
    savepoints at delete time)."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "spwin")
    t = KeyedTable(root, key="id", precombine="ts")
    for day in (1, 2, 3):
        t.upsert(
            spark.createDataFrame([Row(id=i, ts=_ts(day)) for i in range(5)])
        )
    plan = t._plan_clean(retain_commits=1, orphan_grace_s=0.0)
    M.write_clean_plan(root, plan)
    pinned = plan["drop"][0]
    t.savepoint(pinned)
    t.clean(retain_commits=1)
    assert pinned in t.commits()
    assert t.read(spark, at=pinned).count() == 5


def test_retry_adopts_rival_partition_layout(spark, tmp_path, monkeypatch):
    """A rival change_partitioning landing between a writer's attempts
    must not leave the retry scoping partition rewrites against the old
    layout: upsert re-reads the head manifest's partition_by before
    scoping (``_refresh_layout``), so the merged table holds no
    duplicate keys and lands in the NEW layout."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "layoutrace")
    t = KeyedTable(root, key="id", precombine="ts", partition_by="grp")
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 2}", region=f"r{i % 3}", ts=_ts(1))
             for i in range(30)]
        )
    )

    orig = KeyedTable._write_files
    fired = {}

    def write_with_rival(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if self.path == root and not fired:
            fired["x"] = 1
            rival = KeyedTable.load(root)
            monkeypatch.setattr(KeyedTable, "_write_files", orig)
            try:
                rival.change_partitioning(spark, "region")
            finally:
                monkeypatch.setattr(
                    KeyedTable, "_write_files", write_with_rival
                )
        return out

    monkeypatch.setattr(KeyedTable, "_write_files", write_with_rival)
    t.upsert_with_retry(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 2}", region=f"r{i % 3}", ts=_ts(2))
             for i in range(25, 35)]
        )
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)

    snap = t.read(spark)
    assert snap.count() == 35
    # no duplicate keys — the mis-scoped-rewrite hazard
    assert snap.select("id").distinct().count() == 35
    # retry adopted the rival's layout: new files live under region=
    man = M.read_manifest(root)
    assert (man.stats or {}).get("partition_by") == ["region"]
    assert t.partition_by == ["region"]
    assert all(f.startswith("region=") for f in man.files)
    # the lost attempt's staged files are orphans until clean()
    t.clean(retain_commits=1)
    assert t.validate() == []


import pytest as _pytest


@_pytest.mark.parametrize("seed", [7, 23])
def test_multi_writer_randomized_serializability(
    spark, tmp_path, seed, monkeypatch
):
    """≥4 concurrent writers (upsert_with_retry) racing each other plus
    an interleaved maintenance service running the COMPOSED policy loop
    (run_maintenance: advisor → scoped optimize → staleness-gated
    re-cluster → plan-published clean; VERDICT r7 #6), plus (r8) a
    DELETION-VECTOR writer doing merge-on-read DML (upsert_dv +
    delete_dv, whole-op retry on lost races — DV commits never rebase)
    on its own key range: the final snapshot is a serializable outcome
    — every writer's final batch survives in full, the DV writer's
    deletes hold and survivors carry its last values, no duplicate
    keys, validate() sound. Randomized interleaving under two seeds.

    (r10) The table also carries a RECORD INDEX whose registrations
    are forced to PACK (REG_SPILL_BYTES=0), so every commit of the
    walk exercises the sidecar pointer under OCC rebase-drops,
    maintenance rebuilds, and clean GC; the quiesced index — when the
    last rebuild won the race — must still be a pruning superset."""
    import random
    import threading

    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M2
    from hudi_glue_spark.table import record_index as RI

    monkeypatch.setattr(RI, "REG_SPILL_BYTES", 0)
    root = str(tmp_path / "nwriters")
    # seed 23 runs with the r11 write-time change log ON: rebased
    # upserts carry their recorded deltas, the CDF consumer drains
    # "chlog" slices mid-churn, and cdf_net == final count proves
    # them exact over the interleaving
    t0 = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        change_log=(seed == 23),
    )
    t0.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 3}", v=0.0, ts=_ts(1)) for i in range(60)]
        )
    )
    t0.build_record_index(spark)

    N, BATCHES = 4, 3
    errors: list[Exception] = []

    def writer(w: int):
        rng = random.Random(1000 * seed + w)
        try:
            t = KeyedTable.load(root)
            for b in range(BATCHES):
                batch = spark.createDataFrame(
                    [
                        Row(
                            id=1000 * (w + 1) + i,
                            grp=f"g{i % 3}",
                            v=float(b),
                            ts=_ts(2, b),
                        )
                        for i in range(15)
                    ]
                )
                t.upsert_with_retry(batch, retries=30)
                if rng.random() < 0.5:
                    threading.Event().wait(rng.random() * 0.2)
        except Exception as e:  # surfaced after join
            import traceback
            errors.append(traceback.format_exc() or str(e))

    def service():
        rng = random.Random(99 * seed)
        try:
            t = KeyedTable.load(root)
            for _ in range(2):
                threading.Event().wait(0.5 + rng.random())
                # the composed per-table service pass, against live
                # writers: advisor-scoped optimize (OCC-raced), IVF
                # staleness check, plan-published clean
                t.run_maintenance(
                    spark,
                    retain_commits=5,
                    target_file_mb=64,
                    small_file_mb=32,
                    target_rows_per_file=20,
                    orphan_grace_s=300.0,
                )
        except Exception as e:
            import traceback
            errors.append(traceback.format_exc() or str(e))

    def dv_writer():
        """Merge-on-read DML under concurrency: keys 9000..9014 are
        this writer's alone, so whole-op retries on lost commit races
        converge to its serial outcome."""
        rng = random.Random(7 * seed)

        def with_retry(fn):
            for _ in range(30):
                try:
                    return fn()
                except M2.ConcurrentCommitError:
                    continue
            raise AssertionError("dv op starved")

        try:
            t = KeyedTable.load(root)
            for b in range(BATCHES):
                batch = spark.createDataFrame(
                    [
                        Row(id=9000 + i, grp=f"g{i % 3}", v=float(b),
                            ts=_ts(2, b))
                        for i in range(15)
                    ]
                )
                with_retry(lambda: t.upsert_dv(batch))
                if rng.random() < 0.5:
                    threading.Event().wait(rng.random() * 0.2)
            with_retry(lambda: t.delete_dv([9000, 9001, 9002]))
        except Exception as e:
            import traceback
            errors.append(traceback.format_exc() or str(e))

    # (r9) a CDF stream consumer tails the commit log WHILE the
    # writers/maintenance race: the per-commit retraction deltas must
    # sum to the final state over ANY interleaving. Retention breaches
    # (clean() aging its offset out, or racing a plan) surface as
    # errors and the consumer restarts from earliest — the documented
    # consumer contract.
    import shutil as _sh

    from hudi_glue_spark.streaming.table_source import stream_changes

    cdf_net = {"n": 0}
    ckdir = str(tmp_path / "walk_ck")

    def cdf_drain():
        for _attempt in range(5):
            try:
                t = KeyedTable.load(root)

                # accumulate PER BATCH: the checkpoint advances batch
                # by batch, so a deferred sum would drop the deltas of
                # batches committed before a mid-drain failure
                def _apply(b, _bid):
                    r = b.selectExpr(
                        "sum(case when _change_type='insert' "
                        "then 1 else -1 end) d"
                    ).first()
                    cdf_net["n"] += r["d"] or 0

                q = (
                    stream_changes(spark, t, mode="cdf")
                    .writeStream.foreachBatch(_apply)
                    .option("checkpointLocation", ckdir)
                    .trigger(availableNow=True)
                    .start()
                )
                assert q.awaitTermination(240)
                return
            except Exception as e:  # noqa: BLE001 — retention race
                if "aged out" not in str(e):
                    raise
                _sh.rmtree(ckdir, ignore_errors=True)
                cdf_net["n"] = 0  # restart from earliest, from scratch

    def cdf_consumer():
        try:
            for _ in range(2):
                threading.Event().wait(0.8)
                cdf_drain()
        except Exception as e:
            import traceback
            errors.append(traceback.format_exc() or str(e))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(N)]
    threads.append(threading.Thread(target=service))
    threads.append(threading.Thread(target=dv_writer))
    threads.append(threading.Thread(target=cdf_consumer))
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == [], errors
    # final catch-up drain, then the maintained count must equal the
    # quiesced table exactly
    cdf_drain()

    t = KeyedTable.load(root)
    snap = t.read(spark)
    rows = {r.id: r.v for r in snap.collect()}
    # every writer's keys present with the LAST batch's value
    for w in range(N):
        for i in range(15):
            assert rows[1000 * (w + 1) + i] == float(BATCHES - 1), (w, i)
    # the DV writer's deletes hold; its survivors carry the last batch
    assert not {9000, 9001, 9002} & set(rows)
    for i in range(3, 15):
        assert rows[9000 + i] == float(BATCHES - 1), i
    # base rows survive, no duplicates
    assert len(rows) == 60 + N * 15 + 12
    assert snap.count() == snap.select("id").distinct().count()
    assert snap.count() == t.count_rows_metadata()
    assert cdf_net["n"] == snap.count()  # CDF deltas sum to the state
    # packed-registration soundness after the chaos: if an index is
    # registered at quiesce (rebases drop it; maintenance rebuilds),
    # its pointer resolves and lookups stay pruning supersets
    reg = t.record_index_info()
    if reg is not None:
        assert reg["base"]  # pointer resolved to materialized maps
        probe = [1000 * (1) + 3, 9007]
        hosts = t.files_hosting_keys(spark, probe)
        got = {
            r["id"]
            for r in t.read_keys(spark, probe).select("id").collect()
        }
        assert got == set(probe)
        assert hosts is not None and hosts
    # final clean from a quiesced table leaves it sound
    t.clean(retain_commits=2)
    assert t.validate() == []


def test_rival_dv_delete_between_plan_and_publish_not_clobbered(
    spark, tmp_path, monkeypatch
):
    """The r10 plan/publish pinning fix, regression-locked: every CoW
    rewrite used to read the snapshot FIRST and the head manifest
    AGAIN at publish time — a rival landing in that window (here a
    delete_dv, injected deterministically right after the victim's
    snapshot read) had its commit id built upon WITHOUT a conflict:
    its masks were never read and its deleted rows came back in the
    rewrite output (found by the randomized walk, seed 7). With plan
    and child-id pinned to ONE manifest, the publish collides, the
    retry re-merges at the new head, and the delete HOLDS."""
    from hudi_glue_spark.table import KeyedTable

    root = str(tmp_path / "dvwindow")
    t = KeyedTable(root, key="id", precombine="ts", partition_by="grp")
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 3}", v=0.0, ts=_ts(1)) for i in range(30)]
        )
    )
    fired: dict = {}
    orig_read = KeyedTable.read

    def read_with_rival(self, spark_, *a, **kw):
        out = orig_read(self, spark_, *a, **kw)
        if self.path == root and "x" not in fired:
            fired["x"] = 1
            monkeypatch.setattr(KeyedTable, "read", orig_read)
            try:
                KeyedTable.load(root).delete_dv([5])
            finally:
                monkeypatch.setattr(KeyedTable, "read", read_with_rival)
        return out

    monkeypatch.setattr(KeyedTable, "read", read_with_rival)
    t.upsert_with_retry(
        spark.createDataFrame(
            [
                Row(id=100 + i, grp=f"g{i % 3}", v=1.0, ts=_ts(2))
                for i in range(9)
            ]
        )
    )
    monkeypatch.setattr(KeyedTable, "read", orig_read)
    assert fired, "rival never injected — the hook went dead"
    snap = t.read(spark)
    assert snap.filter("id = 5").count() == 0  # the rival delete HOLDS
    assert snap.filter("id >= 100").count() == 9
    assert snap.count() == 29 + 9
    assert t.count_rows_metadata() == 38
    assert [p for p in t.validate() if "cleanable" not in p] == []


def _rival_during_write(monkeypatch, spark, root, rival_batch):
    """Monkeypatch _write_files so a rival KeyedTable writer publishes
    between the victim's snapshot read and its publish."""
    from hudi_glue_spark.table import KeyedTable

    orig = KeyedTable._write_files
    fired = {}

    def write_with_rival(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if self.path == root and not fired:
            fired["x"] = 1
            rival = KeyedTable.load(root)
            monkeypatch.setattr(KeyedTable, "_write_files", orig)
            try:
                rival.upsert(rival_batch)
            finally:
                monkeypatch.setattr(
                    KeyedTable, "_write_files", write_with_rival
                )
        return out

    monkeypatch.setattr(KeyedTable, "_write_files", write_with_rival)
    return orig


def test_disjoint_rival_rebases_without_remerge(spark, tmp_path, monkeypatch):
    """key_scope='partition' + rival touching a DISJOINT partition: the
    losing writer re-publishes its staged files against the rival's
    head (stats carry rebased_onto) instead of re-running the merge —
    both writers' rows land, no duplicates, validate() sound."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "rebase")
    t = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        key_scope="partition",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 4}", v=0.0, ts=_ts(1)) for i in range(40)]
        )
    )
    rival_batch = spark.createDataFrame(
        [Row(id=100 + i, grp="g1", v=9.0, ts=_ts(2)) for i in range(5)]
    )
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    # victim upserts ONLY g0 — disjoint from the rival's g1
    t.upsert_with_retry(
        spark.createDataFrame(
            [Row(id=200 + i, grp="g0", v=5.0, ts=_ts(2)) for i in range(5)]
        )
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)

    head = M.read_manifest(root)
    assert head.op == "upsert"
    assert "rebased_onto" in (head.stats or {}), "expected rebase path"
    got = {r.id for r in t.read(spark).collect()}
    assert got == set(range(40)) | {100 + i for i in range(5)} | {
        200 + i for i in range(5)
    }
    snap = t.read(spark)
    assert snap.count() == snap.select("id").distinct().count()
    t.clean(retain_commits=1)
    assert t.validate() == []


def test_overlapping_rival_forces_full_remerge(spark, tmp_path, monkeypatch):
    """Same interleaving but the rival touches the SAME partition: the
    rebase must refuse (conflicting base rows) and the retry re-merges,
    so the precombine policy resolves the key both writers touched."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "remerge")
    t = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        key_scope="partition",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 2}", v=0.0, ts=_ts(1)) for i in range(10)]
        )
    )
    # rival updates id=0 in g0 with a NEWER ts
    rival_batch = spark.createDataFrame([Row(id=0, grp="g0", v=7.0, ts=_ts(5))])
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    # victim updates the same id=0 with an OLDER ts — must lose
    t.upsert_with_retry(
        spark.createDataFrame([Row(id=0, grp="g0", v=3.0, ts=_ts(3))])
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)

    head = M.read_manifest(root)
    assert "rebased_onto" not in (head.stats or {})
    got = {r.id: r.v for r in t.read(spark).collect()}
    assert got[0] == 7.0  # newest event time survived the re-merge
    assert len(got) == 10
    t.clean(retain_commits=1)  # reclaim the lost attempt's staged files
    assert t.validate() == []


def test_global_key_scope_never_rebases(spark, tmp_path, monkeypatch):
    """GLOBAL key scope: even a partition-disjoint rival forces the
    full re-merge — a rival may have inserted this writer's key in
    another partition, which only the re-merge can detect. (Here the
    rival does exactly that: same key, different partition.)"""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "globalscope")
    t = KeyedTable(root, key="id", precombine="ts", partition_by="grp")
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 2}", v=0.0, ts=_ts(1)) for i in range(10)]
        )
    )
    # rival inserts NEW key 500 into g1
    rival_batch = spark.createDataFrame([Row(id=500, grp="g1", v=1.0, ts=_ts(2))])
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    # victim upserts the SAME key 500 into g0 with newer ts
    t.upsert_with_retry(
        spark.createDataFrame([Row(id=500, grp="g0", v=2.0, ts=_ts(3))])
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)

    head = M.read_manifest(root)
    assert "rebased_onto" not in (head.stats or {})
    rows = [r for r in t.read(spark).collect() if r.id == 500]
    # GLOBAL scope: exactly one survivor for the key, newest ts wins
    assert len(rows) == 1 and rows[0].v == 2.0
    t.clean(retain_commits=1)  # reclaim the lost attempt's staged files
    assert t.validate() == []


def test_schema_evolving_rival_forces_remerge(spark, tmp_path, monkeypatch):
    """A rival that evolves the schema (adds a column) — even in a
    DISJOINT partition — must block the rebase: re-publishing the
    victim's staged files would commit a schema missing the rival's
    column. The retry re-merges and the final schema carries both."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "schemarival")
    t = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        key_scope="partition",
    )
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 2}", v=0.0, ts=_ts(1)) for i in range(10)]
        )
    )
    rival_batch = spark.createDataFrame(
        [Row(id=100, grp="g1", v=1.0, ts=_ts(2), extra="new-col")]
    )
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    t.upsert_with_retry(
        spark.createDataFrame([Row(id=200, grp="g0", v=2.0, ts=_ts(2))])
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)

    head = M.read_manifest(root)
    assert "rebased_onto" not in (head.stats or {})
    snap = t.read(spark)
    assert "extra" in snap.columns  # rival's evolution survived
    got = {r.id: r["extra"] for r in snap.collect()}
    assert got[100] == "new-col" and got[200] is None
    assert len(got) == 12


def test_multi_writer_stress_with_rebase(spark, tmp_path):
    """The 4-writer randomized stress again, but on a
    key_scope='partition' table where each writer owns its own
    partition — the interleavings exercise the disjoint-commit REBASE
    path under true concurrency. Serializability must hold exactly as
    in the global variant: every writer's final batch survives, no
    duplicates, validate() sound."""
    import random
    import threading

    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "nwriters2")
    t0 = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        key_scope="partition",
    )
    t0.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"w{i % 4}", v=0.0, ts=_ts(1)) for i in range(40)]
        )
    )
    N, BATCHES = 4, 3
    errors: list[Exception] = []

    def writer(w: int):
        rng = random.Random(2000 + w)
        try:
            t = KeyedTable.load(root)
            t.key_scope = "partition"
            for b in range(BATCHES):
                batch = spark.createDataFrame(
                    [
                        Row(
                            id=1000 * (w + 1) + i,
                            grp=f"w{w}",  # each writer owns its partition
                            v=float(b),
                            ts=_ts(2, b),
                        )
                        for i in range(10)
                    ]
                )
                t.upsert_with_retry(batch, retries=30)
                if rng.random() < 0.5:
                    threading.Event().wait(rng.random() * 0.1)
        except Exception as e:
            import traceback
            errors.append(traceback.format_exc() or str(e))

    threads = [threading.Thread(target=writer, args=(w,)) for w in range(N)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    assert errors == [], errors

    t = KeyedTable.load(root)
    snap = t.read(spark)
    rows = {r.id: r.v for r in snap.collect()}
    for w in range(N):
        for i in range(10):
            assert rows[1000 * (w + 1) + i] == float(BATCHES - 1), (w, i)
    assert len(rows) == 40 + N * 10
    assert snap.count() == snap.select("id").distinct().count()
    rebased = sum(
        1
        for c in t.commits()
        if "rebased_onto" in (M.read_manifest(root, c).stats or {})
    )
    print(f"rebased commits: {rebased}")
    t.clean(retain_commits=1)
    assert t.validate() == []


def test_run_maintenance_policy_loop(spark, tmp_path):
    """run_maintenance composes the metadata-only advisors into one
    table-service pass: fragmented table → scoped optimize fires;
    second pass on a healthy table does nothing but clean; data
    byte-identical throughout; maintained IVF index triggers a
    re-cluster only when stale."""
    from hudi_glue_spark.table import KeyedTable

    root = str(tmp_path / "svc")
    t = KeyedTable(root, key="id", precombine="ts")
    df = spark.createDataFrame(
        [Row(id=i, v=float(i), ts=_ts(1)) for i in range(600)]
    )
    t.bulk_insert(df.repartition(16), dedupe=False)
    before = {(r.id, r.v) for r in t.read(spark).collect()}

    s1 = t.run_maintenance(
        spark, retain_commits=1, target_file_mb=1024,
        small_file_mb=1 << 20, target_rows_per_file=10_000_000,
    )
    assert "optimized" in s1, s1
    assert {(r.id, r.v) for r in t.read(spark).collect()} == before
    assert t.validate() == []

    # healthy table: second pass is a no-op except clean
    s2 = t.run_maintenance(
        spark, retain_commits=1, target_file_mb=1024,
        small_file_mb=1 << 20, target_rows_per_file=10_000_000,
    )
    assert "optimized" not in s2 and "reclustered" not in s2
    assert {(r.id, r.v) for r in t.read(spark).collect()} == before


def test_run_maintenance_reclusters_stale_index(spark, tmp_path):
    """run_maintenance fires the IVF re-cluster when (and only when)
    index_staleness recommends it, and the maintained search equals a
    fresh search afterwards."""
    import random

    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.operators import similarity as S

    rng = random.Random(5)
    t = KeyedTable(str(tmp_path / "svcidx"), key="pk", precombine="ts")
    t.bulk_insert(
        spark.createDataFrame(
            [Row(pk=i, ts=_ts(1),
                 embedding=[rng.uniform(-1, 1) for _ in range(8)])
             for i in range(64)]
        )
    )
    cents = S.ivf_centroids(t.read(spark), "pk", "embedding", n_centroids=4)
    t.build_ivf_index(spark, "embedding", centroids=cents)
    # maintaining upsert mixes cells in the rewritten files → stale
    t.upsert(
        spark.createDataFrame(
            [Row(pk=100 + i, ts=_ts(2),
                 embedding=[rng.uniform(-1, 1) for _ in range(8)])
             for i in range(8)]
        )
    )
    assert t.index_staleness()["recommend_recluster"] is True

    s = t.run_maintenance(spark, retain_commits=1)
    assert "reclustered" in s, s
    after = t.index_staleness()
    assert after["recommend_recluster"] is False
    assert t.read(spark).count() == 72
    assert t.validate() == []


def test_global_scope_rebases_when_key_ranges_disjoint(spark, tmp_path, monkeypatch):
    """GLOBAL key scope + key column in stats_cols: an OCC loser whose
    staged key span is provably disjoint from every file the rival
    added/removed rebases without re-merging — the metadata-only
    key-range proof."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "gkr")
    t = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        stats_cols=["ts", "id"],
    )
    # KEY-CLUSTERED layout: g0 holds ids 0-19, g1 holds 1000-1019 —
    # the shape where partition rewrites have provably disjoint key
    # ranges (any mod-interleaved layout would overlap and re-merge)
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp="g0", v=0.0, ts=_ts(1)) for i in range(20)]
            + [Row(id=1000 + i, grp="g1", v=0.0, ts=_ts(1))
               for i in range(20)]
        )
    )
    # rival inserts keys 5000+ into g1 (its rewritten files span
    # [1000, 5004]); victim keys 200+ into g0 (staged span [0, 204])
    rival_batch = spark.createDataFrame(
        [Row(id=5000 + i, grp="g1", v=9.0, ts=_ts(2)) for i in range(5)]
    )
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    t.upsert_with_retry(
        spark.createDataFrame(
            [Row(id=200 + i, grp="g0", v=5.0, ts=_ts(2)) for i in range(5)]
        )
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)

    head = M.read_manifest(root)
    assert "rebased_onto" in (head.stats or {}), "expected key-range rebase"
    got = {r.id for r in t.read(spark).collect()}
    assert got == set(range(20)) | {1000 + i for i in range(20)} | {
        5000 + i for i in range(5)
    } | {200 + i for i in range(5)}
    snap = t.read(spark)
    assert snap.count() == snap.select("id").distinct().count()
    t.clean(retain_commits=1)
    assert t.validate() == []


def test_global_scope_overlapping_key_span_remerges(spark, tmp_path, monkeypatch):
    """Same setup but the rival's inserted key falls INSIDE the
    victim's staged key span (it even inserts the same key in another
    partition): the proof fails and the full re-merge runs, leaving
    exactly one survivor for the contested key."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "gkr2")
    t = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        stats_cols=["ts", "id"],
    )
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 2}", v=0.0, ts=_ts(1)) for i in range(10)]
        )
    )
    rival_batch = spark.createDataFrame(
        [Row(id=500, grp="g1", v=1.0, ts=_ts(2))]
    )
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    t.upsert_with_retry(
        spark.createDataFrame([Row(id=500, grp="g0", v=2.0, ts=_ts(3))])
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)

    head = M.read_manifest(root)
    assert "rebased_onto" not in (head.stats or {})
    rows = [r for r in t.read(spark).collect() if r.id == 500]
    assert len(rows) == 1 and rows[0].v == 2.0
    t.clean(retain_commits=1)
    assert t.validate() == []


def test_global_scope_bloom_rebase_on_interleaved_keys(spark, tmp_path, monkeypatch):
    """GLOBAL scope + interleaved key layout (ranges overlap across
    partitions, so the range proof fails): the bloom proof probes the
    batch's keys against every rival-changed file's manifest bloom and
    rebases when none can hold them — and re-merges when the rival
    actually touches one of the batch's keys."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    def build(root):
        t = KeyedTable(
            root, key="id", precombine="ts", partition_by="grp",
            stats_cols=["ts", "id"], key_bloom=True,
        )
        # interleaved: evens in g0, odds in g1 — ranges overlap
        t.bulk_insert(
            spark.createDataFrame(
                [Row(id=i, grp=f"g{i % 2}", v=0.0, ts=_ts(1))
                 for i in range(40)]
            )
        )
        return t

    # disjoint keys: rival upserts odd ids in g1, victim new evens in g0
    root = str(tmp_path / "bloomreb")
    t = build(root)
    rival_batch = spark.createDataFrame(
        [Row(id=101, grp="g1", v=9.0, ts=_ts(2))]
    )
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    t.upsert_with_retry(
        spark.createDataFrame(
            [Row(id=200 + 2 * i, grp="g0", v=5.0, ts=_ts(2))
             for i in range(3)]
        )
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)
    head = M.read_manifest(root)
    assert "rebased_onto" in (head.stats or {}), "expected bloom rebase"
    got = {r.id for r in t.read(spark).collect()}
    assert got == set(range(40)) | {101, 200, 202, 204}
    snap = t.read(spark)
    assert snap.count() == snap.select("id").distinct().count()

    # colliding key: rival writes id=3 (g1) while victim's batch also
    # carries id=3 — bloom hit → full re-merge, newest ts wins
    root2 = str(tmp_path / "bloomreb2")
    t2 = build(root2)
    rb2 = spark.createDataFrame([Row(id=3, grp="g1", v=7.0, ts=_ts(5))])
    orig = _rival_during_write(monkeypatch, spark, root2, rb2)
    t2.upsert_with_retry(
        spark.createDataFrame([Row(id=3, grp="g1", v=1.0, ts=_ts(3))])
    )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)
    head2 = M.read_manifest(root2)
    assert "rebased_onto" not in (head2.stats or {})
    rows = [r for r in t2.read(spark).collect() if r.id == 3]
    assert len(rows) == 1 and rows[0].v == 7.0  # newest event time


def test_merge_into_delete_free_rebases_global(spark, tmp_path, monkeypatch):
    """VERDICT r7 #4: a delete-free merge_into that loses the commit
    race on a GLOBAL-key table rebases (stats carry rebased_onto) when
    the rival's changed files are key-provably disjoint from the
    SOURCE keys — and the result equals what a serial re-merge would
    produce."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "mergerebase")
    t = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        key_scope="global", stats_cols=["ts", "id"],
    )
    # key bands per partition so the SOURCE-key range proof can fire:
    # g1 holds low ids (0-19), g0 high ids (1000-1019)
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp="g1", v=0.0, ts=_ts(1)) for i in range(20)]
            + [Row(id=1000 + i, grp="g0", v=0.0, ts=_ts(1)) for i in range(20)]
        )
    )
    # rival inserts ids 100-104 into g1 (disjoint partition; the whole
    # rewritten g1 stays in the low band)
    rival_batch = spark.createDataFrame(
        [Row(id=100 + i, grp="g1", v=9.0, ts=_ts(2)) for i in range(5)]
    )
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    # victim merges into g0 only: update two existing keys, insert one
    # new one, and carry one source row whose insert condition FAILS
    # (id=2900, v<0) — the staged files omit it, the proof must not
    source = spark.createDataFrame(
        [
            Row(id=1000, grp="g0", v=5.0, ts=_ts(3)),
            Row(id=1004, grp="g0", v=6.0, ts=_ts(3)),
            Row(id=2000, grp="g0", v=7.0, ts=_ts(3)),
            Row(id=2900, grp="g0", v=-1.0, ts=_ts(3)),
        ]
    )
    t.merge_into(source, insert_condition="source.v > 0")
    monkeypatch.setattr(KeyedTable, "_write_files", orig)

    head = M.read_manifest(root)
    assert head.op == "merge_into"
    assert "rebased_onto" in (head.stats or {}), "expected rebase path"
    got = {r.id: r.v for r in t.read(spark).collect()}
    expect = {i: 0.0 for i in range(20)}
    expect.update({1000 + i: 0.0 for i in range(20)})
    expect.update({100 + i: 9.0 for i in range(5)})  # rival's rows kept
    expect.update({1000: 5.0, 1004: 6.0, 2000: 7.0})  # merge applied
    assert got == expect  # 2900 not inserted; no duplicates
    t.clean(retain_commits=1)
    assert t.validate() == []


def test_merge_into_with_delete_forces_remerge(spark, tmp_path, monkeypatch):
    """A delete-bearing merge_into must NEVER rebase: deleted keys
    vanish from every provable set, so the loser re-merges."""
    from hudi_glue_spark.table import KeyedTable
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "mergedel")
    t = KeyedTable(
        root, key="id", precombine="ts", partition_by="grp",
        key_scope="global", stats_cols=["ts", "id"],
    )
    t.bulk_insert(
        spark.createDataFrame(
            [Row(id=i, grp=f"g{i % 2}", v=0.0, ts=_ts(1)) for i in range(10)]
        )
    )
    rival_batch = spark.createDataFrame(
        [Row(id=100, grp="g1", v=9.0, ts=_ts(2))]
    )
    orig = _rival_during_write(monkeypatch, spark, root, rival_batch)
    import pytest

    with pytest.raises(M.ConcurrentCommitError):
        t.merge_into(
            spark.createDataFrame([Row(id=0, grp="g0", v=-1.0, ts=_ts(3))]),
            delete_condition="source.v < 0",
        )
    monkeypatch.setattr(KeyedTable, "_write_files", orig)
    # the caller's retry re-merges and the delete lands correctly
    t.merge_into(
        spark.createDataFrame([Row(id=0, grp="g0", v=-1.0, ts=_ts(3))]),
        delete_condition="source.v < 0",
    )
    head = M.read_manifest(root)
    assert "rebased_onto" not in (head.stats or {})
    got = {r.id for r in t.read(spark).collect()}
    assert got == set(range(1, 10)) | {100}
    t.clean(retain_commits=1)
    assert t.validate() == []


def test_run_clustering_prunes_range_reads(spark, tmp_path):
    """run_clustering (Hudi's clustering table service): a forced
    layout rewrite — no small-file gate — that makes min/max file
    skipping POSSIBLE. Pre-clustering the CoW write path folds the
    unsorted rows into value-spanning files a narrow range read
    cannot skip (scan == every live file); post-clustering each file
    covers a contiguous value slice and the same read scans a strict
    subset."""
    import random

    from hudi_glue_spark.table import manifest as M

    t = KeyedTable(str(tmp_path / "clu"), key="id", precombine="ts")
    rng = random.Random(7)
    rows = [
        Row(id=i, v=float(rng.randrange(0, 1000)), ts=_ts(1))
        for i in range(2000)
    ]
    for part in range(4):  # interleaved on id → no value locality
        ingest(t, spark.createDataFrame(rows[part::4]))
    before = t.read_range(spark, "v", 100.0, 150.0)
    before_rows = {(r["id"], r["v"]) for r in before.collect()}
    n_before_scan = len(set(before.inputFiles()))
    n_before_live = len(M.read_manifest(t.path).files)
    assert n_before_scan == n_before_live  # no skipping available

    cid = t.run_clustering(spark, sort_by=["v"], target_file_mb=0.01)
    assert cid == t.commits()[-1]
    assert [r["op"] for r in t.history(spark).collect()][-1] == "optimize"

    after = t.read_range(spark, "v", 100.0, 150.0)
    assert {(r["id"], r["v"]) for r in after.collect()} == before_rows
    n_after_scan = len(set(after.inputFiles()))
    n_after_live = len(M.read_manifest(t.path).files)
    assert n_after_live > 1, n_after_live  # layout actually re-split
    assert n_after_scan < n_after_live, (n_after_scan, n_after_live)
    # the rewrite moved rows between files but changed none
    assert t.read(spark).count() == 2000
    assert t.validate() == []


def test_run_clustering_refuses_without_exactly_one_layout(spark, tmp_path):
    t = KeyedTable(str(tmp_path / "clu2"), key="id", precombine="ts")
    ingest(t, spark.createDataFrame([Row(id=1, v=1.0, ts=_ts(1))]))
    import pytest

    with pytest.raises(ValueError, match="exactly one layout"):
        t.run_clustering(spark)
    with pytest.raises(ValueError, match="exactly one layout"):
        t.run_clustering(spark, sort_by=["v"], zorder_by=["v", "id"])


def test_sql_call_run_clustering(spark, tmp_path):
    """CALL run_clustering through the SQL front-end: comma-list
    layout args coerce, unknown args refuse loudly, and a
    single-file table still rewrites (force semantics — optimize()
    alone would be a no-op here)."""
    import pytest

    from hudi_glue_spark.sql_dml import SqlDmlError, sql_call

    t = KeyedTable(str(tmp_path / "clu3"), key="id", precombine="ts")
    ingest(
        t,
        spark.createDataFrame(
            [Row(id=i, v=float(i % 50), ts=_ts(1)) for i in range(200)]
        ),
    )
    assert t.optimize(spark) is None  # one healthy file: no-op
    cid = sql_call(
        spark,
        "CALL run_clustering(table => 't', sort_by => 'v', "
        "target_file_mb => 0.002)",
        {"t": t},
    )
    assert cid == t.commits()[-1]
    assert t.read(spark).count() == 200
    with pytest.raises(SqlDmlError, match="no argument"):
        sql_call(
            spark,
            "CALL run_clustering(table => 't', small_file_mb => 1)",
            {"t": t},
        )


@pytest.mark.parametrize("slot", [None, "val"], ids=["record", "column"])
def test_index_drop_racing_upsert_keeps_rival_row(
    spark, tmp_path, monkeypatch, slot
):
    """An index drop plans against one snapshot and publishes that
    snapshot's file list, so it must publish as that snapshot's child:
    a rival upsert landing in between makes the drop lose the race and
    rebase onto the rival (the drop changes no rows) instead of
    clobbering the rival's rewrite out of the table. The rebased drop
    leaves no ``*_dropped`` marker, so run_maintenance does not rebuild
    the index the caller dropped."""
    from hudi_glue_spark.table import manifest as M

    root = str(tmp_path / "drop_race")
    t = KeyedTable(
        root, key="pk", precombine="ts", partition_by="part",
        stats_cols=["pk", "ts"], key_bloom=True,
    )
    schema = "pk long, part string, ts long, val long"
    t.bulk_insert(
        spark.createDataFrame(
            [(i, str(i % 4), i, i * 2) for i in range(40)], schema
        )
    )
    if slot is None:
        t.build_record_index(spark)
        drop, info = t.drop_record_index, t.record_index_info
    else:
        t.build_column_index(spark, slot)
        drop = lambda: t.drop_column_index(slot)  # noqa: E731
        info = lambda: t.column_index_info(slot)  # noqa: E731
    orig = KeyedTable._commit
    fired = []

    def racing_commit(self, op, *a, **kw):
        if op.startswith("drop_") and not fired:
            fired.append(op)
            KeyedTable.load(root).upsert(
                spark.createDataFrame([(1000, "0", 1, -1)], schema)
            )
        return orig(self, op, *a, **kw)

    monkeypatch.setattr(KeyedTable, "_commit", racing_commit)
    published = drop()
    monkeypatch.setattr(KeyedTable, "_commit", orig)
    assert fired
    assert t.read(spark).filter("pk = 1000").count() == 1
    assert t.read(spark).count() == 41
    head = M.read_manifest(root)
    assert published == head.commit_id
    assert head.stats.get("rebased_onto") == t.commits()[-2]
    assert info() is None
    assert not {"record_index_dropped", "column_indexes_dropped"} & set(
        head.stats
    )
    summary = t.run_maintenance(spark)
    assert not {"record_index_rebuilt", "column_index_rebuilt"} & set(summary)
    assert info() is None
