"""Head-read audit: count HEAD manifest reads per public KeyedTable call.

VERDICT r10 #1 — the bug class behind both the r9 unpinned
read_isin/read_range and the r10 CoW plan/publish lost-update is ONE
operation consulting the commit log HEAD more than once: a rival
commit landing between the two reads makes the op combine two
different snapshots (masks from one, files from another) and produce
silently wrong output. This module wraps ``manifest.read_manifest``
and drives every public API once on a prepared table (indexes + DV
masks + multiple commits), counting how many times each call re-read
HEAD.

The enforced budget (tests/test_head_read_guard.py asserts it):

- read / metadata / export paths: **1** HEAD read (the op's pin);
- mutations: **2** — the op's ``_pin_head()`` plus ``_commit``'s OCC
  conflict check, which MUST see the latest head to detect rivals
  (re-reads beyond that are exactly the lost-update window);
- ``run_maintenance``: DERIVED per call from the executed plan
  (VERDICT r11 #6 — a constant budget would silently absorb a new
  sub-op's undeclared pin): base = the four always-run advisor reads
  (compaction_report pin, the DV-fold advisor head read,
  index_staleness pin, the one head read driving the index policy of
  every slot; clean() and fold_change_logs() are
  HEAD-free — the commit list is a directory listing and manifests
  read pinned by id), plus each executed sub-op's own op budget from
  ``MAINTENANCE_SUBOP_HEAD``. A summary key with no declared budget
  FAILS the guard.

``python tools/audit_head_reads.py`` prints the measured table; run
it when the API surface changes, then update SURVEY §9f's audit table
and the guard test's budgets.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


class HeadReadCounter:
    """Wraps manifest.read_manifest; counts cid=None (HEAD) reads."""

    def __init__(self):
        self.head = 0
        self.pinned = 0

    @contextlib.contextmanager
    def watch(self):
        from hudi_glue_spark.table import manifest as M

        orig = M.read_manifest
        self.head = self.pinned = 0

        def counting(path, commit_id=None, *a, **kw):
            if commit_id is None:
                self.head += 1
            else:
                self.pinned += 1
            return orig(path, commit_id, *a, **kw)

        M.read_manifest = counting
        try:
            yield self
        finally:
            M.read_manifest = orig


#: Always-run advisor HEAD reads inside run_maintenance (measured:
#: compaction_report 1, DV-fold advisor 1, index_staleness 1, the
#: index policy's head read 1 — one read decides every index slot).
MAINTENANCE_BASE_HEAD = 4

#: Per-executed-sub-op HEAD budget, keyed by the summary key the
#: sub-op records. Mutations cost 2 (pin + OCC conflict check); a
#: *_skipped key means the sub-op spent its pin and lost the commit
#: race, so the reads still happened. Advisor outputs and HEAD-free
#: services cost 0. A key missing here = an undeclared sub-op = guard
#: failure by design.
MAINTENANCE_SUBOP_HEAD: dict = {
    "optimized": 2,
    "optimize_skipped": 2,
    "reclustered": 2,
    "recluster_skipped": 2,
    "record_index_compacted": 2,
    "rli_compact_skipped": 2,
    "record_index_rebuilt": 2,
    "rli_rebuild_skipped": 2,
    "column_index_compacted": lambda cols: 2 * len(cols),
    "ci_compact_skipped": 2,
    "column_index_rebuilt": lambda cols: 2 * len(cols),
    "ci_rebuild_skipped": 2,
    "dv_fold_partitions": 0,  # advisor output (part of the base)
    "cleaned_files": 0,       # clean() reads manifests pinned only
    "folded_change_logs": 0,  # fold reads manifests pinned only
}


def maintenance_budget(summary) -> int:
    """Derived HEAD budget for one run_maintenance call: base advisor
    reads + the declared cost of every sub-op the summary says ran."""
    if not isinstance(summary, dict):
        return MAINTENANCE_BASE_HEAD
    budget = MAINTENANCE_BASE_HEAD
    undeclared = [k for k in summary if k not in MAINTENANCE_SUBOP_HEAD]
    assert not undeclared, (
        f"run_maintenance recorded undeclared sub-op(s) {undeclared}: "
        "declare their head-read budget in MAINTENANCE_SUBOP_HEAD "
        "(tools/audit_head_reads.py) — an undeclared sub-op is how a "
        "new pin drifts past the guard"
    )
    for k, v in summary.items():
        cost = MAINTENANCE_SUBOP_HEAD[k]
        budget += cost(v) if callable(cost) else cost
    return budget


def build_fixture(spark, root: str):
    """A table with record + column indexes, DV masks, and several
    commits — every interesting planning path is exercisable."""
    from pyspark.sql import functions as F

    from hudi_glue_spark.table import KeyedTable

    shutil.rmtree(root, ignore_errors=True)
    t = KeyedTable(
        root, key="pk", precombine="ts", partition_by="part",
        stats_cols=["pk", "ts", "val"], key_bloom=True,
    )
    t.bulk_insert(
        spark.range(0, 200).select(
            F.col("id").alias("pk"),
            (F.col("id") % 4).cast("string").alias("part"),
            F.col("id").alias("ts"),
            (F.col("id") * 2).alias("val"),
        )
    )
    t.build_record_index(spark)
    t.build_column_index(spark, "val")
    t.upsert(
        spark.createDataFrame(
            [(7, "3", 9000, -1)], "pk long, part string, ts long, val long"
        )
    )
    t.delete_dv([11, 12])
    return t


def call_surface(t, spark):
    """(name, thunk, head-read budget) for every public planning path.

    Budgets: 1 = single-pin read path; 2 = mutation (pin + _commit's
    OCC check); run_maintenance's budget is a CALLABLE evaluated on
    the call's return value — derived from the sub-ops that actually
    ran (maintenance_budget)."""
    first = t.commits()[0]
    mk = spark.createDataFrame

    def row(pk, part, ts, val):
        return mk(
            [(pk, part, ts, val)],
            "pk long, part string, ts long, val long",
        )

    return [
        # --- read paths (budget 1) -------------------------------------
        ("read", lambda: t.read(spark).count(), 1),
        ("read_at", lambda: t.read(spark, at=first).count(), 1),
        ("read_incremental",
         lambda: t.read_incremental(spark, first).count(), 1),
        ("read_range", lambda: t.read_range(spark, "pk", 5, 20).count(), 1),
        ("read_isin", lambda: t.read_isin(spark, "val", [14, 28]).count(), 1),
        ("read_keys", lambda: t.read_keys(spark, [7, 8]).count(), 1),
        ("locate_keys", lambda: t.locate_keys(spark, [7]).count(), 1),
        ("lookup_join", lambda: t.lookup_join(
            spark, mk([(14,)], "val long"), "val").count(), 1),
        ("files_df", lambda: t.files_df(spark).count(), 1),
        ("partitions_df", lambda: t.partitions_df(spark).count(), 1),
        ("files_in_range", lambda: t.files_in_range("pk", 0, 10), 1),
        ("files_isin", lambda: t.files_isin("val", [14]), 1),
        ("files_with_keys", lambda: t.files_with_keys([7]), 1),
        ("files_hosting_keys", lambda: t.files_hosting_keys(spark, [7]), 1),
        ("files_hosting_values",
         lambda: t.files_hosting_values(spark, "val", [14]), 1),
        ("files_hosting_range",
         lambda: t.files_hosting_range(spark, "val", 10, 30), 1),
        # --- metadata / info (budget 1) --------------------------------
        ("commits", lambda: t.commits(), 1),
        ("commit_as_of", lambda: t.commit_as_of("2100-01-01T00:00:00"), 1),
        ("latest_stats", lambda: t.latest_stats(), 1),
        ("max_stat", lambda: t.max_stat("n_rows"), 1),
        ("count_rows_metadata", lambda: t.count_rows_metadata(), 1),
        ("minmax_metadata", lambda: t.minmax_metadata("pk"), 1),
        ("record_index_info", lambda: t.record_index_info(), 1),
        ("column_index_info", lambda: t.column_index_info("val"), 1),
        ("index_staleness", lambda: t.index_staleness(), 1),
        ("compaction_report",
         lambda: t.compaction_report(spark).count(), 1),
        ("history", lambda: t.history(spark).count(), 1),
        ("diff_commits",
         lambda: t.diff_commits(spark, first).count(), 1),
        ("validate", lambda: t.validate(), 1),
        ("savepoints", lambda: t.savepoints(), 1),
        # --- register / export (budget 1) ------------------------------
        ("register", lambda: t.register(spark, "hr_audit_tbl"), 1),
        ("export_live_files", lambda: t.export_live_files(), 1),
        ("export_masked_positions",
         lambda: t.export_masked_positions(), 1),
        # --- mutations (budget 2: pin + _commit OCC; no contention) ----
        ("upsert", lambda: t.upsert(row(8, "0", 9100, -2)), 2),
        ("upsert_dv", lambda: t.upsert_dv(row(13, "1", 9200, -3)), 2),
        ("delete", lambda: t.delete(mk([(9,)], "pk long")), 2),
        ("delete_dv", lambda: t.delete_dv([14]), 2),
        ("delete_where_dv",
         lambda: t.delete_where_dv(spark, "pk = 15"), 2),
        ("update_where_dv", lambda: t.update_where_dv(
            spark, {"val": "val + 1"}, "pk = 16"), 2),
        ("update_where", lambda: t.update_where(
            spark, {"val": "val + 1"}, "pk = 17"), 2),
        ("delete_where", lambda: t.delete_where(spark, "pk = 18"), 2),
        ("merge_into", lambda: t.merge_into(row(19, "3", 9300, -4)), 2),
        ("insert_overwrite",
         lambda: t.insert_overwrite(row(301, "0", 1, 602)), 2),
        ("drop_partitions", lambda: t.drop_partitions(["part=2"]), 2),
        ("savepoint+release", lambda: (
            t.savepoint(), t.release_savepoint(t.savepoints()[0])), 2),
        ("optimize", lambda: t.optimize(
            spark, target_file_mb=64, small_file_mb=64), 2),
        ("compact_record_index",
         lambda: t.compact_record_index(spark), 2),
        ("compact_column_index",
         lambda: t.compact_column_index(spark, "val"), 2),
        # budget 0: fold lists commits from the directory and reads
        # manifests PINNED by id — it must never consult HEAD; the
        # bytes-SLO path adds only os.walk sizing, still zero HEAD
        ("fold_change_logs", lambda: t.fold_change_logs(10), 0),
        ("fold_change_logs_bytes",
         lambda: t.fold_change_logs(10, max_bytes=1 << 40), 0),
        ("run_maintenance", lambda: t.run_maintenance(spark),
         maintenance_budget),
        ("rollback", lambda: t.rollback(t.commits()[-2]), 2),
        ("clean", lambda: t.clean(retain_commits=50), 2),
        ("change_partitioning",
         lambda: t.change_partitioning(spark, []), 2),
        # LAST: truncate empties the table (pin + OCC publish check)
        ("truncate", lambda: t.truncate(), 2),
    ]


def main():
    from hudi_glue_spark.session import get_spark

    spark = get_spark(master="local[8]", shuffle_partitions=8)
    t = build_fixture(spark, "/tmp/head_read_audit")
    ctr = HeadReadCounter()
    print(f"{'call':34s} {'head':>4s} {'budget':>6s} {'pinned':>6s}")
    over = []
    for name, fn, budget in call_surface(t, spark):
        result = None
        with ctr.watch():
            try:
                result = fn()
                err = ""
            except Exception as e:  # noqa: BLE001
                err = f"  ERR {type(e).__name__}: {e}"
        b = budget(result) if callable(budget) else budget
        flag = " OVER" if ctr.head > b else ""
        if flag:
            over.append((name, ctr.head, b))
        print(f"{name:34s} {ctr.head:4d} {b:6d} {ctr.pinned:6d}"
              f"{flag}{err[:100]}")
    print(f"\n{len(over)} calls over budget:",
          ", ".join(f"{n}={h}>{b}" for n, h, b in over) or "none")
    return 1 if over else 0


if __name__ == "__main__":
    sys.exit(main())
