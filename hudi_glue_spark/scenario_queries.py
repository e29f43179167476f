"""Keyed-upsert scenario queries (driver-gate coverage for the table layer).

Re-creates the reference's day=0/1/2 incremental scenario
(FIXTURES.md F2, glue/NYTaxiDataPrep.py:36-49) on the ``events`` table:

- batch0: all events                      (initial load, day=0)
- batch1: event_type='click' subset, value+100, ts **+1 day**  (update)
- batch2: same subset, value+200, ts **−5 days**     (late-arriving)

The engine ingests the three batches through a real on-disk
:class:`KeyedTable` (bulk_insert → upsert → upsert); the oracle expresses
the FINAL STATE as window-dedup over the union of batches — upsert isn't
single-statement ANSI SQL, but its result is (SURVEY.md §5).
"""

from __future__ import annotations

import datetime
import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hudi_glue_spark.queries import dec_sum, query, sf_tag, table
from hudi_glue_spark.table import KeyedTable, ingest
from hudi_glue_spark.table.keyed_table import ARRIVAL_WINS, EVENT_TIME_WINS

_COLS = ["event_id", "user_id", "event_type", "value", "ts"]

#: CTE prefix shared by both policy oracles: the three batches + union.
_BATCHES_CTE = """
WITH b0 AS (
  SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
         CAST(ts AS TIMESTAMP) AS ts, 0 AS src FROM events
), b1 AS (
  SELECT event_id, user_id, event_type, value + 100.0 AS value,
         CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts, 1 AS src
  FROM events WHERE event_type = 'click'
), b2 AS (
  SELECT event_id, user_id, event_type, value + 200.0 AS value,
         CAST(ts AS TIMESTAMP) - INTERVAL 5 DAY AS ts, 2 AS src
  FROM events WHERE event_type = 'click'
), u AS (
  SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2
)
"""


def _batches(spark: SparkSession, sf_dir: str) -> list[DataFrame]:
    ev = table(spark, sf_dir, "events").select(_COLS)
    b0 = ev
    clicks = ev.filter(F.col("event_type") == "click")
    b1 = clicks.withColumn("value", F.col("value") + F.lit(100.0)).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    )
    b2 = clicks.withColumn("value", F.col("value") + F.lit(200.0)).withColumn(
        "ts", F.col("ts") - F.expr("INTERVAL 5 DAY")
    )
    return [b0, b1, b2]


def _run_scenario(spark: SparkSession, sf_dir: str, policy: str, tag: str) -> KeyedTable:
    # Timestamp arithmetic must agree with the (naive-timestamp) oracle —
    # pin the session to UTC at runtime; driver sessions may differ.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_{tag}_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type", policy=policy
    )
    for b in _batches(spark, sf_dir):
        ingest(tbl, b)
    return tbl


@query(
    "upsert_event_time_wins",
    _BATCHES_CTE
    + """
    SELECT event_id, user_id, event_type, value, ts FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u
    ) WHERE rn = 1
    """,
)
def q_upsert_event_time_wins(spark, sf_dir):
    """day=0/1/2 ingest, event-time policy: the late batch2 (older ts)
    must lose to batch1; final state = newest event time per key."""
    tbl = _run_scenario(spark, sf_dir, EVENT_TIME_WINS, "etw")
    return tbl.read(spark).select(_COLS)


@query(
    "upsert_arrival_wins",
    _BATCHES_CTE
    + """
    SELECT event_id, user_id, event_type, value, ts FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY src DESC, ts DESC) AS rn
      FROM u
    ) WHERE rn = 1
    """,
)
def q_upsert_arrival_wins(spark, sf_dir):
    """Same ingest under arrival-wins (Hudi-0.5-era payload parity,
    FIXTURES.md F2): the last-written batch2 wins for clicked keys."""
    tbl = _run_scenario(spark, sf_dir, ARRIVAL_WINS, "aw")
    return tbl.read(spark).select(_COLS)


@query(
    "upsert_then_delete",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE user_id % 10 <> 0
    """,
)
def q_upsert_then_delete(spark, sf_dir):
    """bulk_insert then keyed delete (§2a #9): keys of users 0 mod 10
    are removed; final state is oracle-expressible as a filter."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_del_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="event_id", precombine="ts", partition_by="event_type")
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    doomed = ev.filter(F.col("user_id") % 10 == 0).select("event_id")
    tbl.delete(doomed)
    return tbl.read(spark).select(_COLS)


# -- time travel / incremental pull ----------------------------------------

#: Per-process cache of built two-batch scenario tables: driver and
#: bench call several queries over the same (sf_dir) in one process —
#: rebuilding the table per query would redo identical ingest work.
_TT_CACHE: dict[str, KeyedTable] = {}


def _two_batch_table(spark: SparkSession, sf_dir: str) -> KeyedTable:
    """bulk_insert(b0) then upsert(b1) — the first two scenario batches,
    event-time policy; cached per (sf_dir) within the process."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_tt_{sf_tag(sf_dir)}"
    cached = _TT_CACHE.get(root)
    if cached is not None and len(cached.commits()) == 2:
        return cached
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        key_bloom=True,  # point_lookup_keys probes the manifest blooms
    )
    b0, b1, _b2 = _batches(spark, sf_dir)
    ingest(tbl, b0)
    ingest(tbl, b1)
    _TT_CACHE[root] = tbl
    return tbl


@query(
    "time_travel_first_commit",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events
    """,
)
def q_time_travel_first_commit(spark, sf_dir):
    """After bulk_insert + upsert, read AT the first commit: time travel
    must reproduce the pre-upsert state exactly (the initial load)."""
    tbl = _two_batch_table(spark, sf_dir)
    return tbl.read(spark, at=tbl.commits()[0]).select(_COLS)


@query(
    "incremental_read_since_first",
    """
    SELECT event_id, user_id, event_type, value + 100.0 AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts
    FROM events WHERE event_type = 'click'
    """,
)
def q_incremental_read_since_first(spark, sf_dir):
    """Incremental pull (Hudi incremental-query parity): files added
    after the first commit = the rewritten click partition, whose
    content is the b1 update batch (newer event time wins every key)."""
    tbl = _two_batch_table(spark, sf_dir)
    return tbl.read_incremental(spark, since=tbl.commits()[0]).select(_COLS)


@query(
    "merge_into_scenario",
    """
    WITH t AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    src AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN event_id + 1000000
                  ELSE event_id END AS event_id,
             user_id, event_type, value + 100.0 AS value,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts
      FROM events WHERE event_type = 'click'
    )
    SELECT t.event_id, t.user_id, t.event_type, t.value, t.ts
    FROM t LEFT JOIN src ON t.event_id = src.event_id
    WHERE src.event_id IS NULL
    UNION ALL
    SELECT src.event_id, src.user_id, src.event_type, src.value, src.ts
    FROM t JOIN src ON t.event_id = src.event_id
    WHERE NOT (t.value > 300)
    UNION ALL
    SELECT src.event_id, src.user_id, src.event_type, src.value, src.ts
    FROM src LEFT JOIN t ON src.event_id = t.event_id
    WHERE t.event_id IS NULL
    """,
)
def q_merge_into_scenario(spark, sf_dir):
    """SQL-style MERGE: a click batch where even-user rows become NEW
    keys (inserts) and the rest update in place — except targets worth
    over 300, which the delete branch removes. The oracle re-states the
    same MERGE as three set operations."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_merge_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="event_id", precombine="ts", partition_by="event_type")
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    clicks = ev.filter(F.col("event_type") == "click")
    src = clicks.withColumn(
        "event_id",
        F.when(F.col("user_id") % 2 == 0, F.col("event_id") + 1000000).otherwise(
            F.col("event_id")
        ),
    ).withColumn("value", F.col("value") + F.lit(100.0)).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    )
    tbl.merge_into(src, delete_condition="target.value > 300")
    return tbl.read(spark).select(_COLS)


@query(
    "sql_merge_update_delete",
    """
    WITH t AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    src AS (
      SELECT CASE WHEN user_id % 2 = 0 THEN event_id + 1000000
                  ELSE event_id END AS event_id,
             user_id, event_type, value + 100.0 AS value,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts
      FROM events WHERE event_type = 'click'
    ),
    merged AS (
      SELECT t.event_id, t.user_id, t.event_type, t.value, t.ts
      FROM t LEFT JOIN src ON t.event_id = src.event_id
      WHERE src.event_id IS NULL
      UNION ALL
      SELECT src.event_id, src.user_id, src.event_type, src.value, src.ts
      FROM t JOIN src ON t.event_id = src.event_id
      WHERE NOT (t.value > 300)
      UNION ALL
      SELECT src.event_id, src.user_id, src.event_type, src.value, src.ts
      FROM src LEFT JOIN t ON src.event_id = t.event_id
      WHERE t.event_id IS NULL
    ),
    updated AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_type = 'view' THEN value + 1.0
                  ELSE value END AS value,
             ts
      FROM merged
    )
    SELECT event_id, user_id, event_type, value, ts
    FROM updated WHERE NOT (user_id % 10 = 3)
    """,
)
def q_sql_merge_update_delete(spark, sf_dir):
    """SQL DML front-end (r13, VERDICT r12 missing #1 —
    hudi_glue_spark/sql_dml.py): the SAME merge as
    merge_into_scenario issued as a ``MERGE INTO`` STRING, then an
    ``UPDATE ... SET ... WHERE`` over the view partition and a
    ``DELETE FROM ... WHERE`` — three statements parsed by the
    restricted grammar into merge_into / update_where / delete_where.
    The oracle composes the identical relational algebra, so a parse
    or routing bug cannot hide."""
    from hudi_glue_spark.sql_dml import sql_dml

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_sqldml_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="event_id", precombine="ts",
                     partition_by="event_type")
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    clicks = ev.filter(F.col("event_type") == "click")
    src = clicks.withColumn(
        "event_id",
        F.when(F.col("user_id") % 2 == 0,
               F.col("event_id") + 1000000).otherwise(F.col("event_id")),
    ).withColumn("value", F.col("value") + F.lit(100.0)).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    )
    sql_dml(
        spark,
        """MERGE INTO t USING s ON t.event_id = s.event_id
           WHEN MATCHED AND t.value > 300 THEN DELETE
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *""",
        tables={"t": tbl}, sources={"s": src},
    )
    sql_dml(
        spark,
        "UPDATE t SET value = value + 1.0 WHERE event_type = 'view'",
        tables={"t": tbl},
    )
    sql_dml(spark, "DELETE FROM t WHERE user_id % 10 = 3",
            tables={"t": tbl})
    return tbl.read(spark).select(_COLS)


@query(
    "sql_merge_partial_update",
    """
    WITH t AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    src AS (
      SELECT CASE WHEN user_id % 11 = 0 THEN event_id + 5000000
                  ELSE event_id END AS event_id,
             user_id, event_type, value + 100.0 AS value,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts
      FROM events WHERE event_type = 'click'
    )
    SELECT t.event_id, t.user_id, t.event_type,
           CASE WHEN src.event_id IS NOT NULL AND src.user_id % 3 = 0
                THEN t.value + src.value ELSE t.value END AS value,
           t.ts
    FROM t LEFT JOIN src ON t.event_id = src.event_id
    UNION ALL
    SELECT src.event_id, src.user_id, src.event_type,
           src.value / 2 AS value, src.ts
    FROM src LEFT JOIN t ON src.event_id = t.event_id
    WHERE t.event_id IS NULL
    """,
)
def q_sql_merge_partial_update(spark, sf_dir):
    """PARTIAL-update MERGE (r13; merge_into update_set /
    insert_values — true SQL ``UPDATE SET col = expr`` semantics, not
    a row replace): matched rows with user%3=0 get ``value = t.value
    + s.value`` while their ``ts`` KEEPS THE TARGET VALUE (the oracle
    pins that — a row-replace bug would surface as a shifted ts), and
    new keys insert through an ``INSERT (cols) VALUES (exprs)`` list
    (``value/2``). Exprs see both join aliases; evaluated inside the
    merge's one pinned snapshot."""
    from hudi_glue_spark.sql_dml import sql_dml

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_sqlpart_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="event_id", precombine="ts",
                     partition_by="event_type")
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    clicks = ev.filter(F.col("event_type") == "click")
    src = clicks.withColumn(
        "event_id",
        F.when(F.col("user_id") % 11 == 0,
               F.col("event_id") + 5000000).otherwise(F.col("event_id")),
    ).withColumn("value", F.col("value") + F.lit(100.0)).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    )
    sql_dml(
        spark,
        """MERGE INTO t USING s ON t.event_id = s.event_id
           WHEN MATCHED AND s.user_id % 3 = 0
             THEN UPDATE SET value = t.value + s.value
           WHEN NOT MATCHED THEN
             INSERT (event_id, user_id, event_type, value, ts)
             VALUES (s.event_id, s.user_id, s.event_type,
                     s.value / 2, s.ts)""",
        tables={"t": tbl}, sources={"s": src},
    )
    return tbl.read(spark).select(_COLS)


@query(
    "sql_merge_by_source_sync",
    """
    WITH t AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ),
    src AS (
      SELECT CASE WHEN user_id % 13 = 0 THEN event_id + 7000000
                  ELSE event_id END AS event_id,
             user_id, event_type, value + 100.0 AS value,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts
      FROM events WHERE event_type = 'click'
    )
    SELECT src.event_id, src.user_id, src.event_type, src.value, src.ts
    FROM src JOIN t ON src.event_id = t.event_id
    UNION ALL
    SELECT src.event_id, src.user_id, src.event_type, src.value, src.ts
    FROM src LEFT JOIN t ON src.event_id = t.event_id
    WHERE t.event_id IS NULL
    UNION ALL
    SELECT t.event_id, t.user_id, t.event_type, t.value, t.ts
    FROM t LEFT JOIN src ON t.event_id = src.event_id
    WHERE src.event_id IS NULL AND NOT (t.user_id % 2 = 0)
    """,
)
def q_sql_merge_by_source_sync(spark, sf_dir):
    """``WHEN NOT MATCHED BY SOURCE`` end to end (r13, Delta parity —
    merge_into by_source_delete): the snapshot-sync MERGE shape. The
    source is the refreshed click snapshot (some keys re-minted);
    matched rows replace, new keys insert, and target rows the source
    does NOT carry — every non-click row plus the re-minted clicks'
    originals — conditionally DELETE (even user_id). The clause
    examines every target row, so the merge scopes to the whole table
    (the documented cost contract); the oracle restates all three row
    populations."""
    from hudi_glue_spark.sql_dml import sql_dml

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_sqlbsrc_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="event_id", precombine="ts",
                     partition_by="event_type")
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    clicks = ev.filter(F.col("event_type") == "click")
    src = clicks.withColumn(
        "event_id",
        F.when(F.col("user_id") % 13 == 0,
               F.col("event_id") + 7000000).otherwise(F.col("event_id")),
    ).withColumn("value", F.col("value") + F.lit(100.0)).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    )
    sql_dml(
        spark,
        """MERGE INTO t USING s ON t.event_id = s.event_id
           WHEN MATCHED THEN UPDATE SET *
           WHEN NOT MATCHED THEN INSERT *
           WHEN NOT MATCHED BY SOURCE AND t.user_id % 2 = 0
             THEN DELETE""",
        tables={"t": tbl}, sources={"s": src},
    )
    return tbl.read(spark).select(_COLS)


@query(
    "sql_truncate_reload",
    """
    SELECT event_id, user_id, event_type,
           CAST(value + 100.0 AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts
    FROM events WHERE event_type = 'click'
    """,
)
def q_sql_truncate_reload(spark, sf_dir):
    """``TRUNCATE TABLE`` end to end (r13; KeyedTable.truncate — ONE
    metadata-only commit referencing zero files, O(1) at any table
    size, prior commits still time-travelable): load the events
    table, TRUNCATE it via the SQL front-end, reload with INSERT INTO
    (= upsert; here the initial load of the emptied table's next
    life). The final state is exactly the reload source — any
    truncate leak (a surviving file reference) or reload
    short-circuit would surface as extra/missing rows."""
    from hudi_glue_spark.sql_dml import sql_dml

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_sqltrunc_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="event_id", precombine="ts",
                     partition_by="event_type")
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    sql_dml(spark, "TRUNCATE TABLE t", tables={"t": tbl})
    reload = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("value", F.col("value") + F.lit(100.0))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    )
    reload.createOrReplaceTempView("sqltrunc_reload_src")
    sql_dml(spark, "INSERT INTO t SELECT * FROM sqltrunc_reload_src",
            tables={"t": tbl})
    return tbl.read(spark).select(_COLS)


@query(
    "diff_commits_changelog",
    """
    SELECT event_id, user_id, event_type,
           CAST(value + 100.0 AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts,
           'update' AS _change_type, TRUE AS composed_from_log
    FROM events WHERE event_id % 13 = 0 AND event_id % 17 <> 0
    UNION ALL
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts,
           'delete' AS _change_type, TRUE AS composed_from_log
    FROM events WHERE event_id % 17 = 0
    UNION ALL
    SELECT event_id + 2000000 AS event_id, user_id, event_type,
           CAST(value + 100.0 AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts,
           'insert' AS _change_type, TRUE AS composed_from_log
    FROM events WHERE event_id % 31 = 0
    """,
)
def q_diff_commits_changelog(spark, sf_dir):
    """BATCH CDF composed from recorded change logs (r11;
    keyed_table._diff_chlog_fast): on a change_log table the
    commit-range diff reads only the write-time deltas — O(changed
    keys), no snapshot scan — and still nets correctly: a key
    updated mid-range then deleted emits ONE delete carrying its
    ORIGINAL pre-image (event_id % 13 ∩ % 17 here), updates carry
    final post-images, new keys insert. The oracle restates the net
    per-key outcome from the base table directly; the boolean proves
    every commit in the range recorded its delta (the unit suite
    pins diff_commits' actual routing through the composition)."""
    tbl, c0, composed = _difflog_fixture(spark, sf_dir)
    return tbl.diff_commits(spark, c0).select(
        *_COLS,
        "_change_type",
        F.lit(composed).alias("composed_from_log"),
    )


@query(
    "diff_commits_mixed_dv",
    """
    SELECT event_id, user_id, event_type,
           CAST(value + 300.0 AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 2 DAY AS ts,
           'update' AS _change_type, TRUE AS composed_from_log
    FROM events WHERE event_id % 29 = 0
    UNION ALL
    SELECT event_id, user_id, event_type,
           CAST(value + 100.0 AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts,
           'update' AS _change_type, TRUE AS composed_from_log
    FROM events
    WHERE event_id % 13 = 0 AND event_id % 17 <> 0 AND event_id % 29 <> 0
    UNION ALL
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts,
           'delete' AS _change_type, TRUE AS composed_from_log
    FROM events WHERE event_id % 17 = 0 AND event_id % 29 <> 0
    UNION ALL
    SELECT event_id + 3000000 AS event_id, user_id, event_type,
           CAST(value + 300.0 AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 2 DAY AS ts,
           'insert' AS _change_type, TRUE AS composed_from_log
    FROM events WHERE event_id % 41 = 0
    """,
)
def q_diff_commits_mixed_dv(spark, sf_dir):
    """Composed batch CDF across a MIXED CoW + deletion-vector range
    (r12; keyed_table._dv_event_frame): DV commits never record a
    change log, so they used to kill the O(changed keys) composition
    — now their event frames are SYNTHESIZED at O(delta) (newly-dead
    positions → positioned pre-image deletes, new files → inserts)
    and the realistic workload (bulk CoW merges + DV point deletes)
    stays off the snapshot diff. Cross-family net-outs pin the
    ordering: a CoW-updated key dv-deleted mid-range nets ONE delete
    with its ORIGINAL pre-image; a dv-deleted key re-inserted by a
    later dv upsert nets an update. The boolean proves the fast path
    actually served the range."""
    tbl, c0, composed = _mixedlog_fixture(spark, sf_dir)
    return tbl.diff_commits(spark, c0).select(
        *_COLS,
        "_change_type",
        F.lit(composed).alias("composed_from_log"),
    )


def _mixedlog_fixture(spark, sf_dir):
    """Mixed chlog + DV scenario (bulk + CoW upsert + delete_dv +
    upsert_dv); cached per process, seeded from the shared events
    base, disk-revalidated (r13)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_mixedlog_{sf_tag(sf_dir)}"

    def composed_of(tbl) -> bool:
        cids = tbl.commits()
        return tbl._diff_chlog_fast(
            spark, cids[0], cids[-1], "post"
        ) is not None

    def build():
        tbl = _clone_events_base(spark, sf_dir, root)
        ev = table(spark, sf_dir, "events").select(_COLS)
        c0 = tbl.commits()[0]
        tbl.upsert(
            ev.filter("event_id % 13 = 0")
            .withColumn("value", F.col("value") + F.lit(100.0))
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        )
        tbl.delete_dv(ev.filter("event_id % 17 = 0").select("event_id"))
        tbl.upsert_dv(
            ev.filter("event_id % 29 = 0")
            .unionByName(
                ev.filter("event_id % 41 = 0").withColumn(
                    "event_id", F.col("event_id") + 3000000
                )
            )
            .withColumn("value", F.col("value") + F.lit(300.0))
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 DAY"))
        )
        return tbl, c0, composed_of(tbl)

    def reopen():
        tbl = KeyedTable(
            root, key="event_id", precombine="ts",
            partition_by="event_type", change_log=True,
        )
        return tbl, tbl.commits()[0], composed_of(tbl)

    return _chlog_fixture(
        root, 4, build, recipe="mixedlog-v1", reopen=reopen
    )


@query(
    "diff_delete_heavy_dv",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts, 'delete' AS _change_type
    FROM events WHERE event_id % 3 = 0 OR event_id % 5 = 0
    """,
)
def q_diff_delete_heavy_dv(spark, sf_dir):
    """DELETE-HEAVY deletion-vector change feed (r13, VERDICT r12 #1;
    keyed_table._dv_dead_marks): two DV predicate deletes mark ~47%
    of the table — forced past the rewrite guard — and diff_commits
    over the range serves every pre-image. The driver plans only
    (file, old_blob, new_blob) NAME triples; executors expand the
    newly-dead coordinates (the batch twin of the stream's dvdiff
    slice), so this shape carries NO O(deleted rows) driver term —
    the tier tools/dv_stress.py diffrange measures flat (0.18→0.19 MB
    python-driver peak at 100× the delete volume). The second delete
    overlaps the first (%15), pinning the re-masked-file setdiff
    path."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_dvheavy_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="event_id", precombine="ts",
                     partition_by="event_type")
    ev = table(spark, sf_dir, "events").select(_COLS)
    c0 = tbl.bulk_insert(ev)
    tbl.delete_where_dv(spark, "event_id % 3 = 0", on_large="force")
    tbl.delete_where_dv(spark, "event_id % 5 = 0", on_large="force")
    return tbl.diff_commits(spark, c0).select(*_COLS, "_change_type")


@query(
    "scoped_delete_partition_keys",
    """
    SELECT user_id, event_type,
           CAST(MAX(value) AS DOUBLE) AS max_value,
           MAX(CAST(ts AS TIMESTAMP)) AS last_ts,
           COUNT(*) AS n_events
    FROM events
    GROUP BY user_id, event_type
    HAVING NOT (user_id % 13 = 0)
       AND NOT (user_id % 7 = 0 AND event_type = 'click')
    """,
)
def q_scoped_delete_partition_keys(spark, sf_dir):
    """Partition-scoped row identity end to end (r12;
    keyed_table._identity_cols): with ``key_scope='partition'`` the
    same user_id legitimately lives in EVERY event_type partition as
    an independent row. A delete frame CARRYING the partition column
    removes only those (partition, key) rows — here (user % 7,
    'click') kills the click rows while the same users' page_view /
    purchase rows survive — and a bare-key frame keeps global-delete
    semantics (user % 13 disappears everywhere). The oracle restates
    the surviving per-(user, type) aggregate directly; the row would
    go red if scoped deletes leaked across partitions or bare-key
    deletes missed one."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_scoped_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    ev = table(spark, sf_dir, "events")
    agg = ev.groupBy("user_id", "event_type").agg(
        F.max("value").cast("double").alias("max_value"),
        F.max("ts").alias("last_ts"),
        F.count("*").alias("n_events"),
    )
    tbl = KeyedTable(
        root, key="user_id", precombine="last_ts",
        partition_by="event_type", key_scope="partition",
    )
    tbl.bulk_insert(agg, dedupe=False)  # unique per (user, type) already
    # scoped: only the click partition's rows for these users
    tbl.delete(
        agg.filter("user_id % 7 = 0 AND event_type = 'click'")
        .select("user_id", "event_type")
    )
    # bare-key: these users disappear from EVERY partition
    tbl.delete(agg.filter("user_id % 13 = 0").select("user_id"))
    return tbl.read(spark).select(
        "user_id", "event_type", "max_value", "last_ts", "n_events"
    )


#: per-process chlog scenario fixtures (same hygiene as _TT_CACHE:
#: bench charges each build to an explicit ``commit:`` row so the
#: query rows time the diff/read path, not the ingest)
_CHLOG_FIX_CACHE: dict[str, tuple] = {}

_FIXTURE_MARKER = "_fixture_marker.json"


def _chlog_fixture(
    root: str,
    n_commits: int,
    build,
    recipe: str | None = None,
    reopen=None,
):
    """Cached (root-keyed) chlog scenario fixture, three tiers (r13,
    VERDICT r12 #4 — the five chlog builds were 44% of the bench
    wall): (1) per-process cache; (2) DISK revalidation — when the
    tree already matches the recipe (a marker records the recipe
    version + the exact committed op sequence; both must match), the
    fixture REOPENS instead of rebuilding, with every returned
    boolean RECOMPUTED from the live tree (metadata reads — never
    trusted from the marker, so a reopened fixture pins exactly what
    a built one pins); (3) full rebuild. The marker lands only after
    a successful build, so a crashed build can never revalidate."""
    import json as _json

    from hudi_glue_spark.table import manifest as M

    cached = _CHLOG_FIX_CACHE.get(root)
    if cached is not None and len(cached[0].commits()) == n_commits:
        return cached
    marker_p = os.path.join(root, _FIXTURE_MARKER)
    if recipe is not None and reopen is not None and os.path.isfile(marker_p):
        try:
            with open(marker_p) as fh:
                marker = _json.load(fh)
            cids = _commit_ids(root)
            ops = [M.read_manifest(root, c).op for c in cids]
            if (
                marker.get("recipe") == recipe
                and len(cids) == n_commits
                and ops == marker.get("ops")
            ):
                out = reopen()
                _CHLOG_FIX_CACHE[root] = out
                return out
        except Exception:  # noqa: BLE001 — any stale/odd tree rebuilds
            pass
    shutil.rmtree(root, ignore_errors=True)
    out = build()
    if recipe is not None:
        tbl = out[0]
        marker = {
            "recipe": recipe,
            "ops": [
                M.read_manifest(root, c).op for c in tbl.commits()
            ],
        }
        tmp = marker_p + ".tmp"
        with open(tmp, "w") as fh:
            _json.dump(marker, fh)
        os.replace(tmp, marker_p)
    _CHLOG_FIX_CACHE[root] = out
    return out


def _commit_ids(root: str) -> list[str]:
    from hudi_glue_spark.table import manifest as M

    return M.list_commit_ids(root)


def _chlog_ref(root: str, cid: str) -> str | None:
    from hudi_glue_spark.table import manifest as M

    m = M.read_manifest(root, cid)
    return ((m.stats or {}).get("change_log") or {}).get("ref") if m else None


_CHLOG_BASE_CACHE: set[str] = set()


def _chlog_events_base(spark, sf_dir) -> str:
    """ONE bulk-loaded ``change_log`` events table shared as the SEED
    of the events-based chlog scenarios (VERDICT r12 #4): the recipes
    differ only in their DML tails, so the identical initial load is
    built once per process and each fixture CLONES the committed tree
    (filesystem copy — no second Spark write job) before applying its
    own commits. Isolation holds: a clone is a full independent table,
    mutated only post-copy; the base itself is never mutated (exactly
    one commit, revalidated)."""
    root = f"/tmp/hudi_glue_spark_scn_chlogbase_{sf_tag(sf_dir)}"
    if root in _CHLOG_BASE_CACHE and os.path.isdir(root):
        return root
    try:
        if len(_commit_ids(root)) == 1:
            _CHLOG_BASE_CACHE.add(root)
            return root
    except OSError:
        pass
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts",
        partition_by="event_type", change_log=True,
    )
    tbl.bulk_insert(table(spark, sf_dir, "events").select(_COLS))
    _CHLOG_BASE_CACHE.add(root)
    return root


def _clone_events_base(spark, sf_dir, root: str) -> KeyedTable:
    base = _chlog_events_base(spark, sf_dir)
    shutil.rmtree(root, ignore_errors=True)
    shutil.copytree(base, root)
    return KeyedTable(
        root, key="event_id", precombine="ts",
        partition_by="event_type", change_log=True,
    )


def _difflog_fixture(spark, sf_dir):
    """bulk + logged upsert + logged delete on a change_log events
    table (the diff_commits_changelog recipe); cached per process,
    seeded from the shared events base, disk-revalidated (r13)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_difflog_{sf_tag(sf_dir)}"

    def composed_of(tbl):
        return all(
            (r := _chlog_ref(root, c))
            and os.path.isdir(os.path.join(root, "_changes", r))
            for c in tbl.commits()[1:]
        )

    def build():
        tbl = _clone_events_base(spark, sf_dir, root)
        ev = table(spark, sf_dir, "events").select(_COLS)
        c0 = tbl.commits()[0]
        batch = (
            ev.filter("event_id % 13 = 0")
            .unionByName(
                ev.filter("event_id % 31 = 0").withColumn(
                    "event_id", F.col("event_id") + 2000000
                )
            )
            .withColumn("value", F.col("value") + F.lit(100.0))
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        )
        tbl.upsert(batch)
        tbl.delete(ev.filter("event_id % 17 = 0").select("event_id"))
        return tbl, c0, composed_of(tbl)

    def reopen():
        tbl = KeyedTable(
            root, key="event_id", precombine="ts",
            partition_by="event_type", change_log=True,
        )
        return tbl, tbl.commits()[0], composed_of(tbl)

    return _chlog_fixture(
        root, 3, build, recipe="difflog-v1", reopen=reopen
    )


@query(
    "chlog_map_exact_cdc",
    """
    SELECT doc_id, source, n_chars,
           'lang=' || lang || ',rev=2' AS attrs_str,
           'update' AS _change_type, TRUE AS composed_from_log
    FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
    UNION ALL
    SELECT doc_id, source, n_chars,
           'lang=' || lang || ',src=' || source AS attrs_str,
           'delete' AS _change_type, TRUE AS composed_from_log
    FROM documents WHERE doc_id % 11 = 0
    """,
)
def q_chlog_map_exact_cdc(spark, sf_dir):
    """Exact write-time CDC on a MAP-bearing table (r12; VERDICT r11
    #5): ``change_log=True`` with a top-level ``map<string,string>``
    column records exact deltas — the delta job compares sorted
    ``map_entries`` twins (entry-order-insensitive, the identity map
    equality defines) and stores real maps back via
    ``map_from_entries`` (keyed_table._write_change_log). The range
    diff composes those logs at O(changed keys): a MAP-ONLY update
    (n_chars untouched) still classifies as an update because the
    classifier compares maps canonically; an updated-then-deleted key
    nets to one delete carrying its ORIGINAL attrs. Output maps
    serialize as sorted ``k=v`` joins so the DuckDB oracle states them
    as plain strings."""
    tbl, c0, composed = _maplog_fixture(spark, sf_dir)
    ent = F.sort_array(F.map_entries(F.col("attrs")))
    return tbl.diff_commits(spark, c0).select(
        "doc_id", "source", "n_chars",
        F.concat_ws(
            ",",
            F.transform(
                ent, lambda e: F.concat_ws("=", e["key"], e["value"])
            ),
        ).alias("attrs_str"),
        "_change_type",
        F.lit(composed).alias("composed_from_log"),
    )


def _maplog_fixture(spark, sf_dir):
    """Top-level-map chlog scenario (bulk + map-only update + delete);
    cached per process, disk-revalidated (r13)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_maplog_{sf_tag(sf_dir)}"

    def mk():
        return KeyedTable(
            root, key="doc_id", precombine="n_chars",
            partition_by="source", change_log=True,
        )

    def composed_of(tbl):
        return all(
            (r := _chlog_ref(root, c))
            and os.path.isdir(os.path.join(root, "_changes", r))
            for c in tbl.commits()[1:]
        )

    def build():
        tbl = mk()
        docs = table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars",
            F.create_map(
                F.lit("lang"), F.col("lang"),
                F.lit("src"), F.col("source"),
            ).alias("attrs"),
        )
        c0 = tbl.bulk_insert(docs)
        # map-ONLY update: every other column untouched
        tbl.update_where(
            spark,
            {"attrs": "map('lang', attrs['lang'], 'rev', '2')"},
            "doc_id % 7 = 0",
        )
        tbl.delete(docs.filter("doc_id % 11 = 0").select("doc_id"))
        return tbl, c0, composed_of(tbl)

    def reopen():
        tbl = mk()
        return tbl, tbl.commits()[0], composed_of(tbl)

    return _chlog_fixture(
        root, 3, build, recipe="maplog-v1", reopen=reopen
    )


@query(
    "chlog_nested_map_cdc",
    """
    SELECT doc_id, source, n_chars,
           'lang=' || lang || ',rev=2' AS meta_m_str,
           lang AS meta_s,
           'update' AS _change_type,
           TRUE AS composed_from_log, TRUE AS flip_logged_empty
    FROM documents WHERE doc_id % 7 = 0 AND doc_id % 11 <> 0
    UNION ALL
    SELECT doc_id, source, n_chars,
           'lang=' || lang || ',src=' || source AS meta_m_str,
           lang AS meta_s,
           'delete' AS _change_type,
           TRUE AS composed_from_log, TRUE AS flip_logged_empty
    FROM documents WHERE doc_id % 11 = 0
    """,
)
def q_chlog_nested_map_cdc(spark, sf_dir):
    """Exact write-time CDC with maps NESTED inside struct columns
    (r12 nested lift, §9j#4): ``change_log=True`` on a
    ``struct<m:map<string,string>, s:string>`` schema records exact
    deltas — the delta job canonicalizes maps at EVERY depth
    (keyed_table._canon_expr: sorted map_entries twins inside rebuilt
    containers) and stores real maps back (_uncanon_expr). Three
    honesty pins ride the row: a nested-map-ONLY update classifies as
    an update; an updated-then-deleted key nets one delete with its
    ORIGINAL nested attrs; and a rewrite that merely REVERSES map
    entry order logs an EMPTY delta (flip_logged_empty — no
    fabricated delete+insert pairs). The oracle restates the net
    per-key outcome; maps serialize as sorted ``k=v`` joins."""
    tbl, c0, composed, flip_empty = _nmaplog_fixture(spark, sf_dir)
    ent = F.sort_array(F.map_entries(F.col("meta.m")))
    return tbl.diff_commits(spark, c0).select(
        "doc_id", "source", "n_chars",
        F.concat_ws(
            ",",
            F.transform(
                ent, lambda e: F.concat_ws("=", e["key"], e["value"])
            ),
        ).alias("meta_m_str"),
        F.col("meta.s").alias("meta_s"),
        "_change_type",
        F.lit(composed).alias("composed_from_log"),
        F.lit(flip_empty).alias("flip_logged_empty"),
    )


def _nmaplog_fixture(spark, sf_dir):
    """Nested-map chlog scenario (bulk + nested-map-only update +
    entry-order flip + delete); cached per process, disk-revalidated
    (r13)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_nmaplog_{sf_tag(sf_dir)}"

    def mk():
        return KeyedTable(
            root, key="doc_id", precombine="n_chars",
            partition_by="source", change_log=True,
        )

    def composed_of(tbl):
        return all(
            (r := _chlog_ref(root, c))
            and os.path.isdir(os.path.join(root, "_changes", r))
            for c in tbl.commits()[1:]
        )

    def flip_empty_of(flip_cid: str) -> bool:
        import pyarrow.dataset as pds

        flip_ref = _chlog_ref(root, flip_cid)
        return bool(flip_ref) and (
            pds.dataset(
                os.path.join(root, "_changes", flip_ref),
                format="parquet",
            ).count_rows()
            == 0
        )

    def build():
        tbl = mk()
        docs = table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars",
            F.struct(
                F.create_map(
                    F.lit("lang"), F.col("lang"),
                    F.lit("src"), F.col("source"),
                ).alias("m"),
                F.col("lang").alias("s"),
            ).alias("meta"),
        )
        c0 = tbl.bulk_insert(docs)
        # nested-map-ONLY update: meta.m rewritten, meta.s and every
        # other column untouched
        tbl.update_where(
            spark,
            {
                "meta": "named_struct("
                "'m', map('lang', meta.m['lang'], 'rev', '2'), 's', meta.s)"
            },
            "doc_id % 7 = 0",
        )
        # entry-order flip: logically identical maps, reversed entry
        # order — must log an EMPTY delta and contribute nothing
        flip = tbl.update_where(
            spark,
            {
                "meta": "named_struct("
                "'m', map_from_entries(reverse(sort_array("
                "map_entries(meta.m)))), 's', meta.s)"
            },
            "doc_id % 5 = 0",
        )
        tbl.delete(docs.filter("doc_id % 11 = 0").select("doc_id"))
        return tbl, c0, composed_of(tbl), flip_empty_of(flip)

    def reopen():
        tbl = mk()
        cids = tbl.commits()
        # ops-verified by the marker: cids[2] IS the flip update
        return tbl, cids[0], composed_of(tbl), flip_empty_of(cids[2])

    return _chlog_fixture(
        root, 4, build, recipe="nmaplog-v1", reopen=reopen
    )


@query(
    "chlog_fold_general_path",
    """
    SELECT event_id, user_id, event_type,
           CAST(value + 50.0 AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts,
           'update' AS _change_type, TRUE AS served_general_path
    FROM events WHERE event_id % 19 = 0 AND event_id % 23 <> 0
    UNION ALL
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts,
           'delete' AS _change_type, TRUE AS served_general_path
    FROM events WHERE event_id % 23 = 0
    """,
)
def q_chlog_fold_general_path(spark, sf_dir):
    """Change-log retention honesty (r12; §9h#2 / VERDICT r11 #4):
    ``fold_change_logs`` reclaims old recorded deltas — bounding the
    O(sum of deltas) byte growth on long-retention CDC tables — and a
    post-fold ``diff_commits`` over the folded range returns the SAME
    answer through the general snapshot diff: the composed fast path
    refuses (a log in range is gone), nothing raises, classification
    is unchanged. The boolean pins that the fold actually happened AND
    the fast path actually refused — the row would go red if folding
    ever silently served a stale log."""
    tbl, c0, ok = _foldlog_fixture(spark, sf_dir)
    return tbl.diff_commits(spark, c0).select(
        *_COLS,
        "_change_type",
        F.lit(ok).alias("served_general_path"),
    )


def _foldlog_fixture(spark, sf_dir):
    """Fold-honesty chlog scenario (bulk + upsert + delete, then fold
    all but the newest log); cached per process, seeded from the
    shared events base, disk-revalidated (r13) — on reopen, BOTH
    halves of the pin recompute live: a recorded-but-absent log dir
    proves the fold, the fast path's refusal is re-probed."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_foldlog_{sf_tag(sf_dir)}"

    def ok_of(tbl) -> bool:
        cids = tbl.commits()
        folded = any(
            (r := _chlog_ref(root, c))
            and not os.path.isdir(os.path.join(root, "_changes", r))
            for c in cids[1:]
        )
        refused = tbl._diff_chlog_fast(
            spark, cids[0], cids[-1], "post"
        ) is None
        return folded and refused

    def build():
        tbl = _clone_events_base(spark, sf_dir, root)
        ev = table(spark, sf_dir, "events").select(_COLS)
        c0 = tbl.commits()[0]
        tbl.upsert(
            ev.filter("event_id % 19 = 0")
            .withColumn("value", F.col("value") + F.lit(50.0))
            .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        )
        tbl.delete(ev.filter("event_id % 23 = 0").select("event_id"))
        tbl.fold_change_logs(keep_last=1)
        return tbl, c0, ok_of(tbl)

    def reopen():
        tbl = KeyedTable(
            root, key="event_id", precombine="ts",
            partition_by="event_type", change_log=True,
        )
        return tbl, tbl.commits()[0], ok_of(tbl)

    return _chlog_fixture(
        root, 3, build, recipe="foldlog-v1", reopen=reopen
    )


@query(
    "change_feed_clicks",
    """
    SELECT event_id, user_id, event_type, value + 100.0 AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts,
           'update' AS _change_type
    FROM events WHERE event_type = 'click'
    """,
)
def q_change_feed_clicks(spark, sf_dir):
    """CDC change feed between the first and latest commit of the
    two-batch scenario: every click updated (post-image = the b1 batch),
    nothing inserted or deleted — the oracle states the expected feed
    directly."""
    tbl = _two_batch_table(spark, sf_dir)
    return tbl.diff_commits(spark, tbl.commits()[0]).select(
        *_COLS, "_change_type"
    )


@query(
    "range_read_time_slice",
    _BATCHES_CTE.replace("b2 AS", "b2_unused AS").replace(
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2",
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1",
    )
    + """
    SELECT event_id, user_id, event_type, value, ts FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u
    ) WHERE rn = 1
      AND ts >= TIMESTAMP '2024-01-10 00:00:00'
      AND ts <= TIMESTAMP '2024-01-20 00:00:00'
    """,
)
def q_range_read_time_slice(spark, sf_dir):
    """File-skipping range read: a ten-day ts slice of the two-batch
    table via read_range (manifest min/max pruning + exact re-filter);
    the oracle filters the merged state directly."""
    import datetime

    tbl = _two_batch_table(spark, sf_dir)
    lo = datetime.datetime(2024, 1, 10)
    hi = datetime.datetime(2024, 1, 20)
    return tbl.read_range(spark, "ts", lo, hi).select(_COLS)


# -- external-engine read (§2a #5) ------------------------------------------

#: The driver's oracle gate runs at sf0.01; the physical-read oracle
#: embeds that table path (data-dependent oracles are sf-bound, like
#: the IVF centroid literals in llm_queries). Must use the same
#: sf_tag (basename + full-path hash) the engine-side root uses.
_EXT_ROOT = "/tmp/hudi_glue_spark_scn_ext_" + sf_tag("/root/testdata/sf0.01")


@query(
    "external_engine_read",
    f"""
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM read_parquet('{_EXT_ROOT}/data/*/*.parquet', hive_partitioning=true)
    """,
)
def q_external_engine_read(spark, sf_dir):
    """External-engine read of the table format (§2a #5, the Redshift
    Spectrum capability generalized: Redshift/spectrum_setup.sql:2-11).

    Spark side: bulk_insert + upsert + clean(retain_commits=1) so the
    published files ARE the live snapshot, then read back through
    ``register_external`` — a real catalog table (CREATE EXTERNAL TABLE
    ... USING PARQUET + MSCK partition recovery), not the manifest path.
    Oracle side: DuckDB — the stand-in external engine — scans the
    table's PHYSICAL files straight off disk. Both engines must see the
    identical merged state for the cross-engine contract to hold."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_ext_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="event_id", precombine="ts", partition_by="event_type")
    b0, b1, _b2 = _batches(spark, sf_dir)
    ingest(tbl, b0)
    ingest(tbl, b1)
    tbl.clean(retain_commits=1)
    tbl.register_external(spark, "kt_external_demo")
    return spark.sql(
        "SELECT event_id, user_id, event_type, value, ts FROM kt_external_demo"
    )


@query(
    "dual_path_read_agreement",
    _BATCHES_CTE.replace("b2 AS", "b2_unused AS").replace(
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2",
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1",
    )
    + """
    , merged AS (
      SELECT event_id, user_id, event_type, value, ts FROM (
        SELECT u.*, row_number() OVER (PARTITION BY event_id
                                       ORDER BY ts DESC, src DESC) AS rn
        FROM u
      ) WHERE rn = 1
    )
    SELECT CAST(count(*) AS BIGINT) AS sql_rows,
           CAST(count(*) AS BIGINT) AS path_rows,
           CAST(count(*) AS BIGINT) AS agreeing_rows
    FROM merged
    """,
)
def q_dual_path_read_agreement(spark, sf_dir):
    """The reference's own correctness check, automated (§2a #4 + §5:
    glue/MockCuratedGlueJob.py:17-25 reads the table via catalog SQL
    AND via direct path and eyeballs agreement). Here: register the
    two-batch table as a view, read it once through ``spark.sql`` and
    once through the manifest path, and return the row counts plus the
    exact-match intersection size — all three must equal the oracle's
    merged-state count, which fails loudly if the paths ever diverge."""
    tbl = _two_batch_table(spark, sf_dir)
    tbl.register(spark, "kt_dual_path")
    sql_side = spark.sql(
        "SELECT event_id, user_id, event_type, value, ts FROM kt_dual_path"
    )
    path_side = tbl.read(spark).select(_COLS)
    agree = sql_side.intersect(path_side)
    return spark.createDataFrame(
        [(sql_side.count(), path_side.count(), agree.count())],
        "sql_rows long, path_rows long, agreeing_rows long",
    )


@query(
    "schema_widen_drop_scenario",
    """
    WITH b0 AS (
      SELECT event_id, CAST(user_id AS INTEGER) AS user_id, event_type,
             CAST(value AS REAL) AS value, CAST(ts AS TIMESTAMP) AS ts,
             0 AS src
      FROM events
    ), b1 AS (
      SELECT event_id, user_id, event_type, value + 100.0 AS value,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts, 1 AS src
      FROM events WHERE event_type = 'click'
    ), u AS (
      SELECT event_id, CAST(user_id AS BIGINT) AS user_id, event_type,
             CAST(value AS DOUBLE) AS value, ts, src FROM b0
      UNION ALL
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
             ts, src FROM b1
    )
    SELECT event_id, user_id, event_type, value, ts FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u
    ) WHERE rn = 1
    """,
)
def q_schema_widen_drop_scenario(spark, sf_dir):
    """Schema evolution across commits (§2a #23 extension, Hudi native
    type-promotion parity): load the events narrow (user_id INT, value
    FLOAT, plus a tag column), upsert the click subset WIDE (BIGINT /
    DOUBLE, newer event time) — which widens the committed schema while
    untouched partitions keep their narrow files, upcast in place by the
    reader — then drop the tag column (metadata-only, zero rewrites).
    The oracle replays the same widen-then-merge in SQL: non-click rows
    show the float-rounded narrow values upcast to double, click rows
    the wide batch's exact values, and no tag column anywhere."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = (
        f"/tmp/hudi_glue_spark_scn_widen_{sf_tag(sf_dir)}"
    )
    shutil.rmtree(root, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select(_COLS)
    b0 = ev.select(
        "event_id",
        F.col("user_id").cast("int").alias("user_id"),
        "event_type",
        F.col("value").cast("float").alias("value"),
        "ts",
        F.lit("v0").alias("tag"),
    )
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    tbl.bulk_insert(b0)
    b1 = ev.filter(F.col("event_type") == "click").select(
        "event_id",
        "user_id",
        "event_type",
        (F.col("value") + F.lit(100.0)).alias("value"),
        (F.col("ts") + F.expr("INTERVAL 1 DAY")).alias("ts"),
    )
    tbl.upsert(b1)
    tbl.drop_columns(["tag"])
    return tbl.read(spark).select(
        "event_id", "user_id", "event_type", "value", "ts"
    )


@query(
    "insert_overwrite_partition",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE event_type <> 'click'
    UNION ALL
    SELECT event_id, user_id, event_type, CAST(value * 2 AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events WHERE event_type = 'click'
    """,
)
def q_insert_overwrite_partition(spark, sf_dir):
    """Partition replace (Hudi insert_overwrite parity, the backfill
    primitive): load all events, then OVERWRITE just the click partition
    with a recomputed batch (value doubled) — no merge, prior click rows
    gone, every other partition's files carried forward untouched. The
    oracle is the union of untouched partitions and the recomputed one."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = (
        f"/tmp/hudi_glue_spark_scn_iow_{sf_tag(sf_dir)}"
    )
    shutil.rmtree(root, ignore_errors=True)
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    tbl.bulk_insert(ev)
    recomputed = ev.filter(F.col("event_type") == "click").withColumn(
        "value", F.col("value") * F.lit(2.0)
    )
    tbl.insert_overwrite(recomputed)
    return tbl.read(spark).select(_COLS)


#: fixed, scattered probe keys for the point-lookup query (most exist at
#: every SF; absentees are fine — both engines agree they're absent)
_LOOKUP_KEYS = [i * 97 + 7 for i in range(32)]


@query(
    "point_lookup_keys",
    _BATCHES_CTE.replace("b2 AS", "b2_unused AS").replace(
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2",
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1",
    )
    + f"""
    SELECT event_id, user_id, event_type, value, ts FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u
    ) WHERE rn = 1 AND event_id IN ({", ".join(map(str, _LOOKUP_KEYS))})
    """,
)
def q_point_lookup_keys(spark, sf_dir):
    """Key point lookup through the per-file Bloom index (Hudi
    bloom-index parity, table/bloom.py): 32 scattered event_ids fetched
    from the two-batch table via read_keys, which opens only files whose
    manifest bloom may hold a probe — min/max stats can't prune scattered keys,
    which is exactly why Hudi blooms them. The oracle filters the merged
    state by the same IN list; bloom false positives cost I/O only, so
    the results must match row-for-row."""
    tbl = _two_batch_table(spark, sf_dir)
    return tbl.read_keys(spark, _LOOKUP_KEYS).select(_COLS)


_DML_CACHE: dict[str, KeyedTable] = {}


@query(
    "predicate_dml_scenario",
    """
    SELECT event_id, user_id, event_type, value, ts FROM (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_type = 'click'
                  THEN CAST(value * 2 AS DOUBLE)
                  ELSE CAST(value AS DOUBLE) END AS value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ) WHERE value IS NULL OR NOT (value >= 150.0)
    """,
)
def q_predicate_dml_scenario(spark, sf_dir):
    """Predicate DML (Spark-SQL UPDATE/DELETE on a Hudi table, the DML
    surface next to MERGE INTO and insert_overwrite): bulk-load events,
    UPDATE ... SET value = value * 2 WHERE event_type = 'click' (only
    the click partition rewrites), then DELETE ... WHERE value >= 150
    (every partition holding matches rewrites, minus those rows). The
    oracle replays both statements over the raw table — sequencing
    matters, since the delete sees doubled click values."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_dml_{sf_tag(sf_dir)}"
    # cache key is "this process built it" — NOT a commit count, which
    # would force a rebuild every call at any SF where a no-match DML
    # statement (legitimately) publishes no commit
    tbl = _DML_CACHE.get(root)
    if tbl is None or not tbl.exists():
        shutil.rmtree(root, ignore_errors=True)
        tbl = KeyedTable(
            root, key="event_id", precombine="ts", partition_by="event_type"
        )
        ev = table(spark, sf_dir, "events").select(_COLS)
        tbl.bulk_insert(ev)
        tbl.update_where(
            spark, {"value": "value * 2.0D"}, "event_type = 'click'"
        )
        tbl.delete_where(spark, "value >= 150.0D")
        _DML_CACHE[root] = tbl
    return tbl.read(spark).select(_COLS)


# -- SQL-path pruned reads (§2a #4 × file skipping) --------------------------

#: three probe keys present at every SF (event_id is dense 0..N-1) and
#: close enough in id space to land in few range-clustered files
_PRUNE_KEYS = [42, 57, 311]
_PRUNE_LO, _PRUNE_HI = 100, 350

_PRUNE_CACHE: dict[str, KeyedTable] = {}


def _pruned_table(spark: SparkSession, sf_dir: str) -> KeyedTable:
    """events bulk-loaded range-clustered on event_id (8 files, tight
    per-file min/max and key blooms in the manifest) — the layout where
    point/range reads can prove file skipping at any SF."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from hudi_glue_spark.table import manifest as M

    root = f"/tmp/hudi_glue_spark_scn_prune_{sf_tag(sf_dir)}"
    cached = _PRUNE_CACHE.get(root)
    # a cached fixture must also carry the current metadata generation
    # (per-file row counts) — an on-disk table built by an older code
    # generation is rebuilt, not trusted
    if (
        cached is not None
        and cached.exists()
        and M.read_manifest(root).total_rows() is not None
    ):
        return cached
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        stats_cols=["event_id", "ts"],
        key_bloom=True,
    )
    ev = table(spark, sf_dir, "events").select(_COLS)
    # unpartitioned table + pre-clustered batch: _write_files keeps the
    # caller's partitioning, so each of the 8 range tasks becomes one
    # file covering a contiguous event_id slice
    clustered = ev.repartitionByRange(8, F.col("event_id")).sortWithinPartitions(
        "event_id"
    )
    tbl.bulk_insert(clustered)
    _PRUNE_CACHE[root] = tbl
    return tbl


@query(
    "sql_pruned_point_range",
    f"""
    SELECT
      CAST((SELECT count(*) FROM events
            WHERE event_id IN ({", ".join(map(str, _PRUNE_KEYS))})) AS BIGINT)
        AS n_point,
      CAST((SELECT count(*) FROM events
            WHERE event_id BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}) AS BIGINT)
        AS n_range,
      TRUE AS point_paths_agree,
      TRUE AS range_paths_agree,
      TRUE AS point_scan_pruned,
      TRUE AS isin_scan_pruned,
      TRUE AS range_scan_pruned
    """,
)
def q_sql_pruned_point_range(spark, sf_dir):
    """Dual-path PRUNED reads (the reference's catalog-vs-path agreement
    idiom, glue/MockCuratedGlueJob.py:17-25, applied to the point/range
    read family): the same key IN-list and range predicate evaluated
    (a) through the registered SQL view — Catalyst pushes the predicate
    into the parquet scan — and (b) through the manifest-pruned Python
    API (read_keys via manifest blooms, read_isin / read_range via
    manifest min/max), which must agree row-for-row AND provably open
    fewer files than the table holds. The booleans convert the pruning
    claim into a driver fact: point_scan_pruned/isin_scan_pruned/
    range_scan_pruned are computed from the actual pruned file sets
    (metadata-scale, driver-side), and the oracle expects TRUE — a
    regression that stops skipping files fails the hash, not just a
    perf number. At 100 TB this is the difference between a point
    lookup opening ~1 file and opening every file."""
    from hudi_glue_spark.table import manifest as M

    tbl = _pruned_table(spark, sf_dir)
    n_files = len(M.read_manifest(tbl.path).files)

    tbl.register(spark, "kt_pruned")
    keys_sql = ", ".join(map(str, _PRUNE_KEYS))
    sel = "event_id, user_id, event_type, value, ts"
    sql_point = spark.sql(
        f"SELECT {sel} FROM kt_pruned WHERE event_id IN ({keys_sql})"
    )
    sql_range = spark.sql(
        f"SELECT {sel} FROM kt_pruned "
        f"WHERE event_id BETWEEN {_PRUNE_LO} AND {_PRUNE_HI}"
    )

    api_point = tbl.read_keys(spark, _PRUNE_KEYS).select(_COLS)
    api_isin = tbl.read_isin(spark, "event_id", _PRUNE_KEYS).select(_COLS)
    api_range = tbl.read_range(spark, "event_id", _PRUNE_LO, _PRUNE_HI).select(_COLS)

    def agrees(a: DataFrame, b: DataFrame) -> bool:
        return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()

    point_agree = agrees(sql_point, api_point) and agrees(sql_point, api_isin)
    range_agree = agrees(sql_range, api_range)

    return spark.createDataFrame(
        [
            (
                sql_point.count(),
                sql_range.count(),
                point_agree,
                range_agree,
                len(tbl.files_with_keys(_PRUNE_KEYS)) < n_files,
                len(tbl.files_isin("event_id", _PRUNE_KEYS)) < n_files,
                len(tbl.files_in_range("event_id", _PRUNE_LO, _PRUNE_HI)) < n_files,
            )
        ],
        "n_point long, n_range long, point_paths_agree boolean, "
        "range_paths_agree boolean, point_scan_pruned boolean, "
        "isin_scan_pruned boolean, range_scan_pruned boolean",
    )


@query(
    "manifest_metadata_table",
    """
    SELECT CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id,
           TRUE AS files_disjoint,
           TRUE AS metadata_only_scan
    FROM events
    """,
)
def q_manifest_metadata_table(spark, sf_dir):
    """The Iceberg ``table.files`` metadata-table idiom over the v2
    manifest: the snapshot's per-file min/max are themselves a parquet
    table (``KeyedTable.files_df``), registered as a SQL view and
    aggregated by the ENGINE with zero data-file I/O. Three facts are
    driver-checked: (a) the metadata-side min/max of event_id equal the
    data-side min/max (footer stats are exact for integers, so the
    oracle computes them from the data); (b) the range-clustered files
    cover DISJOINT event_id slices — the clustering contract behind
    every file-skipping read, proven by a window over the metadata
    rows; (c) the whole query physically scanned only ``_manifests/``
    parquet, never ``data/`` (asserted from the plan's input files).
    At 100 TB this is how operational questions — files per partition,
    clustering quality, stat coverage — run as ordinary Spark SQL over
    metadata-scale parquet instead of driver loops over a JSON
    timeline."""
    tbl = _pruned_table(spark, sf_dir)
    meta = tbl.files_df(spark)
    metadata_only = bool(meta.inputFiles()) and all(
        f"{os.sep}_manifests{os.sep}" in p for p in meta.inputFiles()
    )
    meta.createOrReplaceTempView("kt_files_meta")
    agg = spark.sql(
        """
        SELECT CAST(min(min_i) AS BIGINT) AS min_event_id,
               CAST(max(max_i) AS BIGINT) AS max_event_id
        FROM kt_files_meta WHERE col = 'event_id'
        """
    )
    overlaps = spark.sql(
        """
        SELECT count(*) AS n FROM (
          SELECT min_i, max_i,
                 lead(min_i) OVER (ORDER BY min_i, max_i, file) AS nxt
          FROM kt_files_meta WHERE col = 'event_id'
        ) WHERE nxt IS NOT NULL AND nxt <= max_i
        """
    ).collect()[0][0]
    return agg.select(
        "*",
        F.lit(overlaps == 0).alias("files_disjoint"),
        F.lit(metadata_only).alias("metadata_only_scan"),
    )


@query(
    "drop_partition_retention",
    """
    SELECT event_type, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           TRUE AS metadata_only_drop
    FROM events WHERE event_type <> 'click'
    GROUP BY event_type
    """,
)
def q_drop_partition_retention(spark, sf_dir):
    """Retention via METADATA-ONLY partition drop (`ALTER TABLE DROP
    PARTITION` parity): events land Hive-partitioned by event_type,
    then one partition is expired with ``drop_partitions`` — a commit
    that stops referencing its files without reading a row or writing
    a file. The ``metadata_only_drop`` boolean is computed from the
    commit itself: the new manifest's file set must be EXACTLY the old
    one minus the dropped directory (nothing rewritten), with zero
    rows written and the surviving shards reused. The oracle aggregates
    the raw events minus the dropped type — so the drop must be
    surgically partition-exact to hash-match. At 100 TB this is the
    nightly retention job: expiring a day costs one manifest commit;
    bytes follow later via clean()."""
    import os as _os

    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_dropp_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    ev = table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    tbl.bulk_insert(ev)
    man0 = M.read_manifest(root)
    tbl.drop_partitions(["event_type=click"])
    man1 = M.read_manifest(root)
    want = [f for f in man0.files if M.partition_of(f) != "event_type=click"]
    metadata_only = (
        man1.files == sorted(want)
        and man1.stats.get("rows_written") == 0
        and set(man1.shards or []) <= set(man0.shards or [])
    )
    dec = F.col("value").cast("decimal(18,4)")
    return (
        tbl.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec).cast("double").alias("sum_value"),
        )
        .withColumn("metadata_only_drop", F.lit(bool(metadata_only)))
    )


@query(
    "derived_day_partition_ingest",
    """
    SELECT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
           CAST(count(*) AS BIGINT) AS n,
           TRUE AS generated_consistent
    FROM events GROUP BY 1
    """,
)
def q_derived_day_partition_ingest(spark, sf_dir):
    """GENERATED partition column (Delta generated-column parity): the
    table declares ``day = to_date(ts)`` and partitions by it; the
    batch arrives WITHOUT a day column and the engine materializes it
    from the rule on ingest — writers never hand-maintain the partition
    key, so the Hive layout can't drift from the data. Driver-checked:
    the per-day row counts equal the oracle's data-side grouping, and
    ``generated_consistent`` proves to_date(ts) == day holds for every
    stored row (a drift between the rule and the stored column fails
    the hash). At 100 TB this is the standard time-partitioned ingest:
    the generation rule lives in table metadata, every writer gets the
    same layout, and day-scoped queries prune on the directory."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_gen_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="day",
        derived_cols={"day": "to_date(ts)"},
    )
    tbl.bulk_insert(table(spark, sf_dir, "events").select(_COLS))
    snap = tbl.read(spark)
    mismatches = snap.filter(F.expr("to_date(ts) <> day")).count()
    return (
        snap.groupBy("day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .withColumn("generated_consistent", F.lit(mismatches == 0))
    )


@query(
    "constraint_quarantine_flow",
    """
    SELECT CAST((SELECT count(*) FROM events
                 WHERE coalesce(value >= 50, TRUE)) AS BIGINT) AS n_accepted,
           CAST((SELECT count(*) FROM events
                 WHERE NOT coalesce(value >= 50, TRUE)) AS BIGINT)
             AS n_quarantined,
           TRUE AS quarantine_readable,
           TRUE AS table_clean
    """,
)
def q_constraint_quarantine_flow(spark, sf_dir):
    """CHECK constraints with quarantine (Delta ``ADD CONSTRAINT`` /
    DLT-expectation parity): the table declares ``value >= 50`` with
    ``on_violation='quarantine'``; ingest admits only satisfying rows,
    routes violators to ``_quarantine/`` with a ``__violated`` column
    naming the failed constraint, and records the count in the commit
    stats. Driver-checked facts: the accepted row count and the
    quarantined row count both equal the oracle's data-side partition
    of events (so enforcement is exactly the SQL CHECK semantics, NULL
    passes); ``quarantine_readable`` proves the quarantined rows read
    back with the right violation labels and match the commit-stats
    count; ``table_clean`` proves no violator leaked into the table.
    At 100 TB this is the ingest gate that keeps one bad upstream day
    from poisoning the corpus — violations are preserved for triage,
    never silently dropped."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from hudi_glue_spark.table import manifest as M

    root = f"/tmp/hudi_glue_spark_scn_cq_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        constraints={"min_value": "value >= 50"},
        on_violation="quarantine",
    )
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    acc = tbl.read(spark)
    n_acc = acc.count()
    q = tbl.read_quarantine(spark)
    nq = q.count() if q is not None else 0
    stats_q = tbl.latest_stats().get("quarantined", 0)
    quarantine_readable = nq == stats_q and (
        q is None
        or q.filter(~F.array_contains("__violated", "min_value")).count() == 0
    )
    table_clean = acc.filter(~F.coalesce(F.col("value") >= 50, F.lit(True))).count() == 0
    return spark.createDataFrame(
        [(n_acc, nq, bool(quarantine_readable), bool(table_clean))],
        "n_accepted long, n_quarantined long, quarantine_readable boolean, "
        "table_clean boolean",
    )


@query(
    "metadata_only_aggregates",
    """
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(min(event_id) AS BIGINT) AS min_event_id,
           CAST(max(event_id) AS BIGINT) AS max_event_id,
           TRUE AS from_metadata
    FROM events
    """,
)
def q_metadata_only_aggregates(spark, sf_dir):
    """Metadata-aggregate pushdown (Iceberg's ``SELECT count(*)``
    without a scan): every commit's manifest shards record each file's
    footer row count and stats-column min/max, and the manifest is an
    exact snapshot — so COUNT(*)/MIN/MAX answer from metadata alone,
    zero data-file I/O, no Spark job at all (driver-side arithmetic
    over shard parquet). The oracle computes the same aggregates from
    the DATA, so a drift between recorded counts/stats and actual file
    contents fails the hash. At 100 TB this turns the most common
    operational queries from full scans into millisecond metadata
    reads."""
    tbl = _pruned_table(spark, sf_dir)
    n = tbl.count_rows_metadata()
    mm = tbl.minmax_metadata("event_id")
    assert n is not None and mm is not None
    return spark.createDataFrame(
        [(n, int(mm[0]), int(mm[1]), True)],
        "n_rows long, min_event_id long, max_event_id long, "
        "from_metadata boolean",
    )


# -- CDF pre/post images + incremental view maintenance ----------------------

_CDF_CACHE: dict[str, KeyedTable] = {}

#: The _cdf_table scenario, restated as SQL — the ONE place its
#: constants (+100 click update, +100M/+500 purchase clones, %7 delete)
#: live on the oracle side. Every oracle over the scenario (batch IVM,
#: streaming IVM, history audit) builds from these fragments, so a
#: scenario change is a two-place edit (builder + here), not a hunt
#: through per-query f-strings.
CDF_FINAL_CTE = """
    WITH b0 AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
             CAST(ts AS TIMESTAMP) AS ts FROM events
    ), final AS (
      SELECT * FROM b0 WHERE event_type <> 'click'
      UNION ALL
      SELECT event_id, user_id, event_type, value + 100.0, ts
      FROM b0 WHERE event_type = 'click'
      UNION ALL
      SELECT event_id + 100000000, user_id, event_type, value + 500.0, ts
      FROM b0 WHERE event_type = 'purchase'
    )
"""

CDF_AGG_ORACLE = (
    CDF_FINAL_CTE
    + """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value
    FROM final WHERE user_id % 7 <> 0
    GROUP BY user_id
    """
)


def _cdf_table(spark: SparkSession, sf_dir: str) -> KeyedTable:
    """Three-commit table exercising every change type: bulk load (c0),
    one upsert mixing UPDATES (clicks: value+100, ts+1d) with INSERTS
    (new keys cloned from purchases: id+100M, value+500, ts+2d), then a
    predicate DELETE of every user_id % 7 == 0 row (c2)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_cdf_{sf_tag(sf_dir)}"
    cached = _CDF_CACHE.get(root)
    if cached is not None and len(cached.commits()) == 3:
        return cached
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    clicks = ev.filter(F.col("event_type") == "click")
    updates = clicks.withColumn("value", F.col("value") + F.lit(100.0)).withColumn(
        "ts", F.col("ts") + F.expr("INTERVAL 1 DAY")
    )
    inserts = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("event_id", F.col("event_id") + F.lit(100_000_000))
        .withColumn("value", F.col("value") + F.lit(500.0))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 2 DAY"))
    )
    tbl.upsert(updates.unionByName(inserts))
    tbl.delete_where(spark, "user_id % 7 = 0")
    _CDF_CACHE[root] = tbl
    return tbl


@query("cdf_incremental_agg", CDF_AGG_ORACLE)
def q_cdf_incremental_agg(spark, sf_dir):
    """Incremental view maintenance off the pre/post-image change feed:
    a per-user (count, sum) aggregate materialized at c0 is brought up
    to date using ONLY diff_commits(images="both") — +post-image for
    insert/update_postimage, −pre-image for delete/update_preimage —
    never re-reading the base table. The oracle recomputes the final
    aggregate from scratch, so the maintained result hash-matches iff
    retraction arithmetic is exactly right for all three change types
    (the scenario plants updates, inserts, AND a predicate delete).
    At 100 TB this is the pattern that keeps a derived table fresh for
    the cost of the day's delta instead of a full recompute; the feed
    itself stays O(changed partitions) via commit file pruning."""
    tbl = _cdf_table(spark, sf_dir)
    c0 = tbl.commits()[0]
    dec = F.col("value").cast("decimal(18,4)")
    agg0 = (
        tbl.read(spark, at=c0)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n0"),
            F.sum(dec).alias("s0"),
        )
    )
    feed = tbl.diff_commits(spark, c0, images="both")
    sign_pos = F.col("_change_type").isin("insert", "update_postimage")
    delta = feed.groupBy("user_id").agg(
        F.sum(F.when(sign_pos, 1).otherwise(-1)).alias("dn"),
        F.sum(F.when(sign_pos, dec).otherwise(-dec)).alias("ds"),
    )
    zero = F.lit(0).cast("decimal(18,4)")
    maintained = (
        agg0.join(delta, "user_id", "full_outer")
        .select(
            "user_id",
            (F.coalesce("n0", F.lit(0)) + F.coalesce("dn", F.lit(0))).alias(
                "n_events"
            ),
            (F.coalesce(F.col("s0"), zero) + F.coalesce(F.col("ds"), zero)).alias(
                "s"
            ),
        )
        .filter(F.col("n_events") > 0)
    )
    return maintained.select(
        "user_id",
        F.col("n_events").cast("long").alias("n_events"),
        F.col("s").cast("double").alias("sum_value"),
    )


@query(
    "table_history_audit",
    CDF_FINAL_CTE
    + """
    SELECT 0 AS seq, 'bulk_insert' AS op,
           CAST((SELECT count(*) FROM b0) AS BIGINT) AS n_rows,
           CAST((SELECT count(*) FROM b0) AS BIGINT) AS n_rows_meta
    UNION ALL
    SELECT 1, 'upsert', CAST((SELECT count(*) FROM final) AS BIGINT),
           CAST((SELECT count(*) FROM final) AS BIGINT)
    UNION ALL
    SELECT 2, 'delete_where',
           CAST((SELECT count(*) FROM final WHERE user_id % 7 <> 0) AS BIGINT),
           CAST((SELECT count(*) FROM final WHERE user_id % 7 <> 0) AS BIGINT)
    """,
)
def q_table_history_audit(spark, sf_dir):
    """Commit-timeline audit (DESCRIBE HISTORY parity): the CDF
    scenario table's history() joined with each commit's time-travel
    row count — the operational "what happened to this table" view.
    seq/op come from the timeline metadata; n_rows is a snapshot read
    AT each commit, so the row also re-proves time travel across the
    whole timeline. The oracle predicts every commit's cardinality
    from the scenario definition."""
    tbl = _cdf_table(spark, sf_dir)
    hist = tbl.history(spark).select("seq", "op", "commit_id").collect()
    counts = [
        (
            r["seq"],
            r["op"],
            tbl.read(spark, at=r["commit_id"]).count(),
            tbl.count_rows_metadata(at=r["commit_id"]),
        )
        for r in hist
    ]
    return spark.createDataFrame(
        counts, "seq int, op string, n_rows long, n_rows_meta long"
    )


@query(
    "forget_user_flow",
    """
    WITH tgt AS (SELECT min(user_id) AS u FROM events)
    SELECT CAST((SELECT count(*) FROM events) AS BIGINT) AS n_before,
           CAST((SELECT count(*) FROM events WHERE user_id <> (SELECT u FROM tgt))
                AS BIGINT) AS n_after,
           CAST((SELECT count(*) FROM events WHERE user_id = (SELECT u FROM tgt))
                AS BIGINT) AS user_rows_before,
           TRUE AS live_absent,
           TRUE AS snapshot_kept_user_pre_clean,
           TRUE AS history_purged,
           TRUE AS raw_bytes_absent
    """,
)
def q_forget_user_flow(spark, sf_dir):
    """Right-to-be-forgotten lifecycle, end-to-end and PROVEN at the
    byte level: delete_where removes the user from the live table, but
    time travel still reaches their rows (snapshot_kept_user_pre_clean
    — the compliance gap every snapshot table has); clean(retain=1)
    then drops the pre-delete manifest AND physically deletes the
    rewritten partitions' old files. history_purged checks the
    timeline; raw_bytes_absent re-reads EVERY remaining parquet file
    directly (bypassing the manifest) and asserts the user's rows are
    gone from disk, not merely unreferenced — the difference between
    "we don't show it" and "we don't have it". At 100 TB the cost is
    the delete's partition rewrite plus metadata-scale cleaning; only
    partitions that held the user are ever rewritten."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_forget_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    c0 = tbl.commits()[0]
    # smallest user with rows: exists at every SF, so the delete always
    # produces a commit and the purge path is always exercised
    target = tbl.read(spark).agg(F.min("user_id")).collect()[0][0]
    n_before = tbl.read(spark).count()
    user_rows_before = tbl.read(spark).filter(F.col("user_id") == target).count()

    tbl.delete_where(spark, F.col("user_id") == target)
    live = tbl.read(spark)
    n_after = live.count()
    live_absent = live.filter(F.col("user_id") == target).isEmpty()
    snapshot_kept = (
        tbl.read(spark, at=c0).filter(F.col("user_id") == target).count()
        == user_rows_before
    )

    tbl.clean(retain_commits=1)
    try:
        M.read_manifest(tbl.path, c0)
        history_purged = False
    except ValueError:
        history_purged = True
    ddir = M.data_dir(tbl.path)
    raw = spark.read.option("basePath", ddir).parquet(ddir)
    raw_bytes_absent = raw.filter(F.col("user_id") == target).isEmpty()

    return spark.createDataFrame(
        [
            (
                n_before,
                n_after,
                user_rows_before,
                bool(live_absent),
                bool(snapshot_kept),
                bool(history_purged),
                bool(raw_bytes_absent),
            )
        ],
        "n_before long, n_after long, user_rows_before long, "
        "live_absent boolean, snapshot_kept_user_pre_clean boolean, "
        "history_purged boolean, raw_bytes_absent boolean",
    )


@query(
    "partition_evolution_scenario",
    """
    WITH b0 AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
             CAST(ts AS TIMESTAMP) AS ts, user_id % 10 AS ub, 0 AS src
      FROM events
    ), b1 AS (
      SELECT event_id, user_id, event_type, value + 100.0,
             ts + INTERVAL 1 DAY, ub, 1 AS src
      FROM b0 WHERE event_type = 'click'
    ), u AS (
      SELECT * FROM b0 UNION ALL SELECT * FROM b1
    ), final AS (
      SELECT * FROM (
        SELECT u.*, row_number() OVER (PARTITION BY event_id
                                       ORDER BY ts DESC, src DESC) AS rn
        FROM u
      ) WHERE rn = 1
    )
    SELECT CAST(ub AS BIGINT) AS ub,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           TRUE AS layout_changed,
           TRUE AS pre_migration_snapshot_ok
    FROM final GROUP BY ub
    """,
)
def q_partition_evolution_scenario(spark, sf_dir):
    """Partition evolution end-to-end: a table partitioned by
    event_type is migrated to partition by a user bucket
    (change_partitioning — one clustering-rewrite commit that also
    updates the table metadata), then a post-migration upsert merges
    through the NEW layout. layout_changed is computed from the actual
    manifest (every live file under ub=), pre_migration_snapshot_ok
    re-reads the original layout via time travel; the oracle recomputes
    the merged final state per bucket. This is the operation a 100 TB
    deployment runs when its query pattern shifts and the old pruning
    scheme stops matching the filters."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_pevo_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    ev = table(spark, sf_dir, "events").select(_COLS).withColumn(
        "ub", F.col("user_id") % 10
    )
    tbl.bulk_insert(ev)
    c0 = tbl.commits()[0]
    n0 = tbl.read(spark).count()

    tbl.change_partitioning(spark, "ub")
    man = M.read_manifest(tbl.path)
    layout_changed = all(f.startswith("ub=") for f in man.files)

    b1 = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("value", F.col("value") + F.lit(100.0))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    )
    tbl.upsert(b1)
    snapshot_ok = tbl.read(spark, at=c0).count() == n0

    return (
        tbl.read(spark)
        .groupBy("ub")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value", "sum_value", "decimal(18,4)"),
        )
        .select(
            F.col("ub").cast("long").alias("ub"),
            "n",
            "sum_value",
            F.lit(bool(layout_changed)).alias("layout_changed"),
            F.lit(bool(snapshot_ok)).alias("pre_migration_snapshot_ok"),
        )
    )


@query(
    "compaction_scenario",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           TRUE AS files_reduced,
           TRUE AS pre_compaction_snapshot_ok
    FROM events GROUP BY event_type
    """,
)
def q_compaction_scenario(spark, sf_dir):
    """Small-file compaction with the data proven byte-identical: the
    events table is bulk-loaded fragmented (32-way shuffle per
    partition → ~160 small files), optimize() rewrites each partition
    into few target-size files binned by key hash, and the query
    hash-checks the post-compaction per-partition aggregates against
    the raw fixture — plus manifest facts: the live file count strictly
    dropped and the pre-compaction snapshot still time-travels. This is
    the maintenance operation the reference explicitly DISABLED in Hudi
    (hoodie.parquet.small.file.limit: 0, glue/HudiJarGlueJob.py:77) and
    the one a 100 TB table needs weekly: scan cost tracks file count,
    not just bytes."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_compact_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    # unpartitioned: _write_files keeps the caller's partitioning, so
    # the repartition(32) below fragments the table into ~32 small
    # files — the layout a high-parallelism ingest really produces
    tbl = KeyedTable(root, key="event_id", precombine="ts")
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev.repartition(32), dedupe=False)
    c0 = tbl.commits()[0]
    n_files_before = len(M.read_manifest(tbl.path).files)
    n0 = tbl.read(spark).count()

    # small_file_mb is effectively unbounded so the scenario compacts
    # at ANY scale factor (the default threshold would skip partitions
    # whose fragments average above 64 MB and return None)
    cid = tbl.optimize(spark, target_file_mb=1024, small_file_mb=1 << 20)
    if cid is None:
        raise RuntimeError("optimize() found nothing to compact")
    n_files_after = len(M.read_manifest(tbl.path).files)
    files_reduced = n_files_after < n_files_before
    snapshot_ok = tbl.read(spark, at=c0).count() == n0

    return (
        tbl.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            dec_sum("value", "sum_value", "decimal(18,4)"),
        )
        .withColumn("files_reduced", F.lit(bool(files_reduced)))
        .withColumn("pre_compaction_snapshot_ok", F.lit(bool(snapshot_ok)))
    )


@query(
    "rollback_scenario",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events
    """,
)
def q_rollback_scenario(spark, sf_dir):
    """Rollback as a first-class commit: bulk load, then a click-batch
    upsert, then rollback(to=c0) — a METADATA-ONLY commit that
    re-references c0's files (no data movement). The final read must be
    byte-identical to the initial load, which is exactly what the
    oracle states; the bad upsert stays in history for forensics until
    clean(). At 100 TB this is the 'undo the broken backfill in
    seconds' operation — cost is one manifest write regardless of
    table size."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_rollb_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    b0, b1, _b2 = _batches(spark, sf_dir)
    ingest(tbl, b0)
    c0 = tbl.commits()[0]
    ingest(tbl, b1)
    tbl.rollback(c0)
    return tbl.read(spark).select(_COLS)


@query(
    "savepoint_pinned_time_travel",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           TRUE AS savepoint_survived_clean,
           TRUE AS unpinned_history_purged
    FROM events GROUP BY event_type
    """,
)
def q_savepoint_pinned_time_travel(spark, sf_dir):
    """Savepoint lifecycle (Hudi savepoint/restore parity), proven
    through the cleaner: the FIRST commit is savepointed, two more
    upserts land, then ``clean(retain_commits=1)`` runs. The pinned
    commit must survive the clean — manifest, shards, and data files —
    so time travel to it still returns the exact initial snapshot
    (the oracle recomputes it from the raw batch), while the UNPINNED
    middle commit is purged from the timeline. Flags are computed from
    the real on-disk state, and the per-partition aggregate of the
    at-savepoint read is what the driver hash-checks — a clean that
    dropped (or a read path that lost) any pinned file would change
    the numbers. Metadata-only pinning: one JSON list, no file copies
    (keyed_table.py:1678; ↦ Hudi savepoint, cleaner policy at
    glue/HudiJarGlueJob.py:83)."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_savepoint_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    b0, b1, b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0)
    pinned = tbl.savepoint()  # pin the initial snapshot
    tbl.upsert(b1)
    mid = tbl.commits()[-1]
    tbl.upsert(b2)
    tbl.clean(retain_commits=1)
    survived = pinned in tbl.commits()
    try:
        M.read_manifest(tbl.path, mid)
        purged = False
    except ValueError:
        purged = True
    return (
        tbl.read(spark, at=pinned)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dec_sum("value", "sum_value", "decimal(18,4)"),
        )
        .select(
            "event_type",
            "n",
            "sum_value",
            F.lit(survived).alias("savepoint_survived_clean"),
            F.lit(purged).alias("unpinned_history_purged"),
        )
    )


@query(
    "clean_plan_protocol",
    """
    WITH b0 AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS value,
             CAST(ts AS TIMESTAMP) AS ts FROM events
    ), b1 AS (
      SELECT event_id, event_type, value + 100.0 AS value,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts
      FROM events WHERE event_type = 'click'
    ), u AS (
      SELECT *, 0 AS src FROM b0
      UNION ALL SELECT *, 1 AS src FROM b1
    ), final AS (
      SELECT event_id, event_type, value FROM (
        SELECT u.*, row_number() OVER (PARTITION BY event_id
                                       ORDER BY ts DESC, src DESC) AS rn
        FROM u
      ) WHERE rn = 1
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           TRUE AS reuse_refused_under_plan,
           TRUE AS writer_published_during_plan,
           TRUE AS plan_cleared,
           TRUE AS validate_sound
    FROM final GROUP BY event_type
    """,
)
def q_clean_plan_protocol(spark, sf_dir):
    """Cleaner ⇄ writer coordination through the commit log, driver-
    proven: clean() publishes ``_cleanplan.json`` (commits to drop +
    claimed files/shards) BEFORE deleting anything; a writer that
    commits while the plan is pending must refuse every claimed shard
    as a reuse candidate (its head manifest shares no shard with the
    claim set), and clean's execute phase re-checks claims against the
    commits live at delete time — so the interleaved writer's snapshot
    stays fully readable and the per-partition aggregate of the FINAL
    state (bulk load + one upsert merged under the pending plan) hash-
    matches the oracle's recomputation. The flags assert the protocol
    state transitions from the real on-disk artifacts. This is the
    object-store-correct closure of the cleaner-vs-in-flight-writer
    race (Hudi clean-plan / Delta VACUUM-protocol parity;
    keyed_table.py:1793, manifest.py write_manifest)."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_cleanplan_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    b0, b1, _b2 = _batches(spark, sf_dir)
    cols = ["event_id", "event_type", "value", "ts"]
    tbl.bulk_insert(b0.select(cols))
    # churn so retain=1 has commits to drop: rewrite one partition twice
    aux = b0.select(cols).filter(F.col("event_type") == "view").limit(50)
    tbl.upsert(aux)
    tbl.upsert(aux)

    plan = tbl._plan_clean(retain_commits=1, orphan_grace_s=0.0)
    assert plan is not None
    M.write_clean_plan(root, plan)
    claimed = set(plan["shards"])
    # writer commits WHILE the plan is pending
    tbl.upsert(b1.select(cols))
    head = M.read_manifest(root)
    reuse_refused = not (set(head.shards or []) & claimed)
    writer_published = head.op == "upsert"
    # cleaner resumes its published plan
    tbl.clean(retain_commits=1)
    plan_cleared = M.read_clean_plan(root) is None
    validate_sound = tbl.validate() == []

    return (
        tbl.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dec_sum("value", "sum_value", "decimal(18,4)"),
        )
        .select(
            "event_type",
            "n",
            "sum_value",
            F.lit(reuse_refused).alias("reuse_refused_under_plan"),
            F.lit(writer_published).alias("writer_published_during_plan"),
            F.lit(plan_cleared).alias("plan_cleared"),
            F.lit(validate_sound).alias("validate_sound"),
        )
    )


@query(
    "occ_disjoint_rebase",
    """
    WITH base AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
      FROM events
    ), a AS (  -- victim writer: doubles every 'click' value
      SELECT event_id, event_type, value * 2 AS value
      FROM base WHERE event_type = 'click'
    ), b AS (  -- rival writer: +1000 on every 'view' value
      SELECT event_id, event_type, value + 1000 AS value
      FROM base WHERE event_type = 'view'
    ), merged AS (
      SELECT * FROM base
      WHERE event_type NOT IN ('click', 'view')
      UNION ALL SELECT * FROM a
      UNION ALL SELECT * FROM b
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           TRUE AS loser_rebased,
           TRUE AS both_writers_present
    FROM merged GROUP BY event_type
    """,
)
def q_occ_disjoint_rebase(spark, sf_dir):
    """Optimistic-concurrency DISJOINT-COMMIT REBASE, driver-proven
    (Hudi/Delta conflict-resolution parity): two writers race the same
    commit id against the same base snapshot — the rival rewrites the
    'view' partition, the victim the 'click' partition. Under
    ``key_scope='partition'`` the loser must NOT re-run its merge: it
    audits the rival chain (disjoint partitions, same schema/layout/
    index) and re-publishes its ALREADY-STAGED files against the
    rival's head, stamping ``rebased_onto``. Both writers' rewrites
    land; the per-partition aggregate of the final snapshot
    hash-matches the oracle's independent recomputation of both
    updates applied to base. At 100 TB this is what lets N
    partition-disjoint writers commit at merge-once cost instead of
    serializing re-merges (keyed_table.py:_rebase_commit)."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_rebase_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type",
        key_scope="partition",
    )
    cols = ["event_id", "event_type", "value", "ts"]
    b0, _b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(cols))
    base_man = M.read_manifest(root)

    # VICTIM stages its 'click' rewrite against the base snapshot…
    victim_rows = (
        tbl.read(spark)
        .filter(F.col("event_type") == "click")
        .withColumn("value", F.col("value") * 2)
    )
    cid = M.child_id(base_man.commit_id)
    staged = tbl._write_index_aware(victim_rows, cid, None)

    # …meanwhile the RIVAL publishes its 'view' rewrite first
    rival = KeyedTable.load(root)
    rival.update_where(
        spark, {"value": "value + 1000"}, "event_type = 'view'"
    )

    # victim's publish under the planned child id now collides; the
    # rebase path must re-publish the staged files against the head
    touched = {"event_type=click"}
    tbl._commit(
        "upsert",
        M.with_new_files(M.carried_files_arrow(base_man, touched), staged),
        tbl.read(spark).schema,
        staged,
        rewritten=sorted(touched),
        cid=cid,
        base=base_man,
        touched=touched,
    )
    head = M.read_manifest(root)
    rebased = "rebased_onto" in (head.stats or {})
    ops = [M.read_manifest(root, c).op for c in tbl.commits()]
    both = ops.count("upsert") == 1 and ops.count("update_where") == 1

    return (
        tbl.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dec_sum("value", "sum_value", "decimal(18,4)"),
        )
        .select(
            "event_type",
            "n",
            "sum_value",
            F.lit(rebased).alias("loser_rebased"),
            F.lit(both).alias("both_writers_present"),
        )
    )


@query(
    "compaction_advisor",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           TRUE AS advisor_flagged_fragmented,
           TRUE AS advisor_metadata_only,
           TRUE AS advisor_clear_after_optimize
    FROM events GROUP BY event_type
    """,
)
def q_compaction_advisor(spark, sf_dir):
    """Metadata-only compaction SCHEDULING (``compaction_report`` —
    the optimize() twin of ``index_staleness``): a 32-way-fragmented
    bulk load must be flagged (file count ≫ ideal at the target file
    size), the report must physically read ONLY ``_manifests/``
    parquet (asserted from the plan's input files — polling it per
    table per hour at 100 TB costs no data I/O), and after optimize()
    the same report must come back clean. Data integrity across the
    flag→compact→re-check loop is hash-proven by the per-type
    aggregates against the raw fixture. This is the cadence loop that
    keeps scan cost tracking bytes instead of file count
    (keyed_table.py:compaction_report; ↦ the small-file handling the
    reference disabled, hoodie.parquet.small.file.limit: 0,
    glue/HudiJarGlueJob.py:77)."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_advisor_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="event_id", precombine="ts")
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev.repartition(32), dedupe=False)

    rep = tbl.compaction_report(spark, target_rows_per_file=10_000_000)
    metadata_only = bool(rep.inputFiles()) and all(
        f"{os.sep}_manifests{os.sep}" in p for p in rep.inputFiles()
    )
    before = rep.collect()
    flagged = len(before) == 1 and bool(before[0]["recommend_compact"])

    tbl.optimize(spark, target_file_mb=1024, small_file_mb=1 << 20)
    after = tbl.compaction_report(spark, target_rows_per_file=10_000_000)
    clear = all(not r["recommend_compact"] for r in after.collect())

    return (
        tbl.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dec_sum("value", "sum_value", "decimal(18,4)"),
        )
        .select(
            "event_type",
            "n",
            "sum_value",
            F.lit(flagged).alias("advisor_flagged_fragmented"),
            F.lit(metadata_only).alias("advisor_metadata_only"),
            F.lit(clear).alias("advisor_clear_after_optimize"),
        )
    )


@query(
    "manifest_relation_read",
    """
    SELECT event_id, user_id, event_type,
           CAST(value + 100.0 AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts
    FROM events
    WHERE event_type = 'click' AND value + 100.0 >= 150.0
    """,
)
def q_manifest_relation_read(spark, sf_dir):
    """Full-snapshot read through the manifest-backed Python Data
    Source relation (sources/manifest_relation.py — the Hudi
    metadata-table file-index idiom): the two-batch table is read with
    ``engine='manifest'``, so the file list, partition values, and
    pushed-filter file skipping are all served from the arrow shard
    table with ZERO data-dir listing, and the scan itself runs as
    pyarrow C++ file groups returning Arrow batches. The filter
    (partition equality + value range) exercises the pushdown path;
    result must hash-match the native plan's oracle exactly."""
    tbl = _two_batch_table(spark, sf_dir)
    df = tbl.read(spark, engine="manifest")
    return df.filter(
        (F.col("event_type") == "click") & (F.col("value") >= 150.0)
    ).select(_COLS)


@query(
    "merge_into_disjoint_rebase",
    """
    WITH base AS (
      SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    ), rivaled AS (  -- rival writer: +1000 on every 'view' value
      SELECT event_id, user_id, event_type,
             CASE WHEN event_type = 'view' THEN value + 1000 ELSE value END
               AS value, ts
      FROM base
    ), merged AS (   -- victim's delete-free MERGE on 'click' only
      SELECT event_id, user_id, event_type,
             CASE WHEN event_type = 'click' AND value BETWEEN 100 AND 110
                  THEN value * 2 ELSE value END AS value, ts
      FROM rivaled
      UNION ALL
      SELECT * FROM (VALUES
        (CAST(-1 AS BIGINT), CAST(0 AS BIGINT), 'click', CAST(999.5 AS DOUBLE),
         TIMESTAMP '2024-01-01 00:00:00'),
        (-2, 0, 'click', 999.5, TIMESTAMP '2024-01-01 00:00:00'),
        (-3, 0, 'click', 999.5, TIMESTAMP '2024-01-01 00:00:00'),
        (-4, 0, 'click', 999.5, TIMESTAMP '2024-01-01 00:00:00'),
        (-5, 0, 'click', 999.5, TIMESTAMP '2024-01-01 00:00:00')
      ) AS ins(event_id, user_id, event_type, value, ts)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           TRUE AS loser_rebased,
           TRUE AS delete_free_merge
    FROM merged GROUP BY event_type
    """,
)
def q_merge_into_disjoint_rebase(spark, sf_dir):
    """GLOBAL-key OCC rebase for a delete-free MERGE INTO (VERDICT r7
    #4): while the victim's merge (update a click value band + insert
    five new click rows) is staging files, a rival publishes a 'view'
    rewrite. The victim's publish collides; because the merge carries
    no delete clause, the loser proves disjointness against its SOURCE
    keys — the key ranges interleave across partitions, so the range
    proof fails and the per-file manifest KEY BLOOMS carry it (no
    source key can hit any rival-changed file; bloom false negatives
    impossible) — and rebases its already-staged files onto the
    rival's head instead of re-running the merge
    (keyed_table.py:_rebase_commit). Flags in the result row prove the
    rebase actually fired and both writers' effects landed."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_mrebase_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        key_scope="global",
        key_bloom=True,
    )
    b0, _b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))

    ev = table(spark, sf_dir, "events").select(_COLS)
    inserts = spark.createDataFrame(
        [
            (-i, 0, "click", 999.5, datetime.datetime(2024, 1, 1))
            for i in range(1, 6)
        ],
        schema=ev.schema,
    )
    source = (
        ev.filter(
            (F.col("event_type") == "click")
            & F.col("value").between(100.0, 110.0)
        )
        .withColumn("value", F.col("value") * 2)
        .unionByName(inserts)
    )

    # deterministic interleaving: the rival publishes its disjoint
    # 'view' rewrite between the victim's file staging and its commit
    orig = KeyedTable._write_files
    fired: dict = {}

    def hook(self, *args, **kwargs):
        out = orig(self, *args, **kwargs)
        if self.path == root and not fired:
            fired["x"] = 1
            KeyedTable._write_files = orig
            try:
                KeyedTable.load(root).update_where(
                    spark, {"value": "value + 1000"}, "event_type = 'view'"
                )
            finally:
                KeyedTable._write_files = hook
        return out

    KeyedTable._write_files = hook
    try:
        try:
            tbl.merge_into(source)  # delete-free: update + insert new
        except M.ConcurrentCommitError:
            # The rebase proof is an OPTIMIZATION with a probabilistic
            # arm: bloom false positives rise with probe-key count, so
            # at larger scale factors the all-clear can legitimately
            # fail and the loser must re-merge — the production retry
            # path (same as upsert_with_retry). At the driver's sf0.01
            # the proof holds deterministically and the flags assert
            # it; at bench scale this fallback keeps the row honest
            # instead of crashing the suite.
            tbl.merge_into(source)
    finally:
        KeyedTable._write_files = orig

    head = M.read_manifest(root)
    rebased = "rebased_onto" in (head.stats or {}) and head.op == "merge_into"
    ops = [M.read_manifest(root, c).op for c in tbl.commits()]
    both = ops.count("merge_into") == 1 and ops.count("update_where") == 1

    return (
        tbl.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dec_sum("value", "sum_value", "decimal(18,4)"),
        )
        .select(
            "event_type",
            "n",
            "sum_value",
            F.lit(rebased).alias("loser_rebased"),
            F.lit(bool(rebased and both)).alias("delete_free_merge"),
        )
    )


@query(
    "dv_delete_read",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events
    WHERE NOT (event_type = 'click' AND value >= 150.0)
      AND user_id <> 7
    """,
)
def q_dv_delete_read(spark, sf_dir):
    """Row-level deletes via DELETION VECTORS (keyed_table.py
    delete_where_dv/delete_dv; table/dv.py): a predicate delete and a
    key-list delete mark row positions dead in bitmap sidecars — ZERO
    data files are rewritten (asserted: the live file set is unchanged
    across both DML commits), the reference's copy-on-write delete
    (↦ EmptyHoodieRecordPayload, glue/HudiJarGlueJob.py:85) re-expressed
    as the Hudi-MoR/Delta-DV write shape a 100 TB point delete needs.
    The masked full read must hash-match the oracle's NOT-filter, and
    the metadata-only row count agrees with the scan."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_dvdel_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        key_bloom=True,
        stats_cols=["event_id", "ts"],
    )
    b0, _b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    files0 = set(M.read_manifest(root).files)

    tbl.delete_where_dv(spark, "event_type = 'click' AND value >= 150.0")
    keys = [
        r[0]
        for r in table(spark, sf_dir, "events")
        .filter("user_id = 7")
        .select("event_id")
        .collect()
    ]
    tbl.delete_dv(keys)  # bloom/stats-pruned key-list path

    man = M.read_manifest(root)
    assert set(man.files) == files0, "DV delete must not rewrite files"
    out = tbl.read(spark).select(_COLS)
    assert tbl.count_rows_metadata() == out.count()
    return out


@query(
    "dv_upsert_scenario",
    _BATCHES_CTE
    + """
    SELECT event_id, user_id, event_type, value, ts FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u
    ) WHERE rn = 1
    """,
)
def q_dv_upsert_scenario(spark, sf_dir):
    """The reference's day=0/1/2 incremental scenario executed through
    the MERGE-ON-READ upsert (keyed_table.py upsert_dv): day=1 winners
    land as NEW files while the superseded base rows are marked dead
    positionally; the stale day=2 batch loses to the event-time policy
    without touching storage. No base file is ever rewritten
    (asserted: every bulk-insert file is still live at the head), yet
    the final table must hash-match the same row_number oracle the
    copy-on-write upsert (upsert_event_time_wins) is checked against —
    the two write shapes are semantically indistinguishable."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_dvup_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        policy=EVENT_TIME_WINS,
        key_bloom=True,
        stats_cols=["event_id", "ts"],
    )
    b0, b1, b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    files0 = set(M.read_manifest(root).files)
    tbl.upsert_dv(b1.select(_COLS))
    tbl.upsert_dv(b2.select(_COLS))  # stale batch: all rows lose
    man = M.read_manifest(root)
    assert files0 <= set(man.files), "upsert_dv must only ADD files"
    return tbl.read(spark).select(_COLS)


@query(
    "dv_maintenance_fold",
    """
    WITH final AS (
      SELECT event_id, event_type, CAST(value AS DOUBLE) AS value
      FROM events WHERE value >= 20.0
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           TRUE AS metadata_count_exact,
           TRUE AS masks_folded,
           TRUE AS blobs_reclaimed,
           TRUE AS validate_sound
    FROM final GROUP BY event_type
    """,
)
def q_dv_maintenance_fold(spark, sf_dir):
    """The deletion-vector MAINTENANCE loop, driver-proven end to end:
    two predicate deletes stack masks (the second UNIONS into files the
    first already masked), the metadata-only count stays exact under
    masks (count_rows_metadata subtracts per-DV dead counts — zero data
    I/O), optimize() folds every mask into a real rewrite (head carries
    no DVs afterwards; the partitions qualified for compaction BECAUSE
    they carried masks), and clean() reclaims the now-unreferenced
    blobs two-phase like data files. Flags assert each transition from
    the on-disk artifacts; the per-partition aggregate of the folded
    table must hash-match the oracle."""
    from hudi_glue_spark.table import dv as DVB
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_dvfold_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        stats_cols=["event_id", "ts"],
    )
    b0, _b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    tbl.delete_where_dv(spark, "value < 10.0")
    tbl.delete_where_dv(spark, "value >= 10.0 AND value < 20.0")
    meta_exact = tbl.count_rows_metadata() == tbl.read(spark).count()

    tbl.optimize(spark)  # DV'd partitions qualify; rewrite folds masks
    folded = M.read_manifest(root).dvs == {}
    tbl.clean(retain_commits=1)
    reclaimed = DVB.list_blobs(root) == []
    sound = tbl.validate() == []

    return (
        tbl.read(spark)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            dec_sum("value", "sum_value", "decimal(18,4)"),
        )
        .select(
            "event_type",
            "n",
            "sum_value",
            F.lit(meta_exact).alias("metadata_count_exact"),
            F.lit(folded).alias("masks_folded"),
            F.lit(reclaimed).alias("blobs_reclaimed"),
            F.lit(sound).alias("validate_sound"),
        )
    )


#: data-dependent oracle path (same idiom as _EXT_ROOT): the oracle
#: runs at sf0.01, so the DuckDB SQL embeds that table's root
_DVEXT_ROOT = "/tmp/hudi_glue_spark_scn_dvext_" + sf_tag(
    "/root/testdata/sf0.01"
)


@query(
    "dv_external_engine_read",
    f"""
    WITH t AS (
      SELECT * FROM read_parquet(
        '{_DVEXT_ROOT}/data/*/*.parquet',
        hive_partitioning=true, filename=true, file_row_number=true)
    )
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM t
    WHERE EXISTS (
      SELECT 1
      FROM read_parquet('{_DVEXT_ROOT}/_export/head_files.parquet') l
      WHERE l.file = t.filename
    )
    AND NOT EXISTS (
      SELECT 1
      FROM read_parquet('{_DVEXT_ROOT}/_export/head_positions.parquet') d
      WHERE d.file = t.filename AND d.pos = t.file_row_number
    )
    """,
)
def q_dv_external_engine_read(spark, sf_dir):
    """Cross-engine contract for DELETION-VECTOR tables (§2a #5
    extended): ``register_external`` AUTO-refreshes the snapshot
    interchange artifacts — live-file list + dead (file, position)
    pairs (the Iceberg position-delete-file idiom) — and registers the
    anti-joined VIEW, so the catalog name yields LOGICAL rows by
    default (VERDICT r8 ask #7). Spark side reads through that
    registered view (no manifest read, no clean() prerequisite); the
    ORACLE side is DuckDB physically reconstructing the same snapshot
    from the raw data files + the two exported artifacts
    (``filename``/``file_row_number`` semi/anti-join) — no Spark, no
    manifest code. Both engines must see the identical masked state:
    deletes done without rewriting a single file are fully consumable
    outside the engine."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_dvext_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        key_bloom=True,
        stats_cols=["event_id", "ts"],
    )
    b0, _b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    tbl.delete_where_dv(spark, "event_type = 'view' AND value < 50.0")
    keys = [
        r[0]
        for r in table(spark, sf_dir, "events")
        .filter("user_id = 11")
        .select("event_id")
        .collect()
    ]
    tbl.delete_dv(keys)
    tbl.register_external(spark, "kt_dvext_demo")  # refreshes exports
    return spark.table("kt_dvext_demo").select(_COLS)


@query(
    "dv_predicate_dml",
    """
    WITH upd AS (
      SELECT event_id, user_id, event_type,
             CASE WHEN event_type = 'click' AND value < 50.0
                  THEN value + 100.0 ELSE CAST(value AS DOUBLE) END AS value,
             CAST(ts AS TIMESTAMP) AS ts
      FROM events
    )
    SELECT event_id, user_id, event_type, value, ts
    FROM upd WHERE NOT (value >= 180.0)
    """,
)
def q_dv_predicate_dml(spark, sf_dir):
    """Sequenced predicate DML through DELETION VECTORS (the MoR twin
    of predicate_dml_scenario): UPDATE ... WHERE marks the matched
    rows' positions dead and appends their updated images (no
    partition rewrite), then DELETE ... WHERE stacks masks over BOTH
    original and appended files — order matters (the delete sees
    post-update values, including updated rows it must now remove),
    and the masked read must hash-match the oracle's sequenced
    CASE-then-filter. The live file set only ever GROWS (asserted):
    two DML statements, zero rewrites."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_dvpdml_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        stats_cols=["event_id", "ts"],
    )
    b0, _b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    files0 = set(M.read_manifest(root).files)
    tbl.update_where_dv(
        spark, {"value": "value + 100.0"},
        "event_type = 'click' AND value < 50.0",
    )
    tbl.delete_where_dv(spark, "value >= 180.0")
    man = M.read_manifest(root)
    assert files0 <= set(man.files), "predicate DML must not rewrite"
    out = tbl.read(spark).select(_COLS)
    assert tbl.count_rows_metadata() == out.count()
    return out


_RLI_SCN_CACHE: dict[str, tuple] = {}


def _rli_point_fixture(spark, sf_dir) -> tuple:
    """The record_index_point_lookup scenario table — 4 commits (bulk,
    index build, CoW upsert, CoW delete) — built ONCE per process per
    sf (§9d#4 bench hygiene, VERDICT r9 #8): the build is
    deterministic, so the point-lookup row times the LOOKUP path, not
    a fixture rebuild; bench.py charges the build to an explicit
    ``commit:`` row. Returns (tbl, registered, maintained)."""
    root = f"/tmp/hudi_glue_spark_scn_rli_{sf_tag(sf_dir)}"
    cached = _RLI_SCN_CACHE.get(root)
    if cached is not None and os.path.isdir(cached[0].path):
        return cached
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        policy=EVENT_TIME_WINS,
        stats_cols=["event_id", "ts"],
        key_bloom=True,
    )
    ev = table(spark, sf_dir, "events")
    b0, b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    tbl.build_record_index(spark)
    registered = tbl.record_index_info() is not None
    tbl.upsert(b1.select(_COLS))  # moves every click row to new files
    del_keys = ev.filter("user_id = 3").select("event_id")
    tbl.delete(del_keys)
    reg = tbl.record_index_info()
    maintained = reg is not None and len(reg.get("deltas") or {}) >= 2
    out = (tbl, registered, maintained)
    _RLI_SCN_CACHE[root] = out
    return out


@query(
    "record_index_point_lookup",
    _BATCHES_CTE
    + """
    , final AS (
      SELECT event_id, user_id, event_type, value, ts FROM (
        SELECT u.*, row_number() OVER (PARTITION BY event_id
                                       ORDER BY ts DESC, src DESC) AS rn
        FROM u WHERE src <= 1
      ) WHERE rn = 1
    ), del_keys AS (
      SELECT event_id FROM events WHERE user_id = 3
    ), probes AS (
      SELECT event_id FROM events WHERE event_id % 97 = 0
    )
    SELECT f.event_id, f.user_id, f.event_type, f.value, f.ts,
           TRUE AS rli_registered,
           TRUE AS rli_maintained,
           TRUE AS rli_pruned
    FROM final f
    JOIN probes p ON f.event_id = p.event_id
    WHERE f.event_id NOT IN (SELECT event_id FROM del_keys)
    """,
)
def q_record_index_point_lookup(spark, sf_dir):
    """RECORD-LEVEL INDEX point lookups (keyed_table.py
    build_record_index/files_hosting_keys/read_keys; table/record_index.py
    — Hudi 1.0 metadata-table record_index parity, the key→file tagging
    the reference gets implicitly from hoodie upsert,
    glue/HudiJarGlueJob.py:83): the index is built once, then a CoW
    upsert AND a CoW delete advance it through `_commit`'s central
    delta hook — no op-specific wiring. Point lookups of probe keys
    must (a) open fewer files than the snapshot holds (span-pruned
    sorted segments, asserted), (b) resolve moved keys to their
    REWRITTEN hosts, and (c) resolve deleted keys to nothing — all
    hash-checked against the window-dedup + anti-join oracle."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tbl, registered, maintained = _rli_point_fixture(spark, sf_dir)
    root = tbl.path
    ev = table(spark, sf_dir, "events")

    probes = [
        r[0]
        for r in ev.filter("event_id % 97 = 0").select("event_id").collect()
    ]
    hosts = tbl.files_hosting_keys(spark, probes)
    # scale-stable pruning proof: the index names at most one host set
    # per probe key (and every host is live) — NOT "fewer than all
    # files", which degenerates when probe count ≥ file count
    live = set(M.read_manifest(root).files)
    pruned = (
        hosts is not None
        and 0 < len(hosts) <= len(probes)
        and set(hosts) <= live
    )

    return tbl.read_keys(spark, probes).select(
        *_COLS,
        F.lit(registered).alias("rli_registered"),
        F.lit(maintained).alias("rli_maintained"),
        F.lit(pruned).alias("rli_pruned"),
    )


@query(
    "record_index_dv_backfill",
    _BATCHES_CTE
    + """
    SELECT event_id, user_id, event_type, value, ts,
           TRUE AS no_rewrite, TRUE AS rli_advanced FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u WHERE src <= 1
    ) WHERE rn = 1
    """,
)
def q_record_index_dv_backfill(spark, sf_dir):
    """Index-TAGGED merge-on-read backfill: an update batch far over
    the driver-side key-probe cap is tagged against the RECORD INDEX
    with one distributed join (keyed_table.py _dv_candidate_files →
    files_hosting_keys) instead of collecting keys through the driver
    — the 100M-row backfill shape. The DV upsert then marks only the
    tagged hosts' positions and appends winners as new files: zero
    base rewrites (asserted), the index advances with an O(delta) run
    (asserted), and the result hash-matches the same row_number oracle
    as the copy-on-write path."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_rlidv_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        policy=EVENT_TIME_WINS,
        stats_cols=["event_id", "ts"],
        key_bloom=True,
    )
    b0, b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    tbl.build_record_index(spark)
    files0 = set(M.read_manifest(root).files)
    seq0 = (tbl.record_index_info() or {}).get("seq")

    # force the over-cap path at bench scale: the batch must tag via
    # the distributed index join, not a driver-collected key list
    tbl.DV_KEY_PRUNE_CAP = 10
    tbl.upsert_dv(b1.select(_COLS))

    man = M.read_manifest(root)
    assert files0 <= set(man.files), "DV upsert must not rewrite base files"
    reg = tbl.record_index_info()
    advanced = reg is not None and reg["seq"] == (seq0 or 0) + 1

    return tbl.read(spark).select(
        *_COLS,
        F.lit(True).alias("no_rewrite"),
        F.lit(advanced).alias("rli_advanced"),
    )


@query(
    "secondary_index_user_lookup",
    _BATCHES_CTE
    + """
    SELECT event_id, user_id, event_type, value, ts,
           TRUE AS sec_index_used, TRUE AS sec_index_maintained FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u WHERE src <= 1
    ) WHERE rn = 1 AND user_id IN (3, 41, 97)
    """,
)
def q_secondary_index_user_lookup(spark, sf_dir):
    """SECONDARY column index (keyed_table.py build_column_index /
    files_hosting_values — Hudi 1.0 secondary-index parity): the
    events table is keyed by event_id, so "all events of user X" can't
    prune by key blooms, and user_id min/max stats are useless (every
    file spans most users — scattered values). The value→file index
    resolves exact live hosts; it is maintained across a CoW upsert by
    the same central `_commit` hook as the record index (asserted: a
    delta run appended), and `read_isin` composes it with stats
    pruning. Hash-checked against the window-dedup oracle restricted
    to the probed users."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_secidx_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        policy=EVENT_TIME_WINS,
        stats_cols=["event_id", "ts"],
        key_bloom=True,
    )
    b0, b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    tbl.build_column_index(spark, "user_id")
    tbl.upsert(b1.select(_COLS))  # clicks rewritten -> delta run

    users = [3, 41, 97]
    reg = tbl.column_index_info("user_id")
    maintained = reg is not None and len(reg.get("deltas") or {}) >= 1
    hosts = tbl.files_hosting_values(spark, "user_id", users)
    used = hosts is not None

    return tbl.read_isin(spark, "user_id", users).select(
        *_COLS,
        F.lit(used).alias("sec_index_used"),
        F.lit(maintained).alias("sec_index_maintained"),
    )


_LKJ_CACHE: dict[str, KeyedTable] = {}


def _lkj_fixture(spark, sf_dir) -> KeyedTable:
    """index_lookup_join_distributed's table (bulk + secondary index +
    CoW upsert), built once per process per sf — the row times the
    distributed lookup join, bench.py charges the build to a
    ``commit:`` row (§9d#4 hygiene)."""
    root = f"/tmp/hudi_glue_spark_scn_lkj_{sf_tag(sf_dir)}"
    cached = _LKJ_CACHE.get(root)
    if cached is not None and os.path.isdir(cached.path):
        return cached
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root,
        key="event_id",
        precombine="ts",
        partition_by="event_type",
        policy=EVENT_TIME_WINS,
        stats_cols=["event_id", "ts"],
        key_bloom=True,
    )
    b0, b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    tbl.build_column_index(spark, "user_id")
    tbl.upsert(b1.select(_COLS))  # rewritten clicks -> delta run
    _LKJ_CACHE[root] = tbl
    return tbl


@query(
    "index_lookup_join_distributed",
    _BATCHES_CTE
    + """
    SELECT event_id, user_id, event_type, value, ts,
           TRUE AS entries_joined_distributed
    FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u WHERE src <= 1
    ) WHERE rn = 1
      AND user_id IN (SELECT user_id FROM events WHERE event_id % 191 = 0)
    """,
)
def q_index_lookup_join_distributed(spark, sf_dir):
    """DISTRIBUTED index consumption (VERDICT r9 #5; keyed_table.py
    lookup_join): "join each batch row to its current stored version"
    at full-corpus batch sizes — the shape where even
    files_hosting_keys' O(hosts) driver collect stops being free. The
    secondary user_id index's (value, file) entries join the batch
    DataFrame in the cluster (the _rli segments appear as a scan in
    the executed plan — asserted — and the method contains zero
    collect()), then gate the snapshot scan on (value, host) pairs;
    the pruning-superset invariant makes the gate exact. Maintained
    through a CoW upsert by the central _commit hook; hash-checked
    against the window-dedup oracle semi-joined to the same user set."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tbl = _lkj_fixture(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    batch = ev.filter("event_id % 191 = 0").select("user_id")
    out = tbl.lookup_join(spark, batch, col="user_id")
    plan = out._jdf.queryExecution().executedPlan().toString()
    distributed = "_rli" in plan  # entries scanned+joined in-cluster
    return out.select(
        *_COLS, F.lit(distributed).alias("entries_joined_distributed")
    )


@query(
    "index_lookup_join_pruned",
    _BATCHES_CTE
    + """
    SELECT event_id, user_id, event_type, value, ts,
           TRUE AS pruned_to_hosts
    FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u WHERE src <= 1
    ) WHERE rn = 1
      AND user_id IN (SELECT user_id FROM events WHERE event_id % 997 = 0)
    """,
)
def q_index_lookup_join_pruned(spark, sf_dir):
    """PRUNED index consumption (§9e#2 / VERDICT r10 #5;
    keyed_table.py lookup_join prune=True): the MID-size batch shape —
    too many keys for read_keys' driver probe, but hosts ≪ live files
    — collects the distinct HOST files (O(hosts), the documented
    driver term) and scans ONLY those. The returned boolean asserts
    the mechanism against the plan: the scan's inputFiles equal
    live ∩ index-hosts exactly (never a file the index did not name,
    never missing a host — the pruning-superset invariant keeps the
    result identical to the full-scan variant, which the oracle
    hash-checks)."""
    from hudi_glue_spark.table import manifest as M

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    tbl = _lkj_fixture(spark, sf_dir)
    ev = table(spark, sf_dir, "events")
    batch = ev.filter("event_id % 997 = 0").select("user_id")
    out = tbl.lookup_join(spark, batch, col="user_id", prune=True)
    live = set(M.read_manifest(tbl.path).files)
    hosts = set(
        tbl.files_hosting_values(
            spark, "user_id", batch.dropDuplicates()
        )
        or []
    )
    scanned = {
        f.split("/data/", 1)[1]
        for f in out.inputFiles()
        if "/data/" in f
    }
    pruned_ok = scanned == (live & hosts)
    return out.select(
        *_COLS, F.lit(pruned_ok).alias("pruned_to_hosts")
    )


@query(
    "time_travel_as_of",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts
    FROM events
    """,
)
def q_time_travel_as_of(spark, sf_dir):
    """WALL-CLOCK time travel (§2a #3 extended; Hudi as.of.instant /
    Delta timestampAsOf parity, r9): two commits land >1 s apart, and
    ``read(as_of=<first commit's stamp>)`` must resolve — via
    commit_as_of's metadata-only scan — to the pre-upsert snapshot,
    byte-identical to the day-0 batch. The 1.1 s pause makes the two
    commit stamps distinct at the stamp's second resolution, so the
    resolution is deterministic."""
    import time as _time

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_asof_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    b0, b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    _time.sleep(1.1)  # commit stamps are second-resolution
    tbl.upsert(b1.select(_COLS))
    from hudi_glue_spark.table import manifest as M

    ts0 = M.read_manifest(root, tbl.commits()[0]).ts
    assert tbl.commit_as_of(ts0) == tbl.commits()[0]
    return tbl.read(spark, as_of=ts0).select(_COLS)


@query(
    "sql_time_travel_read",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts, TRUE AS paths_agree
    FROM events
    """,
)
def q_sql_time_travel_read(spark, sf_dir):
    """SQL time travel == API time travel (VERDICT r13 #2; Delta
    ``VERSION AS OF`` / Hudi ``as.of.instant`` SQL parity the Glue
    reference gets from Hudi's SQL options). ``sql_read`` rewrites the
    managed reference onto ``read(at=)`` — here the pre-upsert commit,
    addressed BOTH by commit id and by Delta-style ordinal 0 — and the
    multiset-equality of the two SQL paths against the raw API path is
    returned as a hashed column, so any divergence fails the driver's
    value check, not just an assert. The snapshot itself must equal
    the day-0 batch (the oracle), proving the rewrite didn't leak
    head-state rows through the alias."""
    from hudi_glue_spark.sql_read import sql_read

    tbl = _two_batch_table(spark, sf_dir)
    c0 = tbl.commits()[0]
    cols_txt = ", ".join(_COLS)
    via_id = sql_read(
        spark,
        f"SELECT {cols_txt} FROM kt VERSION AS OF '{c0}'",
        tables={"kt": tbl},
    )
    via_ord = sql_read(
        spark,
        f"SELECT {cols_txt} FROM kt VERSION AS OF 0",
        tables={"kt": tbl},
    )
    api = tbl.read(spark, at=c0).select(_COLS)

    def _same(a, b):
        return (
            a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
        )

    agree = _same(via_id, api) and _same(via_ord, api)
    return via_id.select(*_COLS, F.lit(agree).alias("paths_agree"))


@query(
    "live_register_read_after_write",
    _BATCHES_CTE.replace("b2 AS", "b2_unused AS").replace(
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2",
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1",
    )
    + """
    SELECT event_id, user_id, event_type, value, ts FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u
    ) WHERE rn = 1
    """,
)
def q_live_register_read_after_write(spark, sf_dir):
    """Read-after-write THROUGH a registered view (VERDICT r13 #2:
    Hudi's hive_sync keeps the catalog pointing at the live table,
    glue/HudiJarGlueJob.py:80-82 — a temp view pinned to the
    registration-time snapshot is not parity). The view registers
    BEFORE the update batch commits; the rows the driver hashes come
    from ``spark.sql`` over that same view AFTER the commit, so a
    stale registration returns day-0 state and fails the value check
    against the merged-two-batch oracle."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_livereg_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    b0, b1, _b2 = _batches(spark, sf_dir)
    ingest(tbl, b0)
    tbl.register(spark, "kt_live_reg")  # live=True default
    ingest(tbl, b1)  # commits AFTER registration
    return spark.sql(
        "SELECT event_id, user_id, event_type, value, ts FROM kt_live_reg"
    )


@query(
    "sql_create_table_ddl",
    _BATCHES_CTE.replace("b2 AS", "b2_unused AS").replace(
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2",
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1",
    )
    + """
    SELECT event_id, user_id, event_type, value, ts FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u
    ) WHERE rn = 1
    """,
)
def q_sql_create_table_ddl(spark, sf_dir):
    """Full SQL-statement lifecycle (VERDICT r13 #3, self-parked
    §9l#3): CREATE TABLE with a DECLARED schema (O(1) empty commit) →
    INSERT INTO … SELECT (initial load) → INSERT INTO again (keyed
    upsert — Hudi pk-table INSERT semantics) → read back through
    ``sql_read``. Every hop is a SQL string; no Python constructor or
    API call touches the data path (reference parity: Hudi SQL's
    CREATE TABLE … USING hudi TBLPROPERTIES(primaryKey,
    preCombineField) = the Glue jobs' table_config,
    glue/HudiJarGlueJob.py:36-40). The final state must equal the
    merged-two-batch oracle — a stale/partial hop (empty CREATE not
    readable, second INSERT appending instead of upserting) breaks
    the hash."""
    from hudi_glue_spark.sql_ddl import sql_ddl
    from hudi_glue_spark.sql_dml import sql_dml
    from hudi_glue_spark.sql_read import sql_read

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_ddl_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    b0, b1, _b2 = _batches(spark, sf_dir)
    b0.select(_COLS).createOrReplaceTempView("ddl_b0")
    b1.select(_COLS).createOrReplaceTempView("ddl_b1")
    tables: dict = {}
    sql_ddl(
        spark,
        f"""CREATE TABLE kt_ddl (
              event_id BIGINT, user_id BIGINT, event_type STRING,
              value DOUBLE, ts TIMESTAMP)
            USING keyed
            PARTITIONED BY (event_type)
            LOCATION '{root}'
            TBLPROPERTIES ('primaryKey' = 'event_id',
                           'preCombineField' = 'ts')""",
        tables,
    )
    sql_dml(spark, "INSERT INTO kt_ddl SELECT * FROM ddl_b0",
            tables=tables)
    sql_dml(spark, "INSERT INTO kt_ddl SELECT * FROM ddl_b1",
            tables=tables)
    return sql_read(
        spark,
        "SELECT event_id, user_id, event_type, value, ts FROM kt_ddl",
        tables=tables,
    )


@query(
    "sql_alter_add_drop_columns",
    """
    WITH b0 AS (
      SELECT event_id, user_id, event_type,
             CAST(value AS DOUBLE) AS value, CAST(ts AS TIMESTAMP) AS ts,
             CAST(NULL AS DOUBLE) AS score, 0 AS src
      FROM events
    ), b1 AS (
      SELECT event_id, user_id, event_type, value + 100.0 AS value,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts,
             (value + 100.0) * 2 AS score, 1 AS src
      FROM events WHERE event_type = 'click'
    ), u AS (
      SELECT * FROM b0 UNION ALL SELECT * FROM b1
    )
    SELECT event_id, event_type, value, ts, score FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u
    ) WHERE rn = 1
    """,
)
def q_sql_alter_add_drop_columns(spark, sf_dir):
    """Metadata-only schema evolution through SQL (r14, extends
    VERDICT r13 #3's DDL ask): CTAS from the day-0 batch, ``ALTER
    TABLE ADD COLUMNS (score DOUBLE)`` (zero files rewritten — the
    Iceberg add-column idiom; pre-add rows read NULL on both
    engines), upsert the click batch WITH scores, then ``ALTER TABLE
    DROP COLUMN user_id`` (metadata-only retire). The oracle replays
    the same evolution in SQL: click rows carry the new scores,
    non-click rows read score NULL from pre-add files, and no
    user_id column anywhere."""
    from hudi_glue_spark.sql_ddl import sql_ddl
    from hudi_glue_spark.sql_dml import sql_dml

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_alter_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    b0, b1, _b2 = _batches(spark, sf_dir)
    b0.select(_COLS).createOrReplaceTempView("alter_b0")
    b1.select(_COLS).withColumn(
        "score", F.col("value") * 2
    ).createOrReplaceTempView("alter_b1")
    tables: dict = {}
    sql_ddl(
        spark,
        f"""CREATE TABLE kt_alter USING keyed
            PARTITIONED BY (event_type) LOCATION '{root}'
            TBLPROPERTIES ('primaryKey' = 'event_id',
                           'preCombineField' = 'ts')
            AS SELECT * FROM alter_b0""",
        tables,
    )
    sql_ddl(spark, "ALTER TABLE kt_alter ADD COLUMNS (score DOUBLE)",
            tables)
    sql_dml(spark, "INSERT INTO kt_alter SELECT * FROM alter_b1",
            tables=tables)
    sql_ddl(spark, "ALTER TABLE kt_alter DROP COLUMN user_id", tables)
    return tables["kt_alter"].read(spark).select(
        "event_id", "event_type", "value", "ts", "score"
    )


@query(
    "sql_merge_source_op_flags",
    """
    WITH base AS (
      SELECT event_id, user_id, event_type,
             CAST(value AS DOUBLE) AS value, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_id % 5 <> 0
    ), upd AS (
      SELECT event_id, user_id, event_type, value + 100.0 AS value,
             CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts
      FROM events WHERE event_id % 5 = 0 AND event_id % 15 <> 0
    ), ins AS (
      SELECT event_id + 3000000 AS event_id, user_id, event_type,
             value + 0.5 AS value, CAST(ts AS TIMESTAMP) AS ts
      FROM events WHERE event_id % 10 = 0
    )
    SELECT * FROM base UNION ALL SELECT * FROM upd
    UNION ALL SELECT * FROM ins
    """,
)
def q_sql_merge_source_op_flags(spark, sf_dir):
    """The CDC-staging MERGE shape (r14): ONE source batch carrying a
    per-row op flag the TARGET SCHEMA DOES NOT HAVE — matched 'D'
    rows delete, matched 'U' rows update, unmatched 'I' rows insert,
    all in one statement with conditions on ``s.op``. Standard SQL
    scopes source columns into every clause; the engine keeps extra
    source columns through the merge join for expression scope only
    (they are never written — the read-back proves the target schema
    is unchanged). This is how every Debezium/CDC feed lands in
    Hudi/Delta, so the shape gets its own oracle row."""
    from hudi_glue_spark.sql_dml import sql_dml

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_opflag_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    ev = table(spark, sf_dir, "events").select(_COLS)
    tbl.bulk_insert(ev)
    mod5 = ev.filter("event_id % 5 = 0")
    src = (
        mod5.withColumn("value", F.col("value") + F.lit(100.0))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
        .withColumn(
            "op",
            F.when(F.col("event_id") % 15 == 0, F.lit("D")).otherwise(
                F.lit("U")
            ),
        )
        .unionByName(
            ev.filter("event_id % 10 = 0")
            .withColumn("event_id", F.col("event_id") + F.lit(3000000))
            .withColumn("value", F.col("value") + F.lit(0.5))
            .withColumn("op", F.lit("I"))
        )
    )
    src.createOrReplaceTempView("opflag_batch")
    sql_dml(
        spark,
        """MERGE INTO kt USING opflag_batch AS s ON kt.event_id = s.event_id
           WHEN MATCHED AND s.op = 'D' THEN DELETE
           WHEN MATCHED AND s.op = 'U' THEN UPDATE SET *
           WHEN NOT MATCHED AND s.op = 'I' THEN INSERT *""",
        tables={"kt": tbl},
    )
    return tbl.read(spark).select(_COLS)


@query(
    "sql_call_rollback_clean",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts, TRUE AS head_is_rollback
    FROM events
    """,
)
def q_sql_call_rollback_clean(spark, sf_dir):
    """Table-service procedures through SQL (r14; Hudi SQL's CALL
    run_clean / rollback_to_instant / create_savepoint,
    sql_dml.sql_call): savepoint the initial commit, upsert an update
    batch, CALL rollback back onto the savepointed commit
    (metadata-only restore), CALL run_clean with a 2-commit window —
    the savepoint must keep the restore target alive through the
    clean. The read-back must equal the day-0 batch exactly; the
    boolean column pins that the head commit IS the rollback (op
    recorded in history())."""
    from hudi_glue_spark.sql_dml import sql_call

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_call_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    b0, b1, _b2 = _batches(spark, sf_dir)
    tbl.bulk_insert(b0.select(_COLS))
    c0 = tbl.commits()[0]
    tbl.upsert(b1.select(_COLS))
    tables = {"kt": tbl}
    sql_call(
        spark, f"CALL create_savepoint(table => 'kt', commit => '{c0}')",
        tables,
    )
    sql_call(
        spark, f"CALL rollback_to_instant(table => 'kt', commit => '{c0}')",
        tables,
    )
    sql_call(
        spark, "CALL run_clean(table => 'kt', retain_commits => 2)",
        tables,
    )
    head_op = [
        r["op"] for r in tbl.history(spark).collect()
    ][-1]
    return tbl.read(spark).select(
        *_COLS, F.lit(head_op == "rollback").alias("head_is_rollback")
    )


@query(
    "catalog_reopen_by_name",
    _BATCHES_CTE.replace("b2 AS", "b2_unused AS").replace(
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1 UNION ALL SELECT * FROM b2",
        "SELECT * FROM b0 UNION ALL SELECT * FROM b1",
    )
    + """
    SELECT event_id, user_id, event_type, value, ts,
           TRUE AS reopened_fresh FROM (
      SELECT u.*, row_number() OVER (PARTITION BY event_id
                                     ORDER BY ts DESC, src DESC) AS rn
      FROM u
    ) WHERE rn = 1
    """,
)
def q_catalog_reopen_by_name(spark, sf_dir):
    """Persistent name→path catalog (VERDICT r14 "Next round" #2;
    reference parity: hive_sync makes Hudi table NAMES durable in the
    metastore, glue/HudiJarGlueJob.py:80-82 — here the warehouse
    DIRECTORY is the metastore). Session half 1: CREATE by name into
    a warehouse dir (no LOCATION — sql_ddl roots it at
    ``<base>/<name>``) and load the day-0 batch. Session half 2 uses
    a FRESH handle set built by ``catalog_open(base)`` from the
    directory alone — no paths, no carried objects — and must be able
    to WRITE (INSERT the update batch through sql_dml) and READ
    (sql_read by name). The final state must equal the merged
    two-batch oracle: a catalog that reopened the wrong path, lost
    the key/precombine config, or failed to find the name at all
    cannot produce it. ``reopened_fresh`` pins that the second half
    really ran on a reopened handle, not the creating one."""
    from hudi_glue_spark.catalog import catalog_open
    from hudi_glue_spark.sql_ddl import sql_ddl
    from hudi_glue_spark.sql_dml import sql_dml
    from hudi_glue_spark.sql_read import sql_read

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    base = f"/tmp/hudi_glue_spark_scn_catalog_{sf_tag(sf_dir)}"
    shutil.rmtree(base, ignore_errors=True)
    b0, b1, _b2 = _batches(spark, sf_dir)
    b0.select(_COLS).createOrReplaceTempView("cat_b0")
    b1.select(_COLS).createOrReplaceTempView("cat_b1")
    # -- session half 1: create + initial load, names only ----------
    session1: dict = {}
    sql_ddl(
        spark,
        """CREATE TABLE kt_cat (
              event_id BIGINT, user_id BIGINT, event_type STRING,
              value DOUBLE, ts TIMESTAMP)
            USING keyed
            PARTITIONED BY (event_type)
            TBLPROPERTIES ('primaryKey' = 'event_id',
                           'preCombineField' = 'ts')""",
        session1,
        base_dir=base,
    )
    sql_dml(spark, "INSERT INTO kt_cat SELECT * FROM cat_b0",
            tables=session1)
    # -- session half 2: FRESH handles from the directory alone -----
    session2 = catalog_open(base)
    reopened = (
        set(session2) == {"kt_cat"}
        and session2["kt_cat"] is not session1["kt_cat"]
        and session2["kt_cat"].key == session1["kt_cat"].key
    )
    sql_dml(spark, "INSERT INTO kt_cat SELECT * FROM cat_b1",
            tables=session2)
    return sql_read(
        spark,
        "SELECT event_id, user_id, event_type, value, ts FROM kt_cat",
        tables=session2,
    ).select("*", F.lit(reopened).alias("reopened_fresh"))


@query(
    "call_run_clustering_range_read",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts, TRUE AS clustering_committed
    FROM events
    WHERE value >= 50.0 AND value <= 80.0
    """,
)
def q_call_run_clustering_range_read(spark, sf_dir):
    """Layout-change clustering through SQL (Hudi's CALL
    run_clustering table service; the reference reaches it through
    Hudi's inline services, glue/HudiJarGlueJob.py:77). Load the day-0
    batch as FOUR interleaved commits split on user_id — every data
    file spans the full ``value`` range, the worst case for min/max
    skipping — then CALL run_clustering(sort_by => 'value') and
    read back a value slice via the stats-pruned range read. The
    rewrite must move every row into range-clustered files without
    losing, duplicating, or mutating any (the oracle is the plain
    filter over the source batch); ``clustering_committed`` pins that
    the procedure returned the new head commit. The file-skipping
    effect itself is asserted in tests/test_lifecycle.py (scanned
    files strictly shrink for narrow ranges post-clustering)."""
    from hudi_glue_spark.sql_dml import sql_call

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_cluster_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    b0 = _batches(spark, sf_dir)[0].select(_COLS)
    tbl = KeyedTable(root, key="event_id", precombine="ts")
    for i in range(4):
        ingest(tbl, b0.filter(F.pmod(F.col("user_id"), F.lit(4)) == i))
    cid = sql_call(
        spark,
        "CALL run_clustering(table => 'kt_clu', sort_by => 'value', "
        "target_file_mb => 0.2)",
        {"kt_clu": tbl},
    )
    committed = cid is not None and tbl.commits()[-1] == cid
    return tbl.read_range(spark, "value", 50.0, 80.0).select(
        *_COLS, F.lit(bool(committed)).alias("clustering_committed")
    )


@query(
    "sql_show_partitions",
    """
    SELECT DISTINCT 'event_type=' || event_type AS partition
    FROM events
    """,
)
def q_sql_show_partitions(spark, sf_dir):
    """SHOW PARTITIONS through the SQL front-end (Hive/Hudi parity;
    the reference's partitioned writes are read back per partition
    dir, glue/HudiJarGlueJob.py:81). The listing comes off the
    manifest shards alone — zero data-file I/O, so it stays flat at
    any table size — and must equal the distinct partition values of
    the loaded batch in Hive dir format."""
    from hudi_glue_spark.sql_read import sql_read

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    root = f"/tmp/hudi_glue_spark_scn_showpart_{sf_tag(sf_dir)}"
    shutil.rmtree(root, ignore_errors=True)
    b0 = _batches(spark, sf_dir)[0].select(_COLS)
    tbl = KeyedTable(
        root, key="event_id", precombine="ts", partition_by="event_type"
    )
    tbl.bulk_insert(b0)
    return sql_read(spark, "SHOW PARTITIONS kt_sp", tables={"kt_sp": tbl})


@query(
    "sql_table_changes_feed",
    """
    SELECT event_id, user_id, event_type, CAST(value AS DOUBLE) AS value,
           CAST(ts AS TIMESTAMP) AS ts, 'update_preimage' AS _change_type
    FROM events WHERE event_type = 'click'
    UNION ALL
    SELECT event_id, user_id, event_type, value + 100.0 AS value,
           CAST(ts AS TIMESTAMP) + INTERVAL 1 DAY AS ts,
           'update_postimage' AS _change_type
    FROM events WHERE event_type = 'click'
    """,
)
def q_sql_table_changes_feed(spark, sf_dir):
    """CDF through SQL: Delta's ``table_changes`` TVF bound by
    sql_read to the commit-range diff with BOTH update images — the
    shape incremental view maintenance consumes (+post − pre). The
    two-batch table updates every click, so the feed is exactly one
    preimage (b0 values) and one postimage (b1 values) per click,
    which the oracle states directly."""
    from hudi_glue_spark.sql_read import sql_read

    tbl = _two_batch_table(spark, sf_dir)
    return sql_read(
        spark,
        "SELECT event_id, user_id, event_type, value, ts, _change_type "
        "FROM table_changes('kt_tt', 0)",
        tables={"kt_tt": tbl},
    )
