"""``KeyedTable`` — Hudi-CoW table semantics, natively on Spark.

Reproduces the reference's table contract (SURVEY.md §1.4):

- record key        ↦ ``hoodie.datasource.write.recordkey.field``
                      (glue/HudiJarGlueJob.py:80)
- precombine field  ↦ ``hoodie.datasource.write.precombine.field`` (:80)
- upsert            ↦ ``operation: upsert`` (:83) — window-dedup +
                      key-match + partition-scoped CoW rewrite
- bulk_insert       ↦ ``operation: bulk_insert`` (:84) — first load,
                      no merge (and, faithfully, no precombine pass
                      unless asked — see glue/HudiConnectorGlueJob.py:85-87)
- delete            ↦ ``EmptyHoodieRecordPayload`` (:85)
- partitioning      ↦ ``partitionpath.field`` + Hive-style dirs (:81,:102)
- cleaner           ↦ ``KEEP_LATEST_COMMITS`` retained=10 (:83)
- snapshot read     ↦ ``spark.read.format('hudi').load(path)``
                      (glue/MockCuratedGlueJob.py:23)
- catalog sync      ↦ ``hive_sync.*`` (:80-82) — here ``register()``

Late-data policy (FIXTURES.md F2): ``arrival_wins`` matches the
reference era's OverwriteWithLatestAvroPayload (the last-written batch
replaces matched keys regardless of precombine); ``event_time_wins``
compares precombine across old/new and keeps the newest event time,
ties going to the incoming batch.

Scale posture (100 TB):
- Copy-on-write rewrites ONLY touched partitions; untouched files are
  carried forward in the manifest (metadata-only).
- Key matching is an anti-join/window over touched partitions only —
  the Spark-native equivalent of Hudi's bloom-index tagging; AQE picks
  broadcast vs shuffle join at runtime and handles skew.
- All data movement is DataFrame-plan work; the only driver-side
  ``collect()`` is the distinct partition-value list (metadata-scale).
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType
from pyspark.sql.window import Window

from hudi_glue_spark.table import bloom as B
from hudi_glue_spark.table import dv as DVB
from hudi_glue_spark.table import manifest as M
from hudi_glue_spark.table import record_index as RI

#: process-wide view-name ownership: (id(session), view name) →
#: (session, owning table path). The latest register() wins the name;
#: a previous owner's live refresh checks this before re-pointing, so
#: two handles can't fight over one view (ADVICE r14). The session
#: object rides in the value only to keep id() from being recycled.
_VIEW_OWNERS: dict = {}


def _session_stopped(spark: SparkSession) -> bool:
    """True when the session's JVM context is gone (stop() nulls the
    backing _jsc) — the one refresh failure that can never heal."""
    try:
        return spark.sparkContext._jsc is None
    except Exception:
        return True


#: stats-shaped key pairs (record-index slot, column-index slots) that
#: ``KeyedTable._index_regs`` / ``_index_stats`` map to and from
#: ``{slot: value}``: the registrations, the rebuild markers a dropped
#: registration leaves, and the ``wanted_indexes`` intent
_REG_KEYS = ("record_index", "column_indexes")
_DROP_KEYS = ("record_index_dropped", "column_indexes_dropped")
_WANT_KEYS = ("record_index", "columns")
#: the ops that publish index registrations themselves (``_commit``
#: carries every other op's registrations forward)
_INDEX_OPS = frozenset(
    {
        "record_index", "record_index_compact", "drop_record_index",
        "column_index", "column_index_compact", "drop_column_index",
    }
)

ARRIVAL_WINS = "arrival_wins"
EVENT_TIME_WINS = "event_time_wins"

#: Live-file count at which full-snapshot ``read()`` switches from the
#: native JVM scan (explicit path list) to the manifest-backed Python
#: Data Source relation. Below it, the native path's driver setup is
#: negligible and its column-pruning/codegen decode wins; above it, the
#: per-path InMemoryFileIndex cost dominates read setup (measured
#: crossover in docs/SCALING.md; tools/manifest_stress.py full-read tier).
MANIFEST_READ_MIN_FILES = int(
    os.environ.get("HGS_MANIFEST_READ_MIN_FILES", "4096")
)


class ConstraintViolation(ValueError):
    """A batch failed the table's CHECK constraints under
    ``on_violation='fail'``; the message carries per-constraint
    violation counts."""

#: Lossless numeric widenings the parquet reader performs in place
#: (Spark 4 type-widening reads): integer ladder + float→double.
_INT_WIDTH = {"byte": 1, "short": 2, "integer": 3, "long": 4}


def _widened_type(table_t, batch_t):
    """The batch's type if it is a supported WIDENING of the table's
    (int ladder, float→double), else None (equal or narrower — the
    batch is cast up to the table type instead)."""
    a, b = table_t.typeName(), batch_t.typeName()
    if a == b:
        return None
    if a in _INT_WIDTH and b in _INT_WIDTH and _INT_WIDTH[b] > _INT_WIDTH[a]:
        return batch_t
    if a == "float" and b == "double":
        return batch_t
    return None


def _parquet_num_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


def _stat_value(v):
    """Normalize a parquet statistics value for JSON storage such that
    ordering survives: timestamps → fixed-width ISO strings (lexical
    order == time order), numbers pass through, bytes decode."""
    import datetime

    if isinstance(v, datetime.datetime):
        return v.strftime("%Y-%m-%dT%H:%M:%S.%f")
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    return v


def _parquet_footer_stats(path: str, cols: list[str]) -> tuple[int, dict]:
    """(num_rows, {col: [min, max]}) from the footer — no data read.
    Columns without usable statistics are omitted (→ never skipped)."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    names = {md.schema.column(i).name: i for i in range(md.num_columns)}
    out: dict = {}
    for col in cols:
        i = names.get(col)
        if i is None:
            continue
        lo = hi = None
        ok = True
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                ok = False
                break
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        if ok and lo is not None:
            out[col] = [_stat_value(lo), _stat_value(hi)]
    return md.num_rows, out


@dataclass
class KeyedTable:
    """A keyed, partitioned, versioned table at a filesystem path."""

    path: str
    key: list[str]
    precombine: str
    partition_by: list[str] | None = None
    policy: str = EVENT_TIME_WINS
    #: "global" (Hudi GLOBAL index parity): a key is unique across the
    #: whole table — an upsert probes every partition for prior versions
    #: of its keys (one semi-join over the table). "partition" (Hudi
    #: non-global index parity): keys are unique only within their
    #: partition — upsert touches exactly the batch's partitions, no
    #: global probe; a key that changes partition value becomes a new
    #: row there and the old row stays. The 100 TB trade: partition
    #: scope keeps upsert cost proportional to the batch's partitions.
    key_scope: str = "global"
    #: columns whose per-file min/max land in the manifest for read-side
    #: file skipping (None → the precombine column). At 100 TB this is
    #: the difference between scanning a time slice and the whole table.
    stats_cols: list[str] | None = None
    #: record a per-file key Bloom filter in the manifest shard
    #: (table/bloom.py — Hudi bloom-index parity) so :meth:`read_keys`
    #: point lookups open only files that may hold the key. Opt-in:
    #: costs one key-column read per written file at commit time.
    key_bloom: bool = False
    #: CHECK constraints enforced on every incoming batch (Delta
    #: ``ADD CONSTRAINT`` / DLT-expectation parity): name → SQL boolean
    #: expression. SQL CHECK semantics — a row violates only when the
    #: expression is FALSE (NULL passes). See ``on_violation``.
    constraints: dict | None = None
    #: what happens to violating rows: "fail" (reject the whole batch
    #: with per-constraint counts), "drop" (silently exclude), or
    #: "quarantine" (write them to ``_quarantine/<commit>/`` with a
    #: ``__violated`` column naming the failed constraints, and record
    #: the count in the commit stats — the DLT expectations pattern).
    on_violation: str = "fail"
    #: GENERATED columns (Delta generated-column parity): name → SQL
    #: expression over the batch's columns, ALWAYS recomputed on every
    #: incoming batch (a caller-supplied value is overwritten — the
    #: generation rule is the source of truth, so the column can never
    #: drift from its definition). The canonical use: a ``day`` column
    #: derived from an event timestamp to drive Hive partitioning —
    #: ``derived_cols={"day": "to_date(ts)"}, partition_by="day"`` —
    #: so writers never hand-maintain the partition key and every
    #: partition dir provably matches its rows.
    derived_cols: dict | None = None
    #: write-time CHANGE LOG (Delta Lake CDC-file parity): every CoW
    #: rewrite op (upsert / delete / update_where / delete_where /
    #: merge_into) additionally computes its EXACT logical row delta
    #: distributed (two ``exceptAll`` passes over the touched
    #: partitions — multiset semantics, so duplicate rows net by
    #: instance count) and persists it under ``_changes/<token>/``,
    #: recorded in the commit stats. The CDF stream source then serves
    #: rewrite commits of ANY size from the recorded delta — O(delta)
    #: read, no size gate — instead of diffing or the coarse
    #: whole-partition contract. Opt-in: costs one extra aggregation
    #: job over the rewritten partitions per commit. Map columns at
    #: ANY depth participate via recursive canonical twins
    #: (``_canon_expr``); a schema the twins still can't compare
    #: skips the log honestly (the gate/coarse contract remains).
    change_log: bool = False
    #: index slots this table SHOULD carry — ``{"record_index": True,
    #: "columns": [col, ...]}``: the record index is the key column's
    #: slot, each column index its column's, and one lifecycle serves
    #: both (``_index_regs`` reads this pair like the commit stats).
    #: Maintained by build_*/drop_* and persisted in _meta.json. The
    #: OCC-rebase path drops a registration it can't keep sound and
    #: leaves a ``*_dropped`` marker in that commit's stats; if another
    #: commit lands before maintenance runs, the marker is no longer at
    #: HEAD and a marker-only policy would leave the index unbuilt
    #: forever. This field makes :meth:`run_maintenance` CONVERGE:
    #: wanted and absent → rebuild, regardless of where the drop
    #: happened (§9d#2).
    wanted_indexes: dict | None = None

    def __post_init__(self):
        if isinstance(self.key, str):
            self.key = [self.key]
        if isinstance(self.partition_by, str):
            self.partition_by = [self.partition_by]
        if not self.key:
            # Reference refuses to ingest without a primary key
            # (glue/HudiJarGlueJob.py:132-134).
            raise ValueError("KeyedTable requires a record key")
        if self.policy not in (ARRIVAL_WINS, EVENT_TIME_WINS):
            raise ValueError(f"unknown policy {self.policy!r}")
        if self.key_scope not in ("global", "partition"):
            raise ValueError(f"unknown key_scope {self.key_scope!r}")
        if self.on_violation not in ("fail", "drop", "quarantine"):
            raise ValueError(f"unknown on_violation {self.on_violation!r}")
        if self.stats_cols is None:
            self.stats_cols = [self.precombine]
        elif isinstance(self.stats_cols, str):
            self.stats_cols = [self.stats_cols]
        # live temp-view registrations ({name: SparkSession}) refreshed
        # after every successful commit — the hive_sync parity gap
        # VERDICT r13 "What's missing" #2: a registered view must see
        # commits made AFTER registration without re-register()
        self._live_views: dict = {}

    # -- metadata ----------------------------------------------------------

    @property
    def _meta_path(self) -> str:
        return os.path.join(self.path, "_meta.json")

    def exists(self) -> bool:
        """Catalog/table existence probe (↦ glueClient.get_table branch,
        glue/HudiJarGlueJob.py:43-49)."""
        return bool(M.list_commit_ids(self.path))

    def save_meta(self) -> None:
        os.makedirs(self.path, exist_ok=True)
        with open(self._meta_path, "w") as f:
            json.dump(
                {
                    "key": self.key,
                    "precombine": self.precombine,
                    "partition_by": self.partition_by,
                    "policy": self.policy,
                    "key_scope": self.key_scope,
                    "stats_cols": self.stats_cols,
                    "key_bloom": self.key_bloom,
                    "constraints": self.constraints,
                    "on_violation": self.on_violation,
                    "derived_cols": self.derived_cols,
                    "change_log": self.change_log,
                    "wanted_indexes": self.wanted_indexes,
                },
                f,
                indent=1,
            )

    @classmethod
    def load(cls, path: str) -> "KeyedTable":
        with open(os.path.join(path, "_meta.json")) as f:
            d = json.load(f)
        # The LIVE manifest is the single source of truth for the
        # partition layout: change_partitioning/rollback publish the
        # manifest first and update _meta.json second, so a crash in
        # that window leaves _meta.json stale — trusting it would make
        # the next upsert mis-scope its partition rewrites against a
        # layout the live files no longer use (duplicate-row hazard).
        # Every manifest since partition evolution landed records
        # stats['partition_by']; older tables fall back to _meta.json.
        man = M.read_manifest(path)
        if man is not None and "partition_by" in (man.stats or {}):
            d["partition_by"] = man.stats["partition_by"] or None
        return cls(path=path, **d)

    def max_stat(self, key: str, default=0):
        """Max of a numeric commit-stats value over ALL retained
        commits (metadata-only). The robust read side of a commit-stats
        ledger: a non-stamping commit on the table (optimize, delete,
        change_partitioning) must not reset the ledger to zero, which
        reading only the head's stats would."""
        vals = [
            v
            for cid in self.commits()
            if (v := (M.read_manifest(self.path, cid).stats or {}).get(key))
            is not None
        ]
        return max(vals) if vals else default

    def latest_stats(self) -> dict:
        """The latest commit's stats dict (metadata-only read) — e.g. a
        streaming maintainer's idempotency ledger stamped via the
        ``extra_stats`` of :meth:`upsert`, read back without scanning
        the table."""
        man = M.read_manifest(self.path)
        return dict(man.stats or {}) if man is not None else {}

    def commits(self) -> list[str]:
        return M.list_commit_ids(self.path)

    # -- read side ---------------------------------------------------------

    def commit_as_of(self, ts) -> str | None:
        """The LAST commit whose wall-clock commit time is ≤ ``ts``
        (Hudi ``as.of.instant`` / Delta ``timestampAsOf`` parity), or
        None when the table didn't exist yet at ``ts``. Accepts a
        datetime (naive = UTC) or an ISO-8601 string; resolution is
        the commit stamp's (seconds, UTC). Metadata-only: one commit
        JSON read per retained commit — the log clean() keeps is the
        travel horizon, same trade as ``at=``."""
        import datetime as _dt

        # Parse REAL ISO-8601, don't massage strings: an input carrying
        # a UTC offset ('...+02:00') or fractional seconds ('...:00.5')
        # must convert/truncate BEFORE formatting, or the lexical
        # compare against the 'Z'-suffixed commit stamps picks the
        # wrong commit ('.' sorts before 'Z'; '+02:00Z' is garbage).
        if isinstance(ts, _dt.datetime):
            dt = ts
        else:
            s = str(ts).strip().replace(" ", "T")
            if s.endswith(("Z", "z")):
                s = s[:-1] + "+00:00"
            dt = _dt.datetime.fromisoformat(s)
        if dt.tzinfo is not None:
            dt = dt.astimezone(_dt.timezone.utc)
        # truncate to the commit stamps' resolution (seconds, UTC):
        # a commit stamped at the same second as a fractional input is
        # at-or-before it and must be included
        iso = dt.strftime("%Y-%m-%dT%H:%M:%SZ")
        best = None
        for cid in self.commits():
            man = M.read_manifest(self.path, cid)
            if man is not None and man.ts <= iso:
                best = cid  # commits() is chronological: keep the last
        return best

    def read(
        self,
        spark: SparkSession,
        at: str | None = None,
        engine: str = "auto",
        columns: list[str] | None = None,
        as_of=None,
    ) -> DataFrame:
        """Snapshot read: latest (or ``at=``time-travel) committed state.
        ``as_of`` time-travels by WALL-CLOCK commit time instead of
        commit id (resolved via :meth:`commit_as_of`; mutually
        exclusive with ``at``; raises if the table has no commit at or
        before that instant).

        Reads exactly the manifest's live files — the native equivalent
        of Hudi resolving latest file slices from the timeline
        (glue/MockCuratedGlueJob.py:23, SURVEY.md §4 file-skipping).

        ``engine`` picks the physical scan:

        - ``"native"`` — JVM parquet scan over the explicit live-path
          list. Fastest decode (column pruning + whole-stage codegen),
          but the driver pays InMemoryFileIndex construction over every
          path — fine to ~10^5 files, dominant at 10^6.
        - ``"manifest"`` — the Python-DataSource relation
          (sources/manifest_relation.py) served straight from the arrow
          shard table: no path-list handoff, no file-status population,
          planning flat-ish 100k→1M files, pushdown-pruned from
          manifest stats. Decodes all committed columns (the Spark 4.1
          Python DS API has no column-pruning hook).
        - ``"auto"`` — ``manifest`` iff the snapshot's live-file count
          ≥ ``MANIFEST_READ_MIN_FILES`` (measured crossover,
          docs/SCALING.md); else ``native``.

        ``columns`` projects the scan to a subset of the committed
        schema (order preserved from the schema, duplicates ignored).
        On the manifest engine this is a PHYSICAL projection — the
        pyarrow scan decodes only those columns, closing the "Python
        DS API has no column-pruning hook" gap for callers who know
        their projection; on the native engine Catalyst prunes the
        same way from a trailing ``select``.

        Snapshots carrying deletion vectors read HYBRID: the mask-free
        files keep whichever engine the rules above pick, and the
        masked files (typically a handful) read NATIVELY with a
        broadcast anti-join against the decoded dead positions when
        the total mask is small (``DV_NATIVE_MASK_MAX_DEAD``), else
        through the relation's worker-side bitmap path
        (:meth:`_hybrid_dv_read`).
        """
        if as_of is not None:
            if at is not None:
                raise ValueError("pass at= or as_of=, not both")
            at = self.commit_as_of(as_of)
            if at is None:
                raise ValueError(
                    f"no commit at or before {as_of!r} "
                    f"(horizon: what clean() retained)"
                )
        man = M.read_manifest(self.path, at)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        schema = StructType.fromJson(json.loads(man.schema_json))
        if columns is not None:
            unknown = set(columns) - {f.name for f in schema.fields}
            if unknown:
                raise ValueError(
                    f"columns not in committed schema: {sorted(unknown)}"
                )
            schema = StructType(
                [f for f in schema.fields if f.name in set(columns)]
            )
        if man.dvs:
            # HYBRID scan (VERDICT r8 missing #1): only the files that
            # actually carry a deletion vector pay the Python-relation
            # mask path; every mask-free file keeps the fast engine
            return self._hybrid_dv_read(spark, man, schema, engine)
        if engine == "auto":
            engine = (
                "manifest"
                if man.n_files >= MANIFEST_READ_MIN_FILES
                else "native"
            )
        if engine == "manifest":
            from hudi_glue_spark.sources import manifest_relation as MR

            return MR.read_snapshot(
                spark, self.path, schema, self.partition_by, at
            )
        if not man.files:
            return spark.createDataFrame([], schema)
        ddir = M.data_dir(self.path)
        paths = [os.path.join(ddir, f) for f in man.files]
        # Read under the COMMITTED schema, not mergeSchema inference:
        # files written before an add-column lack it physically (the
        # reader NULL-fills), files written before a type widening keep
        # the narrow physical type (the parquet reader upcasts
        # int→long / float→double in place), and a dropped column is
        # pruned at scan time even though old files still carry it.
        # mergeSchema would ERROR on the widened mix (int vs long) and
        # resurrect dropped columns — and paying a footer-merge pass
        # over every file of a 100 TB table buys nothing the manifest
        # doesn't already know.
        df = self._read_files(spark, ddir, paths, schema)
        return df.select(self._conform(df, schema))

    @staticmethod
    def _read_files(
        spark: SparkSession, ddir: str, paths: list[str], schema: StructType
    ):
        return spark.read.option("basePath", ddir).schema(schema).parquet(*paths)

    def _native_scan(
        self,
        spark: SparkSession,
        files: list[str],
        schema: StructType,
        with_positions: bool = False,
    ) -> DataFrame:
        """Native JVM parquet scan of an explicit live-file subset,
        conformed to the committed schema; ``with_positions`` appends
        the ``__file``/``__pos`` row coordinates from
        ``_metadata.file_path``/``row_index`` — parquet physical row
        order, the exact numbering the arrow relation assigns, so the
        two engines' coordinates interoperate."""
        ddir = M.data_dir(self.path)
        df = self._read_files(
            spark, ddir, [os.path.join(ddir, f) for f in files], schema
        )
        if not with_positions:
            return df.select(self._conform(df, schema))
        prefix = "file:" + os.path.abspath(ddir) + "/"
        return df.select(
            *self._conform(df, schema),
            F.expr(
                f"substring(_metadata.file_path, {len(prefix) + 1})"
            ).alias("__file"),
            F.col("_metadata.row_index").alias("__pos"),
        )

    def _hybrid_dv_read(
        self,
        spark: SparkSession,
        man,
        schema: StructType,
        engine: str = "auto",
        files: list[str] | None = None,
        with_positions: bool = False,
    ) -> DataFrame:
        """Hybrid scan of a DV-bearing snapshot: the files carrying a
        deletion vector (typically a handful) read through
        :meth:`_native_masked_scan` (JVM FileScan + broadcast anti-join
        of the dead pairs) when the total mask is small, else through
        the manifest relation, which applies the positional bitmap
        worker-side; every MASK-FREE file keeps the fast path — the
        native JVM scan (column pruning + whole-stage codegen) below
        the file-index crossover, the arrow relation with a C-side
        ``exclude_dvs`` complement above it. The halves union by name
        and Catalyst pushes filters into each branch independently, so
        a table with a few masked files reads ~all of its bytes at
        native speed (docs/SCALING.md "DV masked-read overhead":
        route-everything 2.8-3.5x native; r9 hybrid 0.96 s vs 0.23 s
        floor; r10 native-mask path closes to ~the floor). ``at``
        stays pinned to the snapshot's exact commit id on every
        relation branch and the dead pairs decode from ``man``'s own
        blob map — a rival commit landing between plan and execution
        cannot skew the mask.

        ``files`` restricts to an explicit live subset (pruned reads /
        DML probes); ``with_positions`` appends ``__file``/``__pos`` on
        both halves (same physical numbering either engine)."""
        from hudi_glue_spark.sources import manifest_relation as MR

        if files is None:
            masked = sorted(man.dvs)
            n_clean = man.n_files - len(masked)
        else:
            masked = sorted(f for f in files if f in man.dvs)
            n_clean = len(files) - len(masked)
        if engine == "auto":
            engine = (
                "manifest"
                if n_clean >= MANIFEST_READ_MIN_FILES
                else "native"
            )
        # NOTE a one-scan variant (anti-join over clean+masked files
        # together, no union) measured SLOWER (0.71 s vs 0.45 s at the
        # 500-dead shape): it pays the join probe and the __file
        # substring on EVERY row of the table, while the split pays
        # them only on the masked files' rows.
        total_dead = sum(int(man.dvs[f][1]) for f in masked)
        small_mask = (
            bool(masked) and total_dead <= self.DV_NATIVE_MASK_MAX_DEAD
        )
        parts: list[DataFrame] = []
        if n_clean:
            if engine == "manifest" and files is None:
                # full snapshot's clean half: no O(live files) list in
                # the plan — the relation drops dv'd names C-side
                parts.append(
                    MR.read_snapshot(
                        spark,
                        self.path,
                        schema,
                        self.partition_by,
                        at=man.commit_id,
                        exclude_dvs=True,
                        with_positions=with_positions,
                    )
                )
            else:
                src = man.files if files is None else files
                clean = [f for f in src if f not in man.dvs]
                if engine == "manifest":
                    parts.append(
                        MR.read_snapshot(
                            spark,
                            self.path,
                            schema,
                            self.partition_by,
                            at=man.commit_id,
                            files=clean,
                            with_positions=with_positions,
                        )
                    )
                else:
                    parts.append(
                        self._native_scan(
                            spark, clean, schema, with_positions
                        )
                    )
        if masked:
            # SMALL masks (the typical point-DML residue) read NATIVELY
            # with a broadcast anti-join against the dead (file, pos)
            # pairs — whole-stage codegen + parquet column pruning on
            # the masked half too, the exact plan register_external's
            # view already proves out in Spark SQL. Driver cost is
            # O(dead), bounded by the threshold. Big masks keep the
            # arrow relation's worker-side bitmaps (shipping millions
            # of pairs through a broadcast would not win).
            if small_mask:
                parts.append(
                    self._native_masked_scan(
                        spark, man, masked, schema, with_positions
                    )
                )
            else:
                parts.append(
                    MR.read_snapshot(
                        spark,
                        self.path,
                        schema,
                        self.partition_by,
                        at=man.commit_id,
                        files=masked,
                        apply_dvs=True,
                        with_positions=with_positions,
                    )
                )
        if not parts:
            out_schema = schema
            if with_positions:
                out_schema = StructType(
                    [
                        *schema.fields,
                        StructField("__file", StringType(), False),
                        StructField("__pos", LongType(), False),
                    ]
                )
            return spark.createDataFrame([], out_schema)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    #: masked files whose TOTAL dead-position count sits at or under
    #: this read natively (JVM FileScan + broadcast anti-join of the
    #: decoded dead pairs) instead of through the Python-DS relation;
    #: measured 4x faster at the point-DML shape (docs/SCALING.md "DV
    #: masked-read overhead"). Above it, decoding every blob into a
    #: driver-side pair list loses to the relation's worker-side
    #: bitmap masks.
    DV_NATIVE_MASK_MAX_DEAD = int(
        os.environ.get("HGS_DV_NATIVE_MASK_MAX_DEAD", "100000")
    )

    def _dv_pairs_df(self, spark: SparkSession, man) -> DataFrame:
        """The snapshot's dead ``(__file, __pos)`` pairs as a
        DataFrame, served from an immutable per-commit parquet cache
        under ``_cache/`` — a committed snapshot's blob map never
        changes, so the decode runs ONCE per commit instead of once
        per read (``createDataFrame`` from the driver pays ~0.3 s
        fixed at 100k pairs; scanning the cached parquet is ~30 ms,
        and on a cluster the file is executor-readable shared
        storage, not a driver ship). Pairs for files outside a pruned
        read's subset are harmless: a LEFT ANTI join drops only
        matching coordinates. Stale entries (commits aged out of the
        log) are pruned opportunistically on each build."""
        import uuid

        import numpy as np
        import pyarrow as pa
        import pyarrow.parquet as pq

        cdir = os.path.join(self.path, "_cache")
        dest = os.path.join(cdir, f"dv_pairs-{man.commit_id}.parquet")
        if not os.path.isfile(dest):
            rels, poss = [], []
            for rel in sorted(man.dvs):
                p = DVB.positions(DVB.read(self.path, man.dvs[rel][0]))
                rels.append(np.full(len(p), rel, dtype=object))
                poss.append(p.astype(np.int64))
            t = pa.table(
                {
                    "__file": pa.array(np.concatenate(rels), pa.string()),
                    "__pos": pa.array(np.concatenate(poss), pa.int64()),
                }
            )
            os.makedirs(cdir, exist_ok=True)
            tmp = os.path.join(
                cdir, f".tmp-{uuid.uuid4().hex[:8]}.parquet"
            )
            try:
                pq.write_table(t, tmp)
                os.replace(tmp, dest)  # atomic: rivals see old/new
            except OSError:
                # a concurrent clean() swept the .tmp staging mid-
                # build (its race window); serve this read from the
                # in-memory pairs instead — correct, one-shot slower
                if not os.path.isfile(dest):
                    import pandas as pd

                    return spark.createDataFrame(
                        pd.DataFrame(
                            {
                                "__file": np.concatenate(rels),
                                "__pos": np.concatenate(poss),
                            }
                        ),
                        schema="__file string, __pos long",
                    )
            live = set(M.list_commit_ids(self.path))
            for fn in os.listdir(cdir):
                if fn.startswith("dv_pairs-") and fn.endswith(".parquet"):
                    cid = fn[len("dv_pairs-"):-len(".parquet")]
                    if cid not in live:
                        try:
                            os.unlink(os.path.join(cdir, fn))
                        except OSError:
                            pass
        return spark.read.schema("__file string, __pos long").parquet(dest)

    def _native_masked_scan(
        self,
        spark: SparkSession,
        man,
        files: list[str],
        schema: StructType,
        with_positions: bool = False,
    ) -> DataFrame:
        """Native JVM scan of DV-MASKED files for SMALL masks: scan
        with ``_metadata`` row coordinates and broadcast-ANTI-join the
        dead ``(file, pos)`` pairs decoded from the snapshot's blobs
        (pinned to ``man`` — a rival commit cannot skew the mask).
        Keeps whole-stage codegen and parquet column pruning where the
        relation path decodes all committed columns; the plan is the
        in-engine twin of :meth:`register_external`'s masked view
        (VERDICT r9 next-round #1). Measured (docs/SCALING.md): 0.48 s
        vs the relation's 0.80 s full read at the 500-dead point-DML
        shape; 0.71 vs 0.76 at the 100k threshold.

        Pair transport: the per-commit parquet cache covers the WHOLE
        snapshot's pairs, so it is only built when the snapshot's
        total dead count sits under the threshold — a pruned read of
        one lightly-masked file in a heavily-masked snapshot must not
        decode millions of other files' positions driver-side; that
        shape ships just its own subset's pairs inline instead
        (bounded by the caller's threshold check on the subset)."""
        snapshot_dead = sum(int(v[1]) for v in man.dvs.values())
        if snapshot_dead <= self.DV_NATIVE_MASK_MAX_DEAD:
            dead = self._dv_pairs_df(spark, man)
        else:
            import pandas as pd

            import numpy as np

            rels, poss = [], []
            for rel in files:
                p = DVB.positions(DVB.read(self.path, man.dvs[rel][0]))
                rels.append(np.full(len(p), rel, dtype=object))
                poss.append(p.astype(np.int64))
            dead = spark.createDataFrame(
                pd.DataFrame(
                    {
                        "__file": np.concatenate(rels),
                        "__pos": np.concatenate(poss),
                    }
                ),
                schema="__file string, __pos long",
            )
        src = self._native_scan(spark, files, schema, with_positions=True)
        out = src.join(
            F.broadcast(dead), on=["__file", "__pos"], how="left_anti"
        )
        if with_positions:
            return out
        return out.select(*[f.name for f in schema.fields])

    def _read_pruned(
        self,
        spark: SparkSession,
        man: "M.Manifest",
        keep: list[str],
        schema: StructType,
    ) -> DataFrame:
        """Scan an explicit live-file subset under the committed schema,
        conformed — and DV-masked when any kept file carries a deletion
        vector (ONLY those files route through the manifest relation,
        which applies the positional mask worker-side; the mask-free
        rest of the subset keeps the native JVM scan's column pruning +
        codegen — the hybrid split)."""
        keep_set = set(keep)
        if man.dvs and any(f in keep_set for f in man.dvs):
            return self._hybrid_dv_read(
                spark, man, schema, engine="native", files=keep
            )
        return self._native_scan(spark, keep, schema)

    def read_incremental(self, spark: SparkSession, since: str) -> DataFrame:
        """Rows written after commit ``since`` (Hudi incremental-query
        parity): reads only files added by later commits."""
        man = M.read_manifest(self.path)
        base = M.read_manifest(self.path, since)
        assert man is not None and base is not None
        if man.shards is not None and base.shards is not None:
            # shard-level diff: files of shards the two snapshots SHARE
            # never enter the comparison, so the cost is O(changed
            # shards), not O(table files) — shards within one snapshot
            # are disjoint, so a file in an unshared shard of the head
            # cannot also live in a shared one
            shared = set(base.shards) & set(man.shards)
            mine = set()
            for s in man.shards:
                if s not in shared:
                    mine |= M.shard_file_set(self.path, s)
            theirs = set()
            for s in base.shards:
                if s not in shared:
                    theirs |= M.shard_file_set(self.path, s)
            new_files = sorted(mine - theirs)
        else:
            new_files = [f for f in man.files if f not in set(base.files)]
        schema = StructType.fromJson(json.loads(man.schema_json))
        if not new_files:
            return spark.createDataFrame([], schema)
        # head DVs apply to the incremental slice too: a row added
        # after ``since`` but since dv-deleted is no longer live
        return self._read_pruned(spark, man, new_files, schema)

    @staticmethod
    def _conform(df: DataFrame, schema: StructType):
        """Project ``df`` onto the committed schema: cast present
        columns, NULL-fill columns a pre-evolution file lacks. Cast
        targets are nullability-RELAXED — parquet reads surface
        nullable nested fields, and Spark treats a cast to a NOT NULL
        nested field as a type error, so a schema recorded from a
        non-nullable source frame would otherwise make its own table
        unreadable (r12)."""
        return [
            (
                F.col(f.name).cast(KeyedTable._nullable_type(f.dataType))
                if f.name in df.columns
                else F.lit(None).cast(KeyedTable._nullable_type(f.dataType))
            ).alias(f.name)
            for f in schema.fields
        ]

    def read_range(
        self, spark: SparkSession, col: str, lo, hi
    ) -> DataFrame:
        """Snapshot read of rows with ``lo <= col <= hi``, SKIPPING every
        file whose manifest min/max proves it holds no such rows — the
        manifest-level data-skipping that makes a time-slice query on a
        100 TB table scan only the matching files. Files without stats
        for ``col`` are read (never silently skipped); the exact filter
        is re-applied after the scan, so skipping is purely a pruning
        optimization."""
        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        nlo, nhi = _stat_value(lo), _stat_value(hi)
        # Vectorized shard prune (one arrow compute over the columnar
        # shard table) — the same fast path files_in_range/files_isin
        # use. The dict-walk fallback (legacy inline manifests only)
        # materializes every file's stats into Python, which on an
        # ~800k-file table is exactly the O(table) driver cost the
        # shards exist to avoid.
        keep = man.prune_range(col, nlo, nhi)
        if keep is None:
            keep = [
                f
                for f in man.files
                if (st := man.file_stats.get(f, {}).get(col)) is None
                or not (st[1] < nlo or st[0] > nhi)
            ]
        # a secondary index on the column prunes narrow ranges over
        # scattered values that min/max spans can't; host superset
        # either way, so intersect — PINNED to the same snapshot the
        # stats pruning used (a rival commit between the two reads
        # would otherwise drop rows: old host dead in the new live
        # set, replacement unknown to the old one)
        hosts = self.files_hosting_range(spark, col, lo, hi, man=man)
        if hosts is not None:
            hs = set(hosts)
            keep = [f for f in keep if f in hs]
        schema = StructType.fromJson(json.loads(man.schema_json))
        cond = (F.col(col) >= F.lit(lo)) & (F.col(col) <= F.lit(hi))
        if not keep:
            return spark.createDataFrame([], schema).filter(cond)
        return self._read_pruned(spark, man, keep, schema).filter(cond)

    def files_in_range(self, col: str, lo, hi, man=None) -> list[str]:
        """The file subset :meth:`read_range` would scan (introspection
        for tests and planning). Sharded manifests prune as one
        vectorized arrow compute over the columnar shard table — no
        per-file Python loop; legacy inline manifests fall back to the
        dict walk. ``man`` pins the snapshot (callers that already
        read it pass it, so prune and scan agree under rival commits)."""
        if man is None:
            man = M.read_manifest(self.path)
        assert man is not None
        nlo, nhi = _stat_value(lo), _stat_value(hi)
        fast = man.prune_range(col, nlo, nhi)
        if fast is not None:
            return fast
        return [
            f
            for f in man.files
            if (st := man.file_stats.get(f, {}).get(col)) is None
            or not (st[1] < nlo or st[0] > nhi)
        ]

    def files_isin(self, col: str, values: list, man=None) -> list[str]:
        """Files whose manifest ``col`` min/max may hold ANY of
        ``values`` (files without stats are kept, never skipped).
        Vectorized over the shard table like :meth:`files_in_range`.
        ``man`` pins the snapshot (same race rule)."""
        if man is None:
            man = M.read_manifest(self.path)
        assert man is not None
        vals = sorted(_stat_value(v) for v in values)
        fast = man.prune_isin(col, vals)
        if fast is not None:
            return fast
        return [
            f
            for f in man.files
            if (st := man.file_stats.get(f, {}).get(col)) is None
            or any(st[0] <= v <= st[1] for v in vals)
        ]

    def files_df(self, spark: SparkSession, at: str | None = None) -> DataFrame:
        """The snapshot's file-level metadata as a DataFrame — the
        Iceberg ``table.files`` metadata-table idiom, read straight
        from the parquet manifest shards with ZERO data-file I/O: one
        row per (file, stats column) with typed min/max, plus the
        Hive partition dir. This is what makes the manifest
        "engine-readable" at 100 TB: operational queries (files per
        partition, stat coverage, clustering quality) run as ordinary
        Spark SQL over metadata-scale parquet instead of driver loops.
        Legacy inline manifests materialize through the driver."""
        man = M.read_manifest(self.path, at)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        part = F.regexp_extract("file", r"^(.*)/[^/]+$", 1).alias("partition")
        if man.shards:
            mdir = M.manifests_dir(self.path)
            # mergeSchema: snapshots can mix shard generations (pre-
            # and post-``bytes``-column shards)
            df = spark.read.option("mergeSchema", "true").parquet(
                *[os.path.join(mdir, s) for s in man.shards]
            )
            if "bytes" not in df.columns:
                df = df.withColumn("bytes", F.lit(None).cast("long"))
            return df.select("*", part)
        rows = M._stats_rows(man.files, man._file_meta)
        enc = [
            (f, c, n, by, bl,
             *(M._encode(mm[0]) if mm else (None, None, None)),
             *(M._encode(mm[1]) if mm else (None, None, None)))
            for f, c, n, by, bl, mm in rows
        ]
        df = spark.createDataFrame(
            enc,
            "file string, col string, rows long, bytes long, "
            "bloom binary, min_i long, min_f double, min_s string, "
            "max_i long, max_f double, max_s string",
        )
        return df.select(
            "file", "col", "rows", "bytes", "bloom", "min_i", "max_i",
            "min_f", "max_f", "min_s", "max_s", part,
        )

    def read_isin(self, spark: SparkSession, col: str, values: list) -> DataFrame:
        """Snapshot read of rows with ``col IN (values)``, skipping every
        file whose manifest min/max proves it holds none of them — the
        point-set twin of :meth:`read_range`. The exact IN filter is
        re-applied after the scan (and pushed into the parquet reader
        for row-group skipping), so manifest pruning is purely an
        optimization."""
        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        keep = self.files_isin(col, values, man=man)
        # a secondary column index prunes scattered values min/max
        # stats can't; both are host supersets, so intersect — pinned
        # to the SAME snapshot as the stats pruning (rival-commit race)
        hosts = self.files_hosting_values(spark, col, list(values), man=man)
        if hosts is not None:
            hs = set(hosts)
            keep = [f for f in keep if f in hs]
        schema = StructType.fromJson(json.loads(man.schema_json))
        cond = F.col(col).isin(list(values))
        if not keep:
            return spark.createDataFrame([], schema).filter(cond)
        return self._read_pruned(spark, man, keep, schema).filter(cond)

    def files_with_keys(self, keys: list, man=None) -> list[str]:
        """Files whose manifest key bloom may hold ANY of the
        (single-column) ``keys``; files without a manifest bloom are
        kept, never skipped — so a missing bloom can cause extra
        scanning, never a missed row. ``man`` pins the snapshot (same
        race rule)."""
        if man is None:
            man = M.read_manifest(self.path)
        assert man is not None
        # hash the probe set ONCE — probing P files with K keys was
        # P×K md5s before r15, now K per hash family present; the
        # canonicalization is bulk arrow too (r16)
        want = B.hash_pairs(B.key_strings_values(keys))
        # blooms from the manifest shards: ONE columnar metadata load
        # for the whole snapshot, no per-file opens
        blooms = man.file_blooms
        return [
            f
            for f in man.files
            if (bl := blooms.get(f)) is None
            or B.contains_any_hashed(bl, want)
        ]

    def read_keys(self, spark: SparkSession, keys: list) -> DataFrame:
        """Point lookup: rows whose record key is in ``keys``, opening
        only files whose manifest key bloom may hold one of them (plus
        any file without one). The exact IN filter is re-applied after
        the scan, so bloom false positives cost I/O, never correctness.

        This is the read-side face of Hudi's bloom index: on a 100 TB
        table a key lookup touches ~1 file instead of every file —
        min/max stats can't do this because keys are scattered, which is
        exactly why Hudi indexes them with blooms. Single-column keys
        only (Hudi's record key is likewise one field)."""
        if len(self.key) != 1:
            raise ValueError("read_keys supports single-column keys")
        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        # NULL probes: the engine's row identity treats NULL as a
        # legal key value (eqNullSafe everywhere), but neither blooms
        # nor the record index can attest NULL hosts and `isin` is
        # NULL-poisoned — a silent drop, not a miss. The NULL portion
        # reads the PINNED snapshot unpruned (filter isNull); the
        # non-null portion keeps the indexed fast path.
        keys = list(keys)
        nn_keys = [k for k in keys if k is not None]
        want_null = len(nn_keys) != len(keys)
        # record index first (exact live hosts + supersets, no bloom
        # false positives, O(probe-span) index bytes instead of
        # O(live files) driver-side bloom decodes); bloom fallback.
        # Pinned to the manifest read above (rival-commit race).
        keep = (
            self.files_hosting_keys(spark, nn_keys, man=man)
            if nn_keys
            else []
        )
        if keep is None:
            keep = self.files_with_keys(nn_keys, man=man)
        schema = StructType.fromJson(json.loads(man.schema_json))
        cond = (
            F.col(self.key[0]).isin(nn_keys)
            if nn_keys
            else F.lit(False)
        )
        if not keep:
            out = spark.createDataFrame([], schema).filter(cond)
        else:
            out = self._read_pruned(spark, man, keep, schema).filter(
                cond
            )
        if want_null:
            out = out.unionByName(
                self.read(spark, at=man.commit_id).filter(
                    F.col(self.key[0]).isNull()
                )
            )
        return out

    # -- indexes: the record index and secondary column indexes ------------
    #
    # One lifecycle for both kinds. An index lives in a SLOT: slot None
    # is the record index on the key column (Hudi 1.0 record-level
    # index), any other slot is the secondary index of that column
    # (Hudi 1.0 secondary index). Every slot is the same machinery —
    # value-sorted ``(value, file, seq)`` segments under ``_rli/``, a
    # registration in the commit stats, one delta run per mutating
    # commit (``_commit``'s central hook), fold, rollback restore,
    # rebase drop, clean GC and one maintenance policy — and the same
    # pruning-superset lookup (``read_keys`` / ``read_isin`` /
    # ``read_range`` prefer it). Min/max stats can't prune scattered
    # values (every file spans most user_ids); the index can — the
    # "find this user's events in a table keyed by event_id" shape.

    #: fold the delta runs back into sorted base segments once this
    #: many mutating commits have stacked (each point lookup opens
    #: every delta run that intersects its key span)
    RLI_COMPACT_MIN_DELTAS = 8

    @staticmethod
    def _index_regs(stats: dict | None, keys=_REG_KEYS) -> dict:
        """``{slot: registration}`` of a commit's stats: the record
        index under slot None, each column index under its column.
        ``keys`` reads another pair laid out the same way:
        ``_DROP_KEYS`` (the ``*_dropped`` rebuild markers) or
        ``_WANT_KEYS`` (``wanted_indexes``); a column LIST maps each
        column to True."""
        s = stats or {}
        cols = s.get(keys[1]) or {}
        out = dict(cols) if isinstance(cols, dict) else dict.fromkeys(cols, True)
        if s.get(keys[0]):
            out[None] = s[keys[0]]
        return out

    @staticmethod
    def _index_stats(slots: dict, keys=_REG_KEYS) -> dict:
        """The inverse of :meth:`_index_regs`; a kind with no slot
        writes no key. Registrations keep their per-column map, any
        other pair writes a sorted column list."""
        cols = {c: v for c, v in slots.items() if c is not None}
        out = {keys[0]: slots[None]} if None in slots else {}
        if cols:
            out[keys[1]] = cols if keys is _REG_KEYS else sorted(cols)
        return out

    @staticmethod
    def _index_name(slot) -> tuple[str, str, str]:
        """A slot's op-name stem, maintenance skip-key stem and label."""
        if slot is None:
            return "record_index", "rli", "record index"
        return "column_index", "ci", f"column {slot!r} index"

    def _want_index(self, slot, want: bool = True) -> None:
        """Record (or retract) the intent that this table carries the
        ``slot`` index, in _meta.json — see ``wanted_indexes``.
        Best-effort bookkeeping like ``constraints``: last writer wins
        on a race, and a lost update only delays a rebuild by one
        maintenance pass (the marker path still fires when it is at
        HEAD)."""
        w = self._index_regs(self.wanted_indexes, _WANT_KEYS)
        if want:
            w[slot] = True
        else:
            w.pop(slot, None)
        self.wanted_indexes = self._index_stats(w, _WANT_KEYS)
        if self.exists():
            self.save_meta()

    def _index_info(self, slot, at: str | None = None) -> dict | None:
        """``slot``'s registration at ``at`` (HEAD by default), span
        maps materialized from the sidecar when the commit packed them
        (§9d#1); None when unregistered (metadata-only read)."""
        man = M.read_manifest(self.path, at)
        return RI.resolve_reg(
            self.path, self._index_regs(man.stats if man else None).get(slot)
        )

    def _build_index(
        self, spark: SparkSession, slot, max_records_per_file: int = 5_000_000
    ) -> str:
        """Materialize ``slot``'s index for the current snapshot: one
        mask-aware pass over its column + row coordinates → globally
        value-sorted parquet segments under ``_rli/`` (tight
        per-segment spans from the footers), and a registration in the
        commit stats. Every later mutating commit APPENDS an O(its new
        rows) delta run (``_commit``'s central hook — no op-specific
        wiring, so a new write path can't forget the index);
        :meth:`_compact_index` folds the runs.

        ↦ the record-key index the reference enables implicitly via
        Hudi's upsert tagging (glue/HudiJarGlueJob.py:83
        ``hoodie.upsert.shuffle.parallelism``); Hudi 1.0 ships the same
        structure as the metadata table's ``record_index`` and
        ``secondary_index`` partitions."""
        if slot is None and len(self.key) != 1:
            raise ValueError("record index supports single-column keys")
        col = self.key[0] if slot is None else slot
        man = self._pin_head()
        if col not in StructType.fromJson(json.loads(man.schema_json)).names:
            raise ValueError(f"no such column {col!r}")
        src = self._positioned_read(spark, man, man.files, columns=[col])
        published = self._publish_index(
            self._index_name(slot)[0], man, slot,
            src.select(col, F.col("__file").alias("file")),
            max_records_per_file,
        )
        self._want_index(slot)
        return published

    def _drop_index(self, slot) -> str | None:
        """Unregister ``slot``'s index (metadata-only commit; the
        orphaned segments are reclaimed by :meth:`clean` once no
        retained commit references them). No-op → None."""
        man = M.read_manifest(self.path)
        if man is None or slot not in self._index_regs(man.stats):
            return None
        published = self._publish_index(
            "drop_" + self._index_name(slot)[0], man, slot
        )
        self._want_index(slot, want=False)
        return published

    def _compact_index(
        self, spark: SparkSession, slot, max_records_per_file: int = 5_000_000
    ) -> str | None:
        """Fold ``slot``'s delta runs into fresh sorted base segments,
        dropping entries whose host file left the live set — one
        distributed pass over O(index) slim rows, no data-file I/O.
        Published as a metadata commit; older snapshots keep their own
        registrations (segments are immutable, clean() reclaims).
        No index or nothing to fold → None."""
        man = M.read_manifest(self.path)
        if man is None or not RI.n_deltas(self._index_regs(man.stats).get(slot)):
            return None
        field, ent = self._index_entries(spark, man, slot, live=True)
        return self._publish_index(
            self._index_name(slot)[0] + "_compact", man, slot,
            ent.select(field.name, "file").distinct(),
            max_records_per_file,
        )

    def _publish_index(
        self, op: str, man, slot, ent=None, max_records_per_file=None
    ) -> str:
        """Publish ``slot``'s new state as a metadata-only commit on
        the pinned ``man``: a fresh base registration over ``ent``'s
        ``(value, file)`` rows, or — ``ent`` None — no registration
        (the drop). Every other slot carries unchanged."""
        regs = self._index_regs(man.stats)
        cid = M.child_id(man.commit_id)
        if ent is None:
            del regs[slot]
        else:
            col = ent.columns[0]
            spans = RI.write_entries(
                ent.withColumn("seq", F.lit(0).cast("long")),
                self.path, cid, col, max_records_per_file,
            )
            regs[slot] = {"key": col, "seq": 1, "base": spans, "deltas": {}}
        return self._commit(
            op,
            man.files_arrow(),
            StructType.fromJson(json.loads(man.schema_json)),
            cid=cid,
            extra_stats=self._index_stats(regs),
            base=man,
            touched=set(),
        )

    def _rli_advance(
        self, reg: dict, new_names: list[str], cid: str, schema: StructType
    ) -> dict | None:
        """Advance the registration across one commit: append a delta
        run covering the commit's freshly written files — a native scan
        of the indexed column with ``_metadata`` coordinates (fresh
        files never carry deletion vectors) under the COMMIT's
        ``schema`` (a widening commit's new files already hold the wide
        type). Returns the new registration, or None when the index
        cannot be maintained (column gone from ``schema``, no active
        session, scan failure) — the caller then DROPS the registration
        rather than publish a stale index (the honesty rule every index
        here follows).

        A PACKED registration (§9d#1 pointer) whose maps don't change
        this commit carries through as the SAME pointer — the sidecar
        is immutable and shared across commits, so a long metadata-
        only stretch costs zero new sidecar files."""
        if reg["key"] not in schema.names:
            return None
        if not new_names:
            return dict(reg)  # metadata-only commit: carry unchanged
        spark = SparkSession.getActiveSession()
        if spark is None:
            return None
        try:
            reg_full = RI.resolve_reg(self.path, reg)
            col = reg_full["key"]
            src = self._native_scan(
                spark, new_names, StructType([schema[col]]),
                with_positions=True,
            )
            # delta-size gate for the one-job single-segment write:
            # the entries of a commit whose new data files total under
            # the scan-split size trivially fit one task; bigger
            # deltas keep the parallel global sort
            ddir = M.data_dir(self.path)
            try:
                small = sum(
                    os.path.getsize(os.path.join(ddir, f)) for f in new_names
                ) <= 128 * 1024 * 1024
            except OSError:
                small = False
            spans = RI.write_entries(
                src.select(
                    F.col(col),
                    F.col("__file").alias("file"),
                    F.lit(int(reg_full["seq"])).cast("long").alias("seq"),
                ),
                self.path, cid, col, single_segment=small,
            )
        except Exception:  # noqa: BLE001 — drop honestly, never corrupt
            return None
        return {
            **reg_full,
            "seq": int(reg_full["seq"]) + 1,
            "deltas": {**(reg_full.get("deltas") or {}), **spans},
        }

    def _index_entries(
        self, spark: SparkSession, man, slot, within=None,
        live: bool = False, required: bool = False,
    ):
        """The prologue every index reader shares, on the pinned
        ``man``: ``slot``'s registration (resolved), its column's field
        in the snapshot schema, and the ``(value, file, seq)`` entries
        of the segments :func:`RI.prune_spans` keeps for the raw
        ``(lo, hi)`` ranges of ``within`` (None: every segment).
        ``live`` semi-joins the entries to ``man``'s live files.
        Returns ``(field, entries)``, or None when ``slot`` has no
        registration (``required`` raises instead)."""
        reg = RI.resolve_reg(
            self.path, self._index_regs(man.stats if man else None).get(slot)
        )
        if reg is None:
            if required:
                raise ValueError(
                    f"no {self._index_name(slot)[2]} registered at {self.path}"
                )
            return None
        field = StructType.fromJson(json.loads(man.schema_json))[reg["key"]]
        names = RI.prune_spans(
            {**(reg.get("base") or {}), **(reg.get("deltas") or {})},
            None
            if within is None
            else [(_stat_value(lo), _stat_value(hi)) for lo, hi in within],
        )
        ent = RI.entries_df(spark, self.path, names, field)
        if live:
            import pandas as pd

            files = spark.createDataFrame(
                pd.DataFrame({"file": list(man.files)}, dtype=object),
                schema="file string",
            )
            ent = ent.join(files, on="file", how="left_semi")
        return field, ent

    @staticmethod
    def _live_hosts(man, ent: DataFrame) -> list[str]:
        """The distinct files of index entries ``ent`` that are live at
        ``man``, sorted: entries against removed files drop out
        against the manifest's live set C-side."""
        import pyarrow as pa
        import pyarrow.compute as pc

        hits = pa.array(
            [r["file"] for r in ent.select("file").distinct().collect()],
            type=pa.string(),
        )
        return sorted(
            hits.filter(pc.is_in(hits, value_set=man.files_arrow())).to_pylist()
        )

    def _index_hosts(
        self, spark: SparkSession, man, slot, keys
    ) -> list[str] | None:
        """Distinct LIVE files that may hold any of ``keys`` in
        ``slot``'s column according to its index — a SUPERSET of the
        true hosts (the exact filter re-applies after any scan).
        ``keys`` is a list (span-pruned probe) or a DataFrame of values
        (one distributed join — the upsert-tagging shape). None when
        ``slot`` has no registration (callers fall back to the bloom /
        stats probe).

        ``man`` PINS the snapshot: a caller that already read the
        manifest (read_isin / read_range / read_keys prune stats and
        the index from ONE snapshot) must pass it, or a rival commit
        landing between the two reads makes the stats-pruned ``keep``
        and the index's live-set filter disagree — the old host drops
        out as dead while its replacement is unknown to the old
        snapshot, silently losing rows."""
        if man is None:
            man = M.read_manifest(self.path)
        joined = isinstance(keys, DataFrame)
        probes = [] if joined else list(dict.fromkeys(keys))
        got = self._index_entries(
            spark, man, slot, None if joined else [(v, v) for v in probes]
        )
        if got is None:
            return None
        field, ent = got
        k = field.name
        if joined:
            ent = ent.join(
                keys.select(F.col(keys.columns[0]).alias(k)).dropDuplicates(),
                on=k,
                how="left_semi",
            )
        elif not probes:
            return []
        else:
            ent = ent.filter(F.col(k).isin(probes))
        return self._live_hosts(man, ent)

    def record_index_info(self, at: str | None = None) -> dict | None:
        return self._index_info(None, at)

    def column_index_info(self, col: str, at: str | None = None) -> dict | None:
        return self._index_info(col, at)

    def build_record_index(
        self, spark: SparkSession, max_records_per_file: int = 5_000_000
    ) -> str:
        return self._build_index(spark, None, max_records_per_file)

    def build_column_index(
        self, spark: SparkSession, col: str, max_records_per_file: int = 5_000_000
    ) -> str:
        return self._build_index(spark, col, max_records_per_file)

    def drop_record_index(self) -> str | None:
        return self._drop_index(None)

    def drop_column_index(self, col: str) -> str | None:
        return self._drop_index(col)

    def compact_record_index(
        self, spark: SparkSession, max_records_per_file: int = 5_000_000
    ) -> str | None:
        return self._compact_index(spark, None, max_records_per_file)

    def compact_column_index(
        self, spark: SparkSession, col: str, max_records_per_file: int = 5_000_000
    ) -> str | None:
        return self._compact_index(spark, col, max_records_per_file)

    def files_hosting_keys(
        self, spark: SparkSession, keys, man=None
    ) -> list[str] | None:
        """:meth:`_index_hosts` on the record index."""
        return self._index_hosts(spark, man, None, keys)

    def files_hosting_values(
        self, spark: SparkSession, col: str, values, man=None
    ) -> list[str] | None:
        """:meth:`_index_hosts` on ``col``'s secondary index."""
        return self._index_hosts(spark, man, col, values)

    def files_hosting_range(
        self, spark: SparkSession, col: str, lo, hi, man=None
    ) -> list[str] | None:
        """Live files holding any value of ``col`` in ``[lo, hi]``,
        from the column index — prunes a NARROW range on a SCATTERED
        column, where per-file min/max spans swallow the range in
        every file (the case :meth:`read_range` stats pruning can't
        win). None when ``col`` has no index. ``man`` pins the
        snapshot (same race rule as :meth:`_index_hosts`)."""
        if man is None:
            man = M.read_manifest(self.path)
        got = self._index_entries(spark, man, col, [(lo, hi)])
        if got is None:
            return None
        return self._live_hosts(man, got[1].filter(F.col(col).between(lo, hi)))

    def locate_keys(self, spark: SparkSession, keys) -> DataFrame:
        """(key, file) pairs for the probe keys from the record index,
        filtered to live files — the index's query face (each pair
        names a file that may hold a visible row for that key).
        Raises when no index is registered."""
        probes = list(dict.fromkeys(keys))
        field, ent = self._index_entries(
            spark, M.read_manifest(self.path), None,
            [(v, v) for v in probes], live=True, required=True,
        )
        k = field.name
        return ent.filter(F.col(k).isin(probes)).select(k, "file").distinct()

    #: pruned lookup_join refuses host lists beyond this many files —
    #: past it the driver round-trip itself is the cost the full-scan
    #: variant exists to avoid (same O(hosts) budget class as
    #: DV_KEY_PRUNE_CAP's 20k key cap)
    LOOKUP_PRUNE_MAX_FILES = 100_000

    def lookup_join(
        self,
        spark: SparkSession,
        batch: DataFrame,
        col: str | None = None,
        prune: bool = False,
    ) -> DataFrame:
        """Index-backed ENRICHMENT SEMI-JOIN (VERDICT r9 #5): the
        snapshot's current rows whose indexed value appears in
        ``batch``'s FIRST column, resolved with the index entries
        joined DISTRIBUTED — zero ``collect()``, no driver host-list
        round-trip anywhere in the plan. This is the full-corpus
        consumer :meth:`locate_keys` (driver-sized probe lists) scales
        into: at a 100M-key batch even an O(hosts) collected host list
        stops being free, so the ``(value, file)`` entries join the
        batch in the cluster and then gate the scanned rows on BOTH
        the value match AND the index having placed that value in the
        row's host file. The pruning-superset invariant (every live
        row's (value, host) pair is indexed; dead-file entries can't
        match live rows) makes the gate EXACT — same rows as a plain
        semi-join on the value, with the index consumption wired
        distributed end to end.

        ``col=None`` consumes the record index; a column name consumes
        that column's secondary index (:meth:`build_column_index`).
        Raises when the requested index is not registered.

        ``prune=True`` (§9e#2, the MID-SIZE batch shape): batches too
        large for :meth:`read_keys`' driver probe but whose host files
        are ≪ the live set additionally collect the DISTINCT HOST
        FILES — O(hosts), the documented-acceptable driver term — and
        scan only those instead of every live file. Exact by the same
        pruning-superset invariant (a live row with a matching value
        has its (value, host) pair indexed, so no match can live
        outside the host set). Falls back to the full scan past
        ``LOOKUP_PRUNE_MAX_FILES`` hosts, where the driver list
        itself becomes the cost the full-scan variant avoids."""
        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        field, ent = self._index_entries(spark, man, col, required=True)
        k = field.name
        keys = batch.select(
            F.col(batch.columns[0]).cast(field.dataType).alias(k)
        ).dropDuplicates()
        hits = ent.join(keys, on=k, how="left_semi")
        pairs = hits.select(F.col(k), F.col("file").alias("__file")).dropDuplicates()
        scan_files = list(man.files)
        if prune:
            hosts = {
                r["file"]
                for r in hits.select("file")
                .distinct()
                .limit(self.LOOKUP_PRUNE_MAX_FILES + 1)
                .collect()
            }
            if len(hosts) <= self.LOOKUP_PRUNE_MAX_FILES:
                # live ∩ hosts: index entries against removed files
                # must not resurrect them into the scan
                scan_files = [f for f in scan_files if f in hosts]
        rows = self._positioned_read(spark, man, scan_files)
        out = rows.join(pairs, on=[k, "__file"], how="left_semi")
        return out.select(*StructType.fromJson(json.loads(man.schema_json)).names)

    def _index_segment_names(
        self, stats: dict | None, strict: bool = False
    ) -> set[str]:
        """Every ``_rli/`` file a commit's registrations keep alive
        (every slot): the segments, plus — for a packed registration
        (§9d#1 spill) — the span-map sidecar itself. The lifecycle unit
        clean()/validate() track. ``strict`` propagates sidecar resolve
        failures (the clean() liveness pass must not mistake unreadable
        for unreferenced)."""
        out: set[str] = set()
        for r in self._index_regs(stats).values():
            out |= RI.reg_file_names(self.path, r, strict=strict)
        return out

    def partitions_df(self, spark: SparkSession, at: str | None = None) -> DataFrame:
        """Per-partition rollup of the snapshot's metadata — the
        Iceberg ``table.partitions`` metadata table: one row per Hive
        partition dir with its live file count and metadata row count,
        computed entirely from the manifest shards (zero data I/O).
        The operational "is this partition skewed / tiny-filed /
        oversized" question as one SQL-able DataFrame."""
        meta = self.files_df(spark, at)
        return (
            meta.filter(F.col("col").isNull())
            .groupBy("partition")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_files"),
                F.sum("rows").cast("long").alias("n_rows"),
            )
        )

    def compaction_report(
        self,
        spark: SparkSession,
        target_rows_per_file: int = 1_000_000,
        target_file_mb: float | None = None,
    ) -> DataFrame:
        """METADATA-ONLY compaction advisor (the :meth:`optimize`
        scheduling twin of :meth:`index_staleness`): per partition,
        the live file count, row total, mean rows per file, the ideal
        file count at ``target_rows_per_file``, and a
        ``recommend_compact`` flag (file count more than 2x ideal and
        >1 — the small-file debt worth an optimize()). Computed
        entirely from the manifest shards via :meth:`files_df` — zero
        data-file I/O, so a 100 TB deployment can poll it per table
        per hour and route only flagged partitions into optimize(),
        the same cadence loop Delta runs OPTIMIZE on. Scan cost tracks
        file count, not just bytes: this is the number that decays
        read performance while every byte-level metric still looks
        healthy."""
        meta = self.files_df(spark).filter(F.col("col").isNull())
        rep = meta.groupBy("partition").agg(
            F.count(F.lit(1)).cast("long").alias("n_files"),
            F.sum("rows").cast("long").alias("rows"),
            (F.sum("rows") / F.count(F.lit(1))).alias("avg_rows_per_file"),
            F.sum("bytes").cast("long").alias("bytes"),
            (F.sum("bytes") / F.count(F.lit(1)) / F.lit(1024 * 1024)).alias(
                "avg_file_mb"
            ),
        )
        # Byte-based ideal when requested AND every file carries a
        # recorded size (post-r7 shards) — the same unit optimize()'s
        # target_file_mb uses, so advisor and executor can never
        # disagree about "small". Row-based math is the fallback for
        # tables still holding pre-bytes shard generations.
        ideal_rows = F.ceil(
            F.col("rows") / F.lit(target_rows_per_file)
        ).cast("long")
        if target_file_mb is not None:
            ideal_bytes = F.ceil(
                F.col("bytes") / F.lit(int(target_file_mb * 1024 * 1024))
            ).cast("long")
            ideal_expr = F.coalesce(ideal_bytes, ideal_rows)
        else:
            ideal_expr = ideal_rows
        ideal = F.greatest(F.lit(1).cast("long"), ideal_expr)
        return rep.select(
            "partition",
            "n_files",
            "rows",
            "avg_rows_per_file",
            "bytes",
            "avg_file_mb",
            ideal.alias("ideal_files"),
            (
                (F.col("n_files") > 2 * ideal) & (F.col("n_files") > 1)
            ).alias("recommend_compact"),
        )

    def count_rows_metadata(self, at: str | None = None) -> int | None:
        """Exact ``SELECT count(*)`` from manifest metadata alone — no
        data-file I/O, the Iceberg metadata-aggregate pushdown. Every
        commit records each file's footer row count in its manifest
        shard, and the manifest is an exact snapshot (upsert/delete
        rewrite files, never mask rows), so the sum IS the table count.
        Returns None when any live file predates row-count recording
        (caller must fall back to a scan rather than undercount). At
        100 TB this answers the most common operational query in
        milliseconds instead of a full scan."""
        man = M.read_manifest(self.path, at)
        return man.total_rows() if man is not None else None

    def minmax_metadata(self, col: str, at: str | None = None):
        """(min, max) of ``col`` from manifest stats alone — exact when
        every live file carries footer min/max for the column (parquet
        footer stats are exact for the supported types), else None.
        The metadata twin of ``SELECT min(col), max(col)``."""
        man = M.read_manifest(self.path, at)
        if man is None:
            return None
        fs = man.file_stats
        if not man.files:
            return None
        vals = [fs.get(f, {}).get(col) for f in man.files]
        if any(v is None for v in vals):
            return None
        return min(v[0] for v in vals), max(v[1] for v in vals)

    def register(
        self, spark: SparkSession, name: str, live: bool = True
    ) -> None:
        """Catalog registration (↦ hive_sync, glue/HudiJarGlueJob.py:80-82):
        the snapshot becomes queryable via ``spark.sql``/``spark.table``.

        ``live=True`` (default) tracks HEAD: every successful commit
        THROUGH THIS TABLE HANDLE re-points the view at the new
        snapshot, so read-after-write works without re-register — the
        behavior Hudi's hive_sync gives a catalog (the synced table
        always resolves the live timeline). A temp view pins the plan
        it was created from, so the refresh re-runs
        ``createOrReplaceTempView`` after each manifest publish: O(1)
        plan construction, no data job. Commits made by a DIFFERENT
        handle/process are picked up on this handle's next commit or
        an explicit re-register (cross-process liveness needs a real
        metastore, out of scope). ``live=False`` pins the
        registration-time snapshot (the old semantics — an AS OF view).
        """
        self.read(spark).createOrReplaceTempView(name)
        # claim the name: the LATEST register() owns it, so an older
        # handle's live refresh can never silently steal the view back
        # (ADVICE r14) — the loser drops tracking on its next commit
        _VIEW_OWNERS[(id(spark), name)] = (spark, self.path)
        if live:
            self._live_views[name] = spark
        else:
            self._live_views.pop(name, None)

    def unregister(self, spark: SparkSession, name: str) -> None:
        """Drop a temp-view registration and stop live tracking."""
        self._live_views.pop(name, None)
        _VIEW_OWNERS.pop((id(spark), name), None)
        spark.catalog.dropTempView(name)

    def _refresh_live_views(self) -> None:
        """Re-point every live registration at the NEW head. Called
        after each successful manifest publish. The refresh PINS the
        listing's last commit id rather than re-reading HEAD — the op
        already published the snapshot it means to expose, and an
        extra HEAD manifest read here would break the one-op-one-
        manifest budget (tests/test_head_read_guard.py); a rival
        landing between publish and refresh re-points the view again
        from ITS OWN refresh. Best-effort per view, with two rules
        hardened per ADVICE r14: a name another table has since
        register()ed is ceded (ownership check, never re-pointed
        back), and tracking is dropped only when the SESSION is
        stopped — any other error leaves the view stale THIS commit
        and retries on the next, instead of silently untracking
        forever. Never fails the commit that already landed."""
        if not self._live_views:
            return
        cids = M.list_commit_ids(self.path)
        if not cids:
            return
        for name, spark in list(self._live_views.items()):
            owner = _VIEW_OWNERS.get((id(spark), name))
            if owner is not None and owner[1] != self.path:
                self._live_views.pop(name, None)  # name was taken over
                continue
            try:
                self.read(spark, at=cids[-1]).createOrReplaceTempView(
                    name
                )
            except Exception:
                if _session_stopped(spark):
                    self._live_views.pop(name, None)

    def export_live_files(self, dest: str | None = None) -> str:
        """Write the HEAD snapshot's live data files as one parquet of
        absolute paths (column ``file``) — the companion artifact to
        :meth:`export_masked_positions`. Together the two let ANY
        engine reconstruct the logical snapshot from raw parquet:
        semi-join the scan's filename against this list (drops
        pre-clean historical file versions), anti-join (filename,
        row number) against the position export (drops DV-masked
        rows). O(live files) driver cost; overwritten in place."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        ddir = M.data_dir(self.path)
        t = pa.table(
            {
                "file": pa.array(
                    [os.path.join(ddir, rel) for rel in sorted(man.files)],
                    pa.string(),
                )
            }
        )
        dest = dest or os.path.join(
            self.path, "_export", "head_files.parquet"
        )
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        pq.write_table(t, dest)
        return dest

    def register_external(self, spark: SparkSession, name: str) -> None:
        """Persistent catalog registration (the closer hive_sync parity):
        EXTERNAL parquet over ``data/`` with partition recovery —
        visible to ANY catalog-reading engine, surviving the session.

        Registration is MASKED BY DEFAULT: it refreshes the snapshot
        interchange artifacts (:meth:`export_live_files` +
        :meth:`export_masked_positions` — the Iceberg
        position-delete-file idiom) and registers

        - ``{name}__files`` — the raw physical table (all files under
          data/, PHYSICAL rows),
        - ``{name}__live`` / ``{name}__dead`` — the two exports,
        - ``{name}`` — a view semi-joining ``_metadata.file_path``
          against the live-file list (pre-clean historical versions
          drop out) and anti-joining (file, ``_metadata.row_index``)
          against the dead positions (deletion-vector masks apply),

        so ``SELECT * FROM {name}`` yields the LOGICAL snapshot even
        when older commits or DVs are still live — no clean()/optimize()
        prerequisite. Both exports are tiny (O(live files) + O(dead
        rows)), so Catalyst broadcasts both joins and partition/filter
        pushdown still reaches the physical scan. A ready-to-run DuckDB
        twin of the view is written to ``_export/duckdb_masked_view.sql``
        — external engines get logical rows by default too. The
        registration is a snapshot AS OF now: re-run after new commits
        (exports are refreshed in place). Raw physical rows stay
        reachable via ``{name}__files`` for engines that want them."""
        man = M.read_manifest(self.path)
        assert man is not None
        live_p = self.export_live_files()
        dead_p = self.export_masked_positions()
        self.unregister_external(spark, name)
        # column defs from the committed schema, minus partition cols
        # (they're declared in PARTITIONED BY)
        schema = StructType.fromJson(json.loads(man.schema_json))
        pcols = set(self.partition_by or [])
        cols = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in schema.fields
            if f.name not in pcols
        )
        pcol_defs = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in schema.fields
            if f.name in pcols
        )
        part = f"PARTITIONED BY ({pcol_defs})" if pcols else ""
        # pathGlobFilter: tables written before key blooms moved into
        # the manifest may still hold *.parquet.bloom files next to the
        # data until clean() — the raw scan must not read them
        spark.sql(
            f"CREATE EXTERNAL TABLE {name}__files ({cols}) USING PARQUET "
            f"OPTIONS (pathGlobFilter '*.parquet') "
            f"{part} LOCATION '{M.data_dir(self.path)}'"
        )
        if pcols:
            # ↦ MSCK REPAIR / hive_sync partition registration
            spark.sql(f"MSCK REPAIR TABLE {name}__files")
        spark.sql(
            f"CREATE EXTERNAL TABLE {name}__live USING PARQUET "
            f"LOCATION '{live_p}'"
        )
        spark.sql(
            f"CREATE EXTERNAL TABLE {name}__dead USING PARQUET "
            f"LOCATION '{dead_p}'"
        )
        sel = ", ".join(f"`{f.name}`" for f in schema.fields)
        # _metadata.file_path is a file: URI; the exports store plain OS
        # paths — normalize the scheme prefix C-side in the view
        spark.sql(
            f"""
            CREATE OR REPLACE VIEW {name} AS
            SELECT {sel} FROM (
              SELECT t.*,
                     regexp_replace(t._metadata.file_path,
                                    '^[a-z]+:/+', '/') AS __file,
                     t._metadata.row_index AS __pos
              FROM {name}__files t
            ) s
            WHERE EXISTS (SELECT 1 FROM {name}__live l
                          WHERE l.file = s.__file)
              AND NOT EXISTS (SELECT 1 FROM {name}__dead d
                              WHERE d.file = s.__file
                                AND d.pos = s.__pos)
            """
        )
        ddir = M.data_dir(self.path)
        duck_sel = sel.replace("`", '"')
        duck = (
            f"CREATE OR REPLACE VIEW {name} AS\n"
            f"SELECT {duck_sel} FROM read_parquet(\n"
            f"  '{ddir}/**/*.parquet', hive_partitioning=true,\n"
            f"  filename=true, file_row_number=true) t\n"
            f"WHERE EXISTS (SELECT 1 FROM read_parquet('{live_p}') l\n"
            f"              WHERE l.file = t.filename)\n"
            f"  AND NOT EXISTS (SELECT 1 FROM read_parquet('{dead_p}') d\n"
            f"                  WHERE d.file = t.filename\n"
            f"                    AND d.pos = t.file_row_number);\n"
        )
        with open(
            os.path.join(self.path, "_export", "duckdb_masked_view.sql"),
            "w",
        ) as f:
            f.write(duck)

    def unregister_external(self, spark: SparkSession, name: str) -> None:
        """Drop everything :meth:`register_external` registered. The
        bare name may be a view (r9+) or a table (pre-r9 layout) —
        DROP VIEW/TABLE each refuse the other object kind, so try
        both and swallow the kind mismatch."""
        for stmt in (
            f"DROP VIEW IF EXISTS {name}",
            f"DROP TABLE IF EXISTS {name}",
        ):
            try:
                spark.sql(stmt)
            except Exception:  # noqa: BLE001 — wrong object kind
                pass
        for suffix in ("__files", "__live", "__dead"):
            spark.sql(f"DROP TABLE IF EXISTS {name}{suffix}")

    # -- CHECK constraints -------------------------------------------------

    def add_constraint(self, name: str, expr: str) -> None:
        """Register a CHECK constraint (Delta ``ALTER TABLE ADD
        CONSTRAINT`` parity): every FUTURE incoming batch must satisfy
        the SQL boolean ``expr`` (NULL passes — SQL CHECK semantics);
        handling of violating rows follows ``on_violation``. Existing
        rows are not re-validated (constraints gate ingest, they don't
        audit history — run a filter for that)."""
        self.constraints = {**(self.constraints or {}), name: expr}
        if self.exists():
            self.save_meta()

    def drop_constraint(self, name: str) -> None:
        cons = dict(self.constraints or {})
        if name not in cons:
            raise ValueError(f"no such constraint {name!r}; have {sorted(cons)}")
        del cons[name]
        self.constraints = cons or None
        if self.exists():
            self.save_meta()

    def _derive(self, batch: DataFrame) -> DataFrame:
        """Materialize the table's GENERATED columns on an incoming
        batch — always recomputed from their defining expressions, so
        a caller-supplied value can never drift from the rule. Runs
        before column-requirement checks: a generated partition key
        does not need to arrive with the batch."""
        for name, expr in (self.derived_cols or {}).items():
            batch = batch.withColumn(name, F.expr(expr))
        return batch

    def _constraint_checks(self) -> list[tuple[str, Column]]:
        """``(name, holds)`` per CHECK constraint, sorted by name; a
        NULL check passes (SQL CHECK semantics)."""
        return [
            (n, F.coalesce(F.expr(e), F.lit(True)))
            for n, e in sorted((self.constraints or {}).items())
        ]

    def _violations(self, df: DataFrame) -> dict[str, int]:
        """``{constraint: violating rows}`` of ``df``, for the
        constraints that fired — one aggregate pass."""
        checks = self._constraint_checks()
        row = df.select(
            [F.sum((~c).cast("long")).alias(n) for n, c in checks]
        ).collect()[0]
        return {n: row[n] for n, _ in checks if row[n]}

    def _admit(self, batch: DataFrame, what: str, extra_stats: dict | None):
        """The front half every batch write shares (both upsert
        strategies, bulk_insert, insert_overwrite): generated columns,
        required columns, CHECK constraints. Returns ``(batch,
        extra_stats)`` with any quarantine stats merged in."""
        batch = self._derive(batch)
        self._require_columns(batch, f"{what} batch")
        batch, qstats = self._enforce(batch, what)
        if qstats is not None:
            extra_stats = {**(extra_stats or {}), **qstats}
        return batch, extra_stats

    def _enforce(self, batch: DataFrame, what: str):
        """Apply the table's CHECK constraints to an incoming batch.
        Returns ``(clean_rows, quarantine_stats | None)``. Modes:
        fail → raise :class:`ConstraintViolation` with per-constraint
        counts; drop → lazily exclude violators (no extra action);
        quarantine → violators land under ``_quarantine/`` with a
        ``__violated`` column and the count is recorded in the commit
        stats. Map-side only except the fail/quarantine counting pass;
        tables without constraints pay nothing."""
        if not self.constraints:
            return batch, None
        checks = self._constraint_checks()
        ok = checks[0][1]
        for _, c in checks[1:]:
            ok = ok & c
        if self.on_violation == "fail":
            bad = self._violations(batch)
            if bad:
                raise ConstraintViolation(
                    f"{what} rejected by CHECK constraint(s) {bad} "
                    f"(on_violation='fail'; use 'drop' or 'quarantine' "
                    f"to admit the clean rows)"
                )
            return batch, None
        if self.on_violation == "drop":
            return batch.filter(ok), None
        viol = F.array_compact(
            F.array(*[F.when(~c, F.lit(n)) for n, c in checks])
        )
        bad = batch.filter(~ok).withColumn("__violated", viol)
        row = bad.select(
            F.count(F.lit(1)).alias("__n"),
            *[F.sum((~c).cast("long")).alias(n) for n, c in checks],
        ).collect()[0]
        n_bad = row["__n"]
        if not n_bad:
            return batch, None
        # Per-writer random token, like _write_files' data files: two
        # writers racing the same planned commit id must not target the
        # same quarantine dir — with a shared name + overwrite, the
        # loser's violator rows would be silently clobbered, breaking
        # the "violations are preserved for triage" contract.
        # mode('error') so any residual collision surfaces loudly
        # instead of overwriting.
        import uuid as _uuid

        qname = (
            f"{M.next_commit_id(self.path)}-{what}-{_uuid.uuid4().hex[:8]}"
        )
        qdir = os.path.join(self.path, "_quarantine", qname)
        bad.write.mode("error").parquet(qdir)
        return batch.filter(ok), {
            "quarantined": n_bad,
            "quarantine_dir": f"_quarantine/{qname}",
            # only the constraints that actually fired
            "violated_constraints": sorted(n for n, _ in checks if row[n]),
        }

    def purge_quarantine(self, before_commit: str | None = None) -> int:
        """Physically delete quarantined violator batches — the GC for
        the append-only quarantine audit log, and the right-to-be-
        forgotten closure for it: quarantined rows hold RAW rejected
        data, so a purge pipeline (see ``forget_user_flow``) must
        clear them too, not just the table files. ``before_commit``
        prunes only batches quarantined under an earlier commit id
        (triage-then-expire); None purges everything. Returns the
        number of batch dirs removed. Driver-side metadata-scale I/O
        only."""
        import shutil as _shutil

        qroot = os.path.join(self.path, "_quarantine")
        if not os.path.isdir(qroot):
            return 0
        removed = 0
        for d in sorted(os.listdir(qroot)):
            cid = d.split("-", 1)[0]
            if before_commit is not None and cid >= before_commit:
                continue
            _shutil.rmtree(os.path.join(qroot, d), ignore_errors=True)
            removed += 1
        if not os.listdir(qroot):
            os.rmdir(qroot)
        return removed

    def read_quarantine(self, spark: SparkSession) -> DataFrame | None:
        """All quarantined rows (every batch's violators, with their
        ``__violated`` constraint names), or None if nothing was ever
        quarantined."""
        qroot = os.path.join(self.path, "_quarantine")
        if not os.path.isdir(qroot) or not os.listdir(qroot):
            return None
        return spark.read.option("mergeSchema", "true").parquet(
            *[os.path.join(qroot, d) for d in sorted(os.listdir(qroot))]
        )

    # -- write side --------------------------------------------------------

    def bulk_insert(
        self,
        df: DataFrame,
        dedupe: bool = False,
        extra_stats: dict | None = None,
        unique_keys: bool | None = None,
    ) -> str:
        """First/full load, no merge pass (§2a #8). ``dedupe=True`` adds
        the precombine pass that plain bulk_insert skips (the pitfall
        called out at glue/HudiConnectorGlueJob.py:85-87).

        INVARIANT (ADVICE r12): with ``dedupe=False`` the batch lands
        verbatim, so a load carrying duplicate row identities (key +
        partition columns under partition scope) produces a snapshot
        that violates the unique-identity invariant every key-wise
        consumer assumes — :meth:`diff_commits` classification (pruned
        AND unpruned), :meth:`merge_into` matching, the composed-diff
        windows. Every DML op MAINTAINS uniqueness; only an undeduped
        bulk load can break it. If the load may hold duplicates,
        declare ``unique_keys=False``: the commit records a STICKY
        ``unsafe_duplicate_keys`` flag (propagated by every child
        commit, like retired columns) that routes ``diff_commits`` to
        the unpruned snapshot scan — the pruned path's file-drop
        argument needs the invariant; the unpruned scan at least sees
        every pairing. :meth:`validate_unique_keys` audits a live
        table distributively."""
        if self.exists():
            raise ValueError(f"table already exists at {self.path}; use upsert()")
        df, extra_stats = self._admit(df, "bulk_insert", extra_stats)
        if dedupe:
            df = self._precombine(df)
        self.save_meta()
        cid = M.next_commit_id(self.path)
        written = self._write_files(df, cid)
        declared = (
            {"unsafe_duplicate_keys": True}
            if unique_keys is False and not dedupe
            else {}
        )
        return self._commit(
            "bulk_insert",
            list(written),
            df.schema,
            written,
            extra_stats={**(extra_stats or {}), **declared} or None,
            cid=cid,
        )

    def create_empty(self, schema: StructType) -> str:
        """Commit an EMPTY initial snapshot carrying a DECLARED schema
        (the ``CREATE TABLE (cols…)`` half of SQL DDL, sql_ddl.py —
        reference parity: the Glue jobs' table_config dict names the
        table before any data lands, glue/HudiJarGlueJob.py:36-40).
        One metadata-only commit referencing zero files — the CREATE
        twin of :meth:`truncate` — after which :meth:`exists` is true,
        reads return an empty frame OF THAT SCHEMA, and the first
        INSERT routes through upsert (trivially all-inserts). The
        declared schema validates here against the table's structural
        columns (key / precombine / partition / derived inputs);
        later batches follow the normal evolution rules from it."""
        if self.exists():
            raise ValueError(
                f"table already exists at {self.path}; use upsert()"
            )
        names = {f.name for f in schema.fields}
        need = set(self.key) | {self.precombine} | set(
            self.partition_by or []
        )
        missing = need - names - set(self.derived_cols or {})
        if missing:
            raise ValueError(
                f"declared schema lacks structural column(s) "
                f"{sorted(missing)} (key/precombine/partition)"
            )
        self.save_meta()
        cid = M.next_commit_id(self.path)
        return self._commit("create", [], schema, cid=cid)

    def validate_unique_keys(self, spark: SparkSession) -> int:
        """Distributed audit of the unique-row-identity invariant
        (see :meth:`bulk_insert`): number of identities holding more
        than one live row — 0 on any table whose loads were deduped
        or genuinely unique. One shuffle over the identity columns."""
        return (
            self.read(spark)
            .groupBy(*self._identity_cols)
            .count()
            .filter(F.col("count") > 1)
            .count()
        )

    def insert_overwrite(self, batch: DataFrame, dedupe: bool = True) -> str:
        """Partition replace (Hudi ``insert_overwrite`` / Spark dynamic
        ``INSERT OVERWRITE`` parity): every partition PRESENT in the
        batch ends up holding exactly the batch's rows for it — no merge
        with prior contents — while untouched partitions are carried
        forward as metadata. The backfill primitive: recompute one day's
        partition from scratch without touching the other 9,999.

        On an unpartitioned table this replaces the whole table (Hudi
        ``insert_overwrite_table``). Prior commits stay time-travelable
        until :meth:`clean`. ``dedupe`` runs the precombine pass so the
        batch itself can carry late duplicates. Table columns absent
        from the batch are NULL-filled (matching upsert's conform); a
        registered vector index is MAINTAINED — the replacement rows
        get assignments from the index's stored parameters."""
        if not self.exists():
            return self.bulk_insert(batch, dedupe=dedupe)
        batch, qstats = self._admit(batch, "insert_overwrite", None)
        spark = batch.sparkSession
        if dedupe:
            batch = self._precombine(batch)
        # pinned: schema conform, untouched-file carry, and the child
        # commit id from ONE manifest (the upsert clobber window)
        man = self._pin_head()
        existing = self.read(spark, at=man.commit_id)
        batch = self._conform_batch(batch, existing.schema.fields)
        batch, maintained = self._maintain_vector_index(
            batch, (man.stats or {}).get("vector_index")
        )
        replaced = self._partition_dirs(batch) if self.partition_by else None
        # change_log: the replaced partitions' prior rows vs the batch
        # — a nightly partition refresh whose recompute barely changed
        # anything streams only the true delta, not the partition ×2
        return self._publish_rewrite(
            "insert_overwrite", man,
            self._rows_in_partitions(existing, replaced)
            if replaced is not None
            else existing,
            batch, replaced, existing.schema, maintained, qstats,
        )

    def _refresh_layout(self, man: "M.Manifest | None" = None) -> None:
        """Adopt ``man``'s (default: the HEAD manifest's) partition
        layout before scoping a partition rewrite. The live manifest is
        the single source of truth for ``partition_by`` (see
        :meth:`load`); a rival ``change_partitioning`` landing between
        this writer's load() and its mutation (e.g. between
        upsert_with_retry attempts) would otherwise leave the
        touched/carried partition split scoped against the OLD layout —
        the duplicate-row hazard the load() comment warns about."""
        if man is None:
            man = M.read_manifest(self.path)
        if man is not None and "partition_by" in (man.stats or {}):
            live = man.stats["partition_by"] or None
            if live != (self.partition_by or None):
                self.partition_by = live

    def _pin_head(self) -> "M.Manifest":
        """THE one HEAD read of a mutation: adopt the live manifest's
        partition layout and return that same manifest as the op's
        pinned snapshot; ``FileNotFoundError`` when there is no table.
        One op, one manifest (r10 walk finding, made
        systematic in r11): every probe, scan, carry, and planned
        child commit id must derive from this return value — reading
        HEAD again mid-op opens a window where a rival commit landing
        between the reads gets silently combined with (or clobbered
        by) this op's view. The only other legitimate HEAD read in a
        mutation is _commit's OCC conflict check at publish, which
        must see the LATEST head to detect rivals. Enforced by
        tests/test_head_read_guard.py across the public API."""
        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no table at {self.path}")
        self._refresh_layout(man)
        return man

    def upsert(self, batch: DataFrame, extra_stats: dict | None = None) -> str:
        """Incremental merge (§2a #23, the flagship).

        (a) tag each batch row with its precombine tie-break hash and
        materialize the conformed batch ONCE (a local checkpoint read
        by every later step); (b) discover touched partitions (batch's
        own + partitions holding matched keys — the key scope is
        global, like Hudi's GLOBAL index); (c) merge with the live rows
        of ONLY those partitions per the late-data policy, in one
        window that also resolves the batch's duplicate keys — over
        live rows ∪ batch (event_time_wins), or over the batch alone,
        live rows of its keys dropped by an anti-join (arrival_wins);
        no separate precombine pass; (d) rewrite those
        partitions' files and publish a manifest that carries every
        untouched file forward.
        """
        if not self.exists():
            # the fallback must not drop the caller's commit stats —
            # a streaming maintainer's idempotency ledger stamps its
            # applied version on the FIRST batch too
            return self.bulk_insert(batch, dedupe=True, extra_stats=extra_stats)
        # Pin ONE manifest for the WHOLE op: the layout refresh, the
        # merge plan, the retired-column check, the index probe, the
        # touched-partition carry, and the planned child commit id
        # must all come from the SAME snapshot. Reading the snapshot
        # here and the head again at publish time opened a window
        # where a rival landing in between (found by the randomized
        # walk: a delete_dv between the two reads) was silently
        # clobbered — its commit id built upon, its masks never read,
        # its deleted rows resurrected in the rewrite output.
        man = self._pin_head()
        batch, extra_stats = self._admit(batch, "upsert", extra_stats)
        existing = self.read(batch.sparkSession, at=man.commit_id)
        # Schema evolution (Hudi parity):
        # - add-column: batch columns not in the table are appended as
        #   nullable fields (existing rows read NULL); table columns
        #   missing from the batch are NULL-filled.
        # - type WIDENING: a batch column wider than the table's
        #   (byte→short→int→long, float→double) widens the COMMITTED
        #   schema; already-written files keep the narrow physical type
        #   and the parquet reader upcasts them in place at read time
        #   (see read()) — no rewrite of untouched files.
        # - anything narrower in the batch is cast UP to the table type.
        # - a column dropped by drop_columns() may not be re-added: old
        #   files still hold its bytes, and an explicit-schema read
        #   would resurrect stale values under the new column.
        retired = self._retired_columns(man) & set(batch.columns)
        if retired:
            raise ValueError(
                f"cannot re-add dropped column(s) {sorted(retired)}: old "
                "files still hold their bytes and would resurrect stale "
                "values; use a fresh column name"
            )
        widened = {
            f.name: w
            for f in existing.schema.fields
            if f.name in batch.columns
            and (w := _widened_type(f.dataType, batch.schema[f.name].dataType))
            is not None
        }
        if widened:
            existing = existing.select(
                *[
                    F.col(f.name).cast(widened[f.name]).alias(f.name)
                    if f.name in widened
                    else F.col(f.name)
                    for f in existing.schema.fields
                ]
            )
        existing_names = {f.name for f in existing.schema.fields}
        new_fields = [f for f in batch.schema.fields if f.name not in existing_names]
        if new_fields:
            existing = existing.select(
                "*",
                *[F.lit(None).cast(f.dataType).alias(f.name) for f in new_fields],
            )
        batch = self._stage(batch, existing.schema.fields)
        try:
            if self.partition_by:
                touched = self._touched_partitions(existing, batch, man=man)
                existing_touched = self._rows_in_partitions(existing, touched)
            else:
                touched = None
                existing_touched = existing

            merged = self._merge(existing_touched, batch)
            # ANN index maintenance: if the previous commit carries a
            # vector index, assign the incoming rows with ITS stored
            # parameters and carry the index forward — an upsert no
            # longer silently staleness-drops the index (see
            # _maintain_vector_index for the contract).
            merged, maintained = self._maintain_vector_index(
                merged, (man.stats or {}).get("vector_index")
            )
            return self._publish_rewrite(
                "upsert", man, existing_touched, merged, touched,
                existing.schema, maintained, extra_stats,
                # lazy: evaluated only on an OCC conflict whose range
                # proof fails (global-scope bloom rebase)
                probe_keys_df=batch.select(*self.key),
            )
        finally:
            self._release_checkpoint(batch)

    def retry_commit(
        self,
        fn,
        retries: int = 5,
        backoff_s: float = 0.05,
        backoff_cap_s: float = 2.0,
        lease_after: int = 8,
        lease_ttl_s: float = 60.0,
        on_lost_race=None,
    ):
        """General OCC retry loop for ANY commit closure — the engine's
        multi-writer contract in one place (upsert_with_retry delegates
        here; predicate DML / merge / delete loops can pass their own
        ``fn``). Three contention tiers, each proven necessary by the
        r15 long-horizon soak:

        1. re-run the WHOLE closure on a lost race (the rival may have
           touched the same keys — correctness);
        2. jittered exponential backoff between attempts
           (``uniform(0, min(cap, base·2^attempt))``) — decorrelates
           retry timing so symmetric writers stop colliding;
        3. after ``lease_after`` straight losses, claim the ADVISORY
           COMMIT LEASE (manifest.acquire_lease): rival publishes
           yield while it is live, so the starving writer's next
           attempt runs against a quiet head. Pure OCC + backoff still
           starved a slow merge 61 straight attempts under sustained
           rival churn (soak seed 22 at 16 batches) — fairness needs
           the escalation, exactly why Hudi requires a lock provider
           for multi-writer tables. The lease is advisory: correctness
           stays with write_manifest's hard-link claim; ``lease_after
           <= 0`` disables escalation, ``backoff_s=0`` restores
           immediate retry.

        ``on_lost_race(attempt)`` fires per lost race (harness retry
        accounting). Returns ``fn()``'s value; re-raises the last
        ConcurrentCommitError when the budget is exhausted."""
        import random as _random
        import time as _time
        import uuid as _uuid

        token = _uuid.uuid4().hex
        held = False
        last: Exception | None = None
        try:
            for attempt in range(max(1, retries + 1)):
                if 0 < lease_after <= attempt and not held:
                    held = M.acquire_lease(
                        self.path, token, ttl_s=lease_ttl_s
                    )
                try:
                    return fn()
                except M.ConcurrentCommitError as e:
                    last = e
                    if on_lost_race is not None:
                        on_lost_race(attempt)
                    if held:
                        # a loss while holding means the lease expired
                        # mid-merge (TTL) — re-claim before the re-run
                        held = M.acquire_lease(
                            self.path, token, ttl_s=lease_ttl_s
                        )
                    if backoff_s > 0:
                        _time.sleep(
                            _random.uniform(
                                0,
                                min(
                                    backoff_cap_s,
                                    backoff_s * (2 ** min(attempt, 10)),
                                ),
                            )
                        )
            raise last  # type: ignore[misc]
        finally:
            M.release_lease(self.path, token)

    def upsert_with_retry(
        self,
        batch: DataFrame,
        retries: int = 5,
        extra_stats: dict | None = None,
        backoff_s: float = 0.05,
        backoff_cap_s: float = 2.0,
        lease_after: int = 8,
        lease_ttl_s: float = 60.0,
        on_lost_race=None,
    ) -> str:
        """Optimistic-concurrency upsert: on a commit-id collision
        (another writer published the same id first —
        :class:`manifest.ConcurrentCommitError`), re-run the ENTIRE
        read-merge-write against the new head snapshot, up to
        ``retries`` times. Re-running the whole merge (not just the
        publish) is what makes the retry correct: the rival commit may
        have changed exactly the keys this batch carries. Data files
        staged by a failed attempt are orphaned, flagged by
        :meth:`validate`, and reclaimed by :meth:`clean` — the manifest
        protocol never references them, so they cost bytes, not
        correctness. Under ``on_violation='quarantine'`` a lost race
        re-quarantines the same violators under the retry's commit id
        (the quarantine is an append-only audit log, not transactional
        state — triage on distinct keys). This is the loop a
        multi-writer 100 TB deployment runs; single-writer pipelines
        can call :meth:`upsert` directly.

        Contention handling (backoff + advisory-lease escalation) is
        :meth:`retry_commit`'s — see its docstring for the three-tier
        design and the r15 soak findings that forced each tier."""
        return self.retry_commit(
            lambda: self.upsert(batch, extra_stats=extra_stats),
            retries=retries,
            backoff_s=backoff_s,
            backoff_cap_s=backoff_cap_s,
            lease_after=lease_after,
            lease_ttl_s=lease_ttl_s,
            on_lost_race=on_lost_race,
        )

    def delete(self, keys: DataFrame, scoped: bool | None = None) -> str:
        """Tombstone-free delete (§2a #9 ↦ EmptyHoodieRecordPayload,
        glue/HudiJarGlueJob.py:85): rewrite partitions holding the keys,
        minus those keys.

        ``scoped`` governs row identity under PARTITION key scope
        (ADVICE r12 — the trigger must be explicit, not only
        column-presence inference). ``None`` (default) AUTO-DETECTS: a
        ``keys`` frame carrying the partition columns deletes only
        those (partition, key) rows — the same key's row in another
        partition survives (r12; row identity = ``_identity_cols``) —
        while a bare-key frame deletes the key wherever it lives.
        ``scoped=True`` requires the partition columns and forces the
        (partition, key) semantics; ``scoped=False`` forces the GLOBAL
        semantics even when ``keys`` is a frame of full rows (the
        documented escape hatch for callers that pass full rows but
        mean "this key, everywhere"). On global-key-scope tables the
        flag is a no-op (identity is the key alone)."""
        spark = keys.sparkSession
        # plan/publish pinned to ONE manifest (same clobber window as
        # upsert — see the comment there)
        man = self._pin_head()
        existing = self.read(spark, at=man.commit_id)
        sel = self._delete_identity(keys, scoped)
        keys = keys.select(sel).dropDuplicates()

        if self.partition_by:
            touched = self._partition_dirs(
                existing.join(keys, on=sel, how="left_semi")
            )
            existing_touched = self._rows_in_partitions(existing, touched)
        else:
            touched = None
            existing_touched = existing

        remaining = existing_touched.join(keys, on=sel, how="left_anti")
        # deleting rows never invalidates the survivors' index
        # assignments — carry the vector index forward untouched
        return self._publish_rewrite(
            "delete", man, existing_touched, remaining, touched,
            existing.schema, (man.stats or {}).get("vector_index"),
        )

    def _delete_identity(
        self, keys: DataFrame, scoped: bool | None
    ) -> list[str]:
        """Resolve a delete's row-identity columns from the ``scoped``
        flag (shared by :meth:`delete` and :meth:`delete_dv` — one
        contract, both write paths)."""
        ident = self._identity_cols
        if scoped is True:
            missing = [c for c in ident if c not in keys.columns]
            if missing:
                raise ValueError(
                    f"scoped=True delete needs identity column(s) "
                    f"{missing} in the keys frame (identity={ident})"
                )
            return ident
        if scoped is False:
            return self.key
        return (
            ident
            if all(c in keys.columns for c in ident)
            else self.key
        )

    # -- deletion-vector DML (merge-on-read-style row-level ops) -----------

    #: batch key lists at or under this size prune candidate files via
    #: blooms/stats driver-side; larger batches probe every file (their
    #: scan is key-column-only either way)
    DV_KEY_PRUNE_CAP = 20_000

    #: mark-volume guard (VERDICT r8 missing #3): a DV DML op that would
    #: mark more than this fraction of the snapshot's live rows is the
    #: WRONG plan — per-file position blobs funnel O(marked rows)
    #: through the driver, and a table-sized mask is just a rewrite
    #: paid twice (mask now, fold later). Predicate/DataFrame-shaped DV
    #: DML counts its matches first (one extra pass over the already-
    #: projected probe scan — trivial at the point-DML shape the ops
    #: exist for) and auto-routes to the copy-on-write twin when over
    #: the line (``on_large="rewrite"``), or refuses
    #: (``on_large="error"``); ``on_large="force"`` skips the guard.
    DV_MAX_MARK_FRACTION = 0.2
    #: guard floor: never trips below this many marked rows (small
    #: tables mask freely — driver volume is the concern, not fraction)
    DV_MARK_GUARD_MIN_ROWS = 1_000_000

    def _dv_mark_guard(
        self,
        man,
        matched: DataFrame,
        op: str,
        on_large: str,
        max_mark_fraction: float | None,
    ) -> bool:
        """True when the op should fall back to its copy-on-write twin.

        Counts ``matched`` (pass 1 of 2; the blob pass recomputes the
        same pruned projected scan) and compares against
        ``max_mark_fraction`` of the snapshot's live rows — metadata
        math via ``Manifest.total_rows()``, no data I/O. Unknown row
        counts (legacy files) guard on the absolute floor alone."""
        if on_large == "force":
            return False
        if on_large not in ("rewrite", "error"):
            raise ValueError(
                f"on_large must be 'rewrite', 'error', or 'force', "
                f"got {on_large!r}"
            )
        frac = (
            self.DV_MAX_MARK_FRACTION
            if max_mark_fraction is None
            else max_mark_fraction
        )
        n = matched.count()
        live = man.total_rows()
        floor = self.DV_MARK_GUARD_MIN_ROWS
        over = n >= floor and (live is None or n > frac * live)
        if not over:
            return False
        if on_large == "error":
            raise ValueError(
                f"{op}: predicate matches {n} rows"
                + (f" (~{n / live:.0%} of the table)" if live else "")
                + f" — above the DV mark-volume guard "
                f"({frac:.0%} of live rows, floor {floor}). A mask "
                "this size funnels O(matched) positions through the "
                "driver and is slower than the rewrite it defers; "
                "call the copy-on-write twin, or pass "
                "on_large='rewrite' to auto-route / 'force' to "
                "override."
            )
        return True

    def _positioned_read(
        self,
        spark: SparkSession,
        man,
        files: list[str],
        columns: list[str] | None = None,
    ) -> DataFrame:
        """DV-masked scan of an explicit file subset with the hidden
        ``__file``/``__pos`` row-coordinate columns — the read every
        DV-writing op starts from (only LIVE rows can be marked, and
        marks address physical positions). ``columns`` projects the
        committed schema (partition columns attach from the path, so
        projecting to key columns still scans only the key bytes).

        Two physical paths, same coordinates (the hybrid split): files
        WITHOUT existing masks scan natively (JVM codegen + column
        pruning, positions from ``_metadata.row_index`` — parquet
        physical row order, the same numbering the arrow scan assigns);
        only files WITH masks go through the manifest relation, which
        applies the bitmap while tracking positions (a dead row must
        not participate in a merge probe — an unmasked dead row with a
        high precombine would wrongly defeat a live batch row)."""
        schema = StructType.fromJson(json.loads(man.schema_json))
        if columns is not None:
            want = set(columns)
            schema = StructType(
                [f for f in schema.fields if f.name in want]
            )
        fset = set(files)
        if man.dvs and any(f in fset for f in man.dvs):
            return self._hybrid_dv_read(
                spark,
                man,
                schema,
                engine="native",
                files=files,
                with_positions=True,
            )
        return self._native_scan(spark, files, schema, with_positions=True)

    def _dv_entries(
        self, man, marked: DataFrame, cid: str
    ) -> tuple[dict, int]:
        """Aggregate ``marked`` (``__file``, ``__pos`` of live rows) into
        per-file deletion-vector blobs: positions compress executor-side
        (one ``applyInPandas`` group per file — O(marked rows) shipped,
        zlib'd), the driver unions each with the file's existing mask
        and publishes immutable blobs under ``_dv/``. Returns
        ({rel: [blob_name, n_dead]}, rows_marked)."""
        import uuid

        import pandas as pd

        def _pack(pdf: "pd.DataFrame") -> "pd.DataFrame":
            return pd.DataFrame(
                {
                    "file": [pdf["__file"].iloc[0]],
                    "blob": [
                        DVB.encode_positions(pdf["__pos"].to_numpy())
                    ],
                    "n": [len(pdf)],
                }
            )

        per_file = (
            marked.select("__file", "__pos")
            .groupBy("__file")
            .applyInPandas(_pack, "file string, blob binary, n long")
            .collect()
        )
        if not per_file:
            return {}, 0
        frows = man.file_rows
        ddir = M.data_dir(self.path)
        token = uuid.uuid4().hex[:8]
        entries: dict = {}
        total = 0
        live = set(man.files)
        for i, r in enumerate(sorted(per_file, key=lambda r: r["file"])):
            rel = r["file"]
            if rel not in live:
                # a __file name that isn't a live manifest entry means
                # the scan's path→rel mapping broke (e.g. URI-encoded
                # partition dir) — corrupting the DV map is the one
                # outcome this must never reach
                raise ValueError(
                    f"DV mark targets unknown file {rel!r}"
                )
            nrows = frows.get(rel)
            if nrows is None:  # legacy shard without a row count
                nrows = _parquet_num_rows(os.path.join(ddir, rel))
            blob = DVB.from_positions(DVB.decode_positions(r["blob"]), nrows)
            old = man.dvs.get(rel)
            if old is not None:
                blob = DVB.union(DVB.read(self.path, old[0]), blob)
            name = f"{cid}-{token}-{i:05d}.dv"
            DVB.write(self.path, name, blob)
            entries[rel] = [name, DVB.dead_count(blob)]
            total += int(r["n"])
        return entries, total

    def delete_dv(
        self,
        keys,
        on_large: str = "rewrite",
        max_mark_fraction: float | None = None,
        scoped: bool | None = None,
    ) -> str | None:
        """Row-level delete via DELETION VECTORS: marks the keys' row
        positions dead in their host files instead of rewriting
        partitions (:meth:`delete`'s copy-on-write cost). The write
        amplification of deleting k rows drops from O(touched
        partitions' bytes) to O(k + touched files' bitmaps) — the
        Hudi-MoR / Delta-DV / Iceberg-position-delete idiom, and the
        only viable point-delete shape on a 100 TB table. Readers mask
        dead rows during the scan; :meth:`optimize` folds masks into
        real rewrites (see its DV-fold rule); time travel before this
        commit still sees the rows.

        ``keys``: a DataFrame holding the key column(s), or a plain
        list of values (single-column keys). List-shaped deletes at or
        under ``DV_KEY_PRUNE_CAP`` prune candidate files via the
        manifest key blooms/stats, so a point delete opens ~1 file.
        Returns the new commit id, or None when nothing matched (no
        commit published). ``scoped`` — same contract as
        :meth:`delete` (partition-scoped vs global identity; None
        auto-detects from the frame's columns; a list of key values
        is always GLOBAL)."""
        man = self._pin_head()
        guard = None
        if isinstance(keys, DataFrame):
            spark, sel = keys.sparkSession, self._delete_identity(keys, scoped)
            keys = keys.select(sel).dropDuplicates()
            # record index (when built): one distributed join tags the
            # host files, so a DataFrame-shaped delete scans only them
            cand = (
                self.files_hosting_keys(spark, keys.select(self.key), man=man)
                if len(self.key) == 1
                else None
            )
            cand = man.files if cand is None else cand
            guard = (on_large, max_mark_fraction,
                     lambda: self.delete(keys, scoped=scoped))
        elif scoped is True or len(self.key) != 1:
            raise ValueError(
                "a key list is always global, over a single-column key; "
                "pass a DataFrame for scoped=True or a composite key"
            )
        else:
            # blooms/stats prune a key list's candidate files; its marks
            # are bounded by the driver-resident list: no volume guard
            keys, sel = list(dict.fromkeys(keys)), self.key
            spark = SparkSession.active()
            cand = keys and (
                self._dv_prune_files(man, keys)
                if len(keys) <= self.DV_KEY_PRUNE_CAP
                else man.files
            )
        if not cand:
            return None
        live = self._positioned_read(spark, man, cand, columns=sel)
        return self._publish_marks(
            "delete_dv", man,
            live.join(keys, on=sel, how="left_semi") if guard
            else live.filter(F.col(sel[0]).isin(keys)),
            vidx=(man.stats or {}).get("vector_index"), guard=guard,
        )

    def delete_where_dv(
        self,
        spark: SparkSession,
        predicate,
        on_large: str = "rewrite",
        max_mark_fraction: float | None = None,
    ) -> str | None:
        """Predicate delete via deletion vectors (``DELETE FROM t WHERE
        ...`` without rewrites), ``predicate`` a SQL string or Column
        over the committed schema, as for :meth:`delete_where`; NULL
        predicate = not selected (SQL three-valued semantics).

        A SQL-string predicate's scan is projected to the columns it
        can reference: a column must appear as an identifier in the
        expression text to be referenced, so the textual superset is
        safe (over-inclusion costs decode bytes, never correctness —
        and a genuinely missing column still fails loud in the
        filter). A Column predicate scans every column."""
        man = self._pin_head()
        if not man.files:
            return None
        cols = None
        if isinstance(predicate, str):
            idents = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", predicate))
            idents |= set(re.findall(r"`([^`]+)`", predicate))
            schema = StructType.fromJson(json.loads(man.schema_json))
            cols = [f.name for f in schema.fields if f.name in idents] or None
        matched = self._positioned_read(
            spark, man, man.files, columns=cols
        ).filter(self._predicate(predicate))
        return self._publish_marks(
            "delete_dv", man, matched,
            vidx=(man.stats or {}).get("vector_index"),
            extra_stats={"predicate": str(predicate)},
            guard=(on_large, max_mark_fraction,
                   lambda: self.delete_where(spark, predicate)),
        )

    def update_where_dv(
        self,
        spark: SparkSession,
        set_exprs: dict[str, str],
        predicate,
        on_large: str = "rewrite",
        max_mark_fraction: float | None = None,
    ) -> str | None:
        """Predicate UPDATE via deletion vectors (the MoR twin of
        :meth:`update_where`): matched rows' positions are marked dead
        and their UPDATED images append as new files — no partition
        rewrite, so a 10-row correction in a 1 TB partition costs 10
        rows + a bitmap. Semantics are update_where's, from the same
        front half (:meth:`_plan_update`, :meth:`_check_updated`): SQL
        three-valued predicate, SET rejected on key/partition/generated
        columns, SET expressions cast to the column type, generated
        columns recompute for updated rows (a recomputed derived
        PARTITION key relocates the new image to its new directory —
        the old position is dead either way), CHECK constraints hold
        for every updated image, and a SET touching the vector index's
        columns honestly drops the index while any other SET carries
        it (updated rows keep their stored assignments — the vector
        didn't change). Returns the commit id, or None when nothing
        matched (no commit)."""
        man, transform, vidx = self._plan_update(set_exprs)
        if not man.files:
            return None
        matched = self._positioned_read(spark, man, man.files).filter(
            self._predicate(predicate)
        )
        updated = transform(matched, F.lit(True))
        self._check_updated("update_where_dv", updated)
        return self._publish_marks(
            "update_where_dv", man, matched, updated, vidx,
            {"predicate": str(predicate)},
            guard=(on_large, max_mark_fraction,
                   lambda: self.update_where(spark, set_exprs, predicate)),
        )

    def _publish_marks(
        self,
        op: str,
        man: "M.Manifest",
        marked: DataFrame | None,
        append: DataFrame | None = None,
        vidx: dict | None = None,
        extra_stats: dict | None = None,
        guard: tuple | None = None,
        inserts: bool = False,
    ) -> str | None:
        """The deletion-vector tail every ``*_dv`` op shares — the
        merge-on-read counterpart of :meth:`_publish_rewrite`: mark the
        ``marked`` rows' (``__file``, ``__pos``) positions dead under
        the child id of the pinned ``man``, write ``append`` as new
        files, and publish ``op`` carrying every live file. ``vidx`` is
        the vector-index registration the commit keeps valid.

        Marks come first: when nothing is marked the op publishes and
        stages nothing and returns None — unless ``inserts``, for an
        ``append`` that holds rows of its own (an upsert's new keys).
        ``guard`` is ``(on_large, max_mark_fraction, rewrite)`` for DML
        whose match count is unbounded: when :meth:`_dv_mark_guard`
        trips, the copy-on-write twin ``rewrite()`` runs instead."""
        if guard is not None:
            on_large, max_mark_fraction, rewrite = guard
            if self._dv_mark_guard(man, marked, op, on_large, max_mark_fraction):
                return rewrite()
        cid = M.child_id(man.commit_id)
        entries, total = (
            self._dv_entries(man, marked, cid) if marked is not None
            else ({}, 0)
        )
        if not entries and not inserts:
            return None
        written = (
            self._write_index_aware(append, cid, vidx)
            if append is not None
            else {}
        )
        return self._commit(
            op,
            M.with_new_files(man.files_arrow(), written),
            StructType.fromJson(json.loads(man.schema_json)),
            written,
            rewritten=(
                sorted({M.partition_of(f) for f in [*entries, *written]} - {None})
                if self.partition_by
                else ["<all>"]
            ),
            extra_stats={
                **(extra_stats or {}),
                **({"vector_index": vidx} if vidx is not None else {}),
                **(
                    {"dv_changed": True, "dv_rows_marked": total}
                    if entries
                    else {}
                ),
            },
            cid=cid,
            base=man,
            touched=set(),
            dvs=entries,
        )

    def _dv_prune_files(self, man, key_list: list) -> list[str]:
        """Candidate host files for the given key values: record-index
        hosts when registered (else bloom-pruned — no false negatives
        either way) intersected with key-stats range pruning when the
        key is in ``stats_cols`` — each a superset of the true hosts,
        so the intersection is too."""
        spark = SparkSession.getActiveSession()
        cand = (
            self.files_hosting_keys(spark, key_list, man=man)
            if spark is not None
            else None
        )
        if cand is None:
            cand = self.files_with_keys(key_list, man=man)
        if self.stats_cols and self.key[0] in self.stats_cols:
            cand = sorted(
                set(cand)
                & set(self.files_isin(self.key[0], key_list, man=man))
            )
        return cand

    def upsert_dv(self, batch: DataFrame, extra_stats: dict | None = None) -> str:
        """O(delta) upsert via deletion vectors: winners land as NEW
        files, superseded base rows are marked dead positionally — no
        base file is rewritten. Against :meth:`upsert` (which rewrites
        every touched partition) this turns a k-row update into
        ~k rows of new data + a few bitmap sidecars: the merge-on-read
        write path Hudi MoR tables use for exactly this workload
        (the reference's ``storage.type`` knob, glue/HudiJarGlueJob.py:77,
        which it leaves on copy-on-write).

        The front half is :meth:`upsert`'s: generated columns, CHECK
        constraints, the tie-break tag and the one materialized batch
        (:meth:`_admit`, :meth:`_stage`), and the winners are ranked by
        :meth:`_ranked`, :meth:`_merge`'s order — so per policy, with
        duplicate batch keys and NULL precombines, the snapshot equals
        upsert's. Batch winners are appended; each base row a batch row
        beat is marked dead (under ARRIVAL_WINS: every base row of the
        batch's identities). Falls back to the rewrite upsert for new
        tables and schema evolution (the column set differs, or a batch
        type widens its column). A VECTOR
        INDEX is maintained in place (SURVEY §9c#2): surviving base
        rows keep their stored assignments untouched (their files
        aren't rewritten — the MoR advantage), appended winners are
        assigned with the index's own stored parameters, and dead
        marks never invalidate survivors; ``index_staleness()`` still
        gates re-clustering. Multi-writer deployments wrap this in a
        retry like :meth:`upsert_with_retry`; a lost race raises
        ``ConcurrentCommitError``."""
        if not self.exists():
            return self.upsert(batch, extra_stats=extra_stats)
        man = self._pin_head()
        schema = StructType.fromJson(json.loads(man.schema_json))
        vidx = (man.stats or {}).get("vector_index")
        # index columns the batch doesn't carry are NULL-filled so
        # maintenance can assign them (as the rewrite upsert's evolve
        # step does); any other column-set difference, and a batch type
        # WIDER than its column's, is schema evolution, which only the
        # rewrite upsert handles (the batch conform would cast down)
        icols = (
            [vidx["cell_col"]] if vidx and vidx.get("kind") == "ivf"
            else (vidx or {}).get("bucket_cols") or []
        )
        names = set(schema.fieldNames())
        cols = {*batch.columns, *(self.derived_cols or {})}
        if cols | names.intersection(icols) != names or any(
            _widened_type(f.dataType, batch.schema[f.name].dataType)
            for f in schema.fields
            if f.name in batch.columns
        ):
            return self.upsert(batch, extra_stats=extra_stats)
        batch, extra_stats = self._admit(batch, "upsert_dv", extra_stats)
        batch = self._stage(batch, schema.fields)
        try:
            cand = self._dv_candidate_files(man, batch)
            existing = self._positioned_read(
                batch.sparkSession, man, cand,
                columns=list(dict.fromkeys([*self._identity_cols, self.precombine])),
            ) if cand else None
            marked, append = self._merge_marks(existing, batch)
            append, vidx = self._maintain_vector_index(append, vidx)
            return self._publish_marks(
                "upsert_dv", man, marked, append, vidx, extra_stats,
                inserts=True,
            )
        finally:
            self._release_checkpoint(batch)

    def export_masked_positions(self, dest: str | None = None) -> str:
        """Write the HEAD snapshot's dead (file, pos) pairs as one
        parquet of absolute file paths — the interchange artifact that
        lets an EXTERNAL engine reconstruct the masked snapshot exactly
        (closing :meth:`register_external`'s physical-rows caveat for
        engines that expose per-file row numbers, e.g. DuckDB's
        ``read_parquet(..., filename=true, file_row_number=true)`` with
        an anti-join on this table — the Iceberg position-delete-file
        idiom). Driver cost is O(dead rows): the artifact IS the delete
        list. Returns the written path (default
        ``<root>/_export/head_positions.parquet``, overwritten)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        ddir = M.data_dir(self.path)
        files: list[str] = []
        poss: list[int] = []
        for rel, (name, _nd) in sorted(man.dvs.items()):
            p = DVB.positions(DVB.read(self.path, name))
            files.extend([os.path.join(ddir, rel)] * len(p))
            poss.extend(int(x) for x in p)
        t = pa.table(
            {
                "file": pa.array(files, pa.string()),
                "pos": pa.array(poss, pa.int64()),
            }
        )
        dest = dest or os.path.join(
            self.path, "_export", "head_positions.parquet"
        )
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        pq.write_table(t, dest)
        return dest

    def _dv_candidate_files(self, man, best: DataFrame) -> list[str]:
        """Base files that may hold the batch's merge keys: partition
        scope restricts to the batch's own partition dirs (C-side
        prefix match); single-column keys under the cap prune further
        via blooms/stats. Every pruning step is a superset of the true
        hosts (bloom false negatives impossible; files without
        blooms/stats are kept), so a miss is impossible."""
        files = man.files
        if self.key_scope == "partition" and self.partition_by:
            dirs = self._partition_dirs(best)
            files = [
                f for f in files if (M.partition_of(f) or "") in dirs
            ]
        if len(self.key) == 1:
            ks = [
                r[0]
                for r in best.select(self.key[0])
                .distinct()
                .limit(self.DV_KEY_PRUNE_CAP + 1)
                .collect()
            ]
            if len(ks) <= self.DV_KEY_PRUNE_CAP:
                pruned = set(self._dv_prune_files(man, ks))
                files = [f for f in files if f in pruned]
            else:
                # over the driver cap: the record index (when built)
                # tags candidates with ONE distributed join — the
                # 100M-key backfill shape no driver-side probe survives
                hosts = self.files_hosting_keys(
                    best.sparkSession, best.select(self.key[0]), man=man
                )
                if hosts is not None:
                    hs = set(hosts)
                    files = [f for f in files if f in hs]
        return files

    def drop_partitions(self, dirnames: list[str]) -> str:
        """METADATA-ONLY partition drop (``ALTER TABLE ... DROP
        PARTITION`` / Hudi ``delete_partition`` parity): publish a
        commit that simply stops referencing the named partitions'
        files — zero rows read, zero files written; the bytes are
        reclaimed by :meth:`clean` once the dropped commits age out,
        and until then the data stays time-travelable. This is the
        retention primitive at 100 TB: expiring a day costs one
        manifest commit, not a rewrite — and with sharded manifests the
        surviving partitions' shards are reused verbatim, so even the
        metadata cost is O(dropped partitions).

        ``dirnames`` are Hive partition directory names exactly as the
        manifest records them (e.g. ``"day=2024-01-01"`` or
        ``"a=1/b=x"`` for multi-level layouts). Unknown names are
        rejected (a silent no-op would mask a typo'd retention job).
        A vector index survives: dropping rows never invalidates the
        survivors' assignments."""
        if not self.partition_by:
            raise ValueError("drop_partitions requires a partitioned table")
        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        drop = set(dirnames)
        have = M.partition_dirs(man)
        unknown = drop - have
        if unknown:
            raise ValueError(
                f"unknown partition(s) {sorted(unknown)}; "
                f"table has {sorted(p for p in have if p)}"
            )
        keep = M.carried_files_arrow(man, drop)
        vidx = (man.stats or {}).get("vector_index")
        return self._commit(
            "drop_partitions",
            keep,
            StructType.fromJson(json.loads(man.schema_json)),
            rewritten=sorted(drop),
            base=man,
            touched=drop,
            extra_stats={
                "dropped_partitions": sorted(drop),
                **({"vector_index": vidx} if vidx is not None else {}),
            },
            cid=M.child_id(man.commit_id),
        )

    def update_where(
        self, spark: SparkSession, set_exprs: dict[str, str], predicate: str
    ) -> str:
        """Predicate update (Spark-SQL ``UPDATE t SET ... WHERE ...`` on
        a Hudi table): rewrite ONLY the partitions holding matching rows,
        applying each SET expression to the rows the predicate selects
        (NULL predicate = not selected, SQL three-valued semantics).
        Record-key and partition columns may not be SET — updating the
        key is undefined under merge semantics, and moving rows between
        partitions belongs to delete+upsert.

        At 100 TB this is the same cost shape as upsert: one scan to
        find touched partitions, one rewrite of those partitions; every
        untouched file is carried forward by manifest reference."""
        man, transform, vidx = self._plan_update(set_exprs)
        return self._rewrite_where(
            spark, man, predicate, transform, "update_where", vidx=vidx,
            enforce_updated=True,
        )

    def _plan_update(self, set_exprs: dict[str, str]):
        """The front half both UPDATE strategies share: pin ONE manifest
        (the SET check, the index-carry judgement and the op's plan all
        read it), validate the SET (:meth:`_check_set`), and build
        ``transform(rows, hit,
        schema=<the pinned schema>)``. Returns ``(man, transform,
        vidx)``.

        ``transform`` applies each SET expression, cast to its column's
        type, to the rows where ``hit`` holds, then recomputes the
        generated columns there: a SET of a rule INPUT — e.g. ts under
        day=to_date(ts) — must not leave the stored column drifted from
        its rule, and a recomputed partition key relocates the row on
        write. ``vidx`` is the vector index the update keeps valid: a
        SET that doesn't touch the index's vector/assignment columns
        can't invalidate any assignment, so the index is carried;
        otherwise it is None (an honest drop)."""
        man = self._pin_head()
        pinned = StructType.fromJson(json.loads(man.schema_json))
        self._check_set(set_exprs, pinned.fieldNames())

        def transform(rows: DataFrame, hit, schema=pinned) -> DataFrame:
            # ``hit`` is judged once, on the rows as they were: a SET may
            # change a column the predicate reads, and the generated
            # columns recompute after the SET
            out = rows.withColumn("__hit", hit).select(
                *[
                    (
                        F.when(
                            F.col("__hit"),
                            F.expr(set_exprs[f.name]).cast(f.dataType),
                        )
                        .otherwise(F.col(f.name))
                        .alias(f.name)
                        if f.name in set_exprs
                        else F.col(f.name)
                    )
                    for f in schema.fields
                ],
                "__hit",
            )
            for name, rule in (self.derived_cols or {}).items():
                out = out.withColumn(
                    name,
                    F.when(F.col("__hit"), F.expr(rule)).otherwise(F.col(name)),
                )
            return out.drop("__hit")

        vidx = (man.stats or {}).get("vector_index")
        if vidx is not None:
            icols = {vidx.get("vec_col"), vidx.get("cell_col")} | set(
                vidx.get("bucket_cols") or []
            )
            if icols & set(set_exprs):
                vidx = None
        return man, transform, vidx

    def _check_set(self, set_exprs: dict, names: list[str]) -> None:
        """Refuse a SET (an UPDATE's or a MERGE clause's) of a key,
        partition, generated or unknown column; ``names`` are the
        table's columns."""
        bad = (set(self.key) | set(self.partition_by or [])) & set(set_exprs)
        if bad:
            raise ValueError(
                f"cannot SET key/partition column(s) {sorted(bad)}; "
                "use delete + upsert to move or re-key rows"
            )
        gen = set(self.derived_cols or {}) & set(set_exprs)
        if gen:
            raise ValueError(
                f"cannot SET generated column(s) {sorted(gen)}: they are "
                "owned by their generation rule — SET the rule's inputs "
                "and the column recomputes"
            )
        unknown = set(set_exprs) - set(names)
        if unknown:
            raise ValueError(
                f"cannot SET unknown column(s) {sorted(unknown)}; "
                f"table columns are {list(names)}"
            )

    def _check_updated(self, op: str, updated: DataFrame) -> None:
        """CHECK-on-update, shared by both UPDATE strategies: raise
        :class:`ConstraintViolation` when any of the ``updated`` row
        images violates a CHECK constraint (Delta semantics). One
        aggregate pass; tables without constraints pay nothing. It is
        independent of ``on_violation``: dropping or quarantining an
        UPDATED row would delete data."""
        if not self.constraints:
            return
        bad = self._violations(updated)
        if bad:
            raise ConstraintViolation(
                f"{op} would write rows violating CHECK "
                f"constraint(s) {bad}"
            )

    def truncate(self) -> str:
        """Empty the table in ONE metadata-only commit (Hudi/Delta
        ``TRUNCATE TABLE`` parity): the new snapshot references zero
        files — no scan, no rewrite, O(1) regardless of table size
        (``DELETE FROM t`` without WHERE would rewrite every
        partition to produce nothing). Prior commits stay
        time-travelable until :meth:`clean` reclaims their files; the
        CDF stream serves the commit as the removed files' delete
        pre-images (the generic remove planning — exact). Conflicts
        with ANY concurrent writer under OCC (it rewrites
        ``<all>``), which is the correct semantics for a
        table-wide wipe."""
        man = self._pin_head()
        schema = StructType.fromJson(json.loads(man.schema_json))
        cid = M.child_id(man.commit_id)
        return self._commit(
            "truncate",
            [],
            schema,
            rewritten=["<all>"],
            cid=cid,
        )

    def delete_where(self, spark: SparkSession, predicate) -> str:
        """Predicate delete (Spark-SQL ``DELETE FROM t WHERE ...``,
        ``predicate`` a SQL string or Column): rewrite only partitions
        holding matching rows, keeping rows the predicate does NOT
        select (FALSE or NULL — three-valued SQL semantics, matching
        every engine's DELETE). One snapshot scan + one rewrite of the
        touched partitions — no intermediate key set, unlike the by-key
        companion :meth:`delete`. No matches → no new commit. Removing
        rows never invalidates the survivors' index assignments, so a
        registered vector index is carried forward untouched."""
        man = self._pin_head()
        vidx = (man.stats or {}).get("vector_index")
        return self._rewrite_where(
            spark, man, predicate,
            lambda rows, hit, _schema: rows.filter(~hit), "delete_where",
            vidx=vidx,
        )

    #: skip the change log when the recorded delta would approach the
    #: coarse stream volume itself: coarse ships pre+post ≈ 2× rows
    #: written, so a delta above this fraction of that (default: 80%)
    #: buys consumers almost nothing while doubling the op's write
    #: amplification — the whole-table insert_overwrite / everything-
    #: changed upsert shape (§9h#1). The commit then simply carries no
    #: ref and the stream's coarse/gate contract nets the same answer.
    CHANGE_LOG_MAX_FRACTION = 0.8

    def _write_change_log(
        self,
        pre: DataFrame,
        post: DataFrame,
        schema: StructType,
        rows_written: int | None = None,
    ) -> dict | None:
        """Write-time exact CDC for a CoW rewrite (``change_log``
        tables): the op's logical row delta — multiset
        ``pre.exceptAll(post)`` as delete pre-images and the inverse
        as insert post-images — lands under ``_changes/<token>/``
        (full rows + ``_change_type``) BEFORE the commit publishes,
        and the returned ``{"ref": token}`` rides the commit stats.
        The CDF stream source then serves this commit from the
        recorded delta at O(delta), regardless of rewrite size
        (table_source.py plans a "chlog" slice). The token is a fresh
        uuid, NOT the commit id: an OCC rebase republishes under a
        new id but the logical delta — provably disjoint from the
        rival's — stays valid, and a lost race's orphan dir is just
        unreferenced bytes clean() sweeps.

        Map columns (r12): ``exceptAll`` rejects map types anywhere in
        the schema, so map-bearing columns are compared through a
        canonical twin (:meth:`_canon_expr`) — every map at ANY depth
        (top-level, nested in struct/array, map-valued maps) becomes
        its ``array<struct<key,value>>`` sorted by key, which keys
        logically-equal maps identically regardless of entry order —
        and the stored rows get their maps back via
        :meth:`_uncanon_expr` (``map_from_entries`` at each depth)
        plus a cast to the exact field type before the delta lands
        (schema on disk == table schema). A try/except guards the
        whole delta job so an uncomparable schema can never fail the
        WRITE after its data files are staged (ADVICE r11). An op
        that changes nothing writes an empty delta and streams
        nothing. Spark-side cost: one extra aggregation over the
        touched partitions, the columns already in memory."""
        if not self.change_log:
            return None
        map_cols = {
            f.name: f.dataType
            for f in schema.fields
            if self._type_has_map(f.dataType)
        }
        import uuid as _uuid

        cols = [f.name for f in schema.fields]

        def canon(df: DataFrame) -> DataFrame:
            if not map_cols:
                return df.select(cols)
            return df.select(
                [
                    self._canon_expr(F.col(c), map_cols[c]).alias(c)
                    if c in map_cols
                    else F.col(c)
                    for c in cols
                ]
            )

        def uncanon(df: DataFrame) -> DataFrame:
            if not map_cols:
                return df
            # cast to the field's nullability-RELAXED type: the twin
            # round-trip rebuilds containers as nullable, and casting
            # to a NOT NULL nested field is a type error — parquet
            # carries no hard nullability anyway
            return df.select(
                *[
                    self._uncanon_expr(F.col(c), map_cols[c])
                    .cast(self._nullable_type(map_cols[c]))
                    .alias(c)
                    if c in map_cols
                    else F.col(c)
                    for c in cols
                ],
                "_change_type",
            )

        token = _uuid.uuid4().hex[:16]
        out_dir = os.path.join(self.path, "_changes", token)
        keep = False
        try:
            pre_c, post_c = canon(pre), canon(post)
            delta = uncanon(
                pre_c.exceptAll(post_c)
                .withColumn("_change_type", F.lit("delete"))
                .unionByName(
                    post_c.exceptAll(pre_c)
                    .withColumn("_change_type", F.lit("insert"))
                )
            )
            delta.write.mode("error").parquet(out_dir)
            if rows_written is not None:
                # coarse-volume cap checked from the written files'
                # FOOTERS (driver-side metadata): one evaluation of
                # the delta total, no persist + count action pair
                # (which cost a second job round-trip per DML). The
                # cap is DELIBERATELY post-write (ADVICE r12 weighed
                # both orders): a pre-write bound needs its own count
                # job — an extra action on EVERY logging DML to save
                # write I/O only on the rare table-sized-delta shape,
                # whose bytes the failure path below reclaims anyway.
                import pyarrow.dataset as pds

                n = pds.dataset(out_dir, format="parquet").count_rows()
                cap = (
                    self.CHANGE_LOG_MAX_FRACTION
                    * 2.0
                    * max(rows_written, 1)
                )
                if n > cap:
                    return None  # table-sized delta: coarse nets same
            keep = True
            return {"ref": token}
        except Exception:  # noqa: BLE001 — the log is an optimization:
            # the commit simply carries no ref and the stream's
            # coarse/gate contract nets the same answer; failing the
            # op here would orphan its already-staged data files
            return None
        finally:
            # cap-exceeded AND mid-flight-exception paths both reclaim
            # the staged dir NOW (ADVICE r12) — before r13 a post-write
            # failure left an orphan only clean()'s aged sweep caught
            if not keep and os.path.isdir(out_dir):
                shutil.rmtree(out_dir, ignore_errors=True)

    @property
    def _identity_cols(self) -> list[str]:
        """Row-identity columns: the record key, plus the partition
        columns under PARTITION key scope — there the same key may
        live in two partitions as two rows, so any key-wise pairing
        (merge, diff classification, composed-diff windows) must key
        on (partition, key) or silently cross-join duplicate keys
        (r12 fix: diff_commits on a key_scope='partition' table lost
        rows when a shared key changed in two partitions)."""
        if self.key_scope == "partition" and self.partition_by:
            return self.key + self.partition_by
        return self.key

    @staticmethod
    def _type_has_map(dt) -> bool:
        """True when a map type appears ANYWHERE inside ``dt`` — set
        operations (exceptAll) and ``<=>`` reject such schemas, so the
        change-log and diff paths must detect them recursively, not
        just at the top level (ADVICE r11)."""
        from pyspark.sql.types import ArrayType, MapType

        if isinstance(dt, MapType):
            return True
        if isinstance(dt, ArrayType):
            return KeyedTable._type_has_map(dt.elementType)
        if isinstance(dt, StructType):
            return any(
                KeyedTable._type_has_map(f.dataType) for f in dt.fields
            )
        return False

    @staticmethod
    def _nullable_type(dt):
        """Recursively nullable clone of ``dt`` — cast targets for the
        canonical-twin round-trip, whose container rebuilds are always
        nullable (casting to a NOT NULL nested field is a type
        error)."""
        from pyspark.sql.types import ArrayType, MapType

        T = KeyedTable._nullable_type
        if isinstance(dt, MapType):
            return MapType(T(dt.keyType), T(dt.valueType), True)
        if isinstance(dt, ArrayType):
            return ArrayType(T(dt.elementType), True)
        if isinstance(dt, StructType):
            return StructType(
                [
                    StructField(f.name, T(f.dataType), True, f.metadata)
                    for f in dt.fields
                ]
            )
        return dt

    @classmethod
    def _canon_expr(cls, col: Column, dt) -> Column:
        """Order-insensitive canonical twin of ``col`` (type ``dt``)
        with every map ANYWHERE in the type replaced by its sorted
        ``map_entries`` array — recursively, so maps nested inside
        struct/array (or map-valued maps) canonicalize too (r12
        nested-map lift, §9j#4). The result contains no MapType, so it
        is comparable (``exceptAll``/``<=>``), orderable, and hashable;
        logically-equal maps (same entries, any order) produce
        IDENTICAL twins because entries sort by their unique keys.
        Containers rebuild null-preservingly (``F.when(isNotNull)``
        yields NULL structs back as NULL, not struct-of-nulls); Spark
        forbids map types inside map KEYS, so only values recurse.
        Identity when ``dt`` is already map-free."""
        from pyspark.sql.types import ArrayType, MapType

        if isinstance(dt, MapType):
            ent = F.map_entries(col)
            if cls._type_has_map(dt.valueType):
                vt = dt.valueType
                ent = F.transform(
                    ent,
                    lambda e: F.struct(
                        e["key"].alias("key"),
                        cls._canon_expr(e["value"], vt).alias("value"),
                    ),
                )
            return F.sort_array(ent)
        if isinstance(dt, ArrayType):
            if not cls._type_has_map(dt.elementType):
                return col
            et = dt.elementType
            return F.transform(col, lambda x: cls._canon_expr(x, et))
        if isinstance(dt, StructType):
            if not cls._type_has_map(dt):
                return col
            return F.when(
                col.isNotNull(),
                F.struct(
                    *[
                        cls._canon_expr(
                            col.getField(f.name), f.dataType
                        ).alias(f.name)
                        for f in dt.fields
                    ]
                ),
            )
        return col

    @classmethod
    def _uncanon_expr(cls, col: Column, dt) -> Column:
        """Inverse of :meth:`_canon_expr`: ``col`` holds the canonical
        twin, ``dt`` is the ORIGINAL type — rebuild real maps via
        ``map_from_entries`` at every depth so the value stored back
        matches the table schema exactly. Same null-preservation as
        the forward direction."""
        from pyspark.sql.types import ArrayType, MapType

        if isinstance(dt, MapType):
            ent = col
            if cls._type_has_map(dt.valueType):
                vt = dt.valueType
                ent = F.transform(
                    col,
                    lambda e: F.struct(
                        e["key"].alias("key"),
                        cls._uncanon_expr(e["value"], vt).alias("value"),
                    ),
                )
            return F.map_from_entries(ent)
        if isinstance(dt, ArrayType):
            if not cls._type_has_map(dt.elementType):
                return col
            et = dt.elementType
            return F.transform(col, lambda x: cls._uncanon_expr(x, et))
        if isinstance(dt, StructType):
            if not cls._type_has_map(dt):
                return col
            return F.when(
                col.isNotNull(),
                F.struct(
                    *[
                        cls._uncanon_expr(
                            col.getField(f.name), f.dataType
                        ).alias(f.name)
                        for f in dt.fields
                    ]
                ),
            )
        return col

    @staticmethod
    def _predicate(predicate) -> Column:
        """A predicate-DML ``predicate`` — SQL text or a Column — as a
        Column. Rows where it is NULL are not selected (SQL three-valued
        semantics): ``filter`` drops them as it drops FALSE."""
        return F.expr(predicate) if isinstance(predicate, str) else predicate

    def _rewrite_where(
        self,
        spark,
        man: "M.Manifest",
        predicate,
        transform,
        op: str,
        vidx: dict | None = None,
        enforce_updated: bool = False,
    ) -> str:
        """Shared predicate-DML scaffold: find partitions holding rows
        the predicate selects (NULL = not selected), rewrite ONLY those
        partitions through ``transform(rows, hit, schema)``, carry every
        untouched file forward, publish ``op``. No matches → no new
        commit, the pinned ``man``'s id returned. ``vidx`` (caller-judged)
        is a vector index the rewrite provably keeps valid — it is carried
        into the new commit's stats. ``man`` is the caller's pinned
        manifest (one op, one manifest: plan and publish both read it).
        ``enforce_updated`` marks an UPDATE: the updated images pass
        :meth:`_check_updated` before anything is written."""
        existing = self.read(spark, at=man.commit_id)
        hit = F.coalesce(self._predicate(predicate), F.lit(False))

        if self.partition_by:
            touched = self._partition_dirs(existing.filter(hit))
            if not touched:
                return man.commit_id
            existing_touched = self._rows_in_partitions(existing, touched)
        else:
            if existing.filter(hit).isEmpty():
                return man.commit_id
            touched = None
            existing_touched = existing

        rewritten = transform(existing_touched, hit, existing.schema)
        if enforce_updated:
            self._check_updated(
                op,
                transform(
                    existing_touched.filter(hit), F.lit(True), existing.schema
                ),
            )
        return self._publish_rewrite(
            op, man, existing_touched, rewritten, touched, existing.schema,
            vidx,
        )

    def validate(self) -> list[str]:
        """Manifest/file integrity audit (operational tooling): returns a
        list of problems — referenced files missing on disk, footer row
        counts that disagree with commit stats, orphaned data files no
        retained manifest references (safe to clean). Empty list = sound.
        Driver-side footer reads only; no Spark jobs."""
        problems: list[str] = []
        ddir = M.data_dir(self.path)
        referenced: set[str] = set()
        live_shards = M.referenced_shards(self.path)
        mdir = M.manifests_dir(self.path)
        for cid in self.commits():
            man = M.read_manifest(self.path, cid)
            assert man is not None
            # shard integrity: every referenced shard exists; within
            # one snapshot, shards are disjoint and cover exactly the
            # recorded file count
            if man.shards is not None:
                seen_files: set[str] = set()
                for s in man.shards:
                    if not os.path.isfile(os.path.join(mdir, s)):
                        problems.append(f"commit {cid}: missing shard {s}")
                        continue
                    fs = M.shard_file_set(self.path, s)
                    if fs & seen_files:
                        problems.append(
                            f"commit {cid}: shard {s} overlaps another shard"
                        )
                    seen_files |= fs
                if len(seen_files) != man.n_files:
                    problems.append(
                        f"commit {cid}: shards cover {len(seen_files)} files "
                        f"but manifest records {man.n_files}"
                    )
            total = 0
            for f in man.files:
                referenced.add(f)
                p = os.path.join(ddir, f)
                if not os.path.isfile(p):
                    problems.append(f"commit {cid}: missing file {f}")
                else:
                    total += _parquet_num_rows(p)
            expected = man.stats.get("rows_written")
            if man.op in ("bulk_insert",) and expected not in (None, total):
                problems.append(
                    f"commit {cid}: rows_written={expected} but files hold {total}"
                )
            # deletion vectors: every referenced blob exists, belongs
            # to a live file of ITS snapshot, and its dead count can't
            # exceed the file's physical rows
            fset = set(man.files)
            frows = man.file_rows
            for rel, (dv_name, ndead) in sorted(man.dvs.items()):
                if rel not in fset:
                    problems.append(
                        f"commit {cid}: DV for non-live file {rel}"
                    )
                if not DVB.exists(self.path, dv_name):
                    problems.append(
                        f"commit {cid}: missing DV blob {dv_name}"
                    )
                    continue
                if (n := frows.get(rel)) is not None and ndead > n:
                    problems.append(
                        f"commit {cid}: DV {dv_name} marks {ndead} of "
                        f"{n} rows in {rel}"
                    )
                blob_dead = DVB.dead_count(DVB.read(self.path, dv_name))
                if blob_dead != ndead:
                    problems.append(
                        f"commit {cid}: DV {dv_name} header says "
                        f"{blob_dead} dead but manifest records {ndead}"
                    )
        latest = M.read_manifest(self.path)
        live = set(latest.files) if latest else set()
        for dirpath, _dirs, files in os.walk(ddir):
            for fn in files:
                rel = os.path.relpath(os.path.join(dirpath, fn), ddir)
                if rel not in referenced:
                    problems.append(f"orphan file (cleanable): {rel}")
        if os.path.isdir(mdir):
            for fn in sorted(os.listdir(mdir)):
                if fn not in live_shards:
                    problems.append(f"orphan manifest shard (cleanable): {fn}")
        ref_dvs = {
            v[0]
            for cid in self.commits()
            for v in (M.read_manifest(self.path, cid).dvs or {}).values()
        }
        for fn in DVB.list_blobs(self.path):
            if fn not in ref_dvs:
                problems.append(f"orphan DV blob (cleanable): {fn}")
        # record index: every registered segment exists; unreferenced
        # segments are cleanable orphans
        ref_rli: set[str] = set()
        for cid in self.commits():
            for seg in self._index_segment_names(
                M.read_manifest(self.path, cid).stats
            ):
                ref_rli.add(seg)
                if not os.path.isfile(
                    os.path.join(RI.rli_dir(self.path), seg)
                ):
                    problems.append(
                        f"commit {cid}: missing index segment {seg}"
                    )
        for fn in RI.list_segments(self.path):
            if fn not in ref_rli:
                problems.append(
                    f"orphan record-index segment (cleanable): {fn}"
                )
        # live files that SHOULD carry a manifest key bloom but don't
        # (never wrong — read_keys keeps bloom-less files — but point
        # lookups on them degrade to scans; surface it)
        if self.key_bloom and latest is not None:
            blooms = latest.file_blooms
            for f in sorted(live):
                if f not in blooms:
                    problems.append(f"live file missing manifest bloom: {f}")
        return problems

    def _require_columns(self, df: DataFrame, what: str) -> None:
        needed = [*self.key, self.precombine, *(self.partition_by or [])]
        missing = [c for c in needed if c not in df.columns]
        if missing:
            raise ValueError(
                f"{what} is missing required column(s) {missing}; "
                f"table needs key={self.key}, precombine={self.precombine!r}"
                + (f", partition_by={self.partition_by}" if self.partition_by else "")
            )

    def diff_commits(
        self,
        spark: SparkSession,
        from_commit: str,
        to_commit: str | None = None,
        images: str = "post",
    ) -> DataFrame:
        """Change feed between two commits (Delta CDF-style): one row per
        changed key with ``_change_type`` ∈ insert | update | delete,
        carrying the post-image for inserts/updates and the pre-image for
        deletes. With ``images="both"`` updates instead emit TWO rows —
        ``update_preimage`` and ``update_postimage`` (full Delta CDF
        parity) — which is what downstream incremental view maintenance
        needs: an aggregate delta is +post − pre, so a consumer can
        retract the old contribution without re-reading the base table.
        Computed as a key-wise full-outer diff of the two snapshots —
        O(changed partitions) at scale when combined with
        :meth:`read_incremental` file pruning; exact as written here.
        The pre/post expansion is a single ``explode`` over the same
        join, not a second join.

        DV fast path: when every commit in the range is deletion-vector
        DML (delete_dv / upsert_dv — SURVEY §9c#1), the diff is
        O(delta), not O(table): the DV maps name exactly which (file,
        position) died, so pre-images scan only the affected base files
        (masked AT ``from_commit``) and post-images only the range's
        new files (masked at ``to_commit``) — the same full-outer
        classification then runs over delta-sized inputs.

        General path (r12): pruned to CHANGED FILES. A file carried by
        BOTH manifests with the SAME deletion-vector state contributes
        byte-identical live rows to both snapshots, and the engine's
        unique-key invariant (every snapshot holds one row per key —
        upsert/merge/delete all maintain it) means those rows can pair
        only with themselves in the key-wise join — net zero. Dropping
        them from BOTH sides leaves the diff exact while the scan and
        shuffle shrink from O(table) to O(files either rewritten,
        added, removed, or re-masked in the range) — the property that
        makes a commit-range diff on a 100 TB table cost its churn,
        not its size. The pre-side conforms to the ``to`` schema
        (columns added mid-range read NULL before — the same contract
        the chlog composition documents), which also fixes the widened
        range: the unconformed join used to fail on the pre-side's
        missing columns.

        INVARIANT (ADVICE r12): every diff classification here keys
        rows by IDENTITY (:attr:`_identity_cols`) and therefore
        assumes each snapshot holds at most one live row per identity
        — which every DML op maintains, and only
        ``bulk_insert(dedupe=False)`` on a duplicate-bearing batch can
        break (see its docstring). A load that declared
        ``unique_keys=False`` plants a sticky ``unsafe_duplicate_keys``
        flag that routes this method to the UNPRUNED snapshot scan
        (the changed-file pruning's net-zero argument needs the
        invariant); audit live tables with
        :meth:`validate_unique_keys`."""
        if images not in ("post", "both"):
            raise ValueError(f"images must be 'post' or 'both', got {images!r}")
        if to_commit is None:
            # resolve the open end ONCE: the DV fast-path probe and the
            # snapshot fallback must diff against the SAME head — a
            # rival commit landing between two independent head reads
            # would make the probed chain and the diffed snapshot
            # disagree (one op, one manifest)
            head = M.read_manifest(self.path)
            if head is None:
                raise FileNotFoundError(f"no commits at {self.path}")
            to_commit = head.commit_id
        fast = self._diff_dv_fast(spark, from_commit, to_commit, images)
        if fast is None:
            fast = self._diff_chlog_fast(
                spark, from_commit, to_commit, images
            )
        if fast is not None:
            return fast
        b_man = M.read_manifest(self.path, from_commit)
        a_man = M.read_manifest(self.path, to_commit)
        if b_man is None or a_man is None:
            raise FileNotFoundError(
                f"commit missing at {self.path}: "
                f"{from_commit if b_man is None else to_commit}"
            )
        a_schema = StructType.fromJson(json.loads(a_man.schema_json))
        b_schema = StructType.fromJson(json.loads(b_man.schema_json))
        bdv = b_man.dvs or {}
        adv = a_man.dvs or {}
        # declared-duplicates route (ADVICE r12): the changed-file
        # pruning below is sound ONLY under the unique-identity
        # invariant (its net-zero argument pairs a carried file's rows
        # with themselves); a table whose bulk load declared
        # unique_keys=False diffs over the FULL file lists instead
        if (b_man.stats or {}).get("unsafe_duplicate_keys") or (
            a_man.stats or {}
        ).get("unsafe_duplicate_keys"):
            before = self._read_pruned(
                spark, b_man, list(b_man.files), b_schema
            )
            before = before.select(self._conform(before, a_schema))
            after = self._read_pruned(
                spark, a_man, list(a_man.files), a_schema
            )
            return self._classify_diff(before, after, images)
        if b_man.shards is not None and a_man.shards is not None:
            # shard-level diff (read_incremental's pattern): files of
            # SHARED shards are live on both sides by construction
            # (shards are immutable; a referenced shard's files are
            # all part of the snapshot), so only unshared shards'
            # files are enumerated — O(changed shards + dv entries)
            # driver-side, not O(table files)
            shared = set(b_man.shards) & set(a_man.shards)
            b_extra: set[str] = set()
            for s in b_man.shards:
                if s not in shared:
                    b_extra |= M.shard_file_set(self.path, s)
            a_extra: set[str] = set()
            for s in a_man.shards:
                if s not in shared:
                    a_extra |= M.shard_file_set(self.path, s)
            same = {
                f
                for f in b_extra & a_extra
                if bdv.get(f) == adv.get(f)
            }
            # a shared shard's file with CHANGED dv state must stay in
            # the diff on both sides (dv maps only name masked files,
            # so this set is O(masked), never O(table))
            dv_add = {
                f
                for f in set(bdv) | set(adv)
                if bdv.get(f) != adv.get(f)
                and f not in b_extra
                and f not in a_extra
            }
            bkeep = sorted((b_extra - same) | dv_add)
            akeep = sorted((a_extra - same) | dv_add)
        else:
            bset, aset = set(b_man.files), set(a_man.files)
            unchanged = {
                f for f in bset & aset if bdv.get(f) == adv.get(f)
            }
            bkeep = [f for f in b_man.files if f not in unchanged]
            akeep = [f for f in a_man.files if f not in unchanged]
        before = (
            self._read_pruned(spark, b_man, bkeep, b_schema)
            if bkeep
            else spark.createDataFrame([], b_schema)
        )
        before = before.select(self._conform(before, a_schema))
        after = (
            self._read_pruned(spark, a_man, akeep, a_schema)
            if akeep
            else spark.createDataFrame([], a_schema)
        )
        return self._classify_diff(before, after, images)

    def _diff_chlog_fast(
        self, spark, from_commit: str, to_commit: str | None, images: str
    ) -> DataFrame | None:
        """O(delta) batch change feed COMPOSED from recorded change
        logs (r11, ``change_log`` tables): when every non-layout
        commit in the range carries a write-time delta, the key-wise
        net change needs no snapshot diff at all — a key's pre-image
        at ``from`` is its FIRST recorded event if that event is a
        delete (an update logs delete-before-insert in one commit, so
        a key that existed at ``from`` always leads with its old
        row); its post-image at ``to`` is its LAST event if that is
        an insert. Feeding those two O(changed keys) frames through
        the shared :meth:`_classify_diff` yields identical
        insert/update/delete classification to the full-outer
        snapshot diff — the standard incremental-view-maintenance
        shape at 100 TB, where the snapshot diff re-reads the table
        but the recorded deltas are only what changed. DV commits in
        the range (delete_dv / upsert_dv — which never record a log)
        SYNTHESIZE their event frame at O(delta) instead of killing
        the composition (r12): newly-dead positions vs the parent's
        masks become delete events (positioned pre-image read of just
        the affected files), the commit's new files become insert
        events — so the realistic mixed workload, bulk CoW merges
        plus DV point deletes, keeps the O(changed keys) diff.
        Returns None (honest fallback to the general diff) when any
        commit in the range lacks a log (non-chlog CoW op, pre-r11
        history, coarse-volume-capped delta), a referenced log was
        folded away by retention (fold_change_logs), or the deltas'
        schemas cannot union (type widening mid-range)."""
        from pyspark.sql.window import Window as W

        from hudi_glue_spark.streaming.table_source import (
            _CHANGE_LOG_OPS,
            _SILENT_OPS,
        )

        b = M.read_manifest(self.path, from_commit)
        a = M.read_manifest(self.path, to_commit)
        if b is None or a is None:
            return None
        if int(b.commit_id) == int(a.commit_id):
            # empty range: the diff is empty by definition — never
            # worth the general path's full-outer self-join
            schema = StructType.fromJson(json.loads(a.schema_json))
            empty = spark.createDataFrame([], schema)
            return self._classify_diff(empty, empty, images)
        chain = [
            c
            for c in self.commits()
            if int(b.commit_id) < int(c) <= int(a.commit_id)
        ]
        if not chain:
            return None
        sources: list[tuple[str, object]] = []
        prev = b
        for c in chain:
            m = M.read_manifest(self.path, c)
            if m is None:
                return None
            if m.op == "drop_columns":
                return None  # schema shrank: general diff handles it
            if m.op in _SILENT_OPS:
                prev = m
                continue  # layout-only: no logical delta
            if m.op in ("delete_dv", "upsert_dv"):
                if not set(prev.files) <= set(m.files):
                    return None  # defensive: DV ops never drop files
                sources.append(("dv", (prev, m)))
                prev = m
                continue
            ref = (
                ((m.stats or {}).get("change_log") or {}).get("ref")
                if m.op in _CHANGE_LOG_OPS
                else None
            )
            if not ref:
                return None
            sources.append(("chlog", ref))
            prev = m
        schema = StructType.fromJson(json.loads(a.schema_json))
        cols = [f.name for f in schema.fields]
        empty = spark.createDataFrame([], schema)
        if not sources:
            return self._classify_diff(empty, empty, images)
        try:
            ev = None
            for i, (kind, payload) in enumerate(sources):
                if kind == "dv":
                    d = self._dv_event_frame(spark, *payload)
                    if d is None:
                        continue  # mask-only no-op commit
                    d = d.withColumn("__seq", F.lit(i))
                else:
                    cdir = os.path.join(self.path, "_changes", payload)
                    if not os.path.isdir(cdir):
                        # folded away by change-log retention
                        # (fold_change_logs): the recorded delta is
                        # gone, the snapshot diff is still exact —
                        # general path
                        return None
                    d = spark.read.parquet(cdir).withColumn(
                        "__seq", F.lit(i)
                    )
                ev = (
                    d
                    if ev is None
                    else ev.unionByName(d, allowMissingColumns=True)
                )
            if ev is None:
                return self._classify_diff(empty, empty, images)
            # a column added mid-range is absent from earlier deltas —
            # exactly as the true pre-rows at `from` read (NULL)
            # nullability-relaxed cast targets: parquet reads surface
            # nullable nested fields, and casting those to a schema
            # recorded NOT NULL is a type error, not a widening
            ev = ev.select(
                *[
                    (
                        F.col(f.name).cast(self._nullable_type(f.dataType))
                        if f.name in ev.columns
                        else F.lit(None).cast(self._nullable_type(f.dataType))
                    ).alias(f.name)
                    for f in schema.fields
                ],
                "_change_type",
                "__seq",
            )
        except Exception:  # noqa: BLE001 — un-unionable mid-range
            return None  # schema churn: the general diff is the answer
        # delete sorts before insert, so within one commit an update's
        # pre-image leads and its post-image trails; windows key on the
        # ROW IDENTITY (key + partition under partition scope) so a
        # shared key's histories in two partitions never interleave
        ident = self._identity_cols
        w_first = W.partitionBy(*ident).orderBy(
            F.col("__seq").asc(), F.col("_change_type").asc()
        )
        w_last = W.partitionBy(*ident).orderBy(
            F.col("__seq").desc(), F.col("_change_type").desc()
        )
        before = (
            ev.withColumn("__rn", F.row_number().over(w_first))
            .filter(
                (F.col("__rn") == 1)
                & (F.col("_change_type") == "delete")
            )
            .select(cols)
        )
        after = (
            ev.withColumn("__rn", F.row_number().over(w_last))
            .filter(
                (F.col("__rn") == 1)
                & (F.col("_change_type") == "insert")
            )
            .select(cols)
        )
        return self._classify_diff(before, after, images)

    def _dv_dead_marks(
        self, spark, triples: list[tuple[str, str | None, str]]
    ) -> DataFrame:
        """EXECUTOR-side expansion of DV name triples ``(file,
        old_blob_or_None, new_blob)`` into the ``(__file, __pos)``
        coordinates newly dead between the two masks — the batch twin
        of the stream's ``dvdiff`` slice (table_source.py:374,:677),
        which already established that executors read blobs by NAME
        and diff bitmaps locally. The driver ships only O(masked
        files) blob names; each task reads its blobs from shared
        storage and emits the setdiff, so a delete-heavy commit range
        never funnels O(dead rows) positions through driver memory
        (VERDICT r12 "What's wrong" #1 / ADVICE r12). Mask growth is
        monotone under DV DML (``_dv_entries`` unions the old blob
        into every new one), so old positions are a subset of new —
        ``setdiff1d`` on sorted unique arrays."""
        root = self.path
        tri = spark.createDataFrame(
            triples, "__file string, __old string, __new string"
        )

        def expand(batches):
            import numpy as np
            import pandas as pd

            from hudi_glue_spark.table import dv as _DVB

            for pdf in batches:
                for f, old, new in zip(
                    pdf["__file"], pdf["__old"], pdf["__new"]
                ):
                    new_pos = _DVB.positions(_DVB.read(root, new))
                    if old is not None and not pd.isna(old):
                        newly = np.setdiff1d(
                            new_pos,
                            _DVB.positions(_DVB.read(root, old)),
                            assume_unique=True,
                        )
                    else:
                        newly = new_pos
                    if len(newly):
                        yield pd.DataFrame(
                            {
                                "__file": f,
                                "__pos": newly.astype("int64"),
                            }
                        )

        # one small task per ~handful of files: blobs are compressed
        # bitmaps, the expansion is numpy-bound, and the downstream
        # join wants the marks spread over the cluster, not one task
        n = max(1, min(len(triples), 64))
        return tri.repartition(n).mapInPandas(
            expand, "__file string, __pos long"
        )

    @staticmethod
    def _dv_name_triples(
        base_files: set, base_dvs: dict, head_dvs: dict
    ) -> list[tuple[str, str | None, str]]:
        """Driver-side planning of :meth:`_dv_dead_marks` input: one
        triple per file live at the base whose mask CHANGED across the
        range — metadata only, O(masked files), zero bitmap reads."""
        out: list[tuple[str, str | None, str]] = []
        for f, (name, _nd) in (head_dvs or {}).items():
            if f not in base_files:
                continue
            old = (base_dvs or {}).get(f)
            if old is not None and old[0] == name:
                continue  # unchanged mask: nothing died in range
            out.append((f, old[0] if old is not None else None, name))
        return out

    def _dv_event_frame(
        self, spark, parent: "M.Manifest", m: "M.Manifest"
    ) -> DataFrame | None:
        """ONE DV commit's logical delta as a chlog-shaped event frame
        (full rows + ``_change_type``), for the composed diff (r12):
        positions newly dead vs the PARENT's masks become delete
        events — pre-images positioned-read from just the affected
        files, O(rows that died) — and the commit's new files (an
        upsert_dv's replacement rows, clean at their own commit)
        become insert events. None = the commit changed nothing.
        Driver cost is O(masked files) blob NAMES (r13): the newly-
        dead coordinates expand executor-side (:meth:`_dv_dead_marks`)
        and semi-join the positioned read, so a delete-heavy range
        composes with flat driver memory; the frames compose lazily
        into the range's single diff job."""
        m_schema = StructType.fromJson(json.loads(m.schema_json))
        pfiles = set(parent.files)
        triples = self._dv_name_triples(pfiles, parent.dvs, m.dvs)
        parts: list[DataFrame] = []
        if triples:
            affected = sorted({f for f, _o, _n in triples})
            marks = self._dv_dead_marks(spark, triples)
            pre = self._positioned_read(spark, parent, affected).join(
                marks, on=["__file", "__pos"], how="left_semi"
            )
            parts.append(
                pre.select(self._conform(pre, m_schema)).withColumn(
                    "_change_type", F.lit("delete")
                )
            )
        new_files = sorted(set(m.files) - pfiles)
        if new_files:
            parts.append(
                self._read_pruned(
                    spark, m, new_files, m_schema
                ).withColumn("_change_type", F.lit("insert"))
            )
        if not parts:
            return None
        return (
            parts[0]
            if len(parts) == 1
            else parts[0].unionByName(parts[1])
        )

    def _diff_dv_fast(
        self, spark, from_commit: str, to_commit: str | None, images: str
    ) -> DataFrame | None:
        """O(delta) change feed for a DV-DML-only commit range, or None
        when the range holds any other op (the full-snapshot diff is
        the general answer). Driver cost is O(rows that died in the
        range) — the size of the feed itself."""
        b = M.read_manifest(self.path, from_commit)
        a = M.read_manifest(self.path, to_commit)
        if b is None or a is None:
            return None
        chain = [
            c
            for c in self.commits()
            if int(b.commit_id) < int(c) <= int(a.commit_id)
        ]
        if not chain:
            return None
        for c in chain:
            m = M.read_manifest(self.path, c)
            if m is None or m.op not in ("delete_dv", "upsert_dv"):
                return None
        schema = StructType.fromJson(json.loads(a.schema_json))
        cols = [f.name for f in schema.fields]
        bfiles = set(b.files)
        if not bfiles <= set(a.files):
            return None  # defensive: DV ops never drop files
        # positions newly dead on files that were live at FROM —
        # intra-range insert+delete churn lives only in range-new files
        # and correctly nets out to nothing. The driver plans only the
        # (file, old_blob, new_blob) NAME triples; executors expand
        # them into dead coordinates (r13 — see _dv_dead_marks), so a
        # delete-heavy range costs the driver O(masked files), never
        # O(deleted rows).
        triples = self._dv_name_triples(bfiles, b.dvs, a.dvs)
        if triples:
            affected = sorted({f for f, _o, _n in triples})
            marks = self._dv_dead_marks(spark, triples)
            pre = (
                self._positioned_read(spark, b, affected)
                .join(marks, on=["__file", "__pos"], how="left_semi")
                .select(*cols)
            )
        else:
            pre = spark.createDataFrame([], schema)
        new_files = sorted(set(a.files) - bfiles)
        post = (
            self._read_pruned(spark, a, new_files, schema)
            if new_files
            else spark.createDataFrame([], schema)
        )
        return self._classify_diff(pre, post, images)

    def _classify_diff(
        self, before: DataFrame, after: DataFrame, images: str
    ) -> DataFrame:
        """Key-wise full-outer change classification shared by the
        full-snapshot diff and the DV delta diff (whose inputs are only
        the rows that could have changed). Map-bearing columns — maps
        at ANY depth, r12 nested lift — are compared through their
        recursive canonical twin (:meth:`_canon_expr`): Spark's
        ``<=>`` rejects map operands anywhere in the operand type, and
        map equality is entry-order-insensitive anyway."""
        map_cols = {
            f.name: f.dataType
            for f in after.schema.fields
            if self._type_has_map(f.dataType)
        }
        before = before.withColumn("__b", F.lit(1))
        after = after.withColumn("__a", F.lit(1))
        cols = [c for c in after.columns if c != "__a"]
        ident = self._identity_cols
        b = before.alias("b")
        a = after.alias("a")
        j = b.join(
            a, on=[b[k].eqNullSafe(a[k]) for k in ident], how="full_outer"
        )
        in_b = F.col("b.__b").isNotNull()
        in_a = F.col("a.__a").isNotNull()

        def cmp_col(side: str, c: str):
            col = F.col(f"{side}.{c}")
            return (
                self._canon_expr(col, map_cols[c])
                if c in map_cols
                else col
            )

        # update = identity present in both with any other column changed
        changed = F.lit(False)
        for c in cols:
            if c not in ident:
                changed = changed | ~cmp_col("b", c).eqNullSafe(
                    cmp_col("a", c)
                )
        if images == "post":
            ctype = (
                F.when(in_a & ~in_b, F.lit("insert"))
                .when(in_b & ~in_a, F.lit("delete"))
                .when(in_b & in_a & changed, F.lit("update"))
            )
            return (
                j.withColumn("_change_type", ctype)
                .filter(F.col("_change_type").isNotNull())
                .select(
                    *[
                        F.when(in_a, F.col(f"a.{c}"))
                        .otherwise(F.col(f"b.{c}"))
                        .alias(c)
                        for c in cols
                    ],
                    "_change_type",
                )
            )

        def img(side: str, ctype) -> Column:
            return F.struct(
                *[F.col(f"{side}.{c}").alias(c) for c in cols],
                ctype.alias("_change_type"),
            )

        pre = F.when(
            in_b & (~in_a | changed),
            img(
                "b",
                F.when(~in_a, F.lit("delete")).otherwise(
                    F.lit("update_preimage")
                ),
            ),
        )
        post = F.when(
            in_a & (~in_b | changed),
            img(
                "a",
                F.when(~in_b, F.lit("insert")).otherwise(
                    F.lit("update_postimage")
                ),
            ),
        )
        rows = F.filter(F.array(pre, post), lambda x: x.isNotNull())
        return (
            j.select(F.explode(rows).alias("__r"))
            .select("__r.*")
        )

    def history(self, spark: SparkSession) -> DataFrame:
        """Commit timeline as a DataFrame (Delta ``DESCRIBE HISTORY`` /
        Hudi ``show commits`` parity): one row per retained commit with
        its sequence number, id, operation, wall timestamp, live-file
        count, and the file delta vs the previous retained commit.
        Driver-side metadata only — the timeline is thousands of JSON
        sidecars at most, never data-scale."""
        import pyarrow.compute as pc

        rows = []
        prev = None  # previous commit's arrow name array
        for seq, cid in enumerate(M.list_commit_ids(self.path)):
            man = M.read_manifest(self.path, cid)
            cur = man.files_arrow()
            if prev is None:
                added, removed = len(cur), 0
            else:
                # file-set delta as two C-side membership passes — a
                # 1M-file timeline walk stays out of Python sets
                added = len(cur) - (
                    pc.sum(
                        pc.is_in(cur, value_set=prev).cast("int64")
                    ).as_py()
                    or 0
                )
                removed = len(prev) - (
                    pc.sum(
                        pc.is_in(prev, value_set=cur).cast("int64")
                    ).as_py()
                    or 0
                )
            rows.append(
                (
                    seq,
                    cid,
                    man.op,
                    man.ts,
                    len(cur),
                    added,
                    removed,
                    man.total_rows(),  # metadata-only; None pre-r6 shards
                )
            )
            prev = cur
        return spark.createDataFrame(
            rows,
            "seq int, commit_id string, op string, ts string, "
            "n_files int, files_added int, files_removed int, n_rows long",
        )

    def change_partitioning(
        self, spark: SparkSession, new_partition_by: list[str] | str | None
    ) -> str:
        """Partition evolution: rewrite the table into a new Hive
        partition layout (or unpartitioned) as ONE commit and update the
        table metadata, so every later upsert/delete/overwrite targets
        the new layout. Iceberg evolves partition SPECS metadata-only
        (old files keep the old layout); a Hive-layout table cannot,
        because readers and the partition-scoped merge both derive
        pruning from the directory scheme — so this is the honest
        equivalent: one clustering rewrite, after which pruning is
        uniform. Old files stay for time travel until :meth:`clean`; a
        crash mid-write publishes nothing (write-data-first protocol).
        At 100 TB this is the same cost as a full compaction and is the
        operation you run when the query pattern shifts (e.g. from
        by-type to by-day pruning)."""
        new_pb = (
            [new_partition_by]
            if isinstance(new_partition_by, str)
            else (list(new_partition_by) if new_partition_by else None)
        )
        # pinned: the snapshot being re-laid-out and the child commit
        # id from ONE manifest (the upsert clobber window)
        man0 = M.read_manifest(self.path)
        snap = self.read(
            spark, at=man0.commit_id if man0 is not None else None
        )
        if new_pb:
            missing = [c for c in new_pb if c not in snap.columns]
            if missing:
                raise ValueError(f"unknown partition columns {missing}")
        old_pb = self.partition_by
        # re-layout moves rows, never changes them — carry the index
        vidx = ((man0.stats or {}) if man0 else {}).get("vector_index")
        cid = M.child_id(man0.commit_id) if man0 else M.next_commit_id(self.path)
        self.partition_by = new_pb
        # The restore guard covers the COMMIT too: if the manifest write
        # fails after the data write, the in-memory/metadata layout must
        # not claim the new scheme while the live manifest still
        # describes the old one — later upserts would mis-scope their
        # partition rewrites and duplicate rows.
        try:
            written = self._write_index_aware(snap, cid, vidx)
            published = self._commit(
                "change_partitioning",
                list(written),
                snap.schema,
                written,
                extra_stats={
                    "partition_by": new_pb or [],
                    "previous_partition_by": old_pb or [],
                    **({"vector_index": vidx} if vidx is not None else {}),
                },
                cid=cid,
            )
        except Exception:
            self.partition_by = old_pb
            raise
        self.save_meta()
        return published

    def rollback(self, to_commit: str) -> str:
        """Restore the table to an earlier commit's state by publishing a
        NEW commit that references that commit's files — metadata-only,
        no data movement, and the rolled-back history stays
        time-travelable until :meth:`clean`. Rolling back across a
        :meth:`change_partitioning` commit also restores the partition
        layout recorded in the target manifest, so later upserts scope
        their partition rewrites against the layout the files actually
        use."""
        man = M.read_manifest(self.path, to_commit)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        head = M.read_manifest(self.path)
        # restore the layout the target commit's files were written
        # under (recorded in every manifest's stats since partition
        # evolution landed; a pre-evolution target without the stat
        # resolves to the current layout). The resolved layout is
        # recorded UNCONDITIONALLY — _commit's invariant is "layout in
        # EVERY manifest", and a rollback manifest without it would
        # strand a later rollback that targets THIS commit.
        target_pb = (man.stats or {}).get("partition_by")
        resolved_pb = (
            target_pb if target_pb is not None else (self.partition_by or [])
        )
        new = M.Manifest(
            commit_id=M.child_id(head.commit_id),
            op="rollback",
            ts=M.utc_now_iso(),
            files=man.files,
            schema_json=man.schema_json,
            stats={
                "rows_written": 0,
                "rolled_back_to": to_commit,
                "partition_by": resolved_pb,
                # restoring a commit restores ITS index registration
                # (or its absence) — the files are the target's files
                **(
                    {"vector_index": (man.stats or {}).get("vector_index")}
                    if (man.stats or {}).get("vector_index") is not None
                    else {}
                ),
                # same rule for every index slot: the target's
                # registrations (their segments are referenced by the
                # still-present target commit, so clean() keeps them);
                # registrations added after the target are dropped
                **self._index_stats(self._index_regs(man.stats)),
            },
            # a sharded target's shards are reused wholesale (file sets
            # identical) — the rollback copies ZERO per-file metadata;
            # only a legacy inline target needs its stats handed over
            file_meta=None if man.shards is not None else man._file_meta,
            # restoring a commit restores ITS deletion-vector state:
            # the target's masks come back (its blobs are referenced by
            # the still-present target commit, so clean() keeps them),
            # and masks added after the target are dropped — their dead
            # rows live again, exactly like rolled-back rewrites
            dvs=man.dvs,
        )
        M.write_manifest(self.path, new)
        if (resolved_pb or None) != self.partition_by:
            self.partition_by = resolved_pb or None
            self.save_meta()
        self._refresh_live_views()
        return new.commit_id

    def merge_into(
        self,
        source: DataFrame,
        *,
        update_condition=None,
        delete_condition=None,
        when_not_matched_insert: bool = True,
        insert_condition=None,
        update_set: dict[str, str] | None = None,
        insert_values: dict[str, str] | None = None,
        by_source_delete=None,
        by_source_update_set: dict[str, str] | None = None,
        by_source_update_condition=None,
        matched_clauses: list[dict] | None = None,
    ) -> str:
        """SQL-style MERGE (Delta/Hudi ``MERGE INTO`` parity), keyed on
        the table's record key:

        - matched + ``delete_condition``            → row removed
        - matched + ``update_condition`` (def. all) → replaced by source row
        - matched otherwise                         → target row kept
        - not matched + ``when_not_matched_insert``
          (+ optional ``insert_condition``)         → source row inserted

        Conditions are Columns or SQL strings over the ``source.`` /
        ``target.`` aliases (e.g. ``"source.value > target.value"``).
        Delete wins over update when both conditions hold. The source is
        precombine-deduped first so one key carries one action. Executes
        as ONE full-outer join over the touched partitions only — the
        same CoW scoping as :meth:`upsert`.

        ``update_set`` (r13 — SQL ``WHEN MATCHED THEN UPDATE SET col =
        expr`` parity): a {column: SQL-expr} map evaluated over the
        SAME joined aliases; listed columns take the expression,
        UNLISTED columns KEEP THE TARGET VALUE (partial update — the
        default ``None`` keeps the full source-row replace). Key,
        partition, and generated columns may not be SET (same rules as
        :meth:`update_where`); generated columns recompute for the
        touched rows. ``insert_values`` (``WHEN NOT MATCHED THEN
        INSERT (cols) VALUES (exprs)`` parity): a {column: SQL-expr}
        map over the ``source.`` alias for inserted rows; unlisted
        NON-structural columns insert NULL (SQL semantics), while
        unlisted key/partition/precombine columns default to the
        source value — and a listed key/partition column must be
        exactly ``source.<same col>`` (re-keying an insert could
        collide with an unmatched existing key and silently break the
        unique-identity invariant). Evaluated inside the op's ONE
        pinned snapshot — no extra read, no TOCTOU.

        ``matched_clauses`` (r13 — full multi-clause SQL MERGE): an
        ORDERED list of ``{"action": "update"|"delete", "condition":
        <str|Column|None>, "set": <dict|None>}`` evaluated FIRST-WINS
        per matched row, exactly SQL's WHEN-clause semantics — a row
        takes the first clause whose condition holds, later clauses
        never see it, unselected rows stay untouched. An empty list =
        no matched clause at all (matched rows untouched — the
        insert-only merge). Mutually exclusive with
        ``update_condition`` / ``delete_condition`` / ``update_set``,
        which remain the two-clause sugar (where delete wins over
        update, the engine's historical rule).

        ``WHEN NOT MATCHED BY SOURCE`` (r13, Delta parity — the
        snapshot-sync clause): ``by_source_delete`` (True, or a
        condition over the ``target.`` alias) deletes target rows the
        source does NOT carry; ``by_source_update_set`` (+ optional
        ``by_source_update_condition``) partially updates them
        instead (delete wins when both clauses select a row, same
        precedence as the matched side). COST CONTRACT: a by-source
        clause must examine EVERY target row, so the merge scopes to
        the whole table — partition-carry is off and the commit
        rewrites all partitions (exactly what a full snapshot sync
        means); without by-source clauses the touched-partition
        scoping is unchanged. By-source merges also disable the
        disjointness rebase proof (they touch keys outside the
        source), so an OCC conflict re-merges."""

        def _cond(c, default):
            if c is None:
                return default
            # SQL MERGE: a clause whose condition evaluates to NULL
            # does NOT apply (three-valued logic never selects the
            # row). Without the coalesce, a NULL-valued condition
            # poisons `keep`/`taken` and silently DROPS rows —
            # by_source_delete="target.flag = 'x'" must KEEP a row
            # whose flag is NULL, and a NULL matched-delete condition
            # must fall through to the next ordered clause.
            e = F.expr(c) if isinstance(c, str) else c
            return F.coalesce(e.cast("boolean"), F.lit(False))

        spark = source.sparkSession
        source = self._derive(source)
        source, qstats = self._enforce(source, "merge_into")
        # plan/publish pinned to ONE manifest (the upsert clobber
        # window — see the comment there)
        man = self._pin_head()
        existing = self.read(spark, at=man.commit_id)
        structural = set(self.key) | set(self.partition_by or []) | {
            self.precombine
        }

        if update_set is not None:
            self._check_set(update_set, existing.columns)
        if matched_clauses is not None:
            if (
                update_condition is not None
                or delete_condition is not None
                or update_set is not None
            ):
                raise ValueError(
                    "matched_clauses is mutually exclusive with "
                    "update_condition/delete_condition/update_set"
                )
            for cl in matched_clauses:
                act = cl.get("action")
                if act not in ("update", "delete"):
                    raise ValueError(
                        f"matched clause action must be 'update' or "
                        f"'delete', got {act!r}"
                    )
                if act == "delete" and cl.get("set"):
                    raise ValueError("a delete clause takes no SET")
                if act == "update" and cl.get("set") is not None:
                    self._check_set(cl["set"], existing.columns)
        if by_source_update_set is not None:
            self._check_set(by_source_update_set, existing.columns)
        if insert_values is not None:
            unknown = set(insert_values) - set(existing.columns)
            if unknown:
                raise ValueError(
                    f"cannot INSERT unknown column(s) {sorted(unknown)}"
                )
            for c in (set(self.key) | set(self.partition_by or [])) & set(
                insert_values
            ):
                expr_txt = re.sub(r"\s+", "", insert_values[c].lower())
                if expr_txt not in (f"source.{c.lower()}", c.lower()):
                    raise ValueError(
                        f"INSERT value for key/partition column {c!r} "
                        f"must be source.{c} verbatim — re-keying an "
                        "insert could collide with an unmatched "
                        "existing key (unique-identity invariant)"
                    )
                if expr_txt == c.lower():
                    # a bare name is ambiguous over the target/source
                    # aliased join — normalize to the source side so
                    # F.expr resolves (the check above already proved
                    # the intent is the source column)
                    insert_values = {**insert_values, c: f"source.{c}"}
        cols = existing.columns
        # EXTRA source columns (not in the target schema) ride through
        # the join so clause conditions / SET / INSERT expressions can
        # reference them — standard SQL MERGE scoping (a staging batch
        # carrying an op flag like `source.is_delete` is the canonical
        # shape). They are never written: the output projection below
        # selects target-schema columns only.
        extras = [c for c in source.columns if c not in set(cols)]
        # Persist the precombined source for the op's lifetime (r16,
        # guide §5 — same rationale as upsert's batch persist): the
        # touched-partition probe, the full-outer merge, and the
        # conflict-only rebase key probe each re-ran the caller's whole
        # source expression otherwise. Unpersisted in the finally.
        from pyspark import StorageLevel

        source = self._conform_batch(
            self._precombine(source), existing.schema.fields,
            *[F.col(c) for c in extras],
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            by_source = (
                by_source_delete is not None
                or by_source_update_set is not None
            )
            if self.partition_by and not by_source:
                touched = self._touched_partitions(existing, source, man=man)
                target = self._rows_in_partitions(existing, touched)
            else:
                # by-source clauses examine EVERY target row — the whole
                # table is the target (see the docstring's cost contract)
                touched = None
                target = existing

            t = target.withColumn("__t", F.lit(1)).alias("target")
            s = source.withColumn("__s", F.lit(1)).alias("source")
            # match on the ROW IDENTITY — key + partition columns under
            # partition key scope, where a shared key in two partitions is
            # two independent rows (r12, same contract as _merge/diff)
            joined = t.join(
                s,
                on=[
                    t[k].eqNullSafe(s[k]) for k in self._identity_cols
                ],
                how="full_outer",
            )
            matched = F.col("target.__t").isNotNull() & F.col("source.__s").isNotNull()
            target_only = F.col("source.__s").isNull()
            source_only = F.col("target.__t").isNull()

            if matched_clauses is not None:
                # ordered first-wins evaluation (SQL WHEN semantics): a
                # matched row takes the FIRST clause whose condition
                # holds; rows no clause selects stay untouched
                taken = F.lit(False)
                del_c = F.lit(False)
                upd_branches: list[tuple] = []  # (applies, set_dict|None)
                for cl in matched_clauses:
                    c_expr = _cond(cl.get("condition"), F.lit(True))
                    applies = matched & c_expr & ~taken
                    taken = taken | (matched & c_expr)
                    if cl["action"] == "delete":
                        del_c = del_c | applies
                    else:
                        upd_branches.append((applies, cl.get("set")))
                upd_c = F.lit(False)
                for applies, _s in upd_branches:
                    upd_c = upd_c | applies
            else:
                del_c = matched & _cond(delete_condition, F.lit(False))
                upd_c = (
                    matched & _cond(update_condition, F.lit(True)) & ~del_c
                )
                upd_branches = [(upd_c, update_set)]
            ins_c = (
                source_only
                & F.lit(when_not_matched_insert)
                & _cond(insert_condition, F.lit(True))
            )
            if by_source_delete is None:
                bsd_c = F.lit(False)
            elif by_source_delete is True:
                bsd_c = target_only
            else:
                bsd_c = target_only & _cond(by_source_delete, F.lit(False))
            bsu_c = (
                target_only
                & ~bsd_c
                & F.lit(by_source_update_set is not None)
                & _cond(by_source_update_condition, F.lit(True))
            )
            keep = (
                (target_only & ~bsd_c) | upd_c | ins_c | (matched & ~del_c)
            )
            types = {f.name: f.dataType for f in existing.schema.fields}

            def upd_val(set_dict: dict | None, c: str):
                if set_dict is None:  # full source-row replace
                    return F.col(f"source.{c}")
                if c in set_dict:
                    return F.expr(set_dict[c]).cast(types[c])
                return F.col(f"target.{c}")  # partial update keeps target

            def ins_val(c: str):
                if insert_values is None:
                    return F.col(f"source.{c}")
                if c in insert_values:
                    return F.expr(insert_values[c]).cast(types[c])
                if c in structural:  # key/partition/precombine: source
                    return F.col(f"source.{c}")
                return F.lit(None).cast(types[c])  # SQL: unlisted = NULL

            def bsu_val(c: str):
                if by_source_update_set and c in by_source_update_set:
                    return F.expr(by_source_update_set[c]).cast(types[c])
                return F.col(f"target.{c}")

            partial = (
                any(s is not None for _a, s in upd_branches)
                or insert_values is not None
                or by_source_update_set is not None
            )

            def row_val(c: str):
                e = None
                for applies, set_dict in upd_branches:
                    v = upd_val(set_dict, c)
                    e = F.when(applies, v) if e is None else e.when(applies, v)
                for cond, v in ((ins_c, ins_val(c)), (bsu_c, bsu_val(c))):
                    e = F.when(cond, v) if e is None else e.when(cond, v)
                return e.otherwise(F.col(f"target.{c}")).alias(c)

            merged = joined.filter(keep).select(
                *[row_val(c) for c in cols],
                *(
                    [
                        upd_c.alias("__upd"),
                        ins_c.alias("__ins"),
                        bsu_c.alias("__bsu"),
                    ]
                    if partial and self.derived_cols
                    else []
                ),
            )
            if partial and self.derived_cols:
                # generated columns recompute for the rows whose inputs
                # this merge may have touched (same contract as
                # update_where: the stored column never drifts from its
                # rule; a recomputed partition key relocates on write)
                touched_row = (
                    F.col("__upd") | F.col("__ins") | F.col("__bsu")
                )
                for name, rule in self.derived_cols.items():
                    merged = merged.withColumn(
                        name,
                        F.when(touched_row, F.expr(rule)).otherwise(
                            F.col(name)
                        ),
                    )
                merged = merged.drop("__upd", "__ins", "__bsu")
            vreg = (man.stats or {}).get("vector_index")
            set_cols = set(by_source_update_set or {})
            for _a, s in upd_branches:
                set_cols |= set(s or {})
            if vreg is not None and set_cols:
                # a partial SET leaves the TARGET's assignment on the row
                # (maintenance only assigns NULL rows) — a SET touching the
                # index's columns would strand stale assignments, so drop
                # honestly, same rule as update_where
                icols = {vreg.get("vec_col"), vreg.get("cell_col")} | set(
                    vreg.get("bucket_cols") or []
                )
                if icols & set_cols:
                    vreg = None
            merged, maintained = self._maintain_vector_index(merged, vreg)
            return self._publish_rewrite(
                "merge_into", man, target, merged, touched, existing.schema,
                maintained, qstats,
                # delete-free merges qualify for the global-scope disjoint
                # rebase; the proof runs against the SOURCE keys (lazy,
                # conflict-only) because the staged files may omit
                # source-only keys whose insert condition failed. A
                # by-source merge touches keys OUTSIDE the source, so
                # that proof would be unsound — disabled; an OCC conflict
                # re-merges
                probe_keys_df=(
                    None if by_source else source.select(*self.key)
                ),
                delete_free=(
                    delete_condition is None
                    and by_source_delete is None
                    and not any(
                        cl["action"] == "delete"
                        for cl in (matched_clauses or [])
                    )
                ),
            )
        finally:
            source.unpersist()

    # -- savepoints (↦ Hudi savepoint/restore) -----------------------------

    @property
    def _savepoints_path(self) -> str:
        return os.path.join(self.path, "_savepoints.json")

    def savepoints(self) -> list[str]:
        if not os.path.isfile(self._savepoints_path):
            return []
        with open(self._savepoints_path) as f:
            return sorted(json.load(f))

    def savepoint(self, commit_id: str | None = None) -> str:
        """Pin a commit (default: the head) against the cleaner — Hudi
        savepoint parity. A savepointed commit's manifest and files
        survive :meth:`clean` regardless of the retention window, so
        time travel to it (and :meth:`rollback` onto it — Hudi's
        restore) keeps working. Metadata-only: one JSON list."""
        ids = self.commits()
        if not ids:
            raise FileNotFoundError(f"no commits at {self.path}")
        cid = commit_id or ids[-1]
        if cid not in ids:
            raise ValueError(f"unknown commit {cid!r}; have {ids}")
        sp = set(self.savepoints()) | {cid}
        with open(self._savepoints_path, "w") as f:
            json.dump(sorted(sp), f)
        return cid

    def release_savepoint(self, commit_id: str) -> None:
        sp = set(self.savepoints())
        if commit_id not in sp:
            raise ValueError(
                f"no savepoint on {commit_id!r}; have {sorted(sp)}"
            )
        sp.discard(commit_id)
        with open(self._savepoints_path, "w") as f:
            json.dump(sorted(sp), f)

    def clean(
        self,
        retain_commits: int = 10,
        orphan_grace_s: float = 0.0,
        plan_grace_s: float = 0.0,
    ) -> list[str]:
        """Cleaner (↦ KEEP_LATEST_COMMITS, commits.retained=10,
        glue/HudiJarGlueJob.py:83): drop manifests older than the last
        ``retain_commits`` and physically delete data files no retained
        manifest references — except commits pinned by
        :meth:`savepoint`, which are retained (manifest, shards, and
        files) regardless of the window. Time travel further back stops
        working — same trade as Hudi's cleaner.

        TWO-PHASE, coordinated through the log (Hudi clean-plan / Delta
        VACUUM-protocol parity): phase 1 PUBLISHES ``_cleanplan.json``
        naming the commits to drop and every file/shard claimed for
        deletion; phase 2 executes it. Writers refuse claimed shards as
        reuse candidates once the plan is visible
        (manifest.write_manifest), and execution re-checks every claim
        against the commits live at delete time — a writer that raced
        the plan keeps its snapshot readable (its references are
        un-claimed); a writer whose base commit was dropped loses the
        commit-id race (OCC) and re-merges against the new head. A
        crashed clean is RE-ENTRANT: the plan survives, the next
        clean() resumes it (idempotent unlinks), and only then do new
        retention arguments apply.

        ``orphan_grace_s``: unreferenced files/shards younger than this
        are not claimed — protects a concurrent writer's freshly STAGED
        artifacts, whose commit JSON hasn't linked yet (their mtimes
        are by definition recent). ``plan_grace_s``: wall-clock pause
        between plan publish and execution, bounding the window in
        which a writer that listed reuse candidates just before the
        plan appeared could still publish (the execute-phase re-check
        then un-claims whatever that writer referenced)."""
        import time as _time

        plan = M.read_clean_plan(self.path)
        if plan is None:
            plan = self._plan_clean(retain_commits, orphan_grace_s)
            if plan is None:
                return []
            M.write_clean_plan(self.path, plan)
            if plan_grace_s > 0:
                _time.sleep(plan_grace_s)
        return self._execute_clean(plan)

    def _plan_clean(
        self, retain_commits: int, orphan_grace_s: float
    ) -> dict | None:
        import time as _time

        now = _time.time()

        def _grace(p: str) -> bool:
            # A file that VANISHES between the directory listing and
            # this stat is a rival writer's staging file renamed into
            # place (os.replace removes the .tmp name) or a path
            # already reclaimed — either way it is not an orphan this
            # plan may claim. Treating it as in-grace excludes it.
            # (r15 soak seed 88: run_maintenance crashed mid-walk on a
            # rival's manifest-shard .tmp exactly in this window.)
            try:
                mtime = os.path.getmtime(p)
            except OSError:
                return True
            return orphan_grace_s > 0 and now - mtime < orphan_grace_s

        import pyarrow as pa
        import pyarrow.compute as pc

        ids = self.commits()
        pinned = set(self.savepoints())
        keep = [c for c in ids if c in set(ids[-retain_commits:]) | pinned]
        drop = [c for c in ids if c not in keep]
        # referenced-name membership stays ARROW-side: at 1M files the
        # Python set unions over every commit's names were the plan
        # phase's dominant cost (~15 s measured by the stress tool)
        ref_arrs = []
        kept_shards: set[str] = set()
        for cid in keep:
            man = M.read_manifest(self.path, cid)
            assert man is not None
            ref_arrs.append(man.files_arrow())
            kept_shards.update(man.shards or [])
        # Files referenced by the DROPPED commits are NOT listed in the
        # plan — they are derivable at execute time from the dropped
        # manifests themselves (which survive until execution, and
        # execution deletes files BEFORE commit JSONs, so crash-replay
        # can always re-derive). The plan lists only true ORPHANS
        # (referenced by no commit at all) — at a 1M-file table this
        # keeps the plan O(dropped commits + orphans), not an MB-scale
        # JSON of every reclaimed name.
        for cid in drop:
            man = M.read_manifest(self.path, cid)
            if man is not None:
                ref_arrs.append(man.files_arrow())
        any_ref = (
            pa.concat_arrays(
                [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
                 for a in ref_arrs]
            )
            if ref_arrs
            else pa.array([], type=pa.string())
        )
        ddir = M.data_dir(self.path)
        walked = [
            os.path.relpath(os.path.join(dirpath, fn), ddir)
            for dirpath, _dirs, fns in os.walk(ddir)
            for fn in fns
        ]
        orphans: list[str] = []
        if walked:
            unref = pc.invert(
                pc.is_in(
                    pa.array(walked, type=pa.string()), value_set=any_ref
                )
            ).to_pylist()
            orphans = [
                rel
                for rel, u in zip(walked, unref)
                if u and not _grace(os.path.join(ddir, rel))
            ]
        shards: list[str] = []
        mdir = M.manifests_dir(self.path)
        if os.path.isdir(mdir):
            for fn in os.listdir(mdir):
                if fn not in kept_shards and not _grace(
                    os.path.join(mdir, fn)
                ):
                    shards.append(fn)
        # DV blobs referenced by NO commit at all are orphans (failed
        # DV-DML attempts); blobs of dropped commits are derived at
        # execute time like data files — same crash-replay property
        # (blobs unlink before commit JSONs)
        all_dvs: set[str] = set()
        for cid in ids:
            m = M.read_manifest(self.path, cid)
            if m is not None:
                all_dvs.update(v[0] for v in (m.dvs or {}).values())
        dv_orphans = [
            fn
            for fn in DVB.list_blobs(self.path)
            if fn not in all_dvs
            and not _grace(os.path.join(DVB.dv_dir(self.path), fn))
        ]
        # record-index segments follow the same lifecycle: orphans are
        # segments no commit's registration references (failed commits,
        # dropped/rebuilt indexes); segments of dropped commits are
        # derived at execute time from their still-present manifests
        all_rli: set[str] = set()
        for cid in ids:
            m = M.read_manifest(self.path, cid)
            all_rli |= self._index_segment_names((m.stats if m else None))
        rli_orphans = [
            fn
            for fn in RI.list_segments(self.path)
            if fn not in all_rli
            and not _grace(os.path.join(RI.rli_dir(self.path), fn))
        ]
        # change-log dirs no commit references (lost races, crashed
        # writes) count as plan-worthy work too; the staging horizon
        # protects a racing writer's just-staged delta — never LESS
        # than 900 s, and never less than the caller's orphan_grace_s
        # (a deployment that raises the grace for slow writers must
        # have it bound ALL pre-publish artifact classes uniformly;
        # ADVICE r11). Execute recomputes liveness at delete time —
        # this list only decides "is there anything to do" and
        # documents the claim.
        stage_grace = max(900.0, orphan_grace_s)
        chdir = os.path.join(self.path, "_changes")
        chlog_orphans: list[str] = []
        if os.path.isdir(chdir):
            ch_live = set()
            for cid in ids:
                m = M.read_manifest(self.path, cid)
                ref = (
                    ((m.stats or {}).get("change_log") or {}).get("ref")
                    if m is not None
                    else None
                )
                if ref:
                    ch_live.add(ref)
            def _aged(tk: str) -> bool:
                # same vanished-between-list-and-stat rule as _grace:
                # a token a rival just folded/renamed is not an orphan
                try:
                    m = os.path.getmtime(os.path.join(chdir, tk))
                except OSError:
                    return False
                return now - m > stage_grace

            chlog_orphans = [
                tk
                for tk in os.listdir(chdir)
                if tk not in ch_live and _aged(tk)
            ]
        if not (
            drop or orphans or shards or dv_orphans or rli_orphans
            or chlog_orphans
        ):
            return None
        return {
            "planned_at": M.utc_now_iso(),
            "drop": drop,
            "orphans": sorted(orphans),
            "shards": sorted(shards),
            "dvs": sorted(dv_orphans),
            "rli": sorted(rli_orphans),
            "chlog": sorted(chlog_orphans),
            # execute-phase sweeps honor the SAME staging horizon the
            # plan was computed under (a resumed plan keeps its grace)
            "stage_grace_s": stage_grace,
        }

    def _execute_clean(self, plan: dict) -> list[str]:
        # RE-CHECK at delete time: un-claim anything referenced by a
        # commit that is live NOW and not in the plan's drop set (a
        # writer that published after the plan was computed), and keep
        # any planned-drop commit that was savepointed since.
        import pyarrow as pa
        import pyarrow.compute as pc

        drop = [
            c for c in plan.get("drop", []) if c not in set(self.savepoints())
        ]
        live_now = [c for c in self.commits() if c not in set(drop)]
        ref_arrs = []
        live_shards: set[str] = set()
        for cid in live_now:
            man = M.read_manifest(self.path, cid)
            if man is None:
                continue  # dropped by a previous (crashed) execution
            ref_arrs.append(man.files_arrow())
            live_shards.update(man.shards or [])
        referenced_arr = (
            pa.concat_arrays(
                [a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a
                 for a in ref_arrs]
            )
            if ref_arrs
            else pa.array([], type=pa.string())
        )
        # claim set: explicit orphans (+ legacy v1 "files" lists) plus
        # the files referenced by the planned-drop commits, DERIVED
        # from their still-present manifests — execution deletes files
        # before commit JSONs, so a crash-replay can always re-derive
        # what remains
        claim_arrs = []
        for cid in plan.get("drop", []):
            if cid in set(self.savepoints()):
                continue
            try:
                man = M.read_manifest(self.path, cid)
            except ValueError:
                continue  # JSON already dropped by a prior replay
            if man is not None:
                a = man.files_arrow()
                claim_arrs.append(
                    a.combine_chunks()
                    if isinstance(a, pa.ChunkedArray)
                    else a
                )
        # the live-reference re-check runs as ONE C-side membership
        # pass per claim group, and ONLY the dead claims ever become
        # Python strings — the walk below is O(dead files), each with
        # the unlink syscall that is irreducible in any file-deleting
        # GC. Explicit claims (v1 file lists + orphans) stay a small
        # Python list; manifest-derived claims (potentially the whole
        # dropped snapshot) stay arrow end to end.
        explicit = list(
            dict.fromkeys(
                list(plan.get("files", [])) + list(plan.get("orphans", []))
            )
        )
        names: list[str] = []
        if explicit:
            emask = pc.invert(
                pc.is_in(
                    pa.array(explicit, type=pa.string()),
                    value_set=referenced_arr,
                )
            ).to_pylist()
            names += [n for n, d in zip(explicit, emask) if d]
        if claim_arrs:
            derived = pc.unique(pa.concat_arrays(claim_arrs))
            if len(derived):
                dead = pc.filter(
                    derived,
                    pc.invert(
                        pc.is_in(derived, value_set=referenced_arr)
                    ),
                )
                names += dead.to_pylist()
        removed: list[str] = []
        ddir = M.data_dir(self.path)
        seen: set[str] = set()
        for rel in names:
            if rel in seen:
                continue
            seen.add(rel)
            try:
                os.unlink(os.path.join(ddir, rel))
            except FileNotFoundError:
                continue  # crash-replay: already deleted
            removed.append(rel)
        # DV blobs: planned orphans + blobs referenced only by the
        # planned-drop commits (derived from their still-present
        # manifests, same replay property as data files: blobs unlink
        # BEFORE the commit JSONs below), re-checked against live refs
        live_dvs: set[str] = set()
        for cid in live_now:
            m = M.read_manifest(self.path, cid)
            if m is not None:
                live_dvs.update(v[0] for v in (m.dvs or {}).values())
        dv_claims = set(plan.get("dvs", []))
        for cid in plan.get("drop", []):
            if cid in set(self.savepoints()):
                continue
            try:
                m = M.read_manifest(self.path, cid)
            except ValueError:
                continue
            if m is not None:
                dv_claims.update(v[0] for v in (m.dvs or {}).values())
        for fn in sorted(dv_claims - live_dvs):
            try:
                os.unlink(os.path.join(DVB.dv_dir(self.path), fn))
            except FileNotFoundError:
                pass
        # dv pair-cache sweep (§9e#3): `_cache/dv_pairs-<cid>.parquet`
        # is a pure derived artifact of commit <cid>'s blob map — once
        # the commit leaves the retained log its cache entry (and any
        # crash-orphaned .tmp staging) is dead weight. Safe against
        # readers: a snapshot old enough to want the file is already
        # outside retention.
        cdir = os.path.join(self.path, "_cache")
        if os.path.isdir(cdir):
            retained = set(live_now)
            for fn in os.listdir(cdir):
                drop_it = fn.startswith(".tmp-") or (
                    fn.startswith("dv_pairs-")
                    and fn.endswith(".parquet")
                    and fn[len("dv_pairs-"):-len(".parquet")]
                    not in retained
                )
                if drop_it:
                    try:
                        os.unlink(os.path.join(cdir, fn))
                    except OSError:
                        pass
        # record-index segments: identical protocol (segments unlink
        # BEFORE the commit JSONs below — crash replay re-derives).
        # The LIVENESS pass is strict: a live commit whose packed
        # registration sidecar won't read means the live set is
        # UNKNOWN, so the whole _rli sweep is skipped this clean —
        # leaving garbage a later clean reclaims, never unlinking
        # segments it could not account for (ADVICE r10).
        rli_sweep_ok = True
        live_rli: set[str] = set()
        for cid in live_now:
            m = M.read_manifest(self.path, cid)
            try:
                live_rli |= self._index_segment_names(
                    (m.stats if m else None), strict=True
                )
            except Exception:  # noqa: BLE001 — unreadable ≠ unreferenced
                rli_sweep_ok = False
                break
        if rli_sweep_ok:
            rli_claims = set(plan.get("rli", []))
            for cid in plan.get("drop", []):
                if cid in set(self.savepoints()):
                    continue
                try:
                    m = M.read_manifest(self.path, cid)
                except ValueError:
                    continue
                # non-strict: a dropped commit's unresolvable sidecar
                # only shrinks the claim set → fewer unlinks → safe
                rli_claims |= self._index_segment_names(
                    (m.stats if m else None)
                )
            for fn in sorted(rli_claims - live_rli):
                try:
                    os.unlink(os.path.join(RI.rli_dir(self.path), fn))
                except FileNotFoundError:
                    pass
        # change-log sweep (r11, change_log tables): _changes/<token>
        # dirs referenced by NO retained commit's stats are dead —
        # lost-race orphans, crashed writes, or aged-out commits. The
        # age horizon keeps a racing writer's just-staged delta (its
        # commit publishes moments later) out of the sweep; it honors
        # the plan's recorded grace (≥ orphan_grace_s — ADVICE r11),
        # defaulting to 900 s for pre-r12 plans.
        stage_grace = float(plan.get("stage_grace_s", 900.0))
        chdir = os.path.join(self.path, "_changes")
        if os.path.isdir(chdir):
            live_refs: set[str] = set()
            for cid in live_now:
                m = M.read_manifest(self.path, cid)
                ref = (
                    ((m.stats or {}).get("change_log") or {}).get("ref")
                    if m is not None
                    else None
                )
                if ref:
                    live_refs.add(ref)
            now = time.time()
            for token in os.listdir(chdir):
                p = os.path.join(chdir, token)
                try:
                    if (
                        token not in live_refs
                        and now - os.path.getmtime(p) > stage_grace
                    ):
                        shutil.rmtree(p, ignore_errors=True)
                except OSError:
                    pass
        # crash-orphaned pack_reg staging: pack stages `.tmp-<ref>`
        # then os.replace's it live — anything still named .tmp-* and
        # older than the staging horizon (same plan-recorded grace as
        # the change-log sweep) is a leak (the age guard keeps a clean
        # racing an in-flight pack from unlinking a sidecar mid-write;
        # ADVICE r10)
        rdir = RI.rli_dir(self.path)
        if os.path.isdir(rdir):
            now = time.time()
            for fn in os.listdir(rdir):
                if not fn.startswith(".tmp-"):
                    continue
                p = os.path.join(rdir, fn)
                try:
                    if now - os.path.getmtime(p) > stage_grace:
                        os.unlink(p)
                except OSError:
                    pass
        for cid in drop:
            try:
                os.unlink(
                    os.path.join(M.commits_dir(self.path), cid + ".json")
                )
            except FileNotFoundError:
                pass
        mdir = M.manifests_dir(self.path)
        for fn in plan.get("shards", []):
            if fn in live_shards:
                continue
            try:
                os.unlink(os.path.join(mdir, fn))
            except FileNotFoundError:
                pass
        # prune now-empty partition dirs
        for dirpath, dirs, fns in os.walk(ddir, topdown=False):
            if dirpath != ddir and not dirs and not fns:
                os.rmdir(dirpath)
        M.clear_clean_plan(self.path)
        return removed

    def fold_change_logs(
        self,
        keep_last: int = 10,
        max_bytes: int | None = None,
        orphan_grace_s: float = 900.0,
    ) -> list[str]:
        """Change-log retention (§9h#2 / VERDICT r11 #4): drop the
        recorded write-time deltas of commits older than the last
        ``keep_last`` commits. A long-retention ``change_log=True``
        table (hundreds of commits kept for time travel) otherwise
        accumulates O(sum of deltas) bytes under ``_changes/`` —
        the dirs' lifecycle is tied to COMMIT retention, but CDC
        consumers only ever re-read a bounded recent window.

        ``max_bytes`` (§9j#5, r12): a STORAGE SLO on ``_changes/`` —
        deployments budget bytes, not commit counts. After the
        count-based horizon, surviving logs are folded OLDEST-FIRST
        until the referenced total is ≤ ``max_bytes``; the SLO wins
        over ``keep_last`` (a recent log folds if that's what meeting
        the budget takes), because folding is always safe and a
        blown storage budget is the failure the knob exists to
        prevent. Sizes come from the log dirs' own file stats —
        driver-side metadata, O(files under _changes/).

        Folding is safe by construction: the commit itself is
        untouched (its stats still carry the ref — manifests are
        immutable), and every reader probes the dir at plan time —
        the stream source falls through to the exact-rewrite gate /
        coarse path (table_source.py plan), ``diff_commits`` to the
        general snapshot diff (``_diff_chlog_fast`` → None) — so a
        post-fold read degrades honestly to the pre-chlog contract,
        it never breaks. Driver-side metadata work only; zero HEAD
        reads (the commit list is a directory listing, manifests are
        read pinned by id). Returns the folded tokens.

        Orphan dirs — tokens under ``_changes/`` referenced by NO
        commit (lost OCC races, rolled-back commits, pre-r13 crashed
        writes) — consume real storage, so they are swept FIRST
        (ADVICE r12: the byte SLO must cover everything under
        ``_changes/``, not just referenced dirs). ``orphan_grace_s``
        keeps a concurrent writer's just-staged delta (its commit
        publishes moments later) out of the sweep — same horizon
        discipline as :meth:`clean`'s change-log sweep."""
        ids = self.commits()
        chdir = os.path.join(self.path, "_changes")
        if not os.path.isdir(chdir):
            return []
        folded: list[str] = []

        def ref_of(cid: str) -> str | None:
            m = M.read_manifest(self.path, cid)
            if m is None:
                return None
            return ((m.stats or {}).get("change_log") or {}).get("ref")

        def fold(ref: str) -> bool:
            p = os.path.join(chdir, ref)
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
                folded.append(ref)
                return True
            return False

        all_refs = {ref_of(cid) for cid in ids} - {None}
        now = time.time()
        for token in sorted(os.listdir(chdir)):
            if token in all_refs:
                continue
            p = os.path.join(chdir, token)
            try:
                if now - os.path.getmtime(p) > orphan_grace_s:
                    fold(token)
            except OSError:
                pass

        if len(ids) > max(keep_last, 0):
            old = ids[: -keep_last] if keep_last > 0 else ids
            for cid in old:
                ref = ref_of(cid)
                if ref:
                    fold(ref)
            survivors = ids[-keep_last:] if keep_last > 0 else []
        else:
            survivors = ids
        if max_bytes is not None:
            live: list[tuple[str, int]] = []  # (ref, bytes), oldest first
            for cid in survivors:
                ref = ref_of(cid)
                if not ref:
                    continue
                p = os.path.join(chdir, ref)
                if not os.path.isdir(p):
                    continue
                def _sz(path: str) -> int:
                    try:  # rival fold may rmtree mid-walk (r15)
                        return os.path.getsize(path)
                    except OSError:
                        return 0

                size = sum(
                    _sz(os.path.join(dp, fn))
                    for dp, _dirs, fns in os.walk(p)
                    for fn in fns
                )
                live.append((ref, size))
            total = sum(s for _, s in live)
            for ref, size in live:
                if total <= max_bytes:
                    break
                if fold(ref):
                    total -= size
        return folded

    def optimize(
        self,
        spark: SparkSession,
        target_file_mb: float = 128,
        small_file_mb: float | None = None,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        partitions: list[str | None] | None = None,
        force: bool = False,
    ) -> str | None:
        """Small-file compaction (↦ ``hoodie.parquet.small.file.limit``,
        which the reference carries but disables —
        glue/HudiJarGlueJob.py:77; SURVEY.md §4 "small-file control").

        Partitions whose live files average under ``small_file_mb``
        (default: half the target) are rewritten into
        ceil(bytes/target) files. Rows are binned by key hash and the
        write is pre-partitioned by (partition cols, bin), so one
        oversized partition compacts across MANY tasks — the property
        that matters when a 100 TB table has a handful of hot
        partitions. ``partitions`` restricts candidacy to the named
        partition dirs (the :meth:`compaction_report` →
        :meth:`run_maintenance` wiring: only flagged partitions are
        even size-probed, so a maintenance pass on a 100 TB table
        stats a handful of dirs, not every file). Data is unchanged;
        prior commits stay time-travelable until :meth:`clean`.
        Returns the new commit id, or None if nothing qualified.

        Partitions holding DELETION-VECTOR masks always qualify: an
        explicit optimize() is the fold point that rewrites masks away
        (the rewrite reads the masked view, so new files start
        DV-free). The automated loop (:meth:`run_maintenance`) gates
        that on a dead-fraction threshold instead, so point deletes
        don't trigger full-partition rewrites every cycle."""
        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        small = small_file_mb if small_file_mb is not None else target_file_mb / 2
        ddir = M.data_dir(self.path)

        by_part: dict[str | None, list[str]] = {}
        for f in man.files:
            by_part.setdefault(M.partition_of(f), []).append(f)
        if partitions is not None:
            allowed = set(partitions)
            by_part = {p: fs for p, fs in by_part.items() if p in allowed}
        # size candidates from the manifest's per-file byte column —
        # metadata, not 1M stat syscalls (HEAD requests, on an object
        # store); only files from pre-``bytes`` shards fall back
        fbytes = man.file_bytes
        todo: dict[str | None, int] = {}
        for part, fs in by_part.items():
            total = sum(
                fbytes[f]
                if f in fbytes
                else os.path.getsize(os.path.join(ddir, f))
                for f in fs
            )
            # a partition qualifies when its files are small OR any
            # carries a deletion vector: optimize() reads the masked
            # view, so the rewrite FOLDS the masks into real deletes
            # and the new files start DV-free — the MoR compaction step.
            # ``force`` (the run_clustering path) rewrites regardless:
            # a layout change is requested, not a size repair.
            if force or (
                len(fs) > 1 and total / len(fs) < small * 1024 * 1024
            ) or any(
                f in man.dvs for f in fs
            ):
                todo[part] = max(1, math.ceil(total / (target_file_mb * 1024 * 1024)))
        if not todo:
            return None

        # pinned to the SAME manifest the candidate selection used
        # (the upsert clobber window): a rival DV commit between the
        # plan and this read must collide at publish, not have its
        # masks skipped by the rewrite
        full = self.read(spark, at=man.commit_id)
        n_bins = max(todo.values())
        sub = (
            self._rows_in_partitions(full, set(todo))  # type: ignore[arg-type]
            if self.partition_by
            else full
        )
        if zorder_by:
            # Multi-dimensional clustering (Delta OPTIMIZE ZORDER
            # parity): range-partition + sort on a Morton-interleaved
            # key so every output file is locally contiguous in EVERY
            # zorder column — min/max stay tight per dimension and
            # read_range() prunes whichever one a query filters on.
            # List zorder columns in stats_cols to get the skipping.
            from hudi_glue_spark.functions.zorder import zorder_key

            sub, zcol = zorder_key(sub, zorder_by)
            cols = [*(self.partition_by or []), zcol]
            binned = (
                sub.repartitionByRange(
                    max(n_bins * max(1, len(todo)), 1), *[F.col(c) for c in cols]
                )
                .sortWithinPartitions(*cols)
                .drop(zcol)
            )
        elif sort_by:
            # Clustering (1-D): RANGE-partition on the sort
            # keys so each output file covers a contiguous value range —
            # min/max stats become tight and read_range() skips hard.
            cols = [*(self.partition_by or []), *sort_by]
            binned = sub.repartitionByRange(
                max(n_bins * max(1, len(todo)), 1), *[F.col(c) for c in cols]
            ).sortWithinPartitions(*cols)
        else:
            bin_col = F.pmod(
                F.xxhash64(*[F.col(k) for k in self.key]), F.lit(n_bins)
            )
            binned = (
                sub.withColumn("__bin", bin_col)
                .repartition(*(self.partition_by or []), "__bin")
                .drop("__bin")
            )
        # compaction moves rows between files but never changes them —
        # a registered vector index stays valid (and the index-aware
        # write keeps per-file cell stats on the compacted files)
        vidx = (man.stats or {}).get("vector_index")
        cid = M.child_id(man.commit_id)
        written = self._write_index_aware(
            binned, cid, vidx, repartition=False
        )
        return self._commit(
            "optimize",
            M.with_new_files(M.carried_files_arrow(man, set(todo)), written),
            full.schema,
            written,
            base=man,
            touched=set(todo),
            rewritten=sorted(str(p) for p in todo),
            extra_stats={"vector_index": vidx} if vidx is not None else None,
            cid=cid,
        )

    def run_clustering(
        self,
        spark: SparkSession,
        sort_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        target_file_mb: float = 128,
        partitions: list[str | None] | None = None,
    ) -> str | None:
        """Layout-change clustering (Hudi's ``run_clustering``
        procedure; the reference reaches it through Hudi's table
        services). Rewrites every targeted partition — regardless of
        file sizes, unlike :meth:`optimize`'s small-file gate — into
        ``target_file_mb`` files RANGE-clustered on ``sort_by``
        (contiguous 1-D value ranges per file) or ``zorder_by``
        (Morton-interleaved multi-dimensional locality), so manifest
        min/max stats turn range predicates on those columns into file
        skips (:meth:`read_range`). Exactly one of ``sort_by`` /
        ``zorder_by`` is required: a clustering call with no layout is
        a refused no-op, not a silent compaction. Rows are unchanged;
        prior commits stay time-travelable until :meth:`clean`.

        The layout columns are ADDED to ``stats_cols`` (persisted in
        _meta.json): skipping is the point of clustering, and min/max
        stats on the clustered columns are what turn the tight
        per-file ranges into :meth:`read_range` file skips. Files
        from older commits without stats for a newly-added column are
        never silently skipped (``prune_range`` keeps them).

        Returns the new commit id (None only on an empty table)."""
        if bool(sort_by) == bool(zorder_by):
            raise ValueError(
                "run_clustering needs exactly one layout: sort_by=[...] "
                "(1-D range clustering) or zorder_by=[...] (multi-"
                "dimensional); for size-only compaction use optimize()"
            )
        missing = [
            c
            for c in (sort_by or zorder_by)
            if c not in (self.stats_cols or [])
        ]
        if missing:
            self.stats_cols = list(self.stats_cols or []) + missing
            self.save_meta()
        return self.optimize(
            spark,
            target_file_mb=target_file_mb,
            sort_by=sort_by,
            zorder_by=zorder_by,
            partitions=partitions,
            force=True,
        )

    # -- table service -------------------------------------------------------

    def run_maintenance(
        self,
        spark: SparkSession,
        retain_commits: int = 10,
        target_file_mb: float = 128,
        small_file_mb: float | None = None,
        target_rows_per_file: int = 1_000_000,
        orphan_grace_s: float = 0.0,
        dv_fold_dead_fraction: float = 0.05,
        chlog_keep_commits: int | None = None,
        chlog_max_bytes: int | None = None,
    ) -> dict:
        """ONE pass of the table-service policy loop — the cadence a
        100 TB deployment runs per table per hour, composed from the
        metadata-only advisors so the pass COSTS metadata unless work
        is actually due:

        1. :meth:`compaction_report` (zero data I/O) → only FLAGGED
           partitions go into a scoped :meth:`optimize`; partitions
           whose deletion-vector dead fraction (dead rows / physical
           rows of the MASKED files, straight from the manifest)
           reaches ``dv_fold_dead_fraction`` are folded in too — the
           MoR compaction trigger, so masks are rewritten away before
           the read-side masking cost compounds, but a 1 TB partition
           is never rewritten over a 10-row delete;
        2. :meth:`index_staleness` (metadata-only) → re-cluster the
           IVF index with its stored parameters only when maintenance
           has loosened the range-clustered layout past the line;
        3. :meth:`clean` (plan-published, re-entrant) reclaims
           unreferenced files past the retention window;
        4. :meth:`fold_change_logs` (``chlog_keep_commits``, default
           ``retain_commits``; ``chlog_max_bytes`` adds the
           storage-SLO bytes target, §9j#5) bounds the ``_changes/``
           byte growth on long-retention ``change_log`` tables —
           folded commits' readers degrade honestly to the
           general/coarse paths.

        Returns a summary dict of what ran. Safe to run alongside
        writers: optimize/rebuild commit through OCC (disjoint rivals
        rebase), clean coordinates through the published plan."""
        summary: dict = {}
        rep = self.compaction_report(
            spark,
            target_rows_per_file=target_rows_per_file,
            target_file_mb=target_file_mb,
        )
        flagged = [
            r["partition"] or None
            for r in rep.collect()
            if r["recommend_compact"]
        ]
        man = M.read_manifest(self.path)
        if man is not None and man.dvs:
            frows = man.file_rows
            acc: dict = {}
            for f, (_name, nd) in man.dvs.items():
                d = acc.setdefault(M.partition_of(f), [0, 0])
                d[0] += nd
                d[1] += frows.get(f) or 0
            dv_flagged = [
                p
                for p, (nd, nr) in acc.items()
                if nr and nd / nr >= dv_fold_dead_fraction
            ]
            if dv_flagged:
                flagged = sorted({*flagged, *dv_flagged}, key=str)
                summary["dv_fold_partitions"] = sorted(
                    str(p) for p in dv_flagged
                )
        if flagged:
            # a maintenance commit losing an OCC race to an overlapping
            # writer is NOT an error for a service loop — disjoint
            # rivals rebase automatically; overlapping ones mean the
            # partition just got rewritten anyway, so skip and let the
            # next cycle re-evaluate
            try:
                cid = self.optimize(
                    spark,
                    target_file_mb=target_file_mb,
                    small_file_mb=small_file_mb,
                    partitions=flagged,
                )
            except M.ConcurrentCommitError:
                cid = None
                summary["optimize_skipped"] = "lost commit race"
            if cid is not None:
                summary["optimized"] = {
                    "partitions": sorted(str(p) for p in flagged),
                    "commit": cid,
                }
        st = self.index_staleness()
        if st is not None and st.get("recommend_recluster"):
            vidx = self.vector_index()
            try:
                cid = self.build_ivf_index(
                    spark,
                    vidx["vec_col"],
                    n_centroids=len(vidx.get("centroids") or []) or 16,
                )
                summary["reclustered"] = {
                    "commit": cid,
                    "stale_fraction": st.get("stale_fraction"),
                }
            except M.ConcurrentCommitError:
                summary["recluster_skipped"] = "lost commit race"
        # indexes: one policy for every slot, decided from ONE head
        # read. Fold a registration whose stacked delta runs reached
        # RLI_COMPACT_MIN_DELTAS (each point lookup opens every run
        # intersecting its span — a pure metadata-size policy, same
        # spirit as the shard-compaction bound; a packed pointer
        # carries its delta count inline, so deciding reads no
        # sidecar). Rebuild a wanted index that is not registered: a
        # rebase dropped it (its ``*_dropped`` marker is at HEAD), or
        # the persisted intent names it (§9d#2 convergence: a commit
        # landing between a rebase-drop and this pass hides the marker
        # from HEAD); a column the schema lost is not rebuilt.
        head = M.read_manifest(self.path)
        stats = head.stats if head else None
        regs = self._index_regs(stats)
        want = {
            **self._index_regs(self.wanted_indexes, _WANT_KEYS),
            **self._index_regs(stats, _DROP_KEYS),
        }
        live = (
            {None, *StructType.fromJson(json.loads(head.schema_json)).names}
            if head
            else set()
        )
        done: dict = {"compacted": {}, "rebuilt": {}}
        for slot in [*regs, *sorted((want.keys() - regs.keys()) & live, key=str)]:
            fold = slot in regs
            if fold and RI.n_deltas(regs[slot]) < self.RLI_COMPACT_MIN_DELTAS:
                continue
            # a rebuild also skips a key the record index can't hold
            errors = (
                M.ConcurrentCommitError
                if fold
                else (M.ConcurrentCommitError, ValueError)
            )
            try:
                cid = (self._compact_index if fold else self._build_index)(
                    spark, slot
                )
            except errors:
                verb = "compact" if fold else "rebuild"
                summary[f"{self._index_name(slot)[1]}_{verb}_skipped"] = (
                    "lost commit race"
                )
                continue
            if cid is not None:
                done["compacted" if fold else "rebuilt"][slot] = cid
        for what, slots in done.items():
            summary.update(
                self._index_stats(
                    slots, (f"record_index_{what}", f"column_index_{what}")
                )
            )
        removed = self.clean(
            retain_commits=retain_commits, orphan_grace_s=orphan_grace_s
        )
        summary["cleaned_files"] = len(removed)
        if self.change_log:
            folded = self.fold_change_logs(
                keep_last=(
                    retain_commits
                    if chlog_keep_commits is None
                    else chlog_keep_commits
                ),
                max_bytes=chlog_max_bytes,
            )
            if folded:
                summary["folded_change_logs"] = len(folded)
        return summary

    # -- schema evolution ----------------------------------------------------

    def drop_columns(self, cols: list[str]) -> str:
        """Metadata-only column drop: publishes a commit whose schema no
        longer has ``cols`` — zero files rewritten. Old files keep the
        bytes physically, but every read goes through the committed
        schema (see read()), so the column is pruned at scan time. The
        Iceberg drop-column idiom; on a 100 TB table this is a metadata
        operation instead of a full rewrite.

        Dropped names are retired for the table's lifetime (recorded in
        the commit; upsert refuses to re-add them) because an
        explicit-schema read of an old file would resurrect its stale
        values under a re-added name."""
        if isinstance(cols, str):
            cols = [cols]
        protected = set(self.key) | {self.precombine} | set(self.partition_by or [])
        bad = set(cols) & protected
        if bad:
            raise ValueError(f"cannot drop key/precombine/partition column(s) {sorted(bad)}")
        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        schema = StructType.fromJson(json.loads(man.schema_json))
        missing = set(cols) - {f.name for f in schema.fields}
        if missing:
            raise ValueError(f"no such column(s) {sorted(missing)}")
        new_schema = StructType([f for f in schema.fields if f.name not in set(cols)])
        # dropping a non-index column leaves the index valid; dropping
        # the vector/assignment columns kills it honestly
        vidx = (man.stats or {}).get("vector_index")
        if vidx is not None:
            icols = {vidx.get("vec_col"), vidx.get("cell_col")} | set(
                vidx.get("bucket_cols") or []
            )
            if icols & set(cols):
                vidx = None
        published = self._commit(
            "drop_columns",
            man.files,
            new_schema,
            extra_stats={
                "dropped_cols": sorted(set(cols)),
                **({"vector_index": vidx} if vidx is not None else {}),
            },
            cid=M.child_id(man.commit_id),
        )
        # a dropped column's secondary index is gone for good — retract
        # the intent so maintenance doesn't try to rebuild it (§9d#2)
        for c in set(cols) & self._index_regs(self.wanted_indexes, _WANT_KEYS).keys():
            self._want_index(c, want=False)
        return published

    def add_columns(self, cols: dict[str, str]) -> str:
        """Metadata-only column ADD (the Iceberg add-column idiom,
        twin of :meth:`drop_columns`): publishes a commit whose schema
        carries the new nullable columns — zero files rewritten. Both
        read engines fill the column with NULL for pre-add files (the
        native scan's explicit schema, and the manifest relation's
        ``pds.dataset(schema=...)`` — probed on pyarrow: a dataset
        schema superset of the file fills nulls). On a 100 TB table
        this is a metadata operation instead of a full rewrite.

        ``cols`` maps name → Spark DDL type string (e.g. ``{"score":
        "double"}``). Refuses an existing name, a RETIRED name (an
        explicit-schema read of a pre-drop file would resurrect its
        stale bytes under the re-added name — the drop_columns
        contract), and a name colliding with a derived column."""
        if not cols:
            raise ValueError("add_columns needs at least one column")
        man = M.read_manifest(self.path)
        if man is None:
            raise FileNotFoundError(f"no commits at {self.path}")
        schema = StructType.fromJson(json.loads(man.schema_json))
        have = {f.name for f in schema.fields}
        dup = set(cols) & have
        if dup:
            raise ValueError(f"column(s) already exist: {sorted(dup)}")
        retired = self._retired_columns(man) & set(cols)
        if retired:
            raise ValueError(
                f"cannot re-add dropped column(s) {sorted(retired)}: "
                f"old files still hold the former bytes"
            )
        gen = set(self.derived_cols or {}) & set(cols)
        if gen:
            raise ValueError(
                f"column(s) {sorted(gen)} are generated — declared via "
                f"derived_cols, not ADD COLUMN"
            )
        new_fields = list(schema.fields)
        for name, ddl in cols.items():
            try:
                dt = StructType.fromDDL(f"`{name}` {ddl}").fields[0].dataType
            except Exception as e:
                raise ValueError(
                    f"unparseable type {ddl!r} for column {name!r}: {e}"
                ) from e
            new_fields.append(StructField(name, dt, True))
        vidx = (man.stats or {}).get("vector_index")
        return self._commit(
            "add_columns",
            man.files,
            StructType(new_fields),
            extra_stats={
                "added_cols": sorted(cols),
                **({"vector_index": vidx} if vidx is not None else {}),
            },
            cid=M.child_id(man.commit_id),
        )

    def _retired_columns(self, man: "M.Manifest | None" = None) -> set[str]:
        """Union of all column names ever dropped — these may never be
        re-added (see drop_columns). The latest manifest's carried-
        forward ``retired_cols`` is authoritative (it survives clean()
        aging out the drop commit — see _commit); the per-commit
        ``dropped_cols`` scan remains for tables whose manifests predate
        the carry-forward. ``man`` pins the snapshot (one op, one
        manifest — a mutation passes its pinned manifest)."""
        out: set[str] = set()
        latest = man if man is not None else M.read_manifest(self.path)
        if latest is not None:
            out.update((latest.stats or {}).get("retired_cols", []))
        for cid in self.commits():
            man = M.read_manifest(self.path, cid)
            if man is not None:
                out.update(man.stats.get("dropped_cols", []))
        return out

    # -- vector index --------------------------------------------------------

    IVF_CELL_COL = "__cid"

    def build_ivf_index(
        self,
        spark: SparkSession,
        vec_col: str,
        centroids: list[list[float]] | None = None,
        n_centroids: int = 16,
        n_iter: int = 5,
        sample_n: int = 2048,
    ) -> str:
        """Materialize an IVF ANN index as a table commit (the
        clustering-commit idiom, Hudi ``replacecommit`` parity): every
        row gains a persisted ``__cid`` (nearest-centroid id, computed
        with the ordered-fold cosine any SQL engine can re-derive from
        the centroid literals), files are range-clustered by ``__cid``
        with per-file min/max recorded in the manifest, and the trained
        centroids are registered in the commit's stats.

        At 100 TB this is the difference between re-assigning the whole
        corpus on EVERY query (one pass over 100 TB) and pruning to the
        ~nprobe/n_centroids fraction of FILES a probe touches: the
        assignment pass runs once at index-build time, amortized over
        all future searches (see
        :func:`hudi_glue_spark.operators.similarity.ivf_search_indexed`).

        Returns the index commit id. Mutating commits after the index
        MAINTAIN it incrementally (:meth:`_maintain_vector_index`):
        upsert assigns new rows with the stored centroids, delete
        carries the registration — the index is never stale. A rebuild
        is only needed to re-CLUSTER (tighten the file pruning the
        maintaining commits' mixed-cell files loosen)."""
        from hudi_glue_spark.operators.similarity import (
            ivf_assign_expr,
            ivf_centroids,
        )

        # pinned: the clustered rewrite and its child commit id come
        # from ONE manifest (the upsert clobber window)
        man_pin = M.read_manifest(self.path)
        assert man_pin is not None
        full = self.read(spark, at=man_pin.commit_id)
        if centroids is None:
            centroids = ivf_centroids(
                full, self.key[0], vec_col, n_centroids, n_iter, sample_n
            )
        cell = self.IVF_CELL_COL
        assigned = ivf_assign_expr(full, vec_col, centroids)
        # Range-cluster by cell id so each output file covers a narrow,
        # contiguous __cid range — tight min/max, hard probe-time skips.
        clustered = assigned.repartitionByRange(
            max(len(centroids), 1), F.col(cell)
        ).sortWithinPartitions(cell)
        cid = M.child_id(man_pin.commit_id)
        written = self._write_files(
            clustered, cid, repartition=False, extra_stat=cell
        )
        return self._commit(
            "index",
            list(written),
            clustered.schema,
            written,
            cid=cid,
            extra_stats={
                "vector_index": {
                    "kind": "ivf",
                    "vec_col": vec_col,
                    "cell_col": cell,
                    "centroids": centroids,
                }
            },
        )

    LSH_BUCKET_PREFIX = "__lshb"

    def build_lsh_index(
        self,
        spark: SparkSession,
        vec_col: str,
        dim: int,
        n_planes: int = 4,
        n_tables: int = 8,
        seed: int = 42,
    ) -> str:
        """Materialize a multi-table LSH ANN index as a table commit:
        every row gains one persisted bucket column per hash table
        (``__lshb0..__lshbN``, sign-bit buckets over seeded random
        hyperplanes — the ordered-fold form any SQL engine re-derives
        from the plane literals), and the plane family parameters are
        registered in the commit's stats.

        The amortization argument differs from the IVF index: LSH
        candidates come from ANY table, so single-column file skipping
        would drop cross-table matches — the index's win is that the
        n_tables × n_planes dot-product folds per corpus row (the
        dominant per-query cost) run ONCE at build time; a search reads
        n_tables small ints per row instead. Files are range-clustered
        by table 0's bucket for row-group locality on the primary
        table. Mutating commits maintain the index incrementally
        (:meth:`_maintain_vector_index` computes the new rows' buckets
        from the stored plane family); a rebuild only refreshes the
        bucket-0 clustering."""
        from hudi_glue_spark.operators.similarity import (
            _bucket_sql,
            _hyperplanes,
        )

        # pinned: rewrite and child commit id from ONE manifest (the
        # upsert clobber window)
        man_pin = M.read_manifest(self.path)
        assert man_pin is not None
        full = self.read(spark, at=man_pin.commit_id)
        # Re-runnable: a prior build's bucket columns live in the
        # committed schema (an upsert NULL-fills and keeps them), so the
        # documented rebuild-after-ingest flow must drop them before
        # appending fresh ones or the select would duplicate names.
        stale = [c for c in full.columns if c.startswith(self.LSH_BUCKET_PREFIX)]
        if stale:
            full = full.drop(*stale)
        bucket_cols = [f"{self.LSH_BUCKET_PREFIX}{t}" for t in range(n_tables)]
        indexed = full.select(
            "*",
            *[
                F.expr(
                    _bucket_sql(vec_col, _hyperplanes(dim, n_planes, seed + t))
                )
                .cast("int")
                .alias(c)
                for t, c in enumerate(bucket_cols)
            ],
        )
        clustered = indexed.repartitionByRange(
            max(2, min(2**n_planes, 64)), F.col(bucket_cols[0])
        ).sortWithinPartitions(bucket_cols[0])
        cid = M.child_id(man_pin.commit_id)
        written = self._write_files(clustered, cid, repartition=False)
        return self._commit(
            "index",
            list(written),
            clustered.schema,
            written,
            cid=cid,
            extra_stats={
                "vector_index": {
                    "kind": "lsh",
                    "vec_col": vec_col,
                    "dim": dim,
                    "n_planes": n_planes,
                    "n_tables": n_tables,
                    "seed": seed,
                    "bucket_cols": bucket_cols,
                }
            },
        )

    def _maintain_vector_index(self, df: DataFrame, vidx: dict | None):
        """Keep the previous commit's ANN index LIVE across a mutating
        commit (incremental index maintenance): rows that already carry
        an assignment keep it; rows the batch introduced (NULL
        assignment after schema conform) are assigned with the index's
        OWN stored parameters — IVF centroid literals, or the LSH plane
        family re-derived from (dim, n_planes, seed) — so the
        maintained table equals a full index rebuild row-for-row while
        touching only the partitions the mutation already rewrites.
        Returns ``(df, vidx)``; ``(df, None)`` when the index's columns
        are absent from ``df`` (the index then reads as ABSENT via
        :meth:`vector_index`, never silently wrong). Files written by
        the maintaining commit have WIDE cell stats (a rewritten
        partition mixes cells), degrading file pruning — not
        correctness — until the next ``build_*_index`` re-clusters."""
        if vidx is None:
            return df, None
        kind = vidx.get("kind")
        vec = vidx.get("vec_col")
        if vec not in df.columns:
            return df, None
        if kind == "ivf":
            from hudi_glue_spark.operators.similarity import ivf_assign_expr

            cell = vidx["cell_col"]
            if cell not in df.columns:
                return df, None
            cols = df.columns
            tmp = df.withColumnRenamed(cell, "__kt_prev_cid")
            tmp = ivf_assign_expr(tmp, vec, vidx["centroids"])
            tmp = tmp.withColumn(
                cell,
                F.coalesce(
                    F.col("__kt_prev_cid"),
                    F.when(F.col(vec).isNotNull(), F.col(cell)),
                ),
            )
            return tmp.drop("__kt_prev_cid").select(cols), vidx
        if kind == "lsh":
            from hudi_glue_spark.operators.similarity import (
                _bucket_sql,
                _hyperplanes,
            )

            bcols = vidx.get("bucket_cols") or []
            if not bcols or any(c not in df.columns for c in bcols):
                return df, None
            out = df
            for t, c in enumerate(bcols):
                fresh = F.expr(
                    _bucket_sql(
                        vec,
                        _hyperplanes(
                            vidx["dim"], vidx["n_planes"], vidx["seed"] + t
                        ),
                    )
                ).cast("int")
                out = out.withColumn(
                    c,
                    F.coalesce(
                        F.col(c), F.when(F.col(vec).isNotNull(), fresh)
                    ),
                )
            return out, vidx
        return df, None

    def _write_index_aware(
        self, df: DataFrame, cid: str, vidx: dict | None, repartition: bool = True
    ) -> dict[str, "M.FileMeta"]:
        """:meth:`_write_files`, recording per-file cell stats when an
        IVF index is being carried so the indexed search keeps its
        manifest-level file skipping on the new files."""
        cell = vidx.get("cell_col") if vidx and vidx.get("kind") == "ivf" else None
        return self._write_files(df, cid, repartition, extra_stat=cell)

    def vector_index(self) -> dict | None:
        """The vector index registered by the LATEST commit, or None.
        Not blindly inherited across commits: EVERY mutating commit
        either MAINTAINS the index or honestly drops the registration,
        so a stale index always reads as absent, never silently wrong.
        The contract per operation: upsert / insert_overwrite /
        merge_into assign incoming rows with the stored parameters
        (:meth:`_maintain_vector_index`); delete / delete_where /
        drop_partitions carry it untouched (removing rows can't
        invalidate survivors); optimize / change_partitioning carry it
        (rows move, never change); rollback restores the target
        commit's registration; update_where and drop_columns carry it
        unless they touch the index's vector/assignment columns."""
        man = M.read_manifest(self.path)
        if man is None:
            return None
        return (man.stats or {}).get("vector_index")

    def index_staleness(self, max_cells_per_file: int = 2) -> dict | None:
        """Clustering-quality signal for a maintained IVF index
        (metadata-only): maintenance keeps the index CORRECT but each
        maintaining commit's files mix cells (wide ``__cid`` ranges),
        which loosens the manifest file skipping ``build_ivf_index``'s
        range-clustering provides. Returns, from the manifest alone:

        - ``files_total`` / ``files_wide`` — live files whose recorded
          cell range spans more than ``max_cells_per_file`` cells (or
          lacks cell stats entirely),
        - ``stale_fraction`` — files_wide / files_total,
        - ``recommend_recluster`` — True when a probe would open more
          than ~2x the fraction of files a fresh clustering would.

        None when no vector index (or a non-IVF one) is registered.
        The scheduling loop at 100 TB: upsert freely, watch this
        number, re-run ``build_ivf_index`` when it crosses the line —
        the same trade as Delta's OPTIMIZE cadence."""
        vidx = self.vector_index()
        if vidx is None or vidx.get("kind") != "ivf":
            return None
        man = M.read_manifest(self.path)
        assert man is not None
        cell = vidx["cell_col"]
        fs = man.file_stats
        total = len(man.files)
        wide = 0
        for f in man.files:
            st = fs.get(f, {}).get(cell)
            if st is None or (st[1] - st[0] + 1) > max_cells_per_file:
                wide += 1
        frac = (wide / total) if total else 0.0
        return {
            "files_total": total,
            "files_wide": wide,
            "stale_fraction": frac,
            "recommend_recluster": frac > 0.5,
        }

    # -- internals ---------------------------------------------------------

    @staticmethod
    def _release_checkpoint(df: DataFrame) -> None:
        """Drop the blocks of ``df``, a ``localCheckpoint`` result.
        ``DataFrame.unpersist`` does not reach the checkpoint's RDD —
        it would stay registered for the session's lifetime — so the
        RDD under the analyzed plan is unpersisted directly. A later
        use of ``df`` fails loudly (the blocks are gone) instead of
        silently recomputing."""
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)

    def _stage(self, batch: DataFrame, fields) -> DataFrame:
        """The upsert batch as both strategies merge it: conformed to
        ``fields`` (a column the batch lacks reads NULL, the rest are
        cast to the field type), tagged with its precombine tie-break
        as ``__tie`` (:meth:`_row_hash` of the batch as given — the
        value :meth:`_precombine` orders by, so ``_ranked`` picks the
        same winners), and materialized ONCE, eagerly, for the op's
        lifetime; the caller releases it with
        :meth:`_release_checkpoint`.

        Every later step — the touched-partition or candidate-file
        probe, the merge write, the marks, and on an OCC conflict the
        rebase key probe — reads the same rows as a plain RDD scan.
        Unmaterialized, each job re-ran the caller's source subtree
        (measured: two ~0.5 s 33-task stages per probe on
        merge_into_disjoint_rebase at sf0.1), and a nondeterministic
        source could write rows into a partition the probe never
        marked touched. A local checkpoint (not persist): the batch
        appears on both sides of the probe plan, and AQE gives each
        cached-relation stage its own fill job, while the checkpoint
        is filled by exactly one. The trade-off: checkpoint blocks have
        no lineage, so if an executor holding some is lost mid-op (spot
        reclaim, OOM kill) the next read of the batch fails instead of
        recomputing them, and the upsert raises with nothing published
        — the caller re-runs it (``retry_commit`` re-runs only lost OCC
        races). The batch is the incremental DELTA — bounded by
        contract — and memory-then-disk spills rather than OOMs."""
        from pyspark import StorageLevel

        return self._conform_batch(
            batch, fields, self._row_hash(batch).alias("__tie")
        ).localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)

    @staticmethod
    def _conform_batch(batch: DataFrame, fields, *extra) -> DataFrame:
        """``batch`` as exactly ``fields``, then ``extra`` columns: a
        field the batch lacks reads NULL, the rest are cast to the
        field's type."""
        return batch.select(
            *[
                (
                    F.col(f.name).cast(f.dataType)
                    if f.name in batch.columns
                    else F.lit(None).cast(f.dataType)
                ).alias(f.name)
                for f in fields
            ],
            *extra,
        )

    def _row_hash(self, df: DataFrame) -> Column:
        """The within-batch tie-break among equal-precombine rows of
        one ROW IDENTITY: an xxhash64 of the whole row, higher wins.
        Map columns — at ANY depth, r12 nested lift — enter the hash
        through their recursive canonical twin (:meth:`_canon_expr`):
        Spark prohibits hashing raw maps (entry order varies per
        plan), and the canonical form is exactly the order-insensitive
        identity map equality defines."""

        def hcol(f):
            c = F.col(f.name)
            if not self._type_has_map(f.dataType):
                return c
            return self._canon_expr(c, f.dataType)

        return F.xxhash64(
            F.struct(*[hcol(f).alias(f.name) for f in df.schema.fields])
        )

    def _precombine(self, df: DataFrame) -> DataFrame:
        """Within-batch dedup: keep the max-precombine row per ROW
        IDENTITY (§2a #23a) — the record key, or (partition, key)
        under partition key scope (Hudi's non-global-index dedup
        semantics: the same key in two partitions is two rows, r12
        fix) — deterministically tie-broken by :meth:`_row_hash`."""
        w = Window.partitionBy(*self._identity_cols).orderBy(
            F.desc(self.precombine), F.desc(self._row_hash(df))
        )
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )

    def _ranked(self, existing: DataFrame | None, batch: DataFrame) -> DataFrame:
        """The merge order both upsert strategies share: ``batch``
        rows (``__src`` 1) — together with ``existing``'s (``__src``
        0, ``__tie`` 0) under EVENT_TIME_WINS — numbered ``__rn``
        within each ROW IDENTITY by ONE window over (precombine, batch
        over existing, tie), all descending, so a NULL precombine
        ranks last. The window also resolves the batch's own
        duplicates, so the batch is never shuffled for a separate
        :meth:`_precombine`. ``batch`` carries its :meth:`_row_hash` as
        ``__tie`` (:meth:`_stage`). ARRIVAL_WINS ranks the batch alone:
        it replaces matched identities unconditionally. Under partition
        key scope, row identity is (partition, key): the same key may
        live in two partitions as two rows."""
        ranked = batch.withColumn("__src", F.lit(1))
        if existing is not None and self.policy != ARRIVAL_WINS:
            ranked = existing.withColumns(
                {"__src": F.lit(0), "__tie": F.lit(0).cast(LongType())}
            ).unionByName(ranked, allowMissingColumns=True)
        w = Window.partitionBy(*self._identity_cols).orderBy(
            *[F.desc(c) for c in (self.precombine, "__src", "__tie")]
        )
        return ranked.withColumn("__rn", F.row_number().over(w))

    def _merge(self, existing: DataFrame, batch: DataFrame) -> DataFrame:
        """One row per ROW IDENTITY of ``existing`` ∪ ``batch``: the
        :meth:`_ranked` winners. Under ARRIVAL_WINS existing rows of
        the batch's identities leave by an anti-join — AQE can
        broadcast the small batch, and existing rows are not shuffled
        by key (ranking the union shuffled them: +50% records shuffled
        per commit on the ``upsert_arrival_wins`` scenario)."""
        keys = self._identity_cols
        winners = (
            self._ranked(existing, batch)
            .filter(F.col("__rn") == 1)
            .select(existing.columns)
        )
        if self.policy != ARRIVAL_WINS:
            return winners
        kept = existing.join(batch.select(*keys), on=keys, how="left_anti")
        return kept.unionByName(winners)

    def _merge_marks(self, existing: DataFrame | None, batch: DataFrame):
        """:meth:`_merge` as deletion-vector marks: ``(marked, append)``
        — the ``existing`` rows (positioned: ``__file``/``__pos``; None
        = no candidate rows) that a batch row beats, and the batch
        winners — under the same :meth:`_ranked` order, so marking
        ``marked`` dead and appending ``append`` leaves the snapshot
        ``_merge`` would write. ARRIVAL_WINS marks every existing row
        of the batch's identities."""
        keys = self._identity_cols
        ranked = self._ranked(existing, batch)
        append = ranked.filter(
            (F.col("__src") == 1) & (F.col("__rn") == 1)
        ).drop("__src", "__rn", "__tie", "__file", "__pos")
        if existing is None:
            return None, append
        if self.policy == ARRIVAL_WINS:
            beaten = existing.join(batch.select(*keys), on=keys, how="left_semi")
        else:
            beaten = ranked.filter((F.col("__src") == 0) & (F.col("__rn") > 1))
        return beaten, append

    def _dirname(self, row) -> str:
        assert self.partition_by
        return "/".join(M.hive_dirname(c, row[c]) for c in self.partition_by)

    def _partition_dirs(self, df: DataFrame) -> set[str]:
        """Hive dir names of the partitions ``df``'s rows live in (one
        distinct collect)."""
        return {
            self._dirname(r)
            for r in df.select(self.partition_by).distinct().collect()
        }

    def _touched_partitions(
        self,
        existing: DataFrame,
        batch: DataFrame,
        man: "M.Manifest | None" = None,
    ) -> set[str]:
        # ``man`` pins the index probe to the caller's snapshot — the
        # probe and the merge scan must see the SAME live-file set
        assert self.partition_by
        if self.key_scope == "partition":
            # Keys are partition-local: only the batch's own partitions
            # can hold prior versions — no global probe.
            return self._partition_dirs(batch)
        # Global key scope: an update may move a key across partitions
        # (the reference's day=1 batch rewrites the partition column
        # itself, glue/NYTaxiDataPrep.py:47) — old hosts must be
        # rewritten. With a record index the old hosts come from ONE
        # index join (O(index) slim rows) + metadata partition-of,
        # instead of a key-column scan of the whole table per commit —
        # the Hudi record-index tagging win at 100 TB. Superset-safe:
        # extra candidate partitions rewrite unchanged rows; a missed
        # one is impossible (every live row's host is indexed).
        # Registration gate is a driver-side stats read (r16): the old
        # shape always ran the index probe FIRST and fell through on
        # None, which on unindexed tables paid nothing extra but on
        # indexed ones serialized two independent jobs.
        if (
            len(self.key) == 1
            and man is not None
            and None in self._index_regs(man.stats)
        ):
            # The index-hosts join and the batch's own partition set
            # are INDEPENDENT jobs — overlap them (guide §2.6): the
            # second job's tasks back-fill the first's tail.
            from concurrent.futures import ThreadPoolExecutor

            with ThreadPoolExecutor(max_workers=1) as pool:
                fut = pool.submit(
                    self.files_hosting_keys,
                    batch.sparkSession,
                    batch.select(self.key[0]).dropDuplicates(),
                    man,
                )
                try:
                    parts = self._partition_dirs(batch)
                except Exception as e:
                    # still retrieve the probe's outcome, so its failure
                    # is chained onto this one instead of discarded
                    try:
                        fut.result()
                    except Exception as probe_err:
                        raise e from probe_err
                    raise
                hosts = fut.result()
            if hosts is not None:
                return parts | {
                    d for f in hosts if (d := M.partition_of(f))
                }
            # NOTE (r15, measured and REJECTED): tagging old hosts from
            # the per-file key BLOOMS (Hudi bloom-index style) instead
            # of this semi-join was prototyped and reverted. At this
            # engine's 10 bits/key (sized for point lookups), multi-key
            # probes saturate — P[file false-hits] ≈ 1 − 0.992^k — so
            # batches beyond a few dozen keys pulled extra partitions
            # into the rewrite (2× files written on a 2k-key merge;
            # +0.9-2 s on downstream file-diff reads from the amplified
            # layouts), and the small-batch gate job alone cost every
            # BULK commit ~0.2-0.3 s for nothing (+0.7-1.4 s on the
            # multi-commit fixture rows). Tagging needs Hudi-grade
            # ~1e-9-FPP filters (≈43 bits/key — 4× the metadata) to be
            # sound; revisit only with re-sized blooms.
        # No index: ONE job, ONE slim exchange (r16, guide §2.4). The
        # batch's own partition values and the semi-join's matched
        # partition values union BEFORE a single distinct — the
        # previous shape deduped three times (batch keys before the
        # semi-join, old_parts, and the final union), and under AQE
        # every extra exchange is an extra stage-materialization job
        # (~0.2-0.3 s of fixed cost per tiny job on local[32];
        # measured 0.83 s/probe on merge_into_disjoint_rebase, ~7 jobs
        # of the row's 37). The semi-join key dedup was redundant
        # work: a semi-join is insensitive to probe-side duplicates, so
        # the batch probes as given (``upsert`` resolves its duplicates
        # later, in ``_merge``).
        old_parts = existing.join(
            batch.select(self.key), on=self.key, how="left_semi"
        ).select(self.partition_by)
        probe = (
            batch.select(self.partition_by)
            .unionByName(old_parts)
            .distinct()
        )
        return {self._dirname(r) for r in probe.collect()}

    def _rows_in_partitions(self, df: DataFrame, dirnames: set[str]) -> DataFrame:
        assert self.partition_by
        if not dirnames:
            return df.filter(F.lit(False))
        expr = None
        for d in dirnames:
            cond = F.lit(True)
            for part in d.split("/"):
                col, _, raw = part.partition("=")
                if raw == "__HIVE_DEFAULT_PARTITION__":
                    c = F.col(col).isNull()
                else:
                    c = F.col(col).cast("string") == M.hive_unescape(raw)
                cond = cond & c
            expr = cond if expr is None else (expr | cond)
        return df.filter(expr)

    def _write_files(
        self,
        df: DataFrame,
        commit_id: str,
        repartition: bool = True,
        extra_stat: str | None = None,
    ) -> dict[str, "M.FileMeta"]:
        """Stage a Spark parquet write, then move files into ``data/``
        with commit-prefixed names (write-data-first; the manifest rename
        in :meth:`_commit` is the publish point). Returns
        ``{rel_file: FileMeta}`` in write order: footer rows, on-disk
        bytes, footer min/max of ``stats_cols`` (plus ``extra_stat``),
        and the key bloom when ``key_bloom`` is on — everything the
        manifest shard records per file.

        ``repartition=False`` trusts the caller's partitioning (used by
        :meth:`optimize`, which bins rows by target file size first).

        File names carry a per-writer random token: two writers racing
        the SAME planned commit id must never overwrite each other's
        staged bytes, or the link-race winner could publish a manifest
        referencing the loser's contents. The loser's uniquely-named
        files stay orphaned (never referenced) until clean()."""
        import uuid

        import pyarrow.parquet as pq

        token = uuid.uuid4().hex[:8]
        stage = os.path.join(self.path, ".tmp", f"{commit_id}-{token}")
        shutil.rmtree(stage, ignore_errors=True)
        # INT96 (Spark's default parquet timestamp encoding) carries no
        # min/max statistics — write MICROS so timestamp stats_cols can
        # drive file skipping (and for cross-engine parquet compat).
        df.sparkSession.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        writer = df
        if self.partition_by and repartition:
            # co-locate rows of one partition into few tasks → few,
            # chunky files instead of tasks×partitions small files
            writer = df.repartition(*[F.col(c) for c in self.partition_by])
        w = writer.write.mode("overwrite")
        if self.partition_by:
            w = w.partitionBy(*self.partition_by)
        w.parquet(stage)

        stats_cols = list(self.stats_cols or [])
        if extra_stat and extra_stat not in stats_cols:
            stats_cols.append(extra_stat)
        written: dict[str, M.FileMeta] = {}
        ddir = M.data_dir(self.path)
        for dirpath, _dirs, files in os.walk(stage):
            for fn in sorted(files):
                if not fn.endswith(".parquet"):
                    continue
                rel_dir = os.path.relpath(dirpath, stage)
                rel_dir = "" if rel_dir == "." else rel_dir
                dest_dir = os.path.join(ddir, rel_dir)
                os.makedirs(dest_dir, exist_ok=True)
                new_name = f"{commit_id}-{token}-{len(written):05d}.parquet"
                dest = os.path.join(dest_dir, new_name)
                os.replace(os.path.join(dirpath, fn), dest)
                rel = os.path.join(rel_dir, new_name) if rel_dir else new_name
                # rows + min/max from the parquet footer — no extra scan
                n, st = _parquet_footer_stats(dest, stats_cols)
                bloom = None
                if self.key_bloom:
                    # one key-column read of the just-written LOCAL file;
                    # on a real cluster this belongs executor-side at
                    # write time (Hudi keeps it in the parquet footer)
                    kt = pq.read_table(dest, columns=self.key)
                    bloom = B.to_bytes(
                        B.build(B.key_strings_table(kt.select(self.key)))
                    )
                written[rel] = M.FileMeta(
                    n, os.path.getsize(dest), st or None, bloom
                )
        shutil.rmtree(stage, ignore_errors=True)
        return written

    def _publish_rewrite(
        self,
        op: str,
        man: "M.Manifest",
        prior: DataFrame,
        out: DataFrame,
        touched: set[str] | None,
        schema: StructType,
        vidx: dict | None,
        extra_stats: dict | None = None,
        probe_keys_df=None,
        delete_free: bool = False,
    ) -> str:
        """The copy-on-write tail every rewrite op shares: write ``out``
        as the new contents of the ``touched`` partitions (None = the
        whole table) under the child id of the pinned ``man``, record
        the ``prior`` → ``out`` change log, carry every untouched file
        forward, and publish ``op``. ``vidx`` is the vector-index
        registration ``out`` keeps valid. Returns the published id."""
        # change_log: persist the output so the file write and the
        # exceptAll delta share ONE evaluation (measured ~2x op cost
        # without the cache)
        if self.change_log:
            out = out.persist()
        try:
            cid = M.child_id(man.commit_id)
            written = self._write_index_aware(out, cid, vidx)
            chlog = self._write_change_log(
                prior,
                out,
                schema,
                rows_written=sum(m.rows for m in written.values()),
            )
        finally:
            if self.change_log:
                out.unpersist()
        stats = {
            **(extra_stats or {}),
            **({"vector_index": vidx} if vidx is not None else {}),
            **({"change_log": chlog} if chlog is not None else {}),
        }
        scoped = touched is not None
        return self._commit(
            op,
            M.with_new_files(M.carried_files_arrow(man, touched), written)
            if scoped
            else list(written),
            schema,
            written,
            rewritten=sorted(touched) if scoped else ["<all>"],
            extra_stats=stats or None,
            cid=cid,
            base=man if scoped else None,
            touched=touched,
            probe_keys_df=probe_keys_df,
            delete_free=delete_free,
        )

    def _commit(
        self,
        op: str,
        files: list[str],
        schema: StructType,
        written: dict | None = None,
        rewritten=None,
        extra_stats: dict | None = None,
        cid: str | None = None,
        base=None,
        touched: set | None = None,
        probe_keys_df=None,
        delete_free: bool = False,
        dvs: dict | None = None,
    ) -> str:
        """Publish one commit; returns the id it published (the planned
        ``cid``, or the rebased id when a disjoint-rival rebase won).
        ``written`` is :meth:`_write_files`' ``{rel_file: FileMeta}``
        for the files this commit wrote; each must be in ``files``."""
        # Inline metadata covers ONLY the files this commit just wrote;
        # carried-forward files keep theirs inside the manifest shards
        # write_manifest reuses (or recovers from broken shards) — the
        # commit's metadata cost is O(delta), not O(table files).
        written = written or {}
        prev = M.read_manifest(self.path)
        # Retired (dropped) column names are carried forward into EVERY
        # subsequent manifest: the guard must survive clean() aging out
        # the drop_columns commit itself, because pre-drop files in
        # untouched partitions still physically hold the old bytes — a
        # re-added name would resurrect them as live data.
        prev_stats = (prev.stats or {}) if prev else {}
        retired = set(prev_stats.get("retired_cols", []))
        retired |= set(prev_stats.get("dropped_cols", []))
        retired |= set((extra_stats or {}).get("dropped_cols", []))
        stats = {
            "rows_written": sum(m.rows for m in written.values()),
            "partitions_rewritten": rewritten or [],
            # layout at commit time, in EVERY manifest: rollback across
            # a change_partitioning commit must restore the old scheme,
            # or later upserts would mis-scope partition rewrites
            "partition_by": self.partition_by or [],
            **(extra_stats or {}),
        }
        if retired:
            stats["retired_cols"] = sorted(retired)
        # unsafe_duplicate_keys is sticky like retired columns (r13):
        # an undeduped bulk load's duplicate identities survive in
        # untouched partitions through ANY later DML, so the
        # diff-routing flag must outlive the load commit itself
        if prev_stats.get("unsafe_duplicate_keys"):
            stats["unsafe_duplicate_keys"] = True
        # Publish under the PLANNED id (child of the snapshot this
        # commit was computed against) when the caller provides it:
        # re-reading the head here would let a rival's interleaved
        # commit be silently clobbered out of the new snapshot instead
        # of raising ConcurrentCommitError (lost update).
        commit_id = cid or M.next_commit_id(self.path)
        # Index carry: ONE central rule for every slot and every op. An
        # index op (build / compact / drop) names every slot's
        # registration itself; any other op appends to each parent
        # registration a delta run covering exactly the files this
        # commit wrote (``written`` — the same source the manifest's
        # O(delta) metadata uses, so no op can forget an index).
        # Unmaintainable → drop honestly with a ``*_dropped`` marker.
        dropped: dict = {}
        if op in _INDEX_OPS:
            regs = self._index_regs(stats)
        else:
            regs = {}
            for slot, r in self._index_regs(prev_stats).items():
                adv = self._rli_advance(r, sorted(written), commit_id, schema)
                if adv is None:
                    dropped[slot] = op
                else:
                    regs[slot] = adv
        # Metadata-tree spill (§9d#1): registrations whose span maps
        # outgrow REG_SPILL_BYTES move them to a parquet sidecar under
        # _rli/, the commit JSON keeping only a pointer — without this
        # a table carrying several column indexes through a long
        # un-compacted chain grows EVERY commit's JSON linearly.
        # Already-packed pointers pass through.
        stats.update(
            self._index_stats(
                {s: RI.pack_reg(self.path, commit_id, r) for s, r in regs.items()}
            )
        )
        stats.update(self._index_stats(dropped, _DROP_KEYS))
        # Deletion vectors carry forward like retired columns: a file
        # still live in this commit keeps its mask (rewritten/dropped
        # files shed theirs — a rewrite read the masked view, so the
        # dead rows are physically gone from its output). Explicit
        # ``dvs`` entries (the DV-DML ops) overlay the carried map.
        carried_dvs = dict((prev.dvs if prev else {}) or {})
        if dvs:
            carried_dvs.update(dvs)
        if carried_dvs:
            if isinstance(files, list):
                live_dv = set(files)
                carried_dvs = {
                    f: v for f, v in carried_dvs.items() if f in live_dv
                }
            else:
                import pyarrow as pa
                import pyarrow.compute as pc

                keys = sorted(carried_dvs)
                mask = pc.is_in(
                    pa.array(keys, type=pa.string()), value_set=files
                ).to_pylist()
                carried_dvs = {
                    k: carried_dvs[k] for k, m in zip(keys, mask) if m
                }
        man = M.Manifest(
            commit_id=commit_id,
            op=op,
            ts=M.utc_now_iso(),
            files=sorted(files) if isinstance(files, list) else files,
            schema_json=schema.json(),
            stats=stats,
            file_meta=written,
            dvs=carried_dvs,
        )
        try:
            M.write_manifest(
                self.path,
                man,
                base=base,
                touched_dirs=touched,
                new_files=list(written),
            )
        except M.ConcurrentCommitError:
            commit_id = self._rebase_commit(
                op, man, base, touched, written, probe_keys_df, delete_free
            )
            if commit_id is None:
                raise
        self._refresh_live_views()
        return commit_id

    # Ops whose rebase is key-safe regardless of key_scope: they never
    # introduce or remove keys, only re-arrange existing rows/files (or,
    # an index drop, touch neither).
    _REBASE_SAFE_OPS = frozenset(
        {"optimize", "drop_partitions", "drop_record_index", "drop_column_index"}
    )

    def _staged_key_span(self, written: dict):
        """(lo, hi) normalized key span of this commit's STAGED files,
        or None when unprovable (composite key, or any staged file
        lacking key min/max — the key column must be in ``stats_cols``
        for the global-scope rebase proof). An empty staged set proves
        trivially (no keys to collide)."""
        if len(self.key) != 1:
            return None
        if not written:
            return ("__empty__", "__empty__")
        k = self.key[0]
        lo = hi = None
        for meta in written.values():
            st = (meta.stats or {}).get(k)
            if st is None or st[0] is None or st[1] is None:
                return None
            a, b = _stat_value(st[0]), _stat_value(st[1])
            lo = a if lo is None or a < lo else lo
            hi = b if hi is None or b > hi else hi
        return (lo, hi)

    def _collect_probe_keys(self, probe_keys_df):
        """(canonical key strings for bloom probing, typed key span) of
        the BATCH's keys, or ``([], None)`` when unprovable (no df, or
        batch bigger than the cap — a backfill should re-merge rather
        than collect millions of keys through the driver). The span is
        derived only for single-column keys and lives in the
        ``_stat_value`` domain, so it compares exactly against the
        manifest's typed key stats — unlike the STAGED span it covers
        every batch key even when the op's output dropped some (a
        merge_into source row whose insert condition failed). Runs ONLY
        on an OCC conflict whose staged-range proof failed."""
        cap = 20_000
        if probe_keys_df is None:
            return [], None
        rows = probe_keys_df.distinct().limit(cap + 1).collect()
        if len(rows) > cap:
            return [], None
        strings = [B.key_string(tuple(r)) for r in rows]
        span = None
        if len(self.key) == 1:
            if not rows:
                span = ("__empty__", "__empty__")
            else:
                vals = [_stat_value(r[0]) for r in rows if r[0] is not None]
                if len(vals) == len(rows):
                    span = (min(vals), max(vals))
        return strings, span

    def _chain_bloom_disjoint(self, r, parent, keys: list[str]) -> bool:
        """True iff EVERY file the rival commit added/removed carries a
        manifest key bloom reporting NO possible hit for any of
        ``keys`` — bloom false positives re-merge (conservative), false
        negatives are impossible, so a True is a sound disjointness
        proof even on layouts where key RANGES interleave."""
        import pyarrow as pa
        import pyarrow.compute as pc

        # hash the probe key set ONCE — probing P rival files with K
        # keys was P×K md5s (r16; same fix files_with_keys got in r15)
        want = B.hash_pairs(keys)
        cur, prv = r.files_arrow(), parent.files_arrow()
        added = pc.filter(cur, pc.invert(pc.is_in(cur, value_set=prv)))
        removed = pc.filter(prv, pc.invert(pc.is_in(prv, value_set=cur)))
        for man_side, changed in ((r, added), (parent, removed)):
            if len(changed) == 0:
                continue
            t = man_side.shard_table()
            if t is None:
                return False
            sub = t.select(["file", "col", "bloom"]).filter(
                pc.and_(
                    pc.is_null(t["col"]),
                    pc.is_in(t["file"], value_set=changed),
                )
            )
            if len(pc.unique(sub["file"])) != len(changed):
                return False  # a changed file has no metadata row
            blooms = sub["bloom"].to_pylist()
            for raw in blooms:
                if raw is None:
                    return False  # no bloom recorded → unprovable
                if B.contains_any_hashed(B.from_bytes(raw), want):
                    return False  # possible key hit → re-merge
        return True

    def _chain_key_disjoint(self, r, parent, span) -> bool:
        """True iff EVERY file the rival commit ``r`` added or removed
        (vs ``parent``) carries key min/max stats provably disjoint
        from ``span`` — the metadata-only proof that the rival can
        neither have introduced nor deleted any key this writer's
        batch touches. Conservative: any missing stat, type mismatch,
        or overlap → False (full re-merge)."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if span[0] == "__empty__":
            return True
        lo, hi = span
        k = self.key[0]
        cur, prv = r.files_arrow(), parent.files_arrow()
        added = pc.filter(cur, pc.invert(pc.is_in(cur, value_set=prv)))
        removed = pc.filter(prv, pc.invert(pc.is_in(prv, value_set=cur)))
        for man_side, changed in ((r, added), (parent, removed)):
            if len(changed) == 0:
                continue
            t = man_side.shard_table()
            if t is None:
                return False
            slim = t.select(
                ["file", "col", "min_i", "max_i", "min_f", "max_f",
                 "min_s", "max_s"]
            )
            sub = slim.filter(
                pc.and_(
                    pc.equal(slim["col"], k),
                    pc.is_in(slim["file"], value_set=changed),
                )
            )
            # every changed file must carry a key-stats row
            if len(pc.unique(sub["file"])) != len(pc.unique(changed)):
                return False
            cols = {
                c: sub[c].to_pylist()
                for c in ("min_i", "max_i", "min_f", "max_f",
                          "min_s", "max_s")
            }
            for i in range(sub.num_rows):
                mn = M._decode(
                    cols["min_i"][i], cols["min_f"][i], cols["min_s"][i]
                )
                mx = M._decode(
                    cols["max_i"][i], cols["max_f"][i], cols["max_s"][i]
                )
                if mn is None or mx is None:
                    return False
                try:
                    if not (mx < lo or mn > hi):
                        return False  # may overlap my key span
                except TypeError:
                    return False
        return True

    def _rebase_commit(
        self, op, man, base, touched, written, probe_keys_df=None,
        delete_free=False,
    ) -> str | None:
        """DISJOINT-COMMIT REBASE (Hudi/Delta OCC conflict-resolution
        parity): a writer that loses the commit race re-publishes its
        ALREADY-STAGED files against the rival's head — skipping the
        full read-merge-rewrite — when that is provably sound:

        - every interleaved rival commit rewrote only partitions
          DISJOINT from this writer's touched set (no ``<all>``
          markers), with the same schema, partition layout, and vector
          index as this writer's base — so the base rows this writer's
          merge consumed are bit-identical in the rival's head;
        - key reasoning cannot leak across partitions: either the
          table's ``key_scope`` is ``"partition"`` (a key lives only in
          its own partition, so a disjoint rival cannot hold this
          writer's keys), or the op is data-preserving
          (optimize/drop_partitions). GLOBAL-key tables fall back to
          the full re-merge — a disjoint rival may still have inserted
          one of this writer's keys elsewhere, which only the re-merge
          can see.

        At 100 TB this is what lets N writers on N different partitions
        commit concurrently at merge-once cost instead of serializing
        re-merges. Returns the rebased commit id, or None when no rebase
        published."""
        if op in ("delete_dv", "upsert_dv", "update_where_dv"):
            # DV DML never rebases: its commit scope is touched=∅ (the
            # file set is unchanged), so the partition-overlap audit
            # below would pass vacuously and the republish would carry
            # the HEAD's dvs — silently dropping this op's own marks;
            # worse, a rival that rewrote the marked files invalidates
            # the positions themselves. Re-running the whole op is
            # cheap by construction (it's O(delta)); callers retry.
            return None
        if base is None or touched is None:
            return None
        key_span = None  # set ⇒ global-scope rebase via key-range proof
        need_key_proof = (
            op not in self._REBASE_SAFE_OPS
            and self.key_scope != "partition"
        )
        if need_key_proof:
            # GLOBAL key scope: a rebase is still sound for a plain
            # upsert when every rival-CHANGED file provably holds NONE
            # of this writer's keys. Two proofs, tried in order per
            # rival commit: (a) key-RANGE disjointness — the staged
            # key span (⊇ batch keys) vs the changed files' key
            # min/max; (b) key-BLOOM probes — the batch's actual keys
            # (collected only on conflict, only under the size cap)
            # against the changed files' manifest blooms, which also
            # proves interleaved-key layouts where ranges overlap but
            # keys don't. Bloom false positives → re-merge
            # (conservative); false negatives impossible by
            # construction. Sound for upsert (its staged output
            # contains every batch row, so the STAGED span covers the
            # batch) and for delete-free merge_into — matched-update /
            # insert-only merges never remove a key, but a source-only
            # key whose insert condition failed is ABSENT from the
            # staged files while its match outcome still depended on
            # the base, so the staged span is unsound there: those
            # merges prove via the SOURCE keys instead (typed span
            # derived on conflict, then bloom probe). Delete-bearing
            # ops drop keys from every provable set — exactly the
            # collisions that matter — and always re-merge.
            if op == "upsert":
                key_span = self._staged_key_span(written)
            elif not (op == "merge_into" and delete_free):
                return None
            if key_span is None and probe_keys_df is None:
                return None  # no provable span and no probe keys
        my_schema = man.schema_json
        my_stats = man.stats
        mine = self._index_regs(my_stats)
        own_drops = self._index_regs(base.stats).keys() - mine.keys()
        probe_keys: list | None = None  # lazy; [] = unprovable
        probe_span = None  # typed span of the BATCH keys (lazy)
        for _ in range(5):
            head = M.read_manifest(self.path)
            assert head is not None
            # audit every rival commit between my base and the head
            chain = [
                c
                for c in self.commits()
                if int(c) > int(base.commit_id)
            ]
            parent = base
            for c in chain:
                r = M.read_manifest(self.path, c)
                rs = r.stats or {}
                rw = rs.get("partitions_rewritten")
                if (
                    not isinstance(rw, list)
                    or "<all>" in rw
                    or set(rw) & set(touched)
                    or r.schema_json != base.schema_json
                    or rs.get("partition_by") != my_stats.get("partition_by")
                    or rs.get("vector_index")
                    != (base.stats or {}).get("vector_index")
                ):
                    return None
                if need_key_proof and rs.get("dv_changed"):
                    # a rival DV commit deleted/superseded rows WITHOUT
                    # adding files, so the file-diff-based key proofs
                    # below are vacuous against it — if it touched this
                    # writer's keys the merge consumed pre-delete base
                    # rows. Re-merge (partition-scoped writers are
                    # already safe: the partitions_rewritten overlap
                    # check above saw the rival's DV'd dirs).
                    return None
                if need_key_proof:
                    ok = key_span is not None and self._chain_key_disjoint(
                        r, parent, key_span
                    )
                    if not ok:
                        if probe_keys is None:
                            probe_keys, probe_span = (
                                self._collect_probe_keys(probe_keys_df)
                            )
                        # batch-derived span: covers every batch key
                        # (incl. merge_into's non-inserted ones), works
                        # without blooms when the key is in stats_cols
                        ok = probe_span is not None and (
                            self._chain_key_disjoint(r, parent, probe_span)
                        )
                        if not ok and (
                            not probe_keys
                            or not self._chain_bloom_disjoint(
                                r, parent, probe_keys
                            )
                        ):
                            return None
                parent = r
            # carry the HEAD's deletion vectors for the files this
            # rebase keeps: rivals may have DV'd rows in partitions
            # disjoint from ours, and dropping their masks would
            # resurrect deleted rows. Our own touched partitions'
            # files leave the live set (their DVs go with them).
            head_dvs = {
                f: v
                for f, v in (head.dvs or {}).items()
                if M.partition_of(f) not in touched
            }
            # no index registration survives a rebase: my delta was
            # sequenced against my base, rivals appended their own
            # deltas against theirs — neither registration covers both
            # sides' new files. Drop every slot either side registers
            # honestly (a marker for maintenance to rebuild) rather than
            # publish an index with false negatives — except a slot
            # this op dropped itself, which keeps its own marker or none.
            lost = {
                **dict.fromkeys(
                    (mine.keys() | self._index_regs(head.stats).keys())
                    - own_drops,
                    "occ_rebase",
                ),
                **self._index_regs(my_stats, _DROP_KEYS),
            }
            rebased = M.Manifest(
                commit_id=M.child_id(head.commit_id),
                op=op,
                ts=M.utc_now_iso(),
                files=M.with_new_files(
                    M.carried_files_arrow(head, touched), written
                ),
                schema_json=my_schema,
                stats={
                    **{
                        s: v
                        for s, v in my_stats.items()
                        if s not in (*_REG_KEYS, *_DROP_KEYS)
                    },
                    **self._index_stats(lost, _DROP_KEYS),
                    "rebased_onto": head.commit_id,
                },
                file_meta=written,
                dvs=head_dvs,
            )
            try:
                M.write_manifest(
                    self.path,
                    rebased,
                    base=head,
                    touched_dirs=touched,
                    new_files=list(written),
                )
                return rebased.commit_id
            except M.ConcurrentCommitError:
                continue  # another rival landed; re-audit and retry
        return None


def ingest(table: KeyedTable, batch: DataFrame) -> str:
    """The reference writer jobs' control-flow matrix
    (glue/HudiJarGlueJob.py:89-134): no key → refuse (handled in
    ``KeyedTable.__post_init__``); table exists → upsert; else →
    bulk_insert (with precombine, per the connector job's rationale at
    glue/HudiConnectorGlueJob.py:85-87)."""
    if table.exists():
        return table.upsert(batch)
    return table.bulk_insert(batch, dedupe=True)
