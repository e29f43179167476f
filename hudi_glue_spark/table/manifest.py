"""Commit-timeline manifests for :class:`KeyedTable`.

The reference delegates versioning to Hudi's ``.hoodie/`` timeline
(commits retained via ``KEEP_LATEST_COMMITS``, glue/HudiJarGlueJob.py:83).
Here a commit is a small JSON sidecar under ``_commits/`` plus a set of
parquet MANIFEST SHARDS under ``_manifests/`` (the Iceberg
manifest-list / manifest-file split): the JSON names the shards, each
shard is a parquet file holding one row per (live data file, stats
column) with typed min/max. The latest commit IS the snapshot. Readers
trust only the manifest (never directory listing), which is what makes
the non-transactional file writes safe: data files land first, shards
land second, the commit-JSON rename publishes them atomically
(write-metadata-last, SURVEY.md §7 risk register).

Why shards instead of the v1 inline JSON file list:

- **O(delta) commits.** A commit REUSES every prior shard whose file
  set survives intact and writes new shards only for its delta
  (new files + survivors of broken shards). At 100 TB / ~800k files a
  partition-scoped upsert re-serializes a few thousand manifest rows,
  not a multi-hundred-MB JSON of the whole table.
- **Columnar metadata.** The file list and per-file min/max load as
  arrow columns (no per-file JSON parse) and file pruning is a
  vectorized compute over the shard table, not a Python loop
  (:meth:`Manifest.prune_range` / :meth:`Manifest.prune_isin`).
- **Engine-readable.** Shards are plain parquet: Spark (or DuckDB) can
  scan ``_manifests/`` directly — ``KeyedTable.files_df`` exposes the
  Iceberg-style ``table.files`` metadata table with zero data I/O.

Delta shards are grouped by PARTITION directory (capped fan-out), so a
later upsert that touches partition P invalidates only P's shards and
keeps reusing everyone else's — the partition-aligned-manifest property
that bounds metadata churn on a 100 TB table. v1 manifests (inline
``files``/``file_stats``) remain readable; the first v2 commit on a v1
table simply finds no reusable shards.

Filesystem access is driver-side ``os``/``pyarrow`` — manifest I/O is
metadata-scale, exactly like Hudi's driver-side timeline handling.
Porting to an object store means swapping this module's primitives for
the Hadoop FileSystem API; the layout and protocol stay the same.
"""

from __future__ import annotations

import json
import math
import os
import tempfile
import threading
import time
import zlib
from typing import NamedTuple

#: delta shards per commit are grouped by partition dir, but never more
#: than this many shard files per commit (groups hash-fold beyond it)
MAX_DELTA_SHARDS = 64
#: when a snapshot references more shards than this, the next commit
#: rewrites them into partition-grouped form (manifest compaction) —
#: bounds the shard count (and the per-read shard-open fan-out) at
#: ~MAX_TOTAL_SHARDS regardless of commit count
MAX_TOTAL_SHARDS = 256

_SHARD_SCHEMA_COLS = [
    "file",
    "col",
    "rows",
    "bytes",
    "bloom",
    "min_i",
    "max_i",
    "min_f",
    "max_f",
    "min_s",
    "max_s",
]


class FileMeta(NamedTuple):
    """Everything a manifest shard records about one data file: the
    footer row count, on-disk byte size, footer ``{col: [min, max]}``
    stats, and the serialized key bloom (``bloom.to_bytes``). Writers
    produce one per file they stage (``KeyedTable._write_files``);
    :func:`write_manifest` turns it into the file's shard rows."""

    rows: int | None = None
    bytes: int | None = None
    stats: dict | None = None
    bloom: bytes | None = None


_NO_META = FileMeta()


def _shard_schema():
    import pyarrow as pa

    return pa.schema(
        [
            ("file", pa.string()),
            ("col", pa.string()),
            ("rows", pa.int64()),
            ("bytes", pa.int64()),
            ("bloom", pa.binary()),
            ("min_i", pa.int64()),
            ("max_i", pa.int64()),
            ("min_f", pa.float64()),
            ("max_f", pa.float64()),
            ("min_s", pa.string()),
            ("max_s", pa.string()),
        ]
    )


def _encode(v) -> tuple:
    """A stats value into its typed (i, f, s) slot — exact round-trip:
    int64 stays int64 (no double rounding), floats stay float64,
    strings (ISO timestamps — lexical order == time order) stay
    strings."""
    if isinstance(v, bool):
        return int(v), None, None
    if isinstance(v, int):
        return v, None, None
    if isinstance(v, float):
        return None, v, None
    return None, None, str(v)


def _decode(i, f, s):
    if i is not None:
        return i
    if f is not None:
        return f
    return s


class Manifest:
    """One commit's metadata. Producers construct it with inline
    ``files`` plus ``file_meta`` (``{rel_file: FileMeta}`` for the
    files the commit wrote); :func:`write_manifest` shard-izes and
    publishes. Readers get lazy ``files``/``file_stats``/... backed by
    the shard parquet (cached; shards are immutable once published),
    or by ``file_meta`` for an unpublished or v1 inline manifest."""

    def __init__(
        self,
        commit_id: str,
        op: str,
        ts: str,
        schema_json: str,
        files: list[str] | None = None,
        stats: dict | None = None,
        file_meta: dict | None = None,
        shards: list[str] | None = None,
        root: str | None = None,
        n_files: int | None = None,
        dvs: dict | None = None,
    ):
        self.commit_id = commit_id
        self.op = op
        self.ts = ts
        self.schema_json = schema_json
        self.stats = stats or {}
        #: deletion vectors: {rel_file: [dv_blob_name, n_dead]} — the
        #: files of THIS snapshot whose rows are partially masked
        #: (table/dv.py). Carried forward commit-to-commit by
        #: KeyedTable._commit; O(files with DVs), bounded by
        #: maintenance folding DVs into rewrites.
        self.dvs = dvs or {}
        self.shards = shards  # None = inline/v1; list = v2 shard names
        self.root = root
        self._files = files
        self._file_meta = file_meta or {}
        self._file_stats = None
        self._per_file_cache: dict = {}
        self._n_files = n_files
        self._shard_tbl = None  # cached concatenated arrow table
        self._files_arr = None  # cached arrow file-name array
        # producers may hand the file list as an arrow array (the
        # O(delta)-Python commit path); the python-list view stays lazy
        if files is not None and not isinstance(files, list):
            self._files_arr = files
            self._files = None

    # -- lazy views --------------------------------------------------------

    @property
    def files(self) -> list[str]:
        if self._files is None:
            if self._files_arr is not None:
                self._files = self._files_arr.to_pylist()
            else:
                t = self.shard_table()
                names = t["file"].to_pylist() if t is not None else []
                self._files = sorted(set(names))
        return self._files

    @property
    def n_files(self) -> int:
        if self._n_files is not None:
            return self._n_files
        if self._files_arr is not None:
            return len(self._files_arr)
        return len(self.files)

    @property
    def file_stats(self) -> dict:
        """{rel_file: {col: [min, max]}} — reconstructed exactly from
        the typed shard columns. Loaded lazily; most paths (pruning,
        shard reuse) never need the full dict."""
        if self._file_stats is None:
            t = self.shard_table()
            if t is None:
                out = {f: m.stats for f, m in self._file_meta.items()}
            else:
                out = {}
                cols = {c: t[c].to_pylist() for c in _SHARD_SCHEMA_COLS}
                for k in range(t.num_rows):
                    c = cols["col"][k]
                    if c is None:
                        continue
                    out.setdefault(cols["file"][k], {})[c] = [
                        _decode(cols["min_i"][k], cols["min_f"][k], cols["min_s"][k]),
                        _decode(cols["max_i"][k], cols["max_f"][k], cols["max_s"][k]),
                    ]
            self._file_stats = {f: st for f, st in out.items() if st}
        return self._file_stats

    def _per_file(self, field: str) -> dict:
        """{rel_file: value} of one per-file ``FileMeta`` field — from
        the shards' ``col IS NULL`` row each file carries, or from
        ``file_meta`` when there are no shards. Files without a value
        (legacy shards, key_bloom off) are absent."""
        if field not in self._per_file_cache:
            t = self.shard_table()
            if t is None:
                pairs = (
                    (f, getattr(m, field)) for f, m in self._file_meta.items()
                )
            else:
                import pyarrow.compute as pc

                sub = t.filter(pc.is_null(t["col"]))
                pairs = zip(sub["file"].to_pylist(), sub[field].to_pylist())
            self._per_file_cache[field] = {
                f: v for f, v in pairs if v is not None
            }
        return self._per_file_cache[field]

    @property
    def file_rows(self) -> dict:
        """{rel_file: footer row count}."""
        return self._per_file("rows")

    @property
    def file_bytes(self) -> dict:
        """{rel_file: on-disk byte size} — what lets
        optimize()/compaction_report size-probe a 1M-file table from
        metadata instead of 1M stat syscalls (HEAD requests, on an
        object store). Callers fall back to stat for absent files."""
        return self._per_file("bytes")

    @property
    def file_blooms(self) -> dict:
        """{rel_file: decoded key-bloom dict} (the Hudi footer-bloom
        idiom moved into the columnar manifest): a point lookup probes
        ONE metadata load instead of opening a file per data file.
        Files without a bloom are absent — callers never skip them."""
        from hudi_glue_spark.table import bloom as B

        return {f: B.from_bytes(raw) for f, raw in self._per_file("bloom").items()}

    def total_rows(self) -> int | None:
        """Exact snapshot row count from metadata alone — the
        ``SELECT count(*)`` that never scans data. None when any live
        file lacks a recorded count (legacy shards): the caller must
        fall back to a scan rather than undercount."""
        fr = self.file_rows
        files = self.files
        if any(f not in fr for f in files):
            return None
        physical = sum(fr[f] for f in files)
        # deletion vectors mask rows inside live files; the manifest
        # records each DV's dead count, so the LIVE count stays a
        # metadata-only subtraction
        return physical - sum(nd for _name, nd in self.dvs.values())

    def files_arrow(self):
        """The snapshot's DISTINCT, SORTED file names as one arrow
        string array — the zero-Python-loop view the commit path
        carries end to end. Backed by (in order): an array a previous
        ``write_manifest`` left on this instance, the concatenated
        shard table (one C-side unique+sort), or the inline v1 list."""
        import pyarrow as pa
        import pyarrow.compute as pc

        if self._files_arr is not None:
            return self._files_arr
        if self._files is not None:
            arr = pa.array(sorted(set(self._files)), type=pa.string())
        else:
            t = self.shard_table()
            if t is None:
                arr = pa.array([], type=pa.string())
            else:
                u = pc.unique(t["file"])
                if isinstance(u, pa.ChunkedArray):
                    u = u.combine_chunks()
                arr = u.take(pc.sort_indices(u))
        self._files_arr = arr
        return arr

    def shard_table(self):
        """All shard rows as ONE arrow table (None for v1/inline
        manifests) — the columnar metadata snapshot every vectorized
        read-side operation works from."""
        if self.shards is None or self.root is None:
            return None
        if self._shard_tbl is None:
            import pyarrow as pa

            uncached = [
                s
                for s in self.shards
                if not _shard_cached(self.root, s)
            ]
            if len(uncached) > 4:
                # cold snapshot: open shards concurrently — parquet
                # footer reads are I/O-bound, and a 1M-file snapshot's
                # 64 sequential opens were ~3.4 s of pure latency
                from concurrent.futures import ThreadPoolExecutor

                with ThreadPoolExecutor(max_workers=8) as ex:
                    list(
                        ex.map(
                            lambda s: _load_shard(self.root, s), uncached
                        )
                    )
            parts = [_load_shard(self.root, s) for s in self.shards]
            self._shard_tbl = (
                pa.concat_tables(parts)
                if parts
                else _shard_schema().empty_table()
            )
        return self._shard_tbl

    # -- vectorized pruning ------------------------------------------------

    def prune_range(self, col: str, nlo, nhi) -> list[str] | None:
        """Files that may hold rows with ``nlo <= col <= nhi`` (values
        already ``_stat_value``-normalized), computed as a vectorized
        arrow filter over the shard table — no per-file Python loop.
        Returns None when there is no shard table (v1 path: caller
        falls back to the dict walk). Files without stats for ``col``
        are always kept; numeric comparisons run in float64 with a
        one-ULP guard band so int64 stats beyond 2^53 can only ever be
        kept, never wrongly skipped."""
        t = self.shard_table()
        if t is None:
            return None
        import pyarrow.compute as pc

        keep, skipped = self._range_masks(t, col, nlo, nhi)
        if keep is not None:
            # every file carries stats for ``col``: emit the keep list
            # directly — O(kept) names materialized, no membership pass
            u = pc.unique(keep)
            return sorted(u.to_pylist())
        all_arr = self.files_arrow()
        if skipped is None or len(skipped) == 0:
            return all_arr.to_pylist()
        # keep-list materializes O(kept) Python strings — never the
        # full snapshot (a time-slice probe on a 1M-file table keeps
        # ~100 names; the old set-difference built 1M)
        mask = pc.is_in(all_arr, value_set=skipped)
        return pc.filter(all_arr, pc.invert(mask)).to_pylist()

    def prune_isin(self, col: str, nvalues: list) -> list[str] | None:
        """Files that may hold ANY of ``nvalues`` — skip iff every
        value misses the file's [min, max]. One binary search of the
        sorted value list per file (O(files · log values), exact typed
        comparisons — no float casting), so a 10^4-hash IN-probe against
        an 800k-file index prunes in milliseconds driver-side. Same
        conventions as :meth:`prune_range`: None → caller falls back;
        files without stats (or with a stats type that doesn't compare
        to the probe values) are kept, never skipped."""
        t = self.shard_table()
        if t is None:
            return None
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        slim = t.select(
            ["file", "col", "min_i", "max_i", "min_f", "max_f",
             "min_s", "max_s"]
        )
        sub = slim.filter(pc.equal(slim["col"], col))
        if sub.num_rows == 0:
            return self.files_arrow().to_pylist()
        complete = sub.num_rows == self.n_files
        vals = sorted(nvalues)
        # Vectorized "∃ v ∈ vals: min ≤ v ≤ max" per stats row: one
        # numpy searchsorted over the typed min column + one comparison
        # against max — O(rows · log vals) in C, replacing the Python
        # bisect-per-file loop that dominated 1M-file point probes.
        # Exact typed comparisons where types line up; anything that
        # doesn't compare cleanly is KEPT (never wrongly skipped).
        skip_np = np.zeros(sub.num_rows, dtype=bool)
        if all(isinstance(v, str) for v in vals):
            mn = sub["min_s"].to_numpy(zero_copy_only=False)
            mx = sub["max_s"].to_numpy(zero_copy_only=False)
            have = np.array(
                [a is not None and b is not None for a, b in zip(mn, mx)]
            )
            if have.any():
                # fixed-width unicode arrays: C-speed lexicographic
                # searchsorted/compare (object dtype would fall back
                # to per-element Python compares)
                va = np.array([str(v) for v in vals])
                mnh = np.array(mn[have].tolist())
                mxh = np.array(mx[have].tolist())
                idx = np.searchsorted(va, mnh, side="left")
                hit = np.zeros(len(mnh), dtype=bool)
                inb = idx < len(va)
                hit[inb] = va[idx[inb]] <= mxh[inb]
                skip_np[have] = ~hit
        elif all(isinstance(v, (int, float)) and not isinstance(v, bool)
                 for v in vals):
            mni = sub["min_i"].to_numpy(zero_copy_only=False)
            mxi = sub["max_i"].to_numpy(zero_copy_only=False)
            mnf = sub["min_f"].to_numpy(zero_copy_only=False)
            mxf = sub["max_f"].to_numpy(zero_copy_only=False)
            # float64 comparison plane with a 2-ULP guard band on the
            # stats (int64 beyond 2^53 rounds; widening min down / max
            # up makes rounding strictly conservative — kept, never
            # wrongly skipped)
            mn = np.where(np.isnan(mni.astype("float64")), mnf, mni)
            mx = np.where(np.isnan(mxi.astype("float64")), mxf, mxi)
            mn = mn.astype("float64")
            mx = mx.astype("float64")
            have = ~(np.isnan(mn) | np.isnan(mx))
            if have.any():
                va = np.array([float(v) for v in vals], dtype="float64")
                lo = np.nextafter(np.nextafter(mn[have], -np.inf), -np.inf)
                hi = np.nextafter(np.nextafter(mx[have], np.inf), np.inf)
                idx = np.searchsorted(va, lo, side="left")
                hit = np.zeros(len(lo), dtype=bool)
                inb = idx < len(va)
                hit[inb] = va[idx[inb]] <= hi[inb]
                skip_np[have] = ~hit
        else:
            # mixed/unknown probe types: keep everything
            return self.files_arrow().to_pylist()
        if not skip_np.any():
            return self.files_arrow().to_pylist()
        farr = sub["file"]
        if isinstance(farr, pa.ChunkedArray):
            farr = farr.combine_chunks()
        if complete:
            # every file has stats for ``col``: emit kept names
            # directly — O(kept), no 1M-name membership pass
            u = pc.unique(pc.filter(farr, pa.array(~skip_np)))
            return sorted(u.to_pylist())
        all_arr = self.files_arrow()
        skipped = pc.unique(pc.filter(farr, pa.array(skip_np)))
        mask = pc.is_in(all_arr, value_set=skipped)
        return pc.filter(all_arr, pc.invert(mask)).to_pylist()

    def _range_masks(self, t, col: str, nlo, nhi):
        """(keep_files, skipped_files) for [nlo, nhi] on ``col``, both
        arrow name arrays, C-side end to end. Exactly one is non-None:
        ``keep`` when EVERY live file has a stats row for ``col`` (the
        stats_cols fast path — emit kept names directly), else
        ``skipped`` (files without stats must be united in by the
        caller). The stats filter SELECTS AWAY the bloom column first —
        filtering the full shard table would copy every file's bloom
        bytes per probe."""
        import pyarrow as pa
        import pyarrow.compute as pc

        slim = t.select(
            ["file", "col", "min_i", "max_i", "min_f", "max_f",
             "min_s", "max_s"]
        )
        sub = slim.filter(pc.equal(slim["col"], col))
        if sub.num_rows == 0:
            return None, pa.array([], type=pa.string())
        complete = sub.num_rows == self.n_files
        if isinstance(nlo, str):
            below = pc.less(sub["max_s"], nlo)
            above = pc.greater(sub["min_s"], nhi)
        else:
            lo_g = math.nextafter(float(nlo), -math.inf)
            hi_g = math.nextafter(float(nhi), math.inf)
            # unsafe cast: int64 beyond 2^53 rounds — the ULP guard
            # band above makes that rounding conservative (kept, never
            # wrongly skipped)
            mx = pc.coalesce(
                pc.cast(sub["max_i"], "float64", safe=False), sub["max_f"]
            )
            mn = pc.coalesce(
                pc.cast(sub["min_i"], "float64", safe=False), sub["min_f"]
            )
            below = pc.less(mx, lo_g)
            above = pc.greater(mn, hi_g)
        skip = pc.fill_null(pc.or_kleene(below, above), False)
        if complete:
            return sub.filter(pc.invert(skip))["file"], None
        u = pc.unique(sub.filter(skip)["file"])
        return None, (
            u.combine_chunks() if isinstance(u, pa.ChunkedArray) else u
        )

    # -- (de)serialization -------------------------------------------------

    def to_json(self) -> str:
        d = {
            "commit_id": self.commit_id,
            "op": self.op,
            "ts": self.ts,
            "schema_json": self.schema_json,
            "stats": self.stats,
        }
        if self.dvs:
            d["dvs"] = self.dvs
        if self.shards is not None:
            d["shards"] = self.shards
            d["n_files"] = self.n_files
        else:  # inline (pre-publish or legacy writer)
            d["files"] = self.files
            d["file_stats"] = self.file_stats
        return json.dumps(d, indent=1)

    @classmethod
    def from_json(cls, raw: str, root: str | None = None) -> "Manifest":
        d = json.loads(raw)
        return cls(
            commit_id=d["commit_id"],
            op=d["op"],
            ts=d["ts"],
            schema_json=d["schema_json"],
            stats=d.get("stats", {}),
            files=d.get("files"),
            file_meta={
                f: FileMeta(stats=st)
                for f, st in (d.get("file_stats") or {}).items()
            },
            shards=d.get("shards"),
            root=root,
            n_files=d.get("n_files"),
            dvs=d.get("dvs"),
        )


# -- layout ----------------------------------------------------------------


def commits_dir(root: str) -> str:
    return os.path.join(root, "_commits")


def manifests_dir(root: str) -> str:
    return os.path.join(root, "_manifests")


def data_dir(root: str) -> str:
    return os.path.join(root, "data")


def list_commit_ids(root: str) -> list[str]:
    cdir = commits_dir(root)
    if not os.path.isdir(cdir):
        return []
    return sorted(f[:-5] for f in os.listdir(cdir) if f.endswith(".json"))


def next_commit_id(root: str) -> str:
    ids = list_commit_ids(root)
    nxt = (int(ids[-1]) + 1) if ids else 1
    return f"{nxt:08d}"


def child_id(commit_id: str) -> str:
    """The commit id that must FOLLOW ``commit_id`` — what a writer that
    planned against that snapshot publishes under. Publishing under the
    planned parent's child (instead of re-reading the head at publish
    time) is what makes the optimistic-concurrency check sound: if a
    rival committed meanwhile, the child id is taken and the hard-link
    publish raises ConcurrentCommitError instead of silently clobbering
    the rival's files out of the new snapshot (lost update)."""
    return f"{int(commit_id) + 1:08d}"


def read_manifest(root: str, commit_id: str | None = None) -> Manifest | None:
    ids = list_commit_ids(root)
    if not ids:
        return None
    if commit_id is None:
        commit_id = ids[-1]
    elif commit_id not in ids:
        raise ValueError(f"unknown commit {commit_id!r}; have {ids}")
    with open(os.path.join(commits_dir(root), commit_id + ".json")) as f:
        return Manifest.from_json(f.read(), root=root)


# -- shard I/O (immutable once published → safely cached) ------------------

_SHARD_CACHE: dict = {}


def _shard_cached(root: str, name: str) -> bool:
    """Whether :func:`_load_shard` would be a cache hit (no I/O)."""
    try:
        st = os.stat(os.path.join(manifests_dir(root), name))
    except FileNotFoundError:
        return False
    return (
        os.path.abspath(root),
        name,
        st.st_mtime_ns,
        st.st_size,
    ) in _SHARD_CACHE


def _load_shard(root: str, name: str):
    import pyarrow.parquet as pq

    path = os.path.join(manifests_dir(root), name)
    st = os.stat(path)
    key = (os.path.abspath(root), name, st.st_mtime_ns, st.st_size)
    hit = _SHARD_CACHE.get(key)
    if hit is None:
        if len(_SHARD_CACHE) > 1024:
            _SHARD_CACHE.clear()
        hit = pq.read_table(path)
        import pyarrow as pa

        if "rows" not in hit.column_names:
            # shard written before per-file row counts: null-fill so
            # snapshots mixing shard generations still concat
            hit = hit.add_column(
                2,
                pa.field("rows", pa.int64()),
                pa.nulls(len(hit), pa.int64()),
            )
        if "bytes" not in hit.column_names:
            hit = hit.add_column(
                3,
                pa.field("bytes", pa.int64()),
                pa.nulls(len(hit), pa.int64()),
            )
        if "bloom" not in hit.column_names:
            hit = hit.add_column(
                4,
                pa.field("bloom", pa.binary()),
                pa.nulls(len(hit), pa.binary()),
            )
        _SHARD_CACHE[key] = hit
    return hit


_SHARD_SET_CACHE: dict = {}


def shard_file_set(root: str, name: str) -> frozenset:
    path = os.path.join(manifests_dir(root), name)
    st = os.stat(path)
    key = (os.path.abspath(root), name, st.st_mtime_ns, st.st_size)
    hit = _SHARD_SET_CACHE.get(key)
    if hit is None:
        if len(_SHARD_SET_CACHE) > 1024:
            _SHARD_SET_CACHE.clear()
        hit = frozenset(_load_shard(root, name)["file"].to_pylist())
        _SHARD_SET_CACHE[key] = hit
    return hit


_SHARD_ARR_CACHE: dict = {}


def shard_file_array(root: str, name: str):
    """The shard's DISTINCT file names as an arrow array (cached;
    shards are immutable) — the zero-copy input the vectorized reuse
    selection in :func:`write_manifest` works from."""
    import pyarrow.compute as pc

    path = os.path.join(manifests_dir(root), name)
    st = os.stat(path)
    key = (os.path.abspath(root), name, st.st_mtime_ns, st.st_size)
    hit = _SHARD_ARR_CACHE.get(key)
    if hit is None:
        if len(_SHARD_ARR_CACHE) > 1024:
            _SHARD_ARR_CACHE.clear()
        t = _load_shard(root, name)
        hit = pc.unique(t["file"])
        _SHARD_ARR_CACHE[key] = hit
    return hit


def _rows_table(rows: list[tuple]):
    """Shard rows ``(file, col|None, rows, bytes, bloom, [min, max]|None)``
    (see :func:`_stats_rows`) → a typed shard-schema arrow table."""
    import pyarrow as pa

    cols: dict[str, list] = {c: [] for c in _SHARD_SCHEMA_COLS}
    for f, c, n, by, bl, mm in rows:
        cols["file"].append(f)
        cols["col"].append(c)
        cols["rows"].append(n)
        cols["bytes"].append(by)
        cols["bloom"].append(bl)
        lo = _encode(mm[0]) if mm is not None else (None, None, None)
        hi = _encode(mm[1]) if mm is not None else (None, None, None)
        for slot, v in zip(("min_i", "min_f", "min_s"), lo):
            cols[slot].append(v)
        for slot, v in zip(("max_i", "max_f", "max_s"), hi):
            cols[slot].append(v)
    return pa.table(cols, schema=_shard_schema())


def _as_shard_schema(tbl):
    """A loaded shard table (any generation) in the current column
    order and types — what lets recovered rows concat with fresh ones."""
    return tbl.select(_SHARD_SCHEMA_COLS).cast(_shard_schema())


def _write_shard_table(root: str, name: str, tbl) -> None:
    """Write one shard. Written to a temp name then renamed; shard
    names are unique per writer attempt (commit id + random token), so
    racers and retries never overwrite each other's staged shards —
    orphans from crashed/lost attempts are GC'd by clean(); the JSON
    link is the real lock. Recovered survivor rows of broken shards
    move in as arrow columns, never through Python tuples."""
    import pyarrow.parquet as pq

    mdir = manifests_dir(root)
    os.makedirs(mdir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=mdir, suffix=".tmp")
    os.close(fd)
    try:
        pq.write_table(_as_shard_schema(tbl), tmp, compression="zstd")
        os.replace(tmp, os.path.join(mdir, name))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


_SHARD_DIRS_CACHE: dict = {}


def _shard_dirs(root: str, name: str) -> frozenset:
    """Distinct partition dirs covered by a shard (None for rootless
    files). One regex+unique kernel per shard, cached — shards are
    immutable, so a long-lived writer pays this once per shard ever."""
    import pyarrow as pa
    import pyarrow.compute as pc

    path = os.path.join(manifests_dir(root), name)
    st = os.stat(path)
    key = (os.path.abspath(root), name, st.st_mtime_ns, st.st_size)
    hit = _SHARD_DIRS_CACHE.get(key)
    if hit is None:
        if len(_SHARD_DIRS_CACHE) > 4096:
            _SHARD_DIRS_CACHE.clear()
        arr = shard_file_array(root, name)
        if isinstance(arr, pa.ChunkedArray):
            arr = arr.combine_chunks()
        dirs = pc.replace_substring_regex(
            arr, pattern="/[^/]*$", replacement=""
        )
        has_dir = pc.match_substring_regex(arr, "/")
        out = set(pc.unique(pc.filter(dirs, has_dir)).to_pylist())
        if len(arr) and not pc.all(has_dir).as_py():
            out.add(None)
        hit = frozenset(out)
        _SHARD_DIRS_CACHE[key] = hit
    return hit


def _stats_rows(files: list[str], meta: dict) -> list[tuple]:
    """One ``col IS NULL`` row per file carrying its ``FileMeta`` row
    count, byte size and key-bloom bytes, plus one row per stats
    column. A file absent from ``meta`` still gets its (all-null)
    per-file row: the shard rows ARE the snapshot's file list."""
    rows: list[tuple] = []
    for f in files:
        m = meta.get(f, _NO_META)
        rows.append((f, None, m.rows, m.bytes, m.bloom, None))
        for c in sorted(m.stats or {}):
            rows.append((f, c, None, None, None, m.stats[c]))
    return rows


def _group_delta(files: list[str]) -> list[list[str]]:
    """Partition-aligned delta grouping with capped fan-out: one shard
    per partition dir keeps future invalidation partition-scoped; the
    hash-fold beyond MAX_DELTA_SHARDS bounds small-file count. The fold
    hashes with CRC-32, not the per-process salted ``hash()``, so a
    commit's shard layout is the same in every process."""
    groups: dict[str, list[str]] = {}
    for f in sorted(files):
        groups.setdefault(partition_of(f) or "", []).append(f)
    if len(groups) <= MAX_DELTA_SHARDS:
        return [groups[k] for k in sorted(groups)]
    folded: dict[int, list[str]] = {}
    for k in sorted(groups):
        folded.setdefault(
            zlib.crc32(k.encode()) % MAX_DELTA_SHARDS, []
        ).extend(groups[k])
    return [folded[k] for k in sorted(folded)]


def _fast_shards(
    root: str,
    manifest: Manifest,
    base: Manifest,
    touched: set,
    new_files: list[str],
) -> bool:
    """O(delta) shard plan for a PARTITION-SCOPED commit: the producer
    declares its base snapshot, the partition dirs it rewrote, and its
    new files — so reuse is decided per BASE SHARD from that shard's
    (cached) partition-dir set, with zero kernels over the full file
    list. Base shards disjoint from the touched dirs are referenced
    as-is; overlapping ("broken") shards have their surviving rows
    filtered C-side and rewritten as one recovered shard — columnar in,
    columnar out, no per-row Python. Falls back (returns False) to the
    generic path when the shard census wants compaction, a shard
    vanished mid-read, or the reuse+recovery count disagrees with the
    producer's file list (safety net: the generic path recomputes
    ground truth)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    if not base.shards:
        return False
    # compaction-trigger parity with the generic path: when the census
    # of shards across retained commits is large, let the generic path
    # rewrite them into partition-grouped form
    all_shards: set[str] = set()
    for cid in list_commit_ids(root):
        m = read_manifest(root, cid)
        all_shards.update(m.shards or [])
    if len(all_shards) > MAX_TOTAL_SHARDS:
        return False
    claimed = set((read_clean_plan(root) or {}).get("shards", []))
    touched_named = sorted(d for d in touched if d is not None)
    touched_arr = pa.array(touched_named, type=pa.string())
    drop_rootless = None in touched
    chosen: list[str] = []
    rec_tables = []
    n_covered = 0
    try:
        for s in base.shards:
            dirs = _shard_dirs(root, s)
            overlap = (
                s in claimed
                or bool(dirs & set(touched_named))
                or (drop_rootless and None in dirs)
            )
            if not overlap:
                chosen.append(s)
                n_covered += len(shard_file_array(root, s))
                continue
            t = _load_shard(root, s)
            farr = t["file"]
            if isinstance(farr, pa.ChunkedArray):
                farr = farr.combine_chunks()
            fdirs = pc.replace_substring_regex(
                farr, pattern="/[^/]*$", replacement=""
            )
            has_dir = pc.match_substring_regex(farr, "/")
            dead = pc.and_(
                has_dir, pc.is_in(fdirs, value_set=touched_arr)
            )
            if drop_rootless:
                dead = pc.or_(dead, pc.invert(has_dir))
            sub = t.filter(pc.invert(dead))
            if sub.num_rows:
                rec_tables.append(sub)
                n_covered += len(pc.unique(sub["file"]))
    except FileNotFoundError:
        return False
    # invariant guard, O(1): reused+recovered must cover exactly the
    # producer's carried files (its file array minus its new files)
    carried_n = (
        len(manifest._files_arr)
        if manifest._files_arr is not None
        else len(set(manifest.files))
    ) - len(new_files)
    if n_covered != carried_n:
        return False
    import uuid

    token = uuid.uuid4().hex[:8]
    names: list[str] = []
    for k, group in enumerate(_group_delta(sorted(set(new_files)))):
        name = f"{manifest.commit_id}-{token}-{k:04d}.parquet"
        _write_shard_table(
            root, name, _rows_table(_stats_rows(group, manifest._file_meta))
        )
        names.append(name)
    if rec_tables:
        rec = pa.concat_tables(rec_tables)
        name = f"{manifest.commit_id}-{token}-rec0.parquet"
        _write_shard_table(root, name, rec)
        names.append(name)
    manifest.shards = sorted(chosen + names)
    manifest._n_files = n_covered + len(set(new_files))
    manifest._files = None
    manifest._files_arr = None
    manifest.root = root
    manifest._shard_tbl = None
    return True


def write_manifest(
    root: str,
    manifest: Manifest,
    base: Manifest | None = None,
    touched_dirs: set | None = None,
    new_files: list[str] | None = None,
) -> None:
    """Shard-ize (with cross-commit shard reuse) and atomically publish.

    When the producer supplies its commit SCOPE (``base`` snapshot,
    ``touched_dirs`` partition dirs rewritten, ``new_files``), the
    O(delta) fast path (:func:`_fast_shards`) plans shards from
    per-shard partition metadata alone — commit metadata cost is
    O(delta) in both Python AND kernel terms, so commit wall stays
    flat as the table grows 100k→1M files.

    Reuse: every shard referenced by any RETAINED commit whose file set
    (a) survives intact in this commit and (b) doesn't overlap an
    already-chosen shard is referenced as-is — zero metadata rewrite
    for those files. The uncovered delta (new files + survivors of
    broken shards) is written as fresh partition-grouped shards: new
    files' rows come from the manifest's ``file_meta``, survivors' rows
    are copied as-is from the broken shards that held them.

    Publish is atomic with optimistic concurrency: the commit JSON is
    written to a temp file then ``os.link``-ed to its final name —
    link fails with EEXIST if a concurrent writer claimed the same
    commit id, so two writers can never both believe they published
    commit N (the loser retries with the next id; its orphan shards
    are GC'd by clean()).

    A LIVE advisory lease held by another writer (see acquire_lease)
    makes the publish yield with ConcurrentCommitError BEFORE touching
    the commit dir — the OCC fairness escalation: the starving holder
    gets a quiet head, everyone else's retry loop treats the yield
    exactly like a lost race."""
    if foreign_lease_live(root):
        raise ConcurrentCommitError(
            f"yielding to the advisory commit lease at {root} "
            f"(a starving writer escalated; retry after it lands)"
        )
    if (
        manifest.shards is None
        and base is not None
        and touched_dirs is not None
    ):
        _fast_shards(root, manifest, base, touched_dirs, new_files or [])
    if manifest.shards is None:
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        # the file list stays an arrow array end to end: sorted+unique
        # as one C kernel, never a Python sort of every name
        new_arr = manifest.files_arrow()
        new_arr = (
            new_arr.combine_chunks()
            if isinstance(new_arr, pa.ChunkedArray)
            else new_arr
        )
        u = pc.unique(new_arr)
        if len(u) != len(new_arr):
            new_arr = u
        new_arr = new_arr.take(pc.sort_indices(new_arr))
        chosen: list[str] = []
        # candidate shards from every retained commit (tiny JSONs),
        # biggest first so one intact historical shard beats fragments
        seen: set[str] = set()
        cands: list[str] = []
        # Shards a published clean plan claims are OFF LIMITS for
        # reuse-by-name even if a to-be-dropped commit still references
        # them: the cleaner may unlink them between our selection and
        # our publish (the unreadable-snapshot race the plan protocol
        # closes). They remain usable as read-only STATS-RECOVERY
        # sources below (best-effort; a racing delete there degrades
        # pruning stats, never correctness) — the delta path
        # re-serializes those files' stats into fresh shards.
        claimed_shards = set(
            (read_clean_plan(root) or {}).get("shards", [])
        )
        for cid in list_commit_ids(root):
            prior = read_manifest(root, cid)
            for s in prior.shards or []:
                if s not in seen:
                    seen.add(s)
                    cands.append(s)
        # A claimed shard may vanish between listing and read (the
        # cleaner executing its plan) — drop it from candidacy instead
        # of crashing the commit; it was reuse-excluded anyway.
        cand_arrs = {}
        for s in list(cands):
            try:
                cand_arrs[s] = shard_file_array(root, s)
            except FileNotFoundError:
                cands.remove(s)
        force_compact = len(cands) > MAX_TOTAL_SHARDS
        # Vectorized reuse selection: subset/overlap tests run as ONE
        # arrow index_in per candidate shard against the new file list
        # (C string hashing) plus numpy mask ops — not a Python
        # hash-set walk over every file name. At 1M files this is the
        # difference between ~3 s and sub-second commit metadata cost.
        def _flat(a):
            return a.combine_chunks() if isinstance(a, pa.ChunkedArray) else a

        covered_np = np.zeros(len(new_arr), dtype=bool)
        if not force_compact and cands:
            # ONE index_in call: the value-set hash index over the new
            # file list builds once and every candidate's files probe
            # it together (per-candidate calls would rebuild the 1M-
            # entry index 64 times over)
            order = sorted(
                (s for s in cands if s not in claimed_shards),
                key=lambda s: -len(cand_arrs[s]),
            )
            arrs = [_flat(cand_arrs[s]) for s in order]
            big = (
                pa.concat_arrays(arrs)
                if arrs
                else pa.array([], type=pa.string())
            )
            pos_all = pc.index_in(big, value_set=new_arr).to_numpy(
                zero_copy_only=False
            )
            off = 0
            for s, a in zip(order, arrs):
                n = len(a)
                pos = pos_all[off : off + n]
                off += n
                if n == 0:
                    continue
                if np.isnan(pos).any():
                    continue  # some file no longer live → broken shard
                idx = pos.astype(np.int64)
                if covered_np[idx].any():  # overlaps a chosen shard
                    continue
                covered_np[idx] = True
                chosen.append(s)
        # the uncovered delta drops to a Python list only AFTER the
        # C-side filter — O(delta) names materialized, not O(table)
        if covered_np.any():
            delta = pc.filter(
                new_arr, pa.array(~covered_np)
            ).to_pylist()
        else:
            delta = new_arr.to_pylist()

        # Delta files this commit did not write (carried-forward
        # survivors of broken shards): recover their shard rows from
        # the shards that still hold them — filtered arrow rows, never
        # decoded and re-encoded — O(broken shards), never a full-table
        # stats load.
        meta = manifest._file_meta
        need = {f for f in delta if f not in meta}
        recovered: set[str] = set()
        parts = []
        if need:
            # Which broken shards hold the needed files: ONE C-side
            # membership pass over the concatenated candidate names —
            # never a Python frozenset of every shard's names (that
            # walk was O(table) strings per commit, the last 1M-file
            # hot spot), and no per-candidate hash-index rebuilds.
            need_arr = pa.array(sorted(need), type=pa.string())
            probe = [
                (s, _flat(cand_arrs[s]))
                for s in cands
                if cand_arrs.get(s) is not None and len(cand_arrs[s]) > 0
            ]
            hitmask = (
                pc.is_in(
                    pa.concat_arrays([a for _, a in probe]),
                    value_set=need_arr,
                ).to_numpy(zero_copy_only=False)
                if probe
                else None
            )
            off = 0
            for s, a in probe:
                m = hitmask[off : off + len(a)]
                off += len(a)
                if not m.any():
                    continue
                # a file may sit in several candidate shards: the
                # first one that still holds it wins
                hit = need & set(pc.filter(a, pa.array(m)).to_pylist())
                if not hit:
                    continue
                try:
                    t = _load_shard(root, s)
                except FileNotFoundError:
                    continue  # cleaner reclaimed it mid-recovery
                parts.append(
                    _as_shard_schema(
                        t.filter(
                            pc.is_in(
                                t["file"], value_set=pa.array(sorted(hit))
                            )
                        )
                    )
                )
                recovered |= hit
                need -= hit
                if not need:
                    break
        if need:
            # v1 parent (inline stats, no shards): one-time migration
            # read so upgrading a legacy table doesn't drop its stats
            prev = read_manifest(root)
            if prev is not None and prev.shards is None:
                old = prev.file_stats
                meta = {**meta, **{f: FileMeta(stats=old.get(f)) for f in need}}
        fresh = [f for f in delta if f not in recovered]
        tbl = pa.concat_tables([_rows_table(_stats_rows(fresh, meta)), *parts])
        # partition-grouped delta shards: rows ordered by their file's
        # position in the concatenated groups, then sliced per group
        groups = _group_delta(delta)
        order = pa.array([f for g in groups for f in g], type=pa.string())
        pos = pc.index_in(tbl["file"], value_set=order).to_numpy(
            zero_copy_only=False
        )
        idx = np.argsort(pos, kind="stable")
        tbl = tbl.take(pa.array(idx))
        ends = np.searchsorted(pos[idx], np.cumsum([len(g) for g in groups]))
        # shard names carry a per-writer random token (same reason as
        # data files: two writers racing one commit id must not
        # overwrite each other's staged shards; the loser's stay
        # orphaned until clean())
        import uuid

        token = uuid.uuid4().hex[:8]
        start = 0
        for k, end in enumerate(ends):
            name = f"{manifest.commit_id}-{token}-{k:04d}.parquet"
            _write_shard_table(root, name, tbl.slice(start, end - start))
            chosen.append(name)
            start = end
        manifest.shards = sorted(chosen)
        manifest._n_files = len(new_arr)
        manifest._files = None
        manifest._files_arr = new_arr
        manifest.root = root
        manifest._shard_tbl = None

    cdir = commits_dir(root)
    os.makedirs(cdir, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=cdir, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            f.write(manifest.to_json())
        dest = os.path.join(cdir, manifest.commit_id + ".json")
        try:
            os.link(tmp, dest)
        except FileExistsError as e:
            raise ConcurrentCommitError(
                f"commit {manifest.commit_id} already published at {root}"
            ) from e
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def referenced_shards(root: str) -> set[str]:
    out: set[str] = set()
    for cid in list_commit_ids(root):
        man = read_manifest(root, cid)
        out.update(man.shards or [])
    return out


# -- clean plan (cleaner ⇄ writer coordination through the log) ----------
#
# ``KeyedTable.clean`` is two-phase: it PUBLISHES a plan (the commits it
# will drop and the files/shards it claims for deletion) before touching
# anything, then executes it. The plan is the coordination point:
# :func:`write_manifest` refuses to reuse a shard the plan claims, so a
# writer that starts after the plan is visible can never publish a
# manifest naming a file the cleaner is about to delete — the Hudi
# clean-plan / Delta VACUUM-protocol idiom. Execution re-checks every
# claim against the commits actually live at delete time, so a writer
# that raced the plan's publication wins (its references are un-claimed)
# rather than being broken. A crashed clean leaves the plan in place and
# the next clean() resumes it (re-entrant; unlinks are idempotent).


def clean_plan_path(root: str) -> str:
    return os.path.join(root, "_cleanplan.json")


def read_clean_plan(root: str) -> dict | None:
    try:
        with open(clean_plan_path(root)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError):
        return None


def write_clean_plan(root: str, plan: dict) -> None:
    """Atomic publish (tmp + rename): writers either see the whole plan
    or no plan, never a torn one."""
    fd, tmp = tempfile.mkstemp(dir=root, suffix=".tmp")
    try:
        with os.fdopen(fd, "w") as f:
            json.dump(plan, f, indent=1)
        os.replace(tmp, clean_plan_path(root))
    finally:
        if os.path.exists(tmp):
            os.unlink(tmp)


def clear_clean_plan(root: str) -> None:
    try:
        os.unlink(clean_plan_path(root))
    except FileNotFoundError:
        pass


class ConcurrentCommitError(RuntimeError):
    """Another writer published the same commit id first."""


# -- advisory commit lease (OCC fairness escalation, r15) -----------------
#
# Pure OCC has no fairness guarantee: a writer whose read-merge-write
# takes longer than its rivals' inter-commit gap can lose EVERY race
# (the r15 long-horizon soak starved writers for 61 straight attempts,
# jittered backoff included). Hudi's answer is a lock provider for
# multi-writer tables; this engine's is an ADVISORY LEASE: after
# repeated lost races a writer claims ``_lease.json`` (O_EXCL create,
# TTL-stamped), and every rival publish YIELDS (raises
# ConcurrentCommitError) while a live foreign lease exists — so the
# holder's next attempt runs against a quiet head and must win.
#
# The lease is advisory ONLY: correctness never depends on it. The
# hard-link child-id claim in write_manifest remains the single
# serialization point — a lost/ignored/expired lease degrades to plain
# OCC, never to a lost update. TTL expiry clears a crashed holder;
# takeover guards on file age so a fresh lease is never unlinked.
# Holder identity is THREAD-local (threads are the in-process writer
# unit; separate processes coordinate through the file alone).

LEASE_NAME = "_lease.json"

_HELD = threading.local()


def lease_path(root: str) -> str:
    return os.path.join(root, LEASE_NAME)


def _held_tokens() -> dict:
    d = getattr(_HELD, "tokens", None)
    if d is None:
        d = _HELD.tokens = {}
    return d


def read_lease(root: str) -> dict | None:
    try:
        with open(lease_path(root)) as f:
            return json.load(f)
    except (FileNotFoundError, json.JSONDecodeError, OSError):
        return None


def _lease_live(lease: dict | None) -> bool:
    return (
        lease is not None
        and time.time() < lease.get("acquired_at", 0) + lease.get("ttl_s", 0)
    )


def foreign_lease_live(root: str) -> bool:
    """True when a LIVE lease exists that THIS THREAD does not hold."""
    lease = read_lease(root)
    if not _lease_live(lease):
        return False
    return lease.get("token") != _held_tokens().get(root)


def acquire_lease(root: str, token: str, ttl_s: float = 60.0) -> bool:
    """One non-blocking acquisition attempt; True = this thread holds
    the lease (recorded thread-locally so its own publishes pass)."""
    path = lease_path(root)
    lease = read_lease(root)
    if _lease_live(lease):
        if lease.get("token") == _held_tokens().get(root) == token:
            return True  # re-entrant refresh
        return False
    # dead or absent: guarded takeover — unlink only a file whose age
    # exceeds its TTL (a fresh rival lease is never removed)
    try:
        st = os.stat(path)
        ttl = (lease or {}).get("ttl_s", ttl_s)
        if time.time() - st.st_mtime > ttl:
            os.unlink(path)
    except FileNotFoundError:
        pass
    except OSError:
        return False
    try:
        fd = os.open(path, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        json.dump(
            {"token": token, "acquired_at": time.time(), "ttl_s": ttl_s},
            f,
        )
    _held_tokens()[root] = token
    return True


def release_lease(root: str, token: str) -> None:
    """Release if still ours; expired/taken-over leases are left to
    their new owner. Always clears the thread-local record."""
    held = _held_tokens()
    if held.get(root) == token:
        del held[root]
    lease = read_lease(root)
    if lease is not None and lease.get("token") == token:
        try:
            os.unlink(lease_path(root))
        except FileNotFoundError:
            pass


def utc_now_iso() -> str:
    return time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())


# Hive's path-escaping rules (subset): these chars are %-encoded in
# partition directory names; Spark writes the same layout via partitionBy.
_HIVE_ESCAPE = set('"#%\'*/:=?\\{[]^\x7f') | {chr(c) for c in range(0x20)}


def hive_escape(value: str) -> str:
    return "".join(f"%{ord(c):02X}" if c in _HIVE_ESCAPE else c for c in value)


def hive_unescape(value: str) -> str:
    out, i = [], 0
    while i < len(value):
        if value[i] == "%" and i + 3 <= len(value):
            try:
                out.append(chr(int(value[i + 1 : i + 3], 16)))
                i += 3
                continue
            except ValueError:
                pass
        out.append(value[i])
        i += 1
    return "".join(out)


def hive_dirname(col: str, value) -> str:
    """Directory name Spark/Hive produce for one partition value."""
    if value is None:
        return f"{col}=__HIVE_DEFAULT_PARTITION__"
    if isinstance(value, bool):
        value = str(value).lower()
    return f"{col}={hive_escape(str(value))}"


def partition_of(rel_file: str) -> str | None:
    """Partition directory of a manifest-relative file path, or None."""
    head = os.path.dirname(rel_file)
    return head or None


def carried_files_arrow(man: Manifest, exclude_dirs: set[str]):
    """The snapshot's file names MINUS those living in ``exclude_dirs``
    (partition dirs being rewritten), as an arrow array — the
    vectorized replacement for ``[f for f in man.files if
    partition_of(f) not in touched]``. On an ~800k-file table that
    Python loop (regex dirname per file) was the last O(files)
    per-commit driver cost; here dirname extraction, membership, and
    filtering are three C-side kernels over the columnar name array."""
    import pyarrow as pa
    import pyarrow.compute as pc

    arr = man.files_arrow()
    if not exclude_dirs:
        return arr
    dirs = pc.replace_substring_regex(arr, pattern="/[^/]*$", replacement="")
    has_dir = pc.match_substring_regex(arr, "/")
    named = sorted(d for d in exclude_dirs if d is not None)
    drop = (
        pc.and_(
            has_dir,
            pc.is_in(dirs, value_set=pa.array(named, type=pa.string())),
        )
        if named
        else pa.array([False] * len(arr), type=pa.bool_())
    )
    if None in exclude_dirs:  # rootless files of an unpartitioned table
        drop = pc.or_(drop, pc.invert(has_dir))
    return pc.filter(arr, pc.invert(drop))


def partition_dirs(man: Manifest) -> set:
    """Distinct partition dirs of the snapshot (None for rootless
    files) — vectorized over the columnar name array."""
    import pyarrow.compute as pc

    arr = man.files_arrow()
    if len(arr) == 0:
        return set()
    dirs = pc.replace_substring_regex(arr, pattern="/[^/]*$", replacement="")
    has_dir = pc.match_substring_regex(arr, "/")
    out = set(pc.unique(pc.filter(dirs, has_dir)).to_pylist())
    if not pc.all(has_dir).as_py():
        out.add(None)
    return out


def with_new_files(carried, new_files: list[str]):
    """Concatenate a carried arrow file array with this commit's new
    file names — the commit path's O(delta)-Python file-list builder."""
    import pyarrow as pa

    flat = (
        carried.combine_chunks()
        if isinstance(carried, pa.ChunkedArray)
        else carried
    )
    if not new_files:
        return flat
    return pa.concat_arrays(
        [flat, pa.array(sorted(new_files), type=pa.string())]
    )
