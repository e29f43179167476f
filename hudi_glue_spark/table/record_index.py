"""Record-level index: a persisted key→file index (Hudi 1.0
record-level-index parity; ↦ the record-key tagging the reference
delegates to ``hoodie.index.type`` inside the Hudi JARs,
glue/HudiJarGlueJob.py:83).

The index is an LSM-shaped parquet dataset under ``<root>/_rli/``:

- **base** segments — the snapshot's ``(key, file, seq)`` entries,
  globally sorted by key so every segment covers a tight key span
  (recorded from the parquet footer in the commit registration);
- **delta** segments — one small sorted run per mutating commit,
  covering ONLY that commit's freshly written files (O(changed rows),
  appended by ``KeyedTable._commit``'s central hook);
- the **registration** — ``{key, seq, base: {name: span},
  deltas: {name: span}}`` — rides each commit's manifest stats, so
  rollback / time travel restore the exact index state of the target
  snapshot for free and ``clean()`` GCs segments referenced by no
  retained commit (the deletion-vector lifecycle, applied to index
  files).

SEMANTICS — a pruning index with a superset guarantee, the same
stance as the manifest stats and key blooms: every live row's
``(key, host file)`` pair appears in some segment (base covers the
build-time snapshot; every later commit's new files get a delta), so
``entries(key) ∩ live-files`` is a SUPERSET of the key's true hosts.
Entries pointing at removed files are filtered against the manifest's
live set at lookup time; entries pointing at live files that no
longer hold the key's visible row (a DV-masked original) cost one
pruned read, never correctness — the exact key filter re-applies
after the scan. No "latest entry wins" reduction is needed, which
also keeps the index correct for tables holding duplicate keys
(``bulk_insert(dedupe=False)``).

At 100 TB the difference is the probe shape: the manifest bloom probe
decodes O(live files) filters driver-side per lookup, while the RLI
prunes by key span to a handful of sorted segments and answers with
an executor-side scan of O(probe-span) index bytes — and a
100M-row upsert batch tags its candidate files with one distributed
join against the index instead of a driver loop.
"""

from __future__ import annotations

import os
import shutil

RLI_SUBDIR = "_rli"


def rli_dir(root: str) -> str:
    return os.path.join(root, RLI_SUBDIR)


def list_segments(root: str) -> list[str]:
    d = rli_dir(root)
    if not os.path.isdir(d):
        return []
    return sorted(fn for fn in os.listdir(d) if fn.endswith(".parquet"))


def write_entries(
    df,
    root: str,
    cid: str,
    key_col: str,
    max_records_per_file: int | None = None,
    single_segment: bool = False,
) -> dict[str, list | None]:
    """Stage ``df`` (``key, file, seq``) as sorted parquet segments and
    move them under ``_rli/`` with commit-prefixed, writer-token names
    (the data-file staging idiom — segments are immutable once moved;
    the REGISTRATION in the commit manifest is the publish point, so a
    failed commit leaves only unreferenced orphans for clean()).
    Returns ``{segment_name: [key_lo, key_hi] | None}`` with spans read
    from the parquet footer — no extra scan."""
    import uuid

    from hudi_glue_spark.table.keyed_table import _parquet_footer_stats

    token = uuid.uuid4().hex[:8]
    stage = os.path.join(root, ".tmp", f"rli-{cid}-{token}")
    shutil.rmtree(stage, ignore_errors=True)
    # ``single_segment``: a SMALL delta (the per-commit advance path
    # gates on the new files' on-disk bytes) sorts within one task —
    # one Spark job producing one globally-sorted, exactly-spanned
    # segment. A global sort() pays a range-partitioner SAMPLING job
    # before the write: two jobs of fixed cost per commit for a
    # delta that fits a single task anyway (r16, guide §5). Large
    # builds/compactions keep the parallel global sort.
    ordered = (
        df.coalesce(1).sortWithinPartitions(key_col)
        if single_segment
        else df.sort(key_col)
    )
    w = ordered.write.mode("overwrite")
    if max_records_per_file:
        w = w.option("maxRecordsPerFile", str(max_records_per_file))
    w.parquet(stage)

    out: dict[str, list | None] = {}
    d = rli_dir(root)
    os.makedirs(d, exist_ok=True)
    i = 0
    for fn in sorted(os.listdir(stage)):
        if not fn.endswith(".parquet"):
            continue
        src = os.path.join(stage, fn)
        n, st = _parquet_footer_stats(src, [key_col])
        if n == 0:
            continue  # empty task output: nothing to index
        name = f"{cid}-{token}-{i:05d}.parquet"
        os.replace(src, os.path.join(d, name))
        out[name] = st.get(key_col)
        i += 1
    shutil.rmtree(stage, ignore_errors=True)
    return out


#: a registration whose base+deltas span maps exceed this many bytes
#: of JSON moves them into a parquet sidecar under ``_rli/``, leaving
#: only a pointer in the commit stats — the Iceberg metadata-tree
#: move the manifest shards already made (SURVEY §9d#1): without it a
#: table carrying several column indexes through a long un-compacted
#: delta chain grows EVERY commit's JSON linearly in O(indexes ×
#: chain length). Per-registration bound, so the commit JSON ceiling
#: is ~indexes × this; 1 KiB keeps a 10-index table's commits near
#: their no-index size (measured: max 12 KB over a 100-commit chain,
#: vs 63 KB at a 4 KiB bound and unbounded growth before the spill).
REG_SPILL_BYTES = 1024


def _reg_sidecar_name(cid: str) -> str:
    import uuid

    return f"{cid}-{uuid.uuid4().hex[:8]}-reg.parquet"


def pack_reg(root: str, cid: str, reg: dict | None) -> dict | None:
    """Spill a big registration's span maps to a parquet sidecar and
    return the pointer form ``{key, seq, ref, n_base, n_deltas}``;
    small registrations (and pointers already packed by a parent
    commit whose maps didn't change) pass through untouched. The
    sidecar is immutable and lives in ``_rli/`` so the existing
    segment lifecycle (clean GC by retained-commit reference,
    rollback restore, validate audit) covers it for free."""
    import json

    if reg is None or "ref" in reg:
        return reg
    base = reg.get("base") or {}
    deltas = reg.get("deltas") or {}
    if len(json.dumps({"b": base, "d": deltas})) <= REG_SPILL_BYTES:
        return reg
    import pyarrow as pa
    import pyarrow.parquet as pq

    rows_kind, rows_name, rows_span = [], [], []
    for kind, m in (("base", base), ("delta", deltas)):
        for name in sorted(m):
            rows_kind.append(kind)
            rows_name.append(name)
            span = m[name]
            rows_span.append(None if span is None else json.dumps(span))
    t = pa.table(
        {
            "kind": pa.array(rows_kind, pa.string()),
            "name": pa.array(rows_name, pa.string()),
            "span_json": pa.array(rows_span, pa.string()),
        }
    )
    d = rli_dir(root)
    os.makedirs(d, exist_ok=True)
    ref = _reg_sidecar_name(cid)
    tmp = os.path.join(d, f".tmp-{ref}")
    pq.write_table(t, tmp)
    os.replace(tmp, os.path.join(d, ref))
    return {
        "key": reg["key"],
        "seq": reg["seq"],
        "ref": ref,
        "n_base": len(base),
        "n_deltas": len(deltas),
    }


def resolve_reg(root: str, reg: dict | None) -> dict | None:
    """Materialize a (possibly packed) registration: pointers load
    their sidecar's span maps; plain registrations pass through. Every
    reader of ``man.stats['record_index' | 'column_indexes']`` goes
    through here."""
    import json

    if reg is None or "ref" not in reg:
        return reg
    import pyarrow.parquet as pq

    t = pq.read_table(os.path.join(rli_dir(root), reg["ref"]))
    base: dict = {}
    deltas: dict = {}
    for kind, name, span in zip(
        t.column("kind").to_pylist(),
        t.column("name").to_pylist(),
        t.column("span_json").to_pylist(),
    ):
        (base if kind == "base" else deltas)[name] = (
            None if span is None else json.loads(span)
        )
    return {"key": reg["key"], "seq": reg["seq"], "base": base, "deltas": deltas}


def reg_file_names(
    root: str, reg: dict | None, strict: bool = False
) -> set[str]:
    """Every ``_rli/`` file a registration keeps alive: its segments
    (resolving a pointer's sidecar when needed) plus the sidecar
    itself — the lifecycle unit clean()/validate() track.

    ``strict=True`` (the clean() liveness pass) PROPAGATES a sidecar
    resolve failure instead of degrading to ``{ref}``: a transiently
    unreadable sidecar (EIO, partial copy) must make the caller skip
    its ``_rli`` sweep, not treat every still-referenced segment as
    unreferenced and unlink live index files (ADVICE r10)."""
    if reg is None:
        return set()
    out: set[str] = set()
    if "ref" in reg:
        out.add(reg["ref"])
        try:
            reg = resolve_reg(root, reg)
        except Exception:  # noqa: BLE001 — sidecar gone
            if strict:
                raise
            return out  # audit contexts report the miss; don't crash
    out.update(reg.get("base") or {})
    out.update(reg.get("deltas") or {})
    return out


def prune_spans(
    segments: dict[str, list | None], ranges: list | None
) -> list[str]:
    """Segment names that may hold a value in ANY of the normalized
    ``(lo, hi)`` ranges (an isin probe is ``(v, v)``; None keeps every
    segment): span-intersected driver-side (the registration is
    O(segments), hundreds of entries, so plain Python beats shipping it
    anywhere). Segments without a recorded span are always kept —
    pruning must never be load-bearing for correctness."""
    return sorted(
        name
        for name, span in segments.items()
        if ranges is None
        or span is None
        or None in span
        or any(not (span[1] < lo or span[0] > hi) for lo, hi in ranges)
    )


def n_deltas(reg: dict | None) -> int:
    """Delta runs stacked on a registration — a packed pointer carries
    the count inline, so deciding a fold reads no sidecar."""
    if reg is None:
        return 0
    if "ref" in reg:
        return int(reg.get("n_deltas") or 0)
    return len(reg.get("deltas") or {})


def entries_df(spark, root: str, names: list[str], key_field):
    """Scan the named index segments under the CURRENT key type (a
    widened key upcasts in place, same as data files) — schema
    ``(key, file, seq)``."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            key_field,
            StructField("file", StringType(), False),
            StructField("seq", LongType(), False),
        ]
    )
    d = rli_dir(root)
    if not names:
        # an empty relation the optimizer folds away: a lookup whose
        # probes every segment span misses launches no Spark job
        return spark.createDataFrame([], schema).limit(0)
    return spark.read.schema(schema).parquet(
        *[os.path.join(d, n) for n in names]
    )
