"""Record-level-index stress: point-lookup and upsert-tagging cost,
bloom probe vs RLI, as the live-file count grows.

Usage: PYTHONPATH=/root/repo python tools/rli_stress.py [rows] [rows_per_file]

Builds a table of `rows` rows fragmented into ~rows/rows_per_file
files (the many-small-files regime where driver-side bloom decoding
is the bottleneck), then times:

- files_with_keys (manifest bloom probe, O(live files) driver work)
- files_hosting_keys (RLI span-pruned probe)
- read_keys end to end through each path
- build_record_index, per-commit delta cost, compaction
"""

from __future__ import annotations

import json
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F

from hudi_glue_spark.session import get_spark
from hudi_glue_spark.table import KeyedTable
from hudi_glue_spark.table import manifest as M


def best3(fn):
    vals = []
    for _ in range(3):
        t0 = time.monotonic()
        fn()
        vals.append(time.monotonic() - t0)
    return round(min(vals), 3)


def reg_spill_tier(n_indexes: int = 10, n_commits: int = 100) -> None:
    """§9d#1 evidence: commit JSON size stays FLAT under many column
    indexes × a long un-compacted delta chain (the span maps spill to
    parquet sidecars past REG_SPILL_BYTES; only pointers ride the
    JSON). Usage: python tools/rli_stress.py regspill [indexes] [commits]."""
    import os

    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    root = "/tmp/rli_regspill"
    shutil.rmtree(root, ignore_errors=True)
    t = KeyedTable(root, key="pk", precombine="ts", partition_by="part")
    cols = [f"c{i}" for i in range(n_indexes)]
    base = spark.range(0, 20_000).select(
        F.col("id").alias("pk"),
        (F.col("id") % 4).cast("string").alias("part"),
        F.col("id").alias("ts"),
        *[(F.col("id") * (i + 2)).alias(c) for i, c in enumerate(cols)],
    )
    t.bulk_insert(base)
    for c in cols:
        t.build_column_index(spark, c)
    sizes: list[int] = []
    walls: list[float] = []
    for i in range(n_commits):
        batch = spark.range(0, 50).select(
            (F.col("id") + i * 50).alias("pk"),
            ((F.col("id") + i) % 4).cast("string").alias("part"),
            F.lit(100_000 + i).alias("ts"),
            *[
                (F.col("id") * (j + 2) + 1).alias(c)
                for j, c in enumerate(cols)
            ],
        )
        t0 = time.monotonic()
        t.upsert_dv(batch)
        walls.append(time.monotonic() - t0)
        cid = t.commits()[-1]
        sizes.append(
            os.path.getsize(
                os.path.join(M.commits_dir(root), cid + ".json")
            )
        )
    out = {
        "indexes": n_indexes,
        "commits": n_commits,
        "json_first_kb": round(sizes[0] / 1024, 1),
        "json_median_kb": round(sorted(sizes)[len(sizes) // 2] / 1024, 1),
        "json_max_kb": round(max(sizes) / 1024, 1),
        "json_last_kb": round(sizes[-1] / 1024, 1),
        "commit_wall_first5_s": round(sum(walls[:5]) / 5, 2),
        "commit_wall_last5_s": round(sum(walls[-5:]) / 5, 2),
    }
    # correctness spot-checks through the packed chain
    man = M.read_manifest(root)
    for c in cols[:2]:
        reg = t.column_index_info(c)
        assert reg["deltas"], c
        raw = (man.stats or {}).get("column_indexes")[c]
        out.setdefault("packed", {})[c] = "ref" in raw
    hosts = t.files_hosting_values(spark, cols[0], [2])
    assert hosts is not None
    # maintenance folds every over-threshold index through the pointers
    t0 = time.monotonic()
    t.run_maintenance(spark)
    out["maintenance_fold_s"] = round(time.monotonic() - t0, 2)
    out["post_fold_json_kb"] = round(
        os.path.getsize(
            os.path.join(M.commits_dir(root), t.commits()[-1] + ".json")
        )
        / 1024,
        1,
    )
    probs = [p for p in t.validate() if "cleanable" not in p]
    out["validate_problems"] = probs
    print(json.dumps(out, indent=2))


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1] == "regspill":
        reg_spill_tier(
            int(sys.argv[2]) if len(sys.argv) > 2 else 10,
            int(sys.argv[3]) if len(sys.argv) > 3 else 100,
        )
        return
    rows = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    per_file = int(sys.argv[2]) if len(sys.argv) > 2 else 2_000
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    out: dict = {"rows": rows, "rows_per_file": per_file}

    root = "/tmp/rli_stress"
    shutil.rmtree(root, ignore_errors=True)
    t = KeyedTable(
        root,
        key="pk",
        precombine="ts",
        partition_by="part",
        stats_cols=["pk", "ts"],
        key_bloom=True,
    )
    df = spark.range(0, rows).select(
        F.col("id").alias("pk"),
        (F.col("id") % 8).cast("string").alias("part"),
        F.col("id").alias("ts"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    spark.conf.set(
        "spark.sql.files.maxRecordsPerFile", str(per_file)
    )
    t.bulk_insert(df)
    spark.conf.unset("spark.sql.files.maxRecordsPerFile")
    man = M.read_manifest(root)
    out["n_files"] = man.n_files

    t0 = time.monotonic()
    t.build_record_index(spark)
    out["build_s"] = round(time.monotonic() - t0, 2)
    reg = t.record_index_info()
    out["base_segments"] = len(reg["base"])

    probes = [i * (rows // 16) + 1 for i in range(16)]
    out["bloom_probe_s"] = best3(lambda: t.files_with_keys(probes))
    out["rli_probe_s"] = best3(lambda: t.files_hosting_keys(spark, probes))
    out["rli_hosts"] = len(t.files_hosting_keys(spark, probes))
    out["bloom_hosts"] = len(t.files_with_keys(probes))

    # end-to-end point lookup (RLI path is the default when registered)
    out["read_keys_rli_s"] = best3(
        lambda: t.read_keys(spark, probes).count()
    )

    # per-commit delta cost: a 1k-row DV upsert on the indexed table
    batch = spark.range(0, 1_000).select(
        (F.col("id") * (rows // 1_000)).alias("pk"),
        ((F.col("id") * (rows // 1_000)) % 8).cast("string").alias("part"),
        F.lit(10 * rows).alias("ts"),
        F.lit("x" * 64).alias("payload"),
    )
    t0 = time.monotonic()
    t.upsert_dv(batch)
    out["upsert_dv_with_index_s"] = round(time.monotonic() - t0, 2)
    reg = t.record_index_info()
    out["delta_segments"] = len(reg["deltas"])

    # moved keys resolve through the delta
    moved = [0, rows // 1_000 * 7]
    got = t.read_keys(spark, moved)
    assert got.count() == len(moved)
    out["compact_s"] = None
    t0 = time.monotonic()
    assert t.compact_record_index(spark) is not None
    out["compact_s"] = round(time.monotonic() - t0, 2)
    out["post_compact_probe_s"] = best3(
        lambda: t.files_hosting_keys(spark, probes)
    )

    # secondary-index tier: ts is pk (scattered across every file's
    # span after hive partitioning by pk%8 — min/max pruning keeps ~all
    # files for a narrow ts probe); the column index resolves hosts
    sec_probe = [i * (rows // 16) + 3 for i in range(16)]
    out["sec_stats_only_files"] = len(t.files_isin("ts", sec_probe))
    out["sec_read_isin_no_index_s"] = best3(
        lambda: t.read_isin(spark, "ts", sec_probe).count()
    )
    t0 = time.monotonic()
    t.build_column_index(spark, "ts")
    out["sec_build_s"] = round(time.monotonic() - t0, 2)
    out["sec_index_files"] = len(
        t.files_hosting_values(spark, "ts", sec_probe)
    )
    out["sec_read_isin_indexed_s"] = best3(
        lambda: t.read_isin(spark, "ts", sec_probe).count()
    )
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
