"""Plan audits: prove the engine produces the plans it claims —
pushdown reaches the scan, projections prune, dims broadcast, the
table layer compacts small files. (SURVEY.md §4 inventory.)"""

from __future__ import annotations

from pyspark.sql import functions as F

from hudi_glue_spark.plans.inspect import (
    assert_broadcast_join,
    explain_str,
    pushed_filters,
    scan_read_schema,
)


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    from hudi_glue_spark.queries import table

    df = table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_orderkey")
    pf = pushed_filters(df)
    assert any("o_orderpriority" in f for f in pf), pf


def test_column_pruning(spark, sf_dir):
    from hudi_glue_spark.queries import table

    df = table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    cols = scan_read_schema(df)
    assert set(cols) == {"l_orderkey", "l_quantity"}, cols


def test_q3_broadcasts_dimension(spark):
    from hudi_glue_spark.analytics_queries import q_tpch_q3_shipping_priority

    df = q_tpch_q3_shipping_priority(spark, "/root/testdata/sf0.001")
    assert_broadcast_join(df)


def test_band_join_is_broadcast_not_cartesian(spark):
    from hudi_glue_spark.temporal_queries import q_events_value_band_join

    df = q_events_value_band_join(spark, "/root/testdata/sf0.001")
    txt = explain_str(df)
    assert "BroadcastNestedLoopJoin" in txt
    assert "CartesianProduct" not in txt


def test_text_stats_whole_stage_codegen(spark, sf_dir):
    """The text surface must stay JVM-side: a narrow projection over
    the scan with no Python evaluation anywhere. (The higher-order
    array expressions themselves don't whole-stage-codegen — Spark
    evaluates them interpreted — but they never leave the JVM.)

    r15: the query widens a narrow scan before the heavy per-row
    expressions (ensure_parallelism — a no-op at real scale), so ONE
    round-robin repartition exchange is allowed; any OTHER exchange
    (an aggregation/join shuffle) would still be a structural bug in
    a pure projection."""
    import re

    from hudi_glue_spark.llm_queries import q_text_stats_per_doc

    df = q_text_stats_per_doc(spark, sf_dir)
    # execute THIS df's own query execution once (collect, not a
    # derived count/write): with an exchange in the plan AQE kicks in,
    # and the pre-execution explain of an AdaptiveSparkPlan carries no
    # codegen ids — the FINAL plan does
    df.collect()
    txt = explain_str(df)
    assert "codegen id" in txt
    assert "EvalPython" not in txt
    exchanges = re.findall(r"Exchange (\w+)", txt)
    assert all(p == "RoundRobinPartitioning" for p in exchanges), exchanges
    assert len(exchanges) <= 1, exchanges


def test_optimize_compacts_small_files(spark, tmp_path):
    from hudi_glue_spark.queries import table
    from hudi_glue_spark.table import KeyedTable

    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "event_type", "value", "ts"
    )
    tbl = KeyedTable(
        str(tmp_path / "t"), key="event_id", precombine="ts",
        partition_by="event_type",
    )
    # force many tiny files: bypass the write-path repartition
    tbl.save_meta()
    written = tbl._write_files(ev.repartition(16), "00001", repartition=False)
    tbl._commit("bulk_insert", list(written), ev.schema, written)
    import hudi_glue_spark.table.manifest as M

    before = M.read_manifest(tbl.path)
    assert len(before.files) > 5 * 5  # ~16 files × 5 partitions

    cid = tbl.optimize(spark, target_file_mb=128)
    assert cid is not None
    after = M.read_manifest(tbl.path)
    assert len(after.files) <= 5  # one chunky file per partition
    # identical content, and the pre-optimize commit still time-travels
    got = tbl.read(spark).select("event_id", "value")
    assert got.exceptAll(ev.select("event_id", "value")).isEmpty()
    old = tbl.read(spark, at=tbl.commits()[0])
    assert old.count() == ev.count()
    # idempotent: nothing left to compact
    assert tbl.optimize(spark, target_file_mb=128) is None


def test_optimize_sort_by_tightens_file_ranges(spark, tmp_path):
    """Clustered compaction: after optimize(sort_by=[ts]) each file
    covers a contiguous ts range, so a narrow read_range scans fewer
    files than before clustering."""
    import datetime

    from pyspark.sql import Row
    from hudi_glue_spark.table import KeyedTable
    import hudi_glue_spark.table.manifest as M

    rows = [
        Row(pk=i, val=f"v{i}",
            update_ts=datetime.datetime(2026, 1, 1) + datetime.timedelta(hours=i))
        for i in range(200)
    ]
    t = KeyedTable(str(tmp_path / "t"), key="pk", precombine="update_ts")
    t.save_meta()
    # interleave timestamps across many small files (hash layout)
    df = spark.createDataFrame(rows).repartition(8)
    written = t._write_files(df, "x", repartition=False)
    t._commit("bulk_insert", list(written), df.schema, written)
    lo = datetime.datetime(2026, 1, 1, 0)
    hi = datetime.datetime(2026, 1, 1, 23)
    assert len(t.files_in_range("update_ts", lo, hi)) == 8  # no pruning
    assert t.optimize(
        spark, target_file_mb=0.001, small_file_mb=10, sort_by=["update_ts"]
    ) is not None
    man = M.read_manifest(t.path)
    pruned = t.files_in_range("update_ts", lo, hi)
    assert len(pruned) < len(man.files), (len(pruned), len(man.files))
    got = {r["pk"] for r in t.read_range(spark, "update_ts", lo, hi).collect()}
    assert got == set(range(24))


def test_bucketed_join_avoids_shuffle(spark, tmp_path):
    """Bucketing = the co-located-join path for repeated fact⋈fact joins
    at 100 TB: two tables bucketed on the join key by the same bucket
    count join WITHOUT any Exchange in the plan (zero shuffle), while the
    same join on plain parquet shuffles both sides."""
    from hudi_glue_spark.queries import table

    wh = spark.conf.get("spark.sql.warehouse.dir")
    ev = table(spark, "/root/testdata/sf0.001", "events").select(
        "event_id", "user_id", "value"
    )
    spark.sql("DROP TABLE IF EXISTS b_left")
    spark.sql("DROP TABLE IF EXISTS b_right")
    ev.write.bucketBy(8, "user_id").sortBy("user_id").saveAsTable("b_left")
    ev.groupBy("user_id").count().write.bucketBy(8, "user_id").saveAsTable(
        "b_right"
    )
    try:
        # MERGE hint forces the sort-merge path (a tiny right side would
        # otherwise broadcast) — with matching bucketing there must be
        # NO shuffle exchange on either side.
        j = spark.table("b_left").join(
            spark.table("b_right").hint("merge"), "user_id"
        )
        txt = explain_str(j)
        assert "Exchange hashpartitioning" not in txt, txt[:2000]
        assert j.count() == ev.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_left")
        spark.sql("DROP TABLE IF EXISTS b_right")
    assert wh is not None


def test_optimize_zorder_prunes_both_dimensions(spark, tmp_path):
    """Z-order clustering: after optimize(zorder_by=[x, y]) a narrow
    range read on EITHER column scans a strict subset of the files —
    1-D sorting can only deliver that for its own sort column."""
    from pyspark.sql import Row
    from hudi_glue_spark.table import KeyedTable
    import hudi_glue_spark.table.manifest as M

    # 32x32 grid, hash-scattered over 16 files: every file spans the
    # full range of both x and y before clustering
    rows = [Row(pk=i, x=float(i % 32), y=float(i // 32)) for i in range(1024)]
    t = KeyedTable(
        str(tmp_path / "t"), key="pk", precombine="x", stats_cols=["x", "y"]
    )
    t.save_meta()
    df = spark.createDataFrame(rows).repartition(16)
    written = t._write_files(df, "x0", repartition=False)
    t._commit("bulk_insert", list(written), df.schema, written)
    assert len(t.files_in_range("x", 0.0, 3.0)) == 16  # no pruning yet
    assert len(t.files_in_range("y", 0.0, 3.0)) == 16

    assert t.optimize(
        spark, target_file_mb=0.002, small_file_mb=10, zorder_by=["x", "y"]
    ) is not None
    man = M.read_manifest(t.path)
    nx = len(t.files_in_range("x", 0.0, 3.0))
    ny = len(t.files_in_range("y", 0.0, 3.0))
    assert nx < len(man.files), (nx, len(man.files))
    assert ny < len(man.files), (ny, len(man.files))
    # content unchanged
    got = {(r.pk, r.x, r.y) for r in t.read(spark).collect()}
    assert got == {(r.pk, r.x, r.y) for r in rows}
    # exact results on a 2-D slice
    sl = t.read_range(spark, "x", 0.0, 3.0).filter(F.col("y") <= 3.0)
    assert sl.count() == 16


def test_zorder_key_never_negative_with_many_columns(spark):
    """bits must clamp so the interleaved key stays below bit 63 (the
    sign bit): 4 columns at the default bits=16 would otherwise push
    the last column's high bit to position 63 and sort those rows
    FIRST."""
    from pyspark.sql import Row
    from hudi_glue_spark.functions.zorder import zorder_key

    rows = [
        Row(a=float(i), b=float(i * 7 % 100), c=float(i * 13 % 100), d=float(i * 29 % 100))
        for i in range(100)
    ]
    df, key = zorder_key(spark.createDataFrame(rows), ["a", "b", "c", "d"])
    assert df.filter(F.col(key) < 0).count() == 0
    # high-d rows must sort AFTER low-d rows on average, not first
    hi_d = df.orderBy(key).tail(10)
    assert sum(r.d for r in hi_d) / 10 > 50


def test_ensure_parallelism_no_rdd_probe(spark, tmp_path):
    """ensure_parallelism must widen a narrow file scan and leave
    non-file (post-shuffle) plans untouched — using only inputFiles()
    metadata, never a DataFrame→RDD conversion."""
    from hudi_glue_spark.plans.parallelism import ensure_parallelism

    p = str(tmp_path / "one_file")
    spark.range(1000).coalesce(1).write.parquet(p)
    narrow = spark.read.parquet(p)
    widened = ensure_parallelism(narrow, min_partitions=8)
    assert "Exchange RoundRobinPartitioning(8)" in widened._jdf.queryExecution().toString() or \
        widened.rdd.getNumPartitions() == 8

    derived = spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count()
    same = ensure_parallelism(derived, min_partitions=8)
    assert same is derived  # no-op object identity: no repartition added


def test_relevance_broadcasts_vocabulary(spark, sf_dir):
    """TF-IDF: the vocabulary-sized df table must broadcast back onto
    the term-doc counts (scoring shuffle-free after the tf agg), and
    relevance stays JVM-side (no Python stage)."""
    from hudi_glue_spark.llm_queries import q_tf_idf_top_terms

    df = q_tf_idf_top_terms(spark, sf_dir)
    txt = explain_str(df)
    assert "BroadcastHashJoin" in txt
    assert "EvalPython" not in txt


def test_knn_expr_variants_broadcast_query_side(spark, sf_dir):
    """The oracle-grade ANN variants keep the right join shape: query
    side broadcast, corpus never shuffled for the candidate join, and
    zero Python stages (ordered folds are JVM expressions)."""
    from hudi_glue_spark.llm_queries import q_knn_lsh, q_knn_ivf

    for q in (q_knn_lsh, q_knn_ivf):
        txt = explain_str(q(spark, sf_dir))
        assert "BroadcastHashJoin" in txt, q.__name__
        assert "EvalPython" not in txt, q.__name__


def test_external_read_prunes_partitions(spark, sf_dir):
    """The external catalog table is partition-discovered: a filter on
    the partition column must prune at planning time (partition count
    in the scan, no partition filter left in the data filters)."""
    from hudi_glue_spark.scenario_queries import q_external_engine_read

    q_external_engine_read(spark, sf_dir)  # builds + registers the table
    df = spark.table("kt_external_demo").filter(F.col("event_type") == "click")
    txt = explain_str(df)
    assert "PartitionFilters" in txt
    part_section = txt.split("PartitionFilters")[1].split("]")[0]
    assert "event_type" in part_section, part_section


def test_ivf_index_persists_cells_and_prunes_files(spark, sf_dir):
    """build_ivf_index materializes __cid into range-clustered files:
    (a) the search-time corpus plan reads __cid FROM THE SCAN — no
    assignment fold/UDF stage — with the probe IN-filter pushed down;
    (b) manifest min/max skip files for a small probe set; (c) results
    equal assign-per-query knn_ivf exactly (same centroids)."""
    import shutil

    from hudi_glue_spark.operators import similarity as S
    from hudi_glue_spark.queries import table
    from hudi_glue_spark.table import KeyedTable
    import hudi_glue_spark.table.manifest as M

    emb = table(spark, sf_dir, "embeddings")
    root = "/tmp/hgs_test_ivfidx"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="vec_id", precombine="vec_id")
    tbl.bulk_insert(emb)
    cents = S.ivf_centroids(emb, "vec_id", "embedding", n_centroids=8)
    tbl.build_ivf_index(spark, "embedding", centroids=cents)

    man = M.read_manifest(root)
    assert man.op == "index"
    assert man.stats["vector_index"]["cell_col"] == "__cid"
    # (b) manifest pruning: a 2-cell probe must skip most files
    pruned = tbl.files_isin("__cid", [0, 1])
    assert 0 < len(pruned) < len(man.files)

    queries = emb.filter(F.col("vec_id") < 5)
    out = S.ivf_search_indexed(spark, tbl, queries, "vec_id", k=5, nprobe=2)
    # (a) corpus side: __cid comes from the parquet scan (pushed IN
    # filter), and no Python/fold assignment runs over the corpus —
    # the only aggregate() folds in the plan are the broadcast
    # query-side probes, which sit under the BroadcastExchange.
    txt = explain_str(out)
    assert "EvalPython" not in txt
    assert any(
        "__cid" in seg[:400] for seg in txt.split("PushedFilters")[1:]
    ), "probe IN-filter on __cid not pushed to any scan"

    base = S.knn_ivf(
        queries, emb, "vec_id", "embedding", k=5, nprobe=2,
        assigner="expr", centroids=cents,
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))


def test_ivf_index_maintained_through_upsert(spark, sf_dir):
    """A mutating commit after the index MAINTAINS it: upsert assigns
    the incoming rows with the index's stored centroids and carries
    the registration, so the maintained search equals a from-scratch
    rebuild — never stale, never silently missing new rows."""
    import shutil

    from hudi_glue_spark.operators import similarity as S
    from hudi_glue_spark.queries import table
    from hudi_glue_spark.table import KeyedTable

    emb = table(spark, sf_dir, "embeddings")
    root = "/tmp/hgs_test_ivfidx_stale"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="vec_id", precombine="vec_id")
    tbl.bulk_insert(emb.filter(F.col("vec_id") >= 8).limit(64))
    cents = S.ivf_centroids(emb.limit(64), "vec_id", "embedding", n_centroids=4)
    tbl.build_ivf_index(spark, "embedding", centroids=cents)
    assert tbl.vector_index() is not None
    late = emb.filter(F.col("vec_id") < 8)
    tbl.upsert(late)
    assert tbl.vector_index() is not None  # maintained, not dropped
    # new rows carry real assignments equal to assigning with the
    # stored centroids from scratch
    snap = tbl.read(spark)
    got = {r.vec_id: r["__cid"] for r in snap.filter(F.col("vec_id") < 8).collect()}
    want = {
        r.vec_id: r["__cid"]
        for r in S.ivf_assign_expr(late, "embedding", cents)
        .select("vec_id", "__cid")
        .collect()
    }
    assert got == want and all(v is not None for v in got.values())
    # maintained search == search over a freshly rebuilt index
    queries = emb.filter(F.col("vec_id") < 3)
    maintained = S.ivf_search_indexed(spark, tbl, queries, "vec_id", k=5)
    tbl.build_ivf_index(spark, "embedding", centroids=cents)
    rebuilt = S.ivf_search_indexed(spark, tbl, queries, "vec_id", k=5)
    assert sorted(map(tuple, maintained.collect())) == sorted(
        map(tuple, rebuilt.collect())
    )


def test_curation_pipeline_shuffle_budget(spark, sf_dir):
    """The composed pipeline's corpus side crosses a BOUNDED number of
    exchanges (fingerprint window, gram-hit count, final agg) and the
    benchmark side rides broadcasts — composition must not multiply
    shuffles as stages are added."""
    from hudi_glue_spark.pipeline_queries import q_curation_pipeline_end_to_end

    import re

    txt = explain_str(q_curation_pipeline_end_to_end(spark, sf_dir))
    shuffles = set(re.findall(r"(?<!Broadcast)Exchange \((\d+)\)", txt))
    bcasts = set(re.findall(r"BroadcastExchange \((\d+)\)", txt))
    assert len(shuffles) <= 5, f"shuffle count grew: {sorted(shuffles)}\n{txt}"
    assert len(bcasts) >= 2, txt
    assert "CartesianProduct" not in txt


def test_lsh_index_persists_buckets_and_matches_per_query(spark, sf_dir):
    """build_lsh_index materializes every table's bucket column: (a)
    the search-time corpus plan reads buckets FROM THE SCAN — the only
    dot-product folds left sit on the broadcast query side; (b) results
    equal bucket-per-query knn_lsh exactly (same seeded plane family);
    (c) a mutating commit MAINTAINS the index (bucket columns computed
    for the new rows from the stored plane family)."""
    import shutil

    from hudi_glue_spark.operators import similarity as S
    from hudi_glue_spark.queries import table
    from hudi_glue_spark.table import KeyedTable
    import hudi_glue_spark.table.manifest as M

    emb = table(spark, sf_dir, "embeddings")
    root = "/tmp/hgs_test_lshidx"
    shutil.rmtree(root, ignore_errors=True)
    tbl = KeyedTable(root, key="vec_id", precombine="vec_id")
    tbl.bulk_insert(emb)
    tbl.build_lsh_index(spark, "embedding", dim=64, n_planes=4, n_tables=8)

    man = M.read_manifest(root)
    assert man.op == "index"
    idx = man.stats["vector_index"]
    assert idx["kind"] == "lsh" and len(idx["bucket_cols"]) == 8

    queries = emb.filter(F.col("vec_id") < 5)
    out = S.lsh_search_indexed(spark, tbl, queries, "vec_id", k=5)
    # (a) corpus side reads persisted buckets: the generated plan's
    # corpus branch scans __lshb columns, and every aggregate() fold
    # (query-side hashing) sits under the broadcast
    txt = explain_str(out)
    assert "__lshb0" in txt
    assert "EvalPython" not in txt

    base = S.knn_lsh(
        queries, emb, "vec_id", "embedding", k=5,
        n_planes=4, n_tables=8, bucketer="expr", dim=64,
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, base.collect()))

    # (c) maintained after ingest: a NEW key gets non-NULL buckets
    # computed from the stored plane family, and the registration
    # survives the upsert
    new_rows = emb.limit(1).withColumn("vec_id", F.col("vec_id") + F.lit(10_000_000))
    tbl.upsert(new_rows)
    assert tbl.vector_index() is not None
    got = (
        tbl.read(spark)
        .filter(F.col("vec_id") >= 10_000_000)
        .select(*idx["bucket_cols"])
        .collect()[0]
    )
    assert all(got[c] is not None for c in idx["bucket_cols"])
    out2 = S.lsh_search_indexed(spark, tbl, queries, "vec_id", k=5)
    assert out2.count() > 0


def test_sql_pruned_point_range_plans(spark, sf_dir):
    """The dual-path pruned-read query's two claims, plan-level:
    (a) the manifest/bloom API paths physically open a strict subset of
    the table's files (inputFiles, not just the boolean in the query);
    (b) the SQL path pushes the key predicate into the parquet scan of
    the registered view (PushedFilters carries event_id)."""
    from hudi_glue_spark.scenario_queries import (
        _PRUNE_HI,
        _PRUNE_KEYS,
        _PRUNE_LO,
        _pruned_table,
    )

    tbl = _pruned_table(spark, sf_dir)
    all_files = set(tbl.read(spark).inputFiles())
    assert len(all_files) == 8

    point_files = set(tbl.read_keys(spark, _PRUNE_KEYS).inputFiles())
    isin_files = set(tbl.read_isin(spark, "event_id", _PRUNE_KEYS).inputFiles())
    range_files = set(
        tbl.read_range(spark, "event_id", _PRUNE_LO, _PRUNE_HI).inputFiles()
    )
    for sub in (point_files, isin_files, range_files):
        assert sub and sub < all_files, (len(sub), len(all_files))

    tbl.register(spark, "kt_pruned_plan_test")
    keys_sql = ", ".join(map(str, _PRUNE_KEYS))
    df = spark.sql(
        f"SELECT event_id FROM kt_pruned_plan_test WHERE event_id IN ({keys_sql})"
    )
    pf = pushed_filters(df)
    assert any("event_id" in f for f in pf), pf


def test_curated_output_zorder_prunes(spark, sf_dir):
    """The curation pipeline's persisted output is z-order clustered:
    a one-source slice and a quality-band slice each physically open a
    strict subset of the table's files (inputFiles-level, backing the
    booleans the curated_pruned_scan query hash-checks)."""
    from hudi_glue_spark.pipeline_queries import (
        _CURATED_Q_HI,
        _CURATED_Q_LO,
        _CURATED_SRC,
        _curated_table,
    )

    tbl = _curated_table(spark, sf_dir)
    all_files = set(tbl.read(spark).inputFiles())
    assert len(all_files) > 1
    src_files = set(tbl.read_isin(spark, "src_num", [_CURATED_SRC]).inputFiles())
    q_files = set(
        tbl.read_range(spark, "quality", _CURATED_Q_LO, _CURATED_Q_HI).inputFiles()
    )
    assert src_files and src_files < all_files, (len(src_files), len(all_files))
    assert q_files and q_files < all_files, (len(q_files), len(all_files))


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    """Both sides bucketed by the join key with equal bucket counts →
    EnsureRequirements must insert no Exchange anywhere in the join
    subplan, and the query's self-reported driver-fact boolean must
    agree with the result rows it emits."""
    from hudi_glue_spark.analytics_queries import q_bucketed_colocated_join

    df = q_bucketed_colocated_join(spark, sf_dir)
    rows = df.collect()
    assert len(rows) == 5
    assert all(r["join_exchange_free"] for r in rows)

    # independent re-check on the registered bucketed tables
    import hashlib
    import os

    tag = (
        os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
        + "_"
        + hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:8]
    )
    bo = spark.table(f"bkt_orders_{tag}")
    bl = spark.table(f"bkt_lineitem_{tag}")
    joined = bo.join(bl.hint("merge"), bo["o_orderkey"] == bl["l_orderkey"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    assert "SortMergeJoin" in plan, plan


def test_keyword_index_prunes_term_files(spark, sf_dir):
    """The inverted-index lookup must open a strict subset of the
    postings table's files (term range-clustering + manifest min/max),
    and the search result must equal a direct text scan."""
    from hudi_glue_spark.llm_queries import _KW_TERMS, _kw_index, q_keyword_search_indexed
    from hudi_glue_spark.operators.text import words
    from hudi_glue_spark.queries import table
    from hudi_glue_spark.table import manifest as M

    tbl = _kw_index(spark, sf_dir)
    n_files = len(M.read_manifest(tbl.path).files)
    hit = tbl.files_isin("term", _KW_TERMS)
    assert 0 < len(hit) < n_files, (len(hit), n_files)

    got = {
        r["doc_id"] for r in q_keyword_search_indexed(spark, sf_dir).collect()
    }
    docs = table(spark, sf_dir, "documents")
    w = words("text")
    want = {
        r["doc_id"]
        for r in docs.filter(
            F.array_contains(w, _KW_TERMS[0]) & F.array_contains(w, _KW_TERMS[1])
        ).collect()
    }
    assert got == want and got
