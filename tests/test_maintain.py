"""Incremental maintenance (operators/maintain.py): delta runs must be
query-equivalent to a monolithic rebuild, idempotent per generation,
and compaction must fold them back into one sorted base — the
reference's k-way merge (lqt.cu:36-91) as table maintenance."""

import pyspark.sql.functions as F

from linear_quadtree_spark import DEFAULT_BOUNDS
from linear_quadtree_spark.operators.build import LQTTable
from linear_quadtree_spark.operators.maintain import (
    append_run,
    compact,
    list_runs,
    load_with_runs,
    merge_runs,
    stream_ingest,
)
from linear_quadtree_spark.operators.spatial import bbox_query
from linear_quadtree_spark.sources.synth import geotagged_docs

BBOX = (1010.0, 1060.0, 1005.0, 1055.0)


def _pts(spark, sf_dir):
    return geotagged_docs(spark, sf_dir).select("doc_id", "x", "y")


def _ids(df):
    return sorted(r["doc_id"] for r in df.select("doc_id").collect())


def test_merged_runs_equal_monolithic_build(spark, sf_dir):
    pts = _pts(spark, sf_dir)
    base_rows = pts.filter(F.col("doc_id") % 3 != 0)
    delta_rows = pts.filter(F.col("doc_id") % 3 == 0)

    mono = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id", persist=False)
    base = LQTTable.build(base_rows, DEFAULT_BOUNDS, tiebreaker="doc_id", persist=False)
    run = LQTTable.build(delta_rows, DEFAULT_BOUNDS, tiebreaker="doc_id",
                         num_partitions=2, persist=False)
    merged = merge_runs(base, run)

    # content identity: same rows, same keys
    full_m = merged.main.unionByName(merged.side)
    full_o = mono.main.unionByName(mono.side)
    assert full_m.count() == full_o.count()
    assert (
        full_m.select("doc_id", "zkey", "zs", "zlvl")
        .exceptAll(full_o.select("doc_id", "zkey", "zs", "zlvl"))
        .count()
        == 0
    )

    # query identity through the pruned fast path
    assert _ids(bbox_query(merged, *BBOX)) == _ids(bbox_query(mono, *BBOX))


def test_append_run_roundtrip_and_idempotent_gen(spark, sf_dir, tmp_path):
    pts = _pts(spark, sf_dir)
    path = str(tmp_path / "lqt")
    base_rows = pts.filter(F.col("doc_id") % 4 != 0)
    d1 = pts.filter((F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 8 == 0))
    d2 = pts.filter((F.col("doc_id") % 4 == 0) & (F.col("doc_id") % 8 != 0))

    LQTTable.build(base_rows, DEFAULT_BOUNDS, tiebreaker="doc_id",
                   persist=False).save(path)
    g0 = append_run(d1, path, tiebreaker="doc_id", num_partitions=2)
    g1 = append_run(d2, path, tiebreaker="doc_id", num_partitions=2)
    assert [g0, g1] == [0, 1] == list_runs(path)

    merged = load_with_runs(spark, path, tiebreaker="doc_id")
    n_total = pts.count()
    assert merged.main.count() + merged.side.count() == n_total

    # replaying a batch into its own gen replaces, never duplicates
    append_run(d2, path, tiebreaker="doc_id", num_partitions=2, gen=1)
    merged = load_with_runs(spark, path, tiebreaker="doc_id")
    assert merged.main.count() + merged.side.count() == n_total

    # merged view answers queries exactly like a monolithic build
    mono = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id", persist=False)
    assert _ids(bbox_query(merged, *BBOX)) == _ids(bbox_query(mono, *BBOX))


def test_compact_folds_runs_into_single_sorted_base(spark, sf_dir, tmp_path):
    pts = _pts(spark, sf_dir)
    path = str(tmp_path / "lqt")
    LQTTable.build(
        pts.filter(F.col("doc_id") % 2 == 0), DEFAULT_BOUNDS,
        tiebreaker="doc_id", persist=False,
    ).save(path)
    append_run(pts.filter(F.col("doc_id") % 2 == 1), path,
               tiebreaker="doc_id", num_partitions=2)

    folded = compact(spark, path, tiebreaker="doc_id", num_partitions=4)
    assert folded == 1
    assert list_runs(path) == []

    after = LQTTable.load(spark, path, DEFAULT_BOUNDS, tiebreaker="doc_id")
    assert after.main.count() + after.side.count() == pts.count()

    # post-compaction base is one globally re-leveled sorted relation:
    # per-file zs runs are non-decreasing (the reference's merged array)
    from pyspark.sql import Window

    loaded = spark.read.parquet(f"{path}/main")
    w = Window.partitionBy(F.input_file_name()).orderBy(F.monotonically_increasing_id())
    viol = (
        loaded.select("zs", F.lag("zs").over(w).alias("prev"))
        .filter(F.col("prev").isNotNull() & (F.col("zs") < F.col("prev")))
        .count()
    )
    assert viol == 0

    mono = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id", persist=False)
    assert _ids(bbox_query(after, *BBOX)) == _ids(bbox_query(mono, *BBOX))


def test_stream_ingest_builds_runs_per_microbatch(spark, sf_dir, tmp_path):
    pts = _pts(spark, sf_dir)
    src = str(tmp_path / "src")
    out = str(tmp_path / "lqt")
    ckpt = str(tmp_path / "ckpt")
    # 3 input files → maxFilesPerTrigger=1 forces ≥3 micro-batches
    pts.repartition(3).write.parquet(src)
    LQTTable.build(
        pts.limit(0), DEFAULT_BOUNDS, tiebreaker="doc_id",
        num_partitions=1, persist=False,
    ).save(out)

    stream = (
        spark.readStream.schema(pts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    stream_ingest(stream, out, ckpt, tiebreaker="doc_id", num_partitions=1)

    assert len(list_runs(out)) >= 3
    merged = load_with_runs(spark, out, tiebreaker="doc_id")
    assert merged.main.count() + merged.side.count() == pts.count()
    mono = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id", persist=False)
    assert _ids(bbox_query(merged, *BBOX)) == _ids(bbox_query(mono, *BBOX))


def _store_with_runs(pts, path):
    """A saved base (doc_id % 3 == 0) plus two delta runs (== 1, == 2)."""
    LQTTable.build(pts.filter(F.col("doc_id") % 3 == 0), DEFAULT_BOUNDS,
                   tiebreaker="doc_id", persist=False).save(path)
    for r in (1, 2):
        append_run(pts.filter(F.col("doc_id") % 3 == r), path,
                   tiebreaker="doc_id", num_partitions=2)


def _sql_execution_ids(spark) -> set[int]:
    it = spark._jsparkSession.sharedState().statusStore().executionsList().iterator()
    out = set()
    while it.hasNext():
        out.add(int(it.next().executionId()))
    return out


def test_load_with_runs_is_one_scan_per_relation(spark, sf_dir, tmp_path):
    """Base + 2 runs load as ONE multi-path parquet scan per relation,
    paying at most one schema-inference job (from the base main)."""
    pts = _pts(spark, sf_dir)
    path = str(tmp_path / "lqt")
    _store_with_runs(pts, path)

    sc = spark.sparkContext
    group = "load_with_runs-probe"
    sc.setJobGroup(group, "count the jobs load_with_runs starts")
    try:
        merged = load_with_runs(spark, path, tiebreaker="doc_id")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 1

    full = merged.main.unionByName(merged.side)
    plan = full._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan parquet") == 2, plan
    assert plan.count("InMemoryFileIndex(3 paths)") == 2, plan
    assert full.count() == pts.count()
    mono = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id", persist=False)
    assert _ids(bbox_query(merged, *BBOX)) == _ids(bbox_query(mono, *BBOX))


def test_compact_resorts_stored_keys_without_reencoding(spark, sf_dir, tmp_path):
    """Compaction runs no Python UDF; every stored key still equals the
    reference encode of its row's (x, y)."""
    import numpy as np

    from linear_quadtree_spark.functions.encode import zorder_encode_np, zs_from_zkey

    pts = _pts(spark, sf_dir)
    path = str(tmp_path / "lqt")
    _store_with_runs(pts, path)

    before = _sql_execution_ids(spark)
    assert compact(spark, path, tiebreaker="doc_id", num_partitions=4) == 2
    store = spark._jsparkSession.sharedState().statusStore()
    plans = [
        store.execution(eid).get().physicalPlanDescription()
        for eid in sorted(_sql_execution_ids(spark) - before)
    ]
    assert plans and not any("ArrowEvalPython" in p for p in plans)

    rows = (
        spark.read.parquet(f"{path}/main")
        .unionByName(spark.read.parquet(f"{path}/side"))
        .select("x", "y", "zkey", "zs", "zlvl")
        .toPandas()
    )
    assert len(rows) == pts.count()
    zkey, zlvl = zorder_encode_np(rows.x.to_numpy(), rows.y.to_numpy(), DEFAULT_BOUNDS)
    assert (rows.zkey.to_numpy() == zkey.view(np.int64)).all()
    assert (rows.zs.to_numpy() == zs_from_zkey(zkey)).all()
    assert (rows.zlvl.to_numpy() == zlvl).all()


def _files_sorted(spark, rel_path) -> bool:
    """Every file's rows are non-decreasing in (zs, doc_id), in file order."""
    last: dict[str, tuple] = {}
    rows = spark.read.parquet(rel_path).select(
        F.input_file_name().alias("f"), "zs", "doc_id"
    ).collect()
    for f, zs, k in rows:
        if f in last and (zs, k) < last[f]:
            return False
        last[f] = (zs, k)
    return True


def test_compact_salt_auto_and_single_partition(spark, sf_dir, tmp_path):
    """The stored-key compaction covers both range_sort branches: a hot
    cell under salt="auto" (the salted range shuffle) and
    num_partitions=1 (one coalesced, locally sorted file)."""
    hot = spark.range(600).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit(1012.3456).cast("float").alias("x"),
        F.lit(1037.789).cast("float").alias("y"),
    )
    base = _pts(spark, sf_dir)
    pts = base.unionByName(hot.select(*[F.col(c).cast(base.schema[c].dataType)
                                        for c in base.columns]))
    mono = LQTTable.build(pts, DEFAULT_BOUNDS, tiebreaker="doc_id", persist=False)
    rect = (1010.0, 1015.0, 1035.0, 1040.0)
    expected = _ids(bbox_query(mono, *rect))
    assert len(expected) >= 600

    for name, kw in (("auto", {"salt": "auto"}), ("one", {"num_partitions": 1})):
        path = str(tmp_path / name)
        _store_with_runs(pts, path)
        if name == "auto":
            stored = load_with_runs(spark, path, tiebreaker="doc_id").main
            parts = 2 * spark.sparkContext.defaultParallelism
            assert LQTTable.detect_salt(stored, parts) > 1
        assert compact(spark, path, tiebreaker="doc_id", **kw) == 2
        assert list_runs(path) == []
        after = LQTTable.load(spark, path, DEFAULT_BOUNDS, tiebreaker="doc_id")
        assert after.main.count() + after.side.count() == pts.count()
        assert _files_sorted(spark, f"{path}/main")
        if name == "one":
            assert after.main.rdd.getNumPartitions() == 1
        assert _ids(bbox_query(after, *rect)) == expected
