"""Physical-plan assertions: the scale-critical plan shapes must not
silently regress — filters reach the parquet scan, projection prunes
the blocks table's column partitions, small dimensions broadcast, and
decode reads only requested columns."""

import os
import shutil

from pyspark.sql import Row, functions as F
from pyspark.sql import types as T

SF_DIR = "/root/testdata/sf0.01"


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _optimized(df) -> str:
    return df._jdf.queryExecution().toString()


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    q = li.filter(F.col("l_shipdate") <= F.lit("2005-09-02")).select(
        "l_returnflag", "l_quantity"
    )
    plan = _plan(q)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # column pruning: the scan must not read all 16 lineitem columns
    rs = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "l_returnflag" in rs and "l_quantity" in rs
    assert "l_comment" not in rs and "l_extendedprice" not in rs


def test_small_dim_join_broadcasts(spark):
    import __spark_entry__ as em

    plan = _plan(em.q_join_topcustomers(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decode_projection_prunes_block_partitions(spark, tmp_path):
    from tokcodec.io_tables import read_encoded, write_encoded

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("a", T.IntegerType(), False),
        T.StructField("b", T.IntegerType(), False),
    ])
    df = spark.createDataFrame(
        [Row(doc_id=f"d{i}", a=i, b=-i) for i in range(100)], schema
    )
    path = os.path.join(str(tmp_path), "t")
    write_encoded(df, path, n_buckets=1, run_id="p")
    # grouped plan (with_bucket_column keeps it off the shuffle-free
    # route): explicit file list from the run manifests — unrequested
    # column b's files must not even enter the scan
    proj = read_encoded(spark, path, columns=["doc_id", "a"],
                        with_bucket_column=True)
    files = [f for f in proj.inputFiles() if "/blocks/" in f]
    assert files and all("/col-doc_id/" in f or "/col-a/" in f
                         for f in files), files
    full = read_encoded(spark, path, with_bucket_column=True)
    assert any("/col-b/" in f for f in full.inputFiles())
    # and the committed-buckets semi join stays a broadcast
    assert "BroadcastHashJoin" in _plan(proj)
    # direct-routed plan (read_encoded's default since r6): the
    # executor-side file plan must carry only the requested columns'
    # files — same pruning, enforced in the broadcast payload
    from tokcodec.io_tables import _direct_file_rows, _paths, _run_files

    frows = _direct_file_rows(_run_files(spark, path, ["p"]),
                              {"doc_id", "a"}, _paths(path)[0])
    assert frows and all("/col-doc_id/" in fp or "/col-a/" in fp
                         for _, _, fp, _, _ in frows), frows
    # the routed read itself returns exactly the projection
    assert read_encoded(spark, path, columns=["doc_id", "a"]).columns \
        == ["doc_id", "a"]


def test_zone_filter_prunes_before_decode(spark, tmp_path):
    from tokcodec.io_tables import read_encoded, write_encoded

    schema = T.StructType([
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("n", T.IntegerType(), False),
    ])
    df = spark.createDataFrame(
        [Row(doc_id=f"d{i}", n=i) for i in range(1000)], schema
    )
    path = os.path.join(str(tmp_path), "z")
    write_encoded(df, path, n_buckets=1, run_id="z", chunk_max_rows=100,
                  cluster_by="n")
    # direct-routed plan (the default): zone pruning runs executor-side
    # from the bucket's own metas — no join, no payload exchange at all
    narrow = read_encoded(spark, path, range_filter=("n", 0, 99))
    assert narrow.count() == 100
    assert "Exchange hashpartitioning" not in _plan(narrow)
    # the grouped plan (kept for chunk-subset/sample/bucket reads):
    # its zone semi-join must broadcast (tiny surviving-chunk list)
    grouped = read_encoded(spark, path, range_filter=("n", 0, 99),
                           with_bucket_column=True)
    assert grouped.count() == 100
    assert _plan(grouped).count("BroadcastHashJoin") >= 2


def test_zorder_multirange_plan_broadcasts(spark, tmp_path):
    """Multi-range conjunction over a Z-ordered table: every zone
    pass's surviving-chunk semi-join must broadcast — at 100 TB the
    surviving list is tiny relative to the blocks scan and a
    sort-merge join there would shuffle the whole blocks table per
    filter."""
    from tokcodec.io_tables import read_encoded, write_encoded

    df = spark.createDataFrame(
        [Row(doc_id=f"d{i:05d}", x=i % 32, y=i // 32, v=i)
         for i in range(1024)],
        "doc_id string, x int, y int, v int")
    path = os.path.join(str(tmp_path), "zo")
    write_encoded(df, path, n_buckets=1, run_id="z",
                  cluster_by=["x", "y"], chunk_max_rows=128)
    # direct-routed plan: both range conjuncts prune executor-side,
    # nothing shuffles and nothing sort-merges
    q = read_encoded(spark, path,
                     range_filter=[("x", 0, 7), ("y", 0, 7)])
    plan = _plan(q)
    assert "SortMergeJoin" not in plan
    assert "Exchange hashpartitioning" not in plan
    assert q.count() == 8 * 8
    # grouped plan: committed-lineage semi-join + one zone semi-join
    # per range filter, all broadcast
    g = read_encoded(spark, path,
                     range_filter=[("x", 0, 7), ("y", 0, 7)],
                     with_bucket_column=True)
    gplan = _plan(g)
    assert "SortMergeJoin" not in gplan
    assert gplan.count("BroadcastHashJoin") >= 3
    assert g.count() == 8 * 8


def test_join_encoded_one_job_no_exchange(spark, spark_jobs, tmp_path):
    """A co-bucketed join decodes and joins both sides inside the
    bucket tasks: its plan has no exchange at all and collecting it
    is ONE Spark job."""
    from tokcodec.io_tables import write_encoded
    from tokcodec.joins import join_encoded

    lp, rp = str(tmp_path / "jl"), str(tmp_path / "jr")
    write_encoded(spark.range(300).select(
        F.format_string("d%d", "id").alias("doc_id"),
        F.col("id").cast("int").alias("n")), lp, n_buckets=16,
        salt_cols=("doc_id",))
    write_encoded(spark.range(100, 400).select(
        F.format_string("d%d", "id").alias("doc_id"),
        (F.col("id") * 2).alias("m")), rp, n_buckets=16,
        salt_cols=("doc_id",))
    j = join_encoded(spark, lp, rp, on="doc_id")
    assert "Exchange" not in _plan(j)
    rows = []
    assert spark_jobs(lambda: rows.extend(j.collect())) == 1
    assert len(rows) == 200
    assert all(r.m == 2 * r.n for r in rows)


def test_media_decode_plan_no_extra_shuffle(spark):
    """media pipeline: synth -> encode -> decode -> groupBy(kind).
    Exactly the decode shuffle + the aggregation exchange — the
    feature extraction itself must not introduce one."""
    import __spark_entry__ as em

    # fresh plan: a MATERIALIZED InMemoryRelation's printed plan embeds
    # its child stage a second time (string artifact, not a runtime
    # shuffle), so drop any cache entry a previous test populated
    cached = em._DECODED_CACHE.pop(f"media::{SF_DIR}", None)
    if cached is not None:
        cached.unpersist()
    q = em.q_media_feature_stats(spark, SF_DIR)
    plan = _plan(q)
    # mapInArrow feature extraction is shuffle-free: the only SHUFFLE
    # exchanges are the decode groupBy(bucket) (inside the cached
    # decoded table's child plan) and the final aggregate; broadcast
    # exchanges (lineage semi-join) don't move payload data
    shuffles = plan.count("Exchange hashpartitioning")
    assert shuffles <= 2, (shuffles, plan)


def test_pack_sequences_single_shuffle(spark):
    """Sequence packing is one Exchange on (group, shard) + one
    FlatMapGroupsInArrow — the packer itself must never add a second
    shuffle or fall back to per-row Python."""
    from tokcodec.pack import pack_sequences

    df = spark.createDataFrame(
        [("a", 1, [1, 2, 3]), ("a", 2, [4]), ("b", 1, [5])],
        "source string, did long, tokens array<int>",
    )
    plan = _plan(pack_sequences(df, window=4, id_col="did"))
    assert "FlatMapGroupsInArrow" in plan
    assert plan.count("Exchange") == 1
    assert "BatchEvalPython" not in plan  # no per-row Python


def test_vocab_topk_partial_agg_and_topk(spark):
    """Token-frequency top-k: the explode must be absorbed by a
    map-side partial aggregate (2 HashAggregates around one exchange)
    and the final k must be TakeOrderedAndProject — never a full
    global sort of the vocabulary."""
    li = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    t = (
        li.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), "tok")
        .limit(25)
    )
    plan = _plan(t)
    assert "TakeOrderedAndProject" in plan
    assert plan.count("HashAggregate") == 2
    assert "Sort " not in plan  # top-k, not global sort
