"""Bucketed co-located join: same keys + same bucket count → the join
plan has no shuffle, and results equal the plain join."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_repartition_watermark_example_spark.sources.tables import load_table
from flink_repartition_watermark_example_spark.storage import colocated_join, write_bucketed


@pytest.fixture(scope="module")
def bucketed(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").withColumnRenamed(
        "l_orderkey", "o_orderkey"
    )
    write_bucketed(o, "orders_b", ["o_orderkey"], 8)
    write_bucketed(l, "lineitem_b", ["o_orderkey"], 8)
    yield
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")


def test_colocated_join_has_no_shuffle(spark, bucketed):
    """With broadcast ruled out (the at-scale case: both sides too big
    to broadcast), the bucketed join must be a shuffle-free SMJ reading
    the bucket layout."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = colocated_join(spark, "orders_b", "lineitem_b", ["o_orderkey"]).select(
            "o_orderkey", "o_totalprice", "l_extendedprice"
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "Exchange" not in plan, f"bucketed join must not shuffle:\n{plan[:2000]}"
    assert "Bucketed: true" in plan, f"scan did not use buckets:\n{plan[:2000]}"


def test_colocated_join_matches_plain(spark, sf_dir, bucketed):
    j = colocated_join(spark, "orders_b", "lineitem_b", ["o_orderkey"])
    n_bucketed = j.count()
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    n_plain = o.join(l, o.o_orderkey == l.l_orderkey).count()
    assert n_bucketed == n_plain
    rev_b = j.agg(
        F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s")
    ).first().s
    rev_p = (
        o.join(l, o.o_orderkey == l.l_orderkey)
        .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,2)")).alias("s"))
        .first()
        .s
    )
    assert rev_b == rev_p


def test_salted_agg_matches_plain_groupby(spark):
    """Two-stage salted aggregation must be value-identical to the
    plain hash agg — salting only changes the shuffle shape, never the
    result (scale.py: the hot-key mitigation AQE does not provide for
    aggregations)."""
    from pyspark.sql import functions as F

    from flink_repartition_watermark_example_spark.scale import salted_agg

    # 90% of rows on one hot key — the shape that makes one straggler
    rows = [("hot" if i % 10 else f"k{i}", i % 97, i) for i in range(20_000)]
    df = spark.createDataFrame(rows, ["key", "v", "ident"])
    got = salted_agg(
        df,
        ["key"],
        {
            "n": ("count", None),
            "sum_v": ("sum", "v"),
            "min_id": ("min", "ident"),
            "max_id": ("max", "ident"),
        },
    )
    want = df.groupBy("key").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("v").alias("sum_v"),
        F.min("ident").alias("min_id"),
        F.max("ident").alias("max_id"),
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))


def test_compact_parquet_merges_small_files(spark, tmp_path):
    """Many tiny files in, ceil(bytes/target) files out, content
    identical (row-level, order-insensitive)."""
    import glob

    from flink_repartition_watermark_example_spark.storage import compact_parquet

    src = str(tmp_path / "small")
    dst = str(tmp_path / "compact")
    df = spark.range(0, 10_000).withColumn("k", F.col("id") % 7)
    df.repartition(40).write.parquet(src)
    assert len(glob.glob(src + "/part-*.parquet")) == 40

    n = compact_parquet(spark, src, dst, target_file_mb=512)
    out_files = glob.glob(dst + "/part-*.parquet")
    assert n == 1 and len(out_files) == 1  # 10k ints ≪ 512 MB
    got = sorted(map(tuple, spark.read.parquet(dst).collect()))
    want = sorted(map(tuple, df.collect()))
    assert got == want


def test_zorder_layout_localizes_both_columns(spark, tmp_path):
    """Z-ordered files must have far tighter per-file bounding boxes on
    (x, y) than a shuffled layout — the property parquet min/max
    skipping exploits on BOTH columns; values must survive unchanged."""
    from flink_repartition_watermark_example_spark.storage import write_zordered

    n, files = 1 << 14, 16
    df = (
        spark.range(n)
        .withColumn("x", (F.col("id") * 2654435761 % n))  # pseudo-shuffled
        .withColumn("y", (F.col("id") * 40503 % n))
        .select("x", "y")
    )
    p = str(tmp_path / "zorder")
    write_zordered(df, p, "x", "y", num_files=files)

    back = spark.read.parquet(p)
    assert back.count() == n
    assert back.agg(F.sum("x")).first()[0] == df.agg(F.sum("x")).first()[0]

    spans = (
        back.groupBy(F.col("_metadata.file_path").alias("f"))
        .agg(
            (F.max("x") - F.min("x")).alias("sx"),
            (F.max("y") - F.min("y")).alias("sy"),
        )
        .agg(F.avg("sx").alias("ax"), F.avg("sy").alias("ay"))
        .first()
    )
    # random layout would span ~n on both axes in every file; the
    # Morton layout must cut the average per-file span on each axis
    # to well under half the domain.
    assert spans.ax < n / 2 and spans.ay < n / 2, spans


def test_bucketed_join_tree_no_orderkey_exchange(spark, sf_dir):
    """The bucketed twin must (a) hash-match the plain join tree and
    (b) probe the raw lineitem scan through its orderkey hash join
    with NO exchange above either bucketed fact scan — the layout
    paid the shuffle at write time (there is no fact-side pre-agg:
    the reduction happens in the post-join O(nations) partial agg)."""
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES

    bucketed = EXTRA_QUERIES["multi_join_revenue_bucketed"].spark(spark, sf_dir)
    plain = QUERIES["multi_join_revenue"].spark(spark, sf_dir)
    got = sorted(map(tuple, bucketed.collect()))
    assert got == sorted(map(tuple, plain.collect())) and got

    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    assert "Bucketed: true" in plan, plan

    # idempotent: a second invocation reuses the materialized tables
    from flink_repartition_watermark_example_spark import artifacts

    def bucketed():
        return {
            k: v for k, v in artifacts._MEMO.items()
            if k.kind == "bucketed_table"
        }

    before = bucketed()
    again = EXTRA_QUERIES["multi_join_revenue_bucketed"].spark(spark, sf_dir)
    assert sorted(map(tuple, again.collect())) == got
    assert bucketed() == before and before


def test_bucketed_q8_tree_no_orderkey_exchange(spark, sf_dir):
    """The bucketed Q8 twin must hash-match the plain tree and join
    the two fact arms via a shuffled HASH join with no exchange above
    either bucketed fact scan and no sort anywhere — both the
    orderkey exchange AND the SMJ sorts were sf100 superlinear terms."""
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES

    bucketed = EXTRA_QUERIES["nation_market_share_bucketed"].spark(spark, sf_dir)
    plain = QUERIES["nation_market_share"].spark(spark, sf_dir)
    got = sorted(map(tuple, bucketed.collect()))
    assert got == sorted(map(tuple, plain.collect())) and got

    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    assert "Bucketed: true" in plan, plan
    assert "ShuffledHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_bucketed_table_cross_session_reuse_is_metadata_only(spark, sf_dir):
    """A later SESSION must not re-pay the bucketed write: when the
    bucket files already exist (_SUCCESS present), bucketed_table
    registers them with CLUSTERED BY DDL — and the DDL-registered
    table must scan bucketed with identical rows (at sf100 the rewrite
    is a 600M-row shuffle+sort+write that once OOMed the sweep heap)."""
    from flink_repartition_watermark_example_spark import artifacts, storage

    nb = storage.suggest_buckets(sf_dir, "lineitem")
    name = storage.bucketed_table(spark, sf_dir, "lineitem", ["l_orderkey"], nb)
    before = spark.table(name).groupBy().agg(
        F.count(F.lit(1)), F.sum("l_orderkey")
    ).collect()

    # simulate a fresh session: catalog entry and memo gone, files kept
    spark.sql(f"DROP TABLE IF EXISTS {name}")
    artifacts.release(sf_dir)
    again = storage.bucketed_table(spark, sf_dir, "lineitem", ["l_orderkey"], nb)
    assert again == name
    ddl = spark.sql(f"SHOW CREATE TABLE {name}").first()[0]
    assert "CLUSTERED BY" in ddl and f"INTO {nb} BUCKETS" in ddl, ddl
    after = spark.table(name).groupBy().agg(
        F.count(F.lit(1)), F.sum("l_orderkey")
    ).collect()
    assert after == before
    # a groupBy on the bucket key must consume the DDL-restored
    # HashPartitioning: bucketed scan, no exchange (a bare filter scan
    # reports "Bucketed: false (disabled by query planner)" because
    # nothing there needs the distribution)
    agg = spark.table(name).groupBy("l_orderkey").count()
    plan = agg._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan, plan
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan


def test_fact_fact_joins_are_hash_not_sort(spark, sf_dir):
    """The PLAIN Q7/Q8 trees must probe the raw fact side with a
    shuffled hash join built on the narrow orders arm — a sort-merge
    join here sorts the 600M-row side at sf100 (the round-6
    superlinear tail)."""
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES, QUERIES

    for reg, name in (
        (QUERIES, "nation_market_share"),
        (EXTRA_QUERIES, "volume_shipping"),
        (EXTRA_QUERIES, "volume_shipping_bucketed"),
    ):
        plan = (
            reg[name].spark(spark, sf_dir)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "ShuffledHashJoin" in plan, (name, plan)
        assert "SortMergeJoin" not in plan, (name, plan)
        # the hash map must be built on the narrow orders arm (right
        # side), never the raw fact — BuildLeft at sf100 means a
        # 600M-row per-partition build
        shj = next(ln for ln in plan.splitlines() if "ShuffledHashJoin" in ln)
        assert "BuildRight" in shj, (name, shj)
        if name.endswith("_bucketed"):
            # the bucketed twin's extra guarantee: the layout already
            # paid the orderkey shuffle, so neither fact side may
            # re-exchange above its bucketed scan
            assert "Exchange hashpartitioning(l_orderkey" not in plan, (name, plan)
            assert "Exchange hashpartitioning(o_orderkey" not in plan, (name, plan)
            assert "Bucketed: true" in plan, (name, plan)


def test_bucketed_q9_tree_no_orderkey_exchange(spark, sf_dir):
    """The bucketed Q9 twin must value-match the plain tree and run
    its lineitem-orders orderkey join with no exchange above either
    bucketed fact scan — the broadcast part/supplier arms must not
    break the probe side's bucketing."""
    from flink_repartition_watermark_example_spark.queries import EXTRA_QUERIES

    bucketed = EXTRA_QUERIES["product_type_profit_bucketed"].spark(spark, sf_dir)
    plain = EXTRA_QUERIES["product_type_profit"].spark(spark, sf_dir)
    got = sorted(map(tuple, bucketed.collect()))
    assert got == sorted(map(tuple, plain.collect())) and got

    plan = bucketed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning(l_orderkey" not in plan, plan
    assert "Exchange hashpartitioning(o_orderkey" not in plan, plan
    assert "Bucketed: true" in plan, plan
