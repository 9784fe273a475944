"""Write-path layout tests: partition pruning and shuffle-free bucketed
joins must be visible in the physical plan, not just asserted in prose.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stac_fastapi_duckdb_spark.sources import writer as W


@pytest.fixture(scope="module")
def events(spark):
    from stac_fastapi_duckdb_spark.streaming import normalize_event_ts

    return normalize_event_ts(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    ).withColumn("event_date", F.to_date("ts"))


def test_partitioned_write_prunes(spark, events, tmp_path):
    out = str(tmp_path / "events_part")
    W.write_partitioned(events, out, ["event_type"])
    back = spark.read.parquet(out)
    assert back.count() == events.count()

    pruned = back.filter(F.col("event_type") == "click")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "event_type" in plan.split(
        "PartitionFilters", 1
    )[1].split("]", 1)[0]
    assert pruned.count() == events.filter(F.col("event_type") == "click").count()


def test_repartition_by_size_small_input(events):
    # tiny input → 1 output partition, not 0 and not dozens of shards
    out = W.repartition_by_size(events, target_file_bytes=1 << 30)
    assert out.rdd.getNumPartitions() == 1


def test_bucketed_join_no_shuffle(spark):
    import shutil

    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"{wh}/{t}", ignore_errors=True)  # stale dirs from prior metastores
    orders = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    lineitem = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    W.write_bucketed(
        orders, "b_orders", ["o_orderkey"], num_buckets=8, mode="overwrite"
    )
    W.write_bucketed(
        lineitem.withColumnRenamed("l_orderkey", "o_orderkey"),
        "b_lineitem",
        ["o_orderkey"],
        num_buckets=8,
        mode="overwrite",
    )
    a = spark.table("b_orders")
    b = spark.table("b_lineitem").select("o_orderkey", "l_quantity")
    joined = a.join(b, "o_orderkey")
    # force a non-broadcast join so the bucketing is what removes the
    # shuffle (broadcast would hide it)
    with _no_broadcast(spark):
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        n = joined.count()
    assert n == spark.read.parquet(
        "/root/testdata/sf0.001/lineitem.parquet"
    ).join(
        orders, F.col("l_orderkey") == F.col("o_orderkey")
    ).count()


class _no_broadcast:
    def __init__(self, spark):
        self.spark = spark

    def __enter__(self):
        self.saved = self.spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")

    def __exit__(self, *exc):
        self.spark.conf.set("spark.sql.autoBroadcastJoinThreshold", self.saved)
