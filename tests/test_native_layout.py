"""Native analytic layout: partitioned parquet tables with l1/l2 height
buckets — the 100 TB scale path. Verifies partition pruning actually happens
(the plan's partition filters), not just that results are correct."""

from pyspark.sql import functions as F

from dshackle_archive_spark.core import Range
from dshackle_archive_spark.sources import archive as ARC
from dshackle_archive_spark.sources.fetcher import FetchPolicy, fetch_blocks
from dshackle_archive_spark.sources.mock_chain import MockChain

CHAIN = MockChain(head_height=10_000_000)
POLICY = FetchPolicy(parallel=4)


def test_partitioned_write_read_roundtrip(spark, tmp_path):
    blocks = fetch_blocks(spark, CHAIN, Range(999_990, 1_000_010), POLICY)
    ARC.write_table(blocks, str(tmp_path), "ETH", "blocks")
    # rows span the l1 boundary at 1,000,000 → two l1 partitions
    out = ARC.read_table(spark, str(tmp_path), "ETH", "blocks")
    assert out.count() == 21
    l1s = sorted(r["l1"] for r in out.select("l1").distinct().collect())
    assert l1s == [0, 1_000_000]
    # range read returns exactly the requested slice
    sliced = ARC.read_table(spark, str(tmp_path), "ETH", "blocks", Range(999_995, 1_000_004))
    assert sorted(r["height"] for r in sliced.collect()) == list(range(999_995, 1_000_005))


def test_partition_pruning_in_plan(spark, tmp_path):
    blocks = fetch_blocks(spark, CHAIN, Range(0, 4_999), POLICY)
    ARC.write_table(blocks, str(tmp_path), "ETH", "blocks")
    sliced = ARC.read_table(spark, str(tmp_path), "ETH", "blocks", Range(1_200, 1_400))
    plan = sliced._jdf.queryExecution().executedPlan().toString()
    # the l2 predicate must appear as a partition filter on the scan, so only
    # 1 of the 5 l2 directories is read
    assert "PartitionFilters" in plan and "l2" in plan.split("PartitionFilters")[1][:200]
    files_read = sliced.select(F.input_file_name()).distinct().collect()
    assert all("l2=1000" in r[0] for r in files_read)
    assert sorted(r["height"] for r in sliced.collect()) == list(range(1_200, 1_401))


def test_append_mode_accumulates(spark, tmp_path):
    b1 = fetch_blocks(spark, CHAIN, Range(0, 99), POLICY)
    b2 = fetch_blocks(spark, CHAIN, Range(100, 199), POLICY)
    ARC.write_table(b1, str(tmp_path), "ETH", "blocks")
    ARC.write_table(b2, str(tmp_path), "ETH", "blocks")
    out = ARC.read_table(spark, str(tmp_path), "ETH", "blocks")
    assert out.count() == 200


def test_sql_views_over_archive(spark, tmp_path):
    from dshackle_archive_spark.sources.fetcher import fetch_table_for_heights

    ARC.write_table(fetch_blocks(spark, CHAIN, Range(0, 199), POLICY),
                    str(tmp_path), "ETH", "blocks")
    ARC.write_table(
        fetch_table_for_heights(spark, CHAIN, Range(0, 199), "transactions", POLICY),
        str(tmp_path), "ETH", "transactions")
    views = ARC.register_archive_views(spark, str(tmp_path), "ETH")
    assert views == ["eth_blocks", "eth_transactions"]
    out = spark.sql("""
        SELECT b.height, count(t.txid) AS n_tx
        FROM eth_blocks b JOIN eth_transactions t ON b.height = t.height
        WHERE b.height BETWEEN 10 AND 12
        GROUP BY b.height ORDER BY b.height
    """).collect()
    assert [(r["height"], r["n_tx"]) for r in out] == [
        (10, len(CHAIN.tx_ids(10))), (11, len(CHAIN.tx_ids(11))), (12, len(CHAIN.tx_ids(12)))]
