"""Avro container codec: golden reference fixtures + roundtrip.

Reads the reference's real mainnet files and asserts the reference's own
golden counts (``src/storage/avro_reader.rs:79-103``): 1 record from
``000723743.block.avro``, 2,498 from ``000723743.txes.avro``.
"""

import json
import os

import pytest

from dshackle_archive_spark.schemas import BLOCKS_SCHEMA, TRANSACTIONS_SCHEMA
from dshackle_archive_spark.sources.avro_io import (
    read_avro_df,
    read_avro_records,
    write_avro_records,
)

FIXTURES = "/root/reference/testdata/fullAvroFiles"

needs_fixtures = pytest.mark.skipif(
    not os.path.isdir(FIXTURES), reason="reference fixtures not available"
)


@needs_fixtures
def test_golden_block_count():
    recs = list(read_avro_records(f"{FIXTURES}/000723743.block.avro"))
    assert len(recs) == 1
    blk = recs[0]
    assert blk["height"] == 723743
    assert blk["blockchainType"] == "BITCOIN"
    assert isinstance(blk["json"], bytes) and len(blk["json"]) > 100
    parsed = json.loads(blk["json"])
    assert parsed["height"] == 723743


@needs_fixtures
def test_golden_txes_cross_check():
    # the block's embedded JSON tx list must exactly match the txes file —
    # the reference's J1 verify invariant, checked on real mainnet data
    blk = next(iter(read_avro_records(f"{FIXTURES}/000723744.block.avro")))
    expected = json.loads(blk["json"])["tx"]
    recs = list(read_avro_records(f"{FIXTURES}/000723744.txes.avro"))
    assert len(recs) == len(expected) == 423
    assert {r["txid"] for r in recs} == set(expected)


@needs_fixtures
def test_golden_ethereum_block():
    recs = list(read_avro_records(f"{FIXTURES}/ethereum/015437941.block.avro"))
    assert len(recs) == 1 and recs[0]["height"] == 15437941
    assert recs[0]["blockchainType"] == "ETHEREUM"
    txes = list(read_avro_records(f"{FIXTURES}/ethereum/015437941.txes.avro"))
    expected = json.loads(recs[0]["json"])["transactions"]
    assert {r["txid"] for r in txes} == {
        t if isinstance(t, str) else t["hash"] for t in expected
    }


@needs_fixtures
def test_range_file_reads():
    path = f"{FIXTURES}/btc/000700000/range-000723745_000723749.blocks.avro"
    recs = list(read_avro_records(path))
    assert [r["height"] for r in recs] == [723745, 723746, 723747, 723748, 723749]


def test_spark_df_read_is_one_job(spark, tmp_path):
    """N files decode in ONE Spark job (no shuffle ahead of the decode), the
    path rows reach the JVM as a local table (a Python-side RDD would add a
    Python worker pass to every read task), and per-file columns ride along
    with each file's records."""
    from pyspark.sql import types as T

    schema = {"type": "record", "name": "S", "fields": [{"name": "v", "type": "long"}]}
    files = []
    for i in range(6):
        p = str(tmp_path / f"f{i}.avro")
        write_avro_records(p, schema, [{"v": i * 10 + j} for j in range(3)])
        files.append((p, i))
    df = read_avro_df(
        spark,
        files,
        T.StructType([T.StructField("v", T.LongType())]),
        file_cols=[T.StructField("file_no", T.LongType())],
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    sc = spark.sparkContext
    sc.setJobGroup("avro-read-jobs", "count avro read jobs")
    try:
        rows = df.collect()
    finally:
        sc.setJobGroup(None, None)
    assert len(sc.statusTracker().getJobIdsForGroup("avro-read-jobs")) == 1
    assert sorted((r["file_no"], r["v"]) for r in rows) == [
        (i, i * 10 + j) for i in range(6) for j in range(3)
    ]


@needs_fixtures
def test_spark_df_read(spark):
    df = read_avro_df(
        spark,
        [f"{FIXTURES}/000723743.block.avro", f"{FIXTURES}/000723744.block.avro"],
        BLOCKS_SCHEMA,
    )
    rows = df.collect()
    assert sorted(r["height"] for r in rows) == [723743, 723744]
    assert rows[0]["timestamp"] is not None  # millis → timestamp conversion


def test_roundtrip_write_read(tmp_path):
    schema = {
        "type": "record",
        "name": "T",
        "fields": [
            {"name": "height", "type": "long"},
            {"name": "name", "type": "string"},
            {"name": "payload", "type": "bytes"},
            {"name": "maybe", "type": ["null", "string"], "default": None},
            {"name": "tags", "type": {"type": "array", "items": "string"}},
        ],
    }
    records = [
        {"height": i, "name": f"r{i}", "payload": bytes([i % 256] * 10),
         "maybe": None if i % 2 else f"v{i}", "tags": [f"t{i}", "x"]}
        for i in range(2500)
    ]
    p = str(tmp_path / "t.avro")
    write_avro_records(p, schema, records, codec="deflate", block_records=700)
    back = list(read_avro_records(p))
    assert back == records


def test_roundtrip_null_codec(tmp_path):
    schema = {"type": "record", "name": "S", "fields": [{"name": "v", "type": "long"}]}
    p = str(tmp_path / "s.avro")
    write_avro_records(p, schema, [{"v": i} for i in range(10)], codec="null")
    assert [r["v"] for r in read_avro_records(p)] == list(range(10))


@needs_fixtures
def test_transactions_schema_fields():
    # every column of our TRANSACTIONS_SCHEMA is recoverable from real files
    rec = next(iter(read_avro_records(f"{FIXTURES}/000723744.txes.avro")))
    for f in TRANSACTIONS_SCHEMA.fields:
        assert f.name in rec or f.nullable, f.name


def test_avro_archive_lifecycle(spark, tmp_path):
    """Full reference-format lifecycle: archive writes .avro container files
    (the reference's native format), verify reads them through the codec,
    compact migrates avro singles -> parquet range files."""
    from dshackle_archive_spark.core import DataKind, Range
    from dshackle_archive_spark.plans.archive_plan import archive
    from dshackle_archive_spark.plans.verify_plan import verify
    from dshackle_archive_spark.sources.archive import list_archive_files
    from dshackle_archive_spark.sources.fetcher import FetchPolicy
    from dshackle_archive_spark.sources.mock_chain import MockChain

    chain = MockChain(head_height=10_000)
    BT = (DataKind.BLOCKS, DataKind.TRANSACTIONS)
    res = archive(spark, chain, str(tmp_path), Range(100, 299), tables=BT,
                  chunk=100, policy=FetchPolicy(parallel=4), fmt="avro")
    assert res.written == 4
    files = list_archive_files(str(tmp_path / "eth"))
    assert files == [
        "000000000/range-000000100_000000199.blocks.avro",
        "000000000/range-000000100_000000199.txes.avro",
        "000000000/range-000000200_000000299.blocks.avro",
        "000000000/range-000000200_000000299.txes.avro",
    ]
    # the files are genuine Avro containers with the reference's schema
    recs = list(read_avro_records(str(tmp_path / "eth" / files[0])))
    assert len(recs) == 100 and recs[0]["blockchainType"] == "ETHEREUM"
    assert isinstance(recs[0]["archiveTimestamp"], int)  # timestamp-millis long
    # verify reads avro content through the same checks as parquet
    rep = verify(spark, chain, str(tmp_path), Range(100, 299), tables=BT)
    assert rep.failures == [] and rep.deleted == []

    # compact migrates avro singles to parquet range files holding exactly
    # the singles' records, column for column (timestamp-millis longs and
    # the all-null uncle columns included)
    from datetime import timezone

    import pyarrow.parquet as pq

    from dshackle_archive_spark.plans.archive_plan import archive_single_blocks
    from dshackle_archive_spark.plans.compact_plan import compact
    from dshackle_archive_spark.sources.ref_layout import _pa_schema

    archive_single_blocks(spark, chain, str(tmp_path), Range(300, 319), tables=BT,
                          policy=FetchPolicy(parallel=4), fmt="avro")
    base = tmp_path / "eth"
    singles = [p for p in list_archive_files(str(base)) if "range-" not in p]
    assert len(singles) == 40

    def key(rec):
        return rec["height"], rec.get("index", 0)

    before = {
        ext: sorted((r for p in singles if f".{ext}.avro" in p
                     for r in read_avro_records(str(base / p))), key=key)
        for ext in ("block", "txes")
    }
    res = compact(spark, str(tmp_path), "ETH", Range(300, 319), tables=BT, chunk=10,
                  block_json_schema=chain.block_json_schema)
    assert res.compacted_chunks == [(300, 309), (310, 319)]
    after = [p for p in list_archive_files(str(base)) if p not in files]
    assert len(after) == 4 and all(p.endswith(".parquet") for p in after)
    for ext, kind in (("block", DataKind.BLOCKS), ("txes", DataKind.TRANSACTIONS)):
        tables = [pq.read_table(str(base / p)) for p in after if f".{kind.range_ext}." in p]
        assert all(t.schema.remove_metadata().equals(_pa_schema(kind)) for t in tables)
        got = sorted((r for t in tables for r in t.to_pylist()), key=key)
        for r in got:
            for c in ("archiveTimestamp", "timestamp"):
                # back to timestamp-millis (the parquet timestamps are naive UTC)
                r[c] = int(r[c].replace(tzinfo=timezone.utc).timestamp() * 1000)
        assert got == before[ext], ext
    assert all(r["uncle0Json"] is None and r["uncle1Json"] is None for r in before["block"])


def test_avro_verify_detects_corruption(spark, tmp_path):
    from dshackle_archive_spark.core import DataKind, Range
    from dshackle_archive_spark.plans.archive_plan import archive
    from dshackle_archive_spark.plans.verify_plan import verify
    from dshackle_archive_spark.sources.fetcher import FetchPolicy
    from dshackle_archive_spark.sources.mock_chain import MockChain

    class BadChain(MockChain):
        def block(self, height, fork=False):
            blk = super().block(height, fork)
            if height == 150:
                blk["parent"] = "WRONG"
            return blk

    chain = MockChain(head_height=10_000)
    archive(spark, BadChain(head_height=10_000), str(tmp_path), Range(100, 199),
            tables=(DataKind.BLOCKS,), chunk=100, policy=FetchPolicy(parallel=4), fmt="avro")
    rep = verify(spark, chain, str(tmp_path), Range(100, 199),
                 tables=(DataKind.BLOCKS,), dry_run=True)
    bad = [f for f in rep.failures if f["reason"] == "blocks_content"]
    assert len(bad) == 1 and bad[0]["broken_links"] == 1


def test_mixed_format_archive_verifies(spark, tmp_path):
    """Migration state: one chunk avro, one parquet — verify handles both in
    a single pass via the dispatching reader."""
    from dshackle_archive_spark.core import DataKind, Range
    from dshackle_archive_spark.plans.archive_plan import archive
    from dshackle_archive_spark.plans.verify_plan import verify
    from dshackle_archive_spark.sources.fetcher import FetchPolicy
    from dshackle_archive_spark.sources.mock_chain import MockChain

    chain = MockChain(head_height=10_000)
    BT = (DataKind.BLOCKS, DataKind.TRANSACTIONS)
    pol = FetchPolicy(parallel=4)
    archive(spark, chain, str(tmp_path), Range(100, 199), tables=BT, chunk=100,
            policy=pol, fmt="avro")
    archive(spark, chain, str(tmp_path), Range(200, 299), tables=BT, chunk=100,
            policy=pol, fmt="parquet")
    rep = verify(spark, chain, str(tmp_path), Range(100, 299), tables=BT)
    assert rep.failures == [] and rep.groups_total == 2


def test_roundtrip_property_random_records():
    """Property-style roundtrip: random values across the type surface
    (unions, arrays, bytes, enums) always decode to exactly what was written."""
    import random

    from hypothesis import strategies as st  # noqa: F401 (random suffices; deterministic seed)

    rnd = random.Random(1234)
    schema = {
        "type": "record",
        "name": "R",
        "fields": [
            {"name": "i", "type": "long"},
            {"name": "f", "type": "double"},
            {"name": "s", "type": "string"},
            {"name": "b", "type": "bytes"},
            {"name": "opt", "type": ["null", "long"], "default": None},
            {"name": "arr", "type": {"type": "array", "items": "long"}},
            {"name": "e", "type": {"type": "enum", "name": "E", "symbols": ["A", "B", "C"]}},
            {"name": "m", "type": {"type": "map", "values": "string"}},
        ],
    }
    import tempfile, os

    for trial in range(5):
        records = []
        for _ in range(rnd.randint(1, 400)):
            records.append(
                {
                    "i": rnd.randint(-(2**62), 2**62),
                    "f": rnd.uniform(-1e12, 1e12),
                    "s": "".join(chr(rnd.randint(32, 0x10FF)) for _ in range(rnd.randint(0, 40))),
                    "b": bytes(rnd.randint(0, 255) for _ in range(rnd.randint(0, 64))),
                    "opt": None if rnd.random() < 0.5 else rnd.randint(0, 10**12),
                    "arr": [rnd.randint(-5, 5) for _ in range(rnd.randint(0, 10))],
                    "e": rnd.choice(["A", "B", "C"]),
                    "m": {f"k{j}": f"v{rnd.randint(0,9)}" for j in range(rnd.randint(0, 4))},
                }
            )
        with tempfile.TemporaryDirectory() as d:
            p = os.path.join(d, "r.avro")
            codec = rnd.choice(["null", "deflate", "zstandard", "snappy"])
            write_avro_records(p, schema, records, codec=codec, block_records=97)
            assert list(read_avro_records(p)) == records, f"trial {trial} codec {codec}"


@needs_fixtures
def test_schema_kind_check_on_read():
    """Opening a txes file as blocks fails loudly (reference's schema check)."""
    with pytest.raises(ValueError, match="schema mismatch"):
        list(read_avro_records(f"{FIXTURES}/000723744.txes.avro", expected_record="Block"))
    # and the right kind passes
    recs = list(
        read_avro_records(f"{FIXTURES}/000723744.txes.avro", expected_record="Transaction")
    )
    assert len(recs) == 423


@needs_fixtures
def test_chain_json_schemas_parse_real_payloads(spark):
    """The per-chain schema-on-read StructTypes recover the fields the engine
    needs (P4) from REAL mainnet block JSON."""
    from pyspark.sql import functions as F

    from dshackle_archive_spark.schemas import BTC_BLOCK_JSON_SCHEMA, ETH_BLOCK_JSON_SCHEMA

    btc = next(iter(read_avro_records(f"{FIXTURES}/000723744.block.avro")))
    eth = next(iter(read_avro_records(f"{FIXTURES}/ethereum/015437941.block.avro")))
    df = spark.createDataFrame(
        [("BTC", bytes(btc["json"])), ("ETH", bytes(eth["json"]))], "chain string, json binary"
    )
    parsed_btc = (
        df.filter("chain = 'BTC'")
        .select(F.from_json(F.col("json").cast("string"), BTC_BLOCK_JSON_SCHEMA).alias("b"))
        .select("b.height", "b.hash", "b.previousblockhash", F.size("b.tx").alias("n_tx"))
        .collect()[0]
    )
    assert parsed_btc["height"] == 723744 and parsed_btc["n_tx"] == 423
    assert parsed_btc["hash"] == btc["blockId"] and parsed_btc["previousblockhash"] == btc["parentId"]

    parsed_eth = (
        df.filter("chain = 'ETH'")
        .select(F.from_json(F.col("json").cast("string"), ETH_BLOCK_JSON_SCHEMA).alias("b"))
        .select("b.number", "b.hash", "b.parentHash", F.size("b.transactions").alias("n_tx"))
        .collect()[0]
    )
    # 0x-hex quantity parsing (P7) on the real payload
    height = int(parsed_eth["number"], 16)
    assert height == 15437941
    assert parsed_eth["hash"] == eth["blockId"] and parsed_eth["parentHash"] == eth["parentId"]
    assert parsed_eth["n_tx"] > 0


def test_roundtrip_zstd_codec(tmp_path):
    """zstd is the reference's DEFAULT block compression (global.rs:34-40) —
    a real reference archive written with defaults must import."""
    schema = {"type": "record", "name": "S", "fields": [{"name": "v", "type": "long"}]}
    p = str(tmp_path / "z.avro")
    write_avro_records(p, schema, [{"v": i} for i in range(5000)], codec="zstandard")
    assert [r["v"] for r in read_avro_records(p)] == list(range(5000))
    # header advertises the spec'd codec name, also for the "zstd" alias
    p2 = str(tmp_path / "z2.avro")
    write_avro_records(p2, schema, [{"v": 1}], codec="zstd")
    import json as _json

    from dshackle_archive_spark.sources.avro_io import MAGIC

    with open(p2, "rb") as f:
        head = f.read(4096)
    assert head[:4] == MAGIC and b"zstandard" in head


def test_streaming_mode_zstd_frame_reads(tmp_path):
    """Frames without the content-size header field (what a streaming Rust
    encoder emits) must decompress too."""
    import pyarrow as pa

    from dshackle_archive_spark.sources.avro_io import _zstd_decompress

    # build a frame with no FCS by compressing through the streaming writer
    sink = pa.BufferOutputStream()
    with pa.CompressedOutputStream(sink, "zstd") as out:
        out.write(b"streamed " * 1000)
    frame = sink.getvalue().to_pybytes()
    assert _zstd_decompress(frame) == b"streamed " * 1000


def test_import_zstd_avro_tree(spark, tmp_path):
    """End-to-end: an avro archive written with the reference's default zstd
    compression imports into the native layout."""
    from dshackle_archive_spark.core import DataKind, Range
    from dshackle_archive_spark.plans.archive_plan import archive
    from dshackle_archive_spark.sources.archive import read_table
    from dshackle_archive_spark.sources.fetcher import FetchPolicy
    from dshackle_archive_spark.sources.import_archive import import_reference_archive

    from dshackle_archive_spark.sources.mock_chain import MockChain

    chain = MockChain(head_height=10_000)
    src = tmp_path / "src"
    dst = tmp_path / "dst"
    archive(spark, chain, str(src), Range(100, 149), tables=(DataKind.BLOCKS,),
            chunk=50, policy=FetchPolicy(parallel=4), fmt="avro")
    # written files carry zstandard blocks (the new default)
    f = src / "eth" / "000000000" / "range-000000100_000000149.blocks.avro"
    assert b"zstandard" in f.read_bytes()[:4096]
    res = import_reference_archive(spark, str(src / "eth"), str(dst), "ETH",
                                   tables=("blocks",))
    assert res.files["blocks"] == 1
    blocks = read_table(spark, str(dst), "ETH", "blocks")
    assert blocks.count() == 50
