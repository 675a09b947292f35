"""Real-chain HTTP JSON-RPC providers against local stub nodes: the
archive→verify end-to-end over actual HTTP (reference ethereum.rs /
bitcoin.rs behaviors, minus a real node in the container)."""

import json
import os

import pytest
from pyspark.sql import functions as F

from dshackle_archive_spark.core import DataKind, Range
from dshackle_archive_spark.plans.archive_plan import archive
from dshackle_archive_spark.plans.fix_plan import fix
from dshackle_archive_spark.plans.verify_plan import verify
from dshackle_archive_spark.sources.archive import list_archive_files
from dshackle_archive_spark.sources.fetcher import FetchPolicy
from dshackle_archive_spark.sources.rpc import BitcoinRpcProvider, EthereumRpcProvider

from stub_rpc import BtcChainModel, EthChainModel, start_stub

POLICY = FetchPolicy(parallel=4, attempts=3, backoff_base_s=0.01)
BT = (DataKind.BLOCKS, DataKind.TRANSACTIONS)


@pytest.fixture(scope="module")
def eth():
    url, srv = start_stub(EthChainModel(head=500))
    yield url, EthChainModel(head=500)
    srv.shutdown()


@pytest.fixture(scope="module")
def btc():
    url, srv = start_stub(BtcChainModel(head=500))
    yield url, BtcChainModel(head=500)
    srv.shutdown()


def test_eth_provider_basics(eth):
    url, model = eth
    p = EthereumRpcProvider(url)
    assert p.head() == 500
    assert p.finalized() == 496
    blk = p.block(100)
    assert blk["hash"] == model.block_hash(100)
    assert blk["parent"] == model.block_hash(99)
    assert p.tx_ids(100) == model.tx_hashes(100)
    assert p.block_timestamp_ms(100) == (1_600_000_000 + 1200) * 1000
    assert len(p.uncles(100)) == 1 and len(p.uncles(101)) == 0
    d = p.tx_details(100, model.tx_hashes(100)[0])
    assert d["from"].startswith("0x") and len(d["from"]) == 42
    assert d["raw"].hex().endswith("ff")
    assert json.loads(d["receiptJson"])["status"] == "0x1"
    assert json.loads(p.trace_json(model.tx_hashes(100)[0]))["type"] == "CALL"
    assert "post" in json.loads(p.state_diff_json(model.tx_hashes(100)[0]))


def test_eth_archive_verify_end_to_end(spark, tmp_path, eth):
    url, model = eth
    p = EthereumRpcProvider(url)
    BTT = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
    res = archive(spark, p, str(tmp_path), Range(100, 119), tables=BTT,
                  chunk=10, policy=POLICY)
    assert res.written == 6 and res.skipped == 0
    files = list_archive_files(str(tmp_path / "eth"))
    assert len(files) == 6

    bdf = spark.read.parquet(
        str(tmp_path / "eth" / "000000000" / "range-000000100_000000109.blocks.parquet"))
    rows = {r["height"]: r for r in bdf.collect()}
    assert len(rows) == 10
    # uncles populated at heights % 5 == 0 (ethereum.rs:243-248)
    assert rows[100]["unclesCount"] == 1 and rows[100]["uncle0Json"] is not None
    assert rows[101]["unclesCount"] == 0 and rows[101]["uncle0Json"] is None
    assert rows[100]["blockId"] == model.block_hash(100)

    tdf = spark.read.parquet(
        str(tmp_path / "eth" / "000000000" / "range-000000100_000000109.txes.parquet"))
    trows = tdf.collect()
    assert len(trows) == sum(len(model.tx_hashes(h)) for h in range(100, 110))
    # from/to/receipt populated from the tx JSON (ethereum.rs:274-280)
    assert all(r["from"] and r["from"].startswith("0x") for r in trows)
    assert all(r["receiptJson"] is not None for r in trows)
    assert any(r["to"] is None for r in trows)  # contract creations
    assert any(r["to"] is not None for r in trows)

    trc = spark.read.parquet(
        str(tmp_path / "eth" / "000000000" / "range-000000100_000000109.traces.parquet"))
    assert trc.filter(F.col("traceJson").isNull()).count() == 0

    # verify end-to-end against the live stub (J5 head-hash confirmation
    # resolves through provider.block_hash → HTTP)
    rep = verify(spark, p, str(tmp_path), Range(100, 119), tables=BTT)
    assert rep.failures == [] and rep.deleted == []
    # and fix agrees nothing is missing
    fx = fix(spark, p, str(tmp_path), Range(100, 119), tables=BTT, chunk=10,
             policy=POLICY, dry_run=True)
    assert fx.missing == []


def test_btc_archive_verify_end_to_end(spark, tmp_path, btc):
    url, model = btc
    p = BitcoinRpcProvider(url)
    assert p.head() == 500
    res = archive(spark, p, str(tmp_path), Range(100, 109), tables=BT,
                  chunk=10, policy=POLICY)
    assert res.written == 2
    bdf = spark.read.parquet(
        str(tmp_path / "btc" / "000000000" / "range-000000100_000000109.blocks.parquet"))
    rows = {r["height"]: r for r in bdf.collect()}
    assert rows[100]["blockId"] == model.block_hash(100)
    assert rows[100]["parentId"] == model.block_hash(99)
    assert rows[100]["unclesCount"] == 0
    tdf = spark.read.parquet(
        str(tmp_path / "btc" / "000000000" / "range-000000100_000000109.txes.parquet"))
    trows = tdf.collect()
    assert all(r["from"] is None and r["receiptJson"] is None for r in trows)
    assert all(len(r["raw"]) > 0 for r in trows)
    # verify parses the BTC block json's "tx" list (tx_list_field)
    rep = verify(spark, p, str(tmp_path), Range(100, 109), tables=BT)
    assert rep.failures == [] and rep.deleted == []


def test_cli_accepts_rpc_provider(spark, tmp_path, eth):
    import contextlib
    import io

    from dshackle_archive_spark import cli

    url, _ = eth
    p = EthereumRpcProvider(url)
    archive(spark, p, str(tmp_path), Range(100, 109), tables=BT, chunk=10, policy=POLICY)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = cli.main([
            "verify", "--dir", str(tmp_path), "--range", "100..109",
            "--provider", "eth-rpc", "--rpc-url", url, "--master", "local[4]",
        ])
    assert rc == 0
    out = json.loads(buf.getvalue().strip().splitlines()[-1])
    assert out["ok"] == out["groups"] and out["failures"] == []


def test_rpc_error_retries_then_raises(eth):
    url, _ = eth
    p = EthereumRpcProvider(url)
    pol = FetchPolicy(attempts=2, backoff_base_s=0.01)
    with pytest.raises(Exception):
        pol.call(p.tx_json, 1, "0x" + "ab" * 32)  # unknown tx -> null -> raise


def test_eth_head_subscription_via_filter_api():
    """S9: incremental new-heads delivery through eth_newBlockFilter /
    eth_getFilterChanges — the JSON-RPC push-equivalent of the reference's
    server-streaming head subscription (connection.rs:53-154)."""
    model = EthChainModel(head=100)
    url, srv = start_stub(model)
    try:
        p = EthereumRpcProvider(url)
        assert p.poll_new_heads() == []  # filter installed at current head
        model.head = 103
        assert p.poll_new_heads() == [model.block_hash(h) for h in (101, 102, 103)]
        assert p.poll_new_heads() == []  # nothing new -> empty, no re-delivery
        # node expired the filter: provider reinstalls and resyncs silently
        model._filters.clear()
        model.head = 105
        assert p.poll_new_heads() == []  # reinstalled at the new head
        model.head = 106
        assert p.poll_new_heads() == [model.block_hash(106)]
    finally:
        srv.shutdown()


def test_stream_follows_node_finalized_tag(spark, tmp_path, eth):
    """follow=finalized uses the node's own finality tag through the real
    provider (reference NextFinalizedBlock subscribes to "finalized") — not
    the fixed-margin fallback."""
    from dshackle_archive_spark.streaming.stream_plan import run_stream

    url, _ = eth
    p = EthereumRpcProvider(url)
    st = run_stream(spark, p, str(tmp_path), tables=(DataKind.BLOCKS,), policy=POLICY,
                    follow="finalized", num_batches=1, engine="loop")
    assert st.archived_heights == [496]  # stub finalized = head - 4, not head - 64


# -- byte fidelity (avros.rs:54-57: archive the node's result bytes as-is) --

def test_call_raw_returns_exact_wire_bytes():
    """call_raw slices the result value's span out of the raw HTTP body —
    spaces, newlines, number spelling, escapes all survive untouched."""
    from dshackle_archive_spark.sources.rpc import JsonRpcClient

    frag = b'{"a": 1,\n  "b": [1,  2.50],\t"z": "\\u00e9", "n":-0.0}'
    url, srv = start_stub(EthChainModel(), raw_results={"weird_method": frag})
    try:
        c = JsonRpcClient(url)
        got = c.call_raw("weird_method", [])
        assert got == frag
        # and the compact re-serialization the old path produced differs
        assert got != json.dumps(json.loads(got), separators=(",", ":")).encode()
    finally:
        srv.shutdown()


def test_block_json_is_wire_bytes_from_noncompact_node():
    """A handcrafted non-compact block fragment must reach the provider's
    payload byte-for-byte (not a re-dump)."""
    frag = (
        b'{\n    "number": "0x64",\n    "hash": "0xAB",\n'
        b'    "parentHash":   "0xAA",\n    "timestamp": "0x5f5e1000",\n'
        b'    "transactions": [ ],\n    "uncles": []\n}'
    )
    url, srv = start_stub(EthChainModel(), raw_results={"eth_getBlockByNumber": frag})
    try:
        p = EthereumRpcProvider(url)
        assert p.block_json(100) == frag
        assert p.block(100)["hash"] == "0xAB"  # parsed view still works
    finally:
        srv.shutdown()


def test_archive_from_pretty_node_preserves_wire_bytes(spark, tmp_path):
    """End-to-end: a node emitting indented JSON → the archived payload
    columns carry those exact non-compact bytes through Spark."""
    model = EthChainModel(head=500)
    url, srv = start_stub(model, pretty=True)
    try:
        p = EthereumRpcProvider(url)
        archive(spark, p, str(tmp_path), Range(100, 104), tables=BT, chunk=5,
                policy=POLICY)
        bdf = spark.read.parquet(
            str(tmp_path / "eth" / "000000000" / "range-000000100_000000104.blocks.parquet"))
        rows = {r["height"]: r for r in bdf.collect()}
        blk = bytes(rows[100]["json"])
        assert b'\n  "' in blk or b'\n    "' in blk  # indentation survived
        assert json.loads(blk) == model.block(100)  # still the same document
        # a fresh provider reproduces the identical wire bytes
        assert blk == EthereumRpcProvider(url).block_json(100)
        tdf = spark.read.parquet(
            str(tmp_path / "eth" / "000000000" / "range-000000100_000000104.txes.parquet"))
        t = tdf.collect()[0]
        assert b"\n" in bytes(t["json"]) and b"\n" in bytes(t["receiptJson"])
    finally:
        srv.shutdown()


# -- keep-alive transport (round-2 advice #7) -------------------------------

def test_keepalive_reuses_one_tcp_connection():
    from dshackle_archive_spark.sources.rpc import JsonRpcClient

    url, srv = start_stub(EthChainModel(head=50))
    try:
        c = JsonRpcClient(url)
        for _ in range(20):
            assert c.call("eth_blockNumber", []) == hex(50)
        assert srv.accepts == 1  # 20 calls, ONE TCP connection
    finally:
        srv.shutdown()


def test_client_reconnects_when_node_drops_connection():
    from dshackle_archive_spark.sources.rpc import JsonRpcClient

    url, srv = start_stub(EthChainModel(head=50), close_each=True)
    try:
        c = JsonRpcClient(url)
        for _ in range(5):
            assert c.call("eth_blockNumber", []) == hex(50)
        assert srv.accepts >= 5  # node dropped us every time; calls still OK
    finally:
        srv.shutdown()


def test_provider_is_picklable_with_live_connection():
    import pickle

    url, srv = start_stub(EthChainModel(head=50))
    try:
        p = EthereumRpcProvider(url)
        assert p.head() == 50  # opens the socket
        p2 = pickle.loads(pickle.dumps(p))  # socket dropped, lazily reopened
        assert p2.head() == 50
    finally:
        srv.shutdown()


def test_avro_archive_preserves_wire_bytes(spark, tmp_path):
    """Fidelity through the reference's native format: a non-compact node's
    exact result bytes survive into the Avro container and read back
    byte-identical (avros.rs:54-57 interop end-to-end)."""
    from dshackle_archive_spark.sources.avro_io import read_avro_records

    model = EthChainModel(head=300)
    url, srv = start_stub(model, pretty=True)
    try:
        p = EthereumRpcProvider(url)
        archive(spark, p, str(tmp_path), Range(100, 104),
                tables=(DataKind.BLOCKS,), chunk=5, policy=POLICY, fmt="avro")
        path = str(
            tmp_path / "eth" / "000000000" / "range-000000100_000000104.blocks.avro"
        )
        recs = {r["height"]: r for r in read_avro_records(path)}
        assert len(recs) == 5
        blk = recs[102]["json"]
        blk = bytes(blk) if not isinstance(blk, bytes) else blk
        assert blk == EthereumRpcProvider(url).block_json(102)  # byte-equal
        assert b"\n" in blk  # and genuinely non-compact
    finally:
        srv.shutdown()


@pytest.mark.parametrize("transport", ["json-rpc", "dshackle"])
def test_pooled_fetch_matches_serial_fetch(spark, tmp_path, transport):
    """A one-group archive fetches its heights on a pool of threads that
    share one provider: each thread keeps its own connection, so
    ``--parallel 8`` writes the rows ``--parallel 1`` writes."""
    import pandas as pd

    from dshackle_archive_spark.core import parse_filename
    from dshackle_archive_spark.sources.avro_io import read_archive_pdf
    from dshackle_archive_spark.sources.dshackle import DshackleClient

    from stub_dshackle import start_dshackle_stub

    start = start_stub if transport == "json-rpc" else start_dshackle_stub
    url, srv = start(EthChainModel(head=300))
    try:
        def provider():
            client = DshackleClient(url) if transport == "dshackle" else None
            return EthereumRpcProvider(url, client=client)

        tables = (DataKind.BLOCKS, DataKind.TRANSACTIONS, DataKind.TRACES)
        got = {}
        for parallel in (1, 8):
            root = str(tmp_path / f"p{parallel}")
            policy = FetchPolicy(parallel=parallel, attempts=3, backoff_base_s=0.01)
            res = archive(spark, provider(), root, Range(100, 139), tables=tables,
                          chunk=100, policy=policy)
            assert res.written == 3
            got[parallel] = {
                os.path.basename(f): read_archive_pdf([f], parse_filename(f).kind.value)
                .drop(columns=["archiveTimestamp"])
                for f in res.files
            }
        assert sorted(got[1]) == sorted(got[8])
        for name, rows in got[1].items():
            assert len(rows) > 0
            pd.testing.assert_frame_equal(rows, got[8][name])
    finally:
        srv.shutdown()


@pytest.mark.parametrize("transport", ["json-rpc", "dshackle"])
def test_client_threads_keep_their_own_connections(transport):
    """More threads than cores share one client under a short switch
    interval: every reply answers its own thread's request."""
    import sys
    import threading

    from dshackle_archive_spark.sources.dshackle import DshackleClient
    from dshackle_archive_spark.sources.rpc import JsonRpcClient

    from stub_dshackle import start_dshackle_stub

    model = EthChainModel(head=200)
    start = start_stub if transport == "json-rpc" else start_dshackle_stub
    url, srv = start(model)
    client = JsonRpcClient(url) if transport == "json-rpc" else DshackleClient(url)
    wrong, done = [], []

    def worker(t):
        for h in range(t, 200, 8):
            blk = client.call("eth_getBlockByNumber", [hex(h), False])
            if blk["hash"] != model.block_hash(h):
                wrong.append(h)
        done.append(t)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(t,)) for t in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
        assert not any(t.is_alive() for t in threads)
    finally:
        sys.setswitchinterval(old)
        srv.shutdown()
    assert sorted(done) == list(range(8)) and wrong == []
    assert srv.accepts == 8  # one kept-alive connection per thread
