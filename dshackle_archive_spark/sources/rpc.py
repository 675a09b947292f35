"""Real-chain HTTP JSON-RPC providers (S6/S7 in SURVEY §2.1).

The reference speaks JSON-RPC to a node (directly or via a dshackle gRPC
proxy) with per-method calls — ``eth_getBlockByNumber``/``eth_getTransaction
ByHash``/``debug_traceTransaction`` for Ethereum
(``/root/reference/src/blockchain/ethereum.rs:41-202``) and ``getblockhash``/
``getblock``/``getrawtransaction`` for Bitcoin (``bitcoin.rs:55-201``).

These providers implement the engine's per-chain plugin surface (the same
interface as ``MockChain``) over plain HTTP JSON-RPC via the standard
library — no extra dependencies, picklable into Spark workers, retried and
rate-capped by ``FetchPolicy`` inside the fetch stage. The gRPC/dshackle
transport (S8) remains a declared plug point: swap ``JsonRpcClient`` for a
gRPC-backed callable with the same ``call``/``call_raw`` signature.

Byte fidelity: the ``json`` payload columns store the node's ``result``
bytes EXACTLY as received on the wire — ``call_bytes`` slices the result
value's span out of the raw HTTP body (the reference archives the node's
result bytes unmodified, ``avros.rs:54-57``), so archives are byte-identical
to reference archives regardless of how the node formats its JSON.

Transport: one keep-alive ``http.client.HTTPConnection`` per client and
calling thread (the reference holds a pooled channel per provider), so a
fetch task's pool threads never interleave requests on one socket; a
stale/dropped connection is transparently reopened once per call. Clients
are picklable into Spark workers — the live sockets are dropped on pickle
and lazily reopened.
"""

from __future__ import annotations

import http.client
import json
import threading
import time
import urllib.parse
from typing import Any

from ..schemas import BTC_BLOCK_JSON_SCHEMA, ETH_BLOCK_JSON_SCHEMA

_WS = " \t\r\n"


def _skip_ws(text: str, i: int) -> int:
    while i < len(text) and text[i] in _WS:
        i += 1
    return i


def result_span(text: str) -> tuple[int, int]:
    """[start, end) character span of the top-level ``"result"`` value.

    Walks the envelope's key/value pairs with the stdlib decoder — the span
    covers the value's exact wire formatting (inner whitespace, key order,
    number spelling), which re-encoding by ``json.dumps`` would destroy.
    Raises ``JsonRpcError`` when the envelope has no ``result`` key."""
    dec = json.JSONDecoder()
    i = _skip_ws(text, 0)
    if i >= len(text) or text[i] != "{":
        raise JsonRpcError("response is not a JSON object")
    i = _skip_ws(text, i + 1)
    while i < len(text) and text[i] != "}":
        key, j = dec.raw_decode(text, i)
        j = _skip_ws(text, j)
        if j >= len(text) or text[j] != ":":
            raise JsonRpcError("malformed JSON-RPC envelope")
        j = _skip_ws(text, j + 1)
        _, k = dec.raw_decode(text, j)
        if key == "result":
            return j, k
        k = _skip_ws(text, k)
        if k < len(text) and text[k] == ",":
            k = _skip_ws(text, k + 1)
        i = k
    raise JsonRpcError("no result in JSON-RPC response")


class JsonRpcError(RuntimeError):
    pass


class JsonRpcClient:
    """JSON-RPC 2.0 over keep-alive HTTP connections, one per calling thread
    (stdlib; picklable)."""

    def __init__(self, url: str, timeout_s: float = 10.0):
        self.url = url
        self.timeout_s = timeout_s
        self._id = 0
        self._local = threading.local()  # .conn: this thread's connection
        # optional (observer, blockchain_id): per-request timing into the
        # Prometheus surface (reference observe_request, connection.rs:66).
        # A MetricsRegistry observer is driver-only (holds locks, shed on
        # pickle); a SparkRequestRecorder (worker_safe) rides into executor
        # tasks and reports back through its accumulator.
        self.metrics = None

    # live sockets don't pickle — drop on serialize, reopen lazily on use
    def __getstate__(self):
        state = self.__dict__.copy()
        del state["_local"]
        m = state.get("metrics")
        if m is not None and not getattr(m[0], "worker_safe", False):
            state["metrics"] = None
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._local = threading.local()

    def _observe(self, method: str, t0: float) -> None:
        if self.metrics is not None:
            registry, chain = self.metrics
            registry.observe_request(method, chain, time.perf_counter() - t0)

    def _connect(self) -> http.client.HTTPConnection:
        conn = getattr(self._local, "conn", None)
        if conn is None:
            u = urllib.parse.urlsplit(self.url)
            cls = (
                http.client.HTTPSConnection
                if u.scheme == "https"
                else http.client.HTTPConnection
            )
            conn = self._local.conn = cls(u.hostname, u.port, timeout=self.timeout_s)
        return conn

    def close(self) -> None:
        """Close the calling thread's connection."""
        conn = getattr(self._local, "conn", None)
        if conn is not None:
            conn.close()
            self._local.conn = None

    def _post_once(self, body: bytes) -> bytes:
        conn = self._connect()
        path = urllib.parse.urlsplit(self.url).path or "/"
        conn.request(
            "POST", path, body=body, headers={"Content-Type": "application/json"}
        )
        resp = conn.getresponse()
        data = resp.read()
        if resp.status != 200:
            raise JsonRpcError(f"HTTP {resp.status}")
        return data

    def _post(self, body: bytes) -> bytes:
        """POST over the kept-alive connection; one transparent reopen when
        the server closed the idle socket between calls."""
        try:
            return self._post_once(body)
        except (http.client.HTTPException, ConnectionError, BrokenPipeError, OSError):
            self.close()
            return self._post_once(body)

    def call_bytes(self, method: str, params: list) -> tuple[Any, bytes]:
        """One round-trip → ``(parsed result, exact wire bytes of result)``."""
        self._id += 1
        body = json.dumps(
            {"jsonrpc": "2.0", "id": self._id, "method": method, "params": params}
        ).encode()
        t0 = time.perf_counter()
        data = self._post(body)
        self._observe(method, t0)
        text = data.decode("utf-8")
        payload = json.loads(text)
        if payload.get("error"):
            raise JsonRpcError(f"{method}: {payload['error']}")
        j, k = result_span(text)
        return payload.get("result"), text[j:k].encode("utf-8")

    def call(self, method: str, params: list) -> Any:
        self._id += 1
        body = json.dumps(
            {"jsonrpc": "2.0", "id": self._id, "method": method, "params": params}
        ).encode()
        t0 = time.perf_counter()
        data = self._post(body)
        self._observe(method, t0)
        payload = json.loads(data)
        if payload.get("error"):
            raise JsonRpcError(f"{method}: {payload['error']}")
        return payload.get("result")

    def call_raw(self, method: str, params: list) -> bytes:
        """The result's exact wire bytes (raises on null result so the
        FetchPolicy retry loop re-asks a lagging node)."""
        parsed, raw = self.call_bytes(method, params)
        if parsed is None:
            raise JsonRpcError(f"{method}: result not found")
        return raw


def _require(value: Any, what: str) -> Any:
    """null results are transient on lagging nodes — raise so FetchPolicy
    retries (the reference's ``get_tx_expected`` retry-on-null,
    ``ethereum.rs:108-131``)."""
    if value is None:
        raise JsonRpcError(f"{what} not found")
    return value


class EthereumRpcProvider:
    """Ethereum JSON-RPC provider (``ethereum.rs:41-202``).

    Populates the full TX_SCHEMA surface: ``from``/``to`` parsed out of the
    tx JSON (``ethereum.rs:274-280``), receipts, raw wire bytes, and up to
    two uncle payloads per block (``avros.rs:58-75``; ETH consensus caps
    uncles at 2)."""

    blockchain_type = "ETHEREUM"
    block_json_schema = ETH_BLOCK_JSON_SCHEMA
    tx_list_field = "transactions"
    fork_at: frozenset = frozenset()

    def __init__(self, url: str, blockchain_id: str = "ETH", timeout_s: float = 10.0,
                 client=None):
        self.blockchain_id = blockchain_id
        self.client = client if client is not None else JsonRpcClient(url, timeout_s)
        self._blocks: dict[int, tuple[dict, bytes]] = {}  # height -> (parsed, wire)

    # -- blocks -------------------------------------------------------------
    def _block_entry(self, height: int) -> tuple[dict, bytes]:
        ent = self._blocks.get(height)
        if ent is None:
            parsed, raw = self.client.call_bytes(
                "eth_getBlockByNumber", [hex(height), False]
            )
            _require(parsed, f"block {height}")
            ent = (parsed, raw)
            if len(self._blocks) > 64:  # bound worker memory
                self._blocks.clear()
            self._blocks[height] = ent
        return ent

    def _block(self, height: int) -> dict:
        return self._block_entry(height)[0]

    def head(self) -> int:
        return int(self.client.call("eth_blockNumber", []), 16)

    def finalized(self) -> int:
        blk = _require(
            self.client.call("eth_getBlockByNumber", ["finalized", False]),
            "finalized block",
        )
        return int(blk["number"], 16)

    def block(self, height: int, fork: bool = False) -> dict:
        j = self._block(height)
        return {
            "height": height,
            "hash": j["hash"],
            "parent": j["parentHash"],
            "transactions": list(j.get("transactions") or []),
        }

    def block_json(self, height: int, fork: bool = False) -> bytes:
        # exact wire bytes of the node's result (avros.rs:54-57)
        return self._block_entry(height)[1]

    def block_timestamp_ms(self, height: int) -> int:
        return int(self._block(height)["timestamp"], 16) * 1000

    def block_hash(self, height: int, fork: bool = False) -> str:
        return self._block(height)["hash"]

    def tx_ids(self, height: int) -> list[str]:
        return list(self._block(height).get("transactions") or [])

    def uncles(self, height: int, fork: bool = False) -> list[bytes]:
        j = self._block(height)
        out = []
        for i in range(len(j.get("uncles") or [])):
            parsed, raw = self.client.call_bytes(
                "eth_getUncleByBlockHashAndIndex", [j["hash"], hex(i)]
            )
            _require(parsed, f"uncle {i} of block {height}")
            out.append(raw)
        return out

    # -- transactions -------------------------------------------------------
    def tx_details(self, height: int, txid: str) -> dict:
        tx, raw_json = self.client.call_bytes("eth_getTransactionByHash", [txid])
        _require(tx, f"tx {txid}")
        return {
            "json": raw_json,
            "raw": self.tx_raw(txid),
            "from": tx.get("from"),
            "to": tx.get("to"),
            "receiptJson": self.receipt_json(txid),
        }

    def tx_json(self, height: int, txid: str) -> bytes:
        return self.client.call_raw("eth_getTransactionByHash", [txid])

    def tx_raw(self, txid: str) -> bytes:
        raw_hex = _require(
            self.client.call("eth_getRawTransactionByHash", [txid]), f"raw tx {txid}"
        )
        return bytes.fromhex(raw_hex[2:] if raw_hex.startswith("0x") else raw_hex)

    def receipt_json(self, txid: str) -> bytes:
        return self.client.call_raw("eth_getTransactionReceipt", [txid])

    # -- head subscription (S9) --------------------------------------------
    # The reference holds a server-streaming gRPC subscription
    # (connection.rs:53-154). Over plain JSON-RPC the push-equivalent is the
    # node's filter API: install eth_newBlockFilter once, then each
    # eth_getFilterChanges returns ONLY the hashes of blocks since the last
    # poll — incremental delivery without re-reading the head.
    _head_filter: str | None = None

    def subscribe_heads(self) -> None:
        """Install (or reinstall) the new-heads filter on the node."""
        self._head_filter = _require(
            self.client.call("eth_newBlockFilter", []), "new block filter"
        )

    def poll_new_heads(self) -> list[str]:
        """Block hashes arrived since the previous poll (empty when idle).
        Installs the filter lazily; re-installs if the node expired it."""
        if self._head_filter is None:
            self.subscribe_heads()
        try:
            return list(
                self.client.call("eth_getFilterChanges", [self._head_filter]) or []
            )
        except JsonRpcError:
            # nodes expire idle filters — reinstall and resync from head
            self.subscribe_heads()
            return list(
                self.client.call("eth_getFilterChanges", [self._head_filter]) or []
            )

    # -- traces (geth built-in tracers, ethereum.rs:149-204) ---------------
    def trace_json(self, txid: str) -> bytes:
        return self.client.call_raw(
            "debug_traceTransaction", [txid, {"tracer": "callTracer"}]
        )

    def state_diff_json(self, txid: str) -> bytes:
        return self.client.call_raw(
            "debug_traceTransaction",
            [txid, {"tracer": "prestateTracer", "tracerConfig": {"diffMode": True}}],
        )


class BitcoinRpcProvider:
    """Bitcoin Core JSON-RPC provider (``bitcoin.rs:55-201``): block by
    ``getblockhash``+``getblock(hash, 1)``, tx json/raw via
    ``getrawtransaction(txid, true/false)``. No receipts, no ``from``/``to``,
    no uncles, no traces — exactly the reference's column coverage."""

    blockchain_type = "BITCOIN"
    block_json_schema = BTC_BLOCK_JSON_SCHEMA
    tx_list_field = "tx"
    fork_at: frozenset = frozenset()

    def __init__(self, url: str, blockchain_id: str = "BTC", timeout_s: float = 10.0,
                 client=None):
        self.blockchain_id = blockchain_id
        self.client = client if client is not None else JsonRpcClient(url, timeout_s)
        self._blocks: dict[int, tuple[dict, bytes]] = {}

    def _block_entry(self, height: int) -> tuple[dict, bytes]:
        ent = self._blocks.get(height)
        if ent is None:
            h = _require(
                self.client.call("getblockhash", [height]), f"block hash {height}"
            )
            parsed, raw = self.client.call_bytes("getblock", [h, 1])
            _require(parsed, f"block {height}")
            ent = (parsed, raw)
            if len(self._blocks) > 64:
                self._blocks.clear()
            self._blocks[height] = ent
        return ent

    def _block(self, height: int) -> dict:
        return self._block_entry(height)[0]

    def head(self) -> int:
        # the reference resolves the best hash then reads its block
        # (bitcoin.rs:196-201)
        best = _require(self.client.call("getbestblockhash", []), "best block hash")
        blk = _require(self.client.call("getblock", [best, 1]), "best block")
        return int(blk["height"])

    def block(self, height: int, fork: bool = False) -> dict:
        j = self._block(height)
        return {
            "height": height,
            "hash": j["hash"],
            "parent": j.get("previousblockhash", "GENESIS"),
            "transactions": list(j.get("tx") or []),
        }

    def block_json(self, height: int, fork: bool = False) -> bytes:
        return self._block_entry(height)[1]  # exact wire bytes

    def block_timestamp_ms(self, height: int) -> int:
        return int(self._block(height)["time"]) * 1000

    def block_hash(self, height: int, fork: bool = False) -> str:
        return self._block(height)["hash"]

    def tx_ids(self, height: int) -> list[str]:
        return list(self._block(height).get("tx") or [])

    def uncles(self, height: int, fork: bool = False) -> list[bytes]:
        return []

    def tx_details(self, height: int, txid: str) -> dict:
        return {
            "json": self.tx_json(height, txid),
            "raw": self.tx_raw(txid),
            "from": None,
            "to": None,
            "receiptJson": None,
        }

    def tx_json(self, height: int, txid: str) -> bytes:
        return self.client.call_raw("getrawtransaction", [txid, True])

    def tx_raw(self, txid: str) -> bytes:
        raw_hex = _require(
            self.client.call("getrawtransaction", [txid, False]), f"raw tx {txid}"
        )
        return bytes.fromhex(raw_hex)

    def trace_json(self, txid: str) -> bytes:
        raise NotImplementedError("Traces are not supported for Bitcoin")

    def state_diff_json(self, txid: str) -> bytes:
        raise NotImplementedError("Traces are not supported for Bitcoin")
