"""Deterministic local JSON-RPC stub nodes for provider tests.

Serves the minimal method surface the engine's providers call — the same
methods the reference issues against a real node (ethereum.rs:41-202,
bitcoin.rs:55-201) — backed by a deterministic chain model, so
archive→verify runs end-to-end against real HTTP without a blockchain node
in the container.
"""

from __future__ import annotations

import hashlib
import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _h(s: str) -> str:
    return hashlib.sha256(s.encode()).hexdigest()


class EthChainModel:
    """Deterministic ETH-shaped chain: hex hashes, hex quantities, 0-2 txs
    per block, one uncle at heights % 5 == 0."""

    def __init__(self, head: int = 10_000):
        self.head = head
        self._filters: dict[str, int] = {}  # filter id -> last delivered height
        self._next_filter = 1

    def block_hash(self, height: int) -> str:
        return "0x" + _h(f"ETHB{height}")

    def tx_hashes(self, height: int) -> list[str]:
        n = 1 + height % 2
        return ["0x" + _h(f"ETHTX{height}-{i}") for i in range(n)]

    def uncle_count(self, height: int) -> int:
        return 1 if height % 5 == 0 else 0

    def block(self, height: int) -> dict:
        return {
            "number": hex(height),
            "hash": self.block_hash(height),
            "parentHash": self.block_hash(height - 1) if height else "0x" + "0" * 64,
            "timestamp": hex(1_600_000_000 + height * 12),
            "transactions": self.tx_hashes(height),
            "uncles": [
                "0x" + _h(f"ETHU{height}-{i}") for i in range(self.uncle_count(height))
            ],
        }

    def height_of_tx(self, txid: str) -> int | None:
        # reverse lookup over a bounded window (stub-only convenience)
        for h in range(0, self.head + 1):
            if txid in self.tx_hashes(h):
                return h
        return None

    def handle(self, method: str, params: list):
        if method == "eth_blockNumber":
            return hex(self.head)
        if method == "eth_getBlockByNumber":
            tag = params[0]
            if tag == "finalized":
                return self.block(self.head - 4)
            return self.block(int(tag, 16))
        if method == "eth_getUncleByBlockHashAndIndex":
            # find the block owning this hash
            for h in range(0, self.head + 1):
                if self.block_hash(h) == params[0]:
                    i = int(params[1], 16)
                    return {"hash": "0x" + _h(f"ETHU{h}-{i}"), "number": hex(h - 1)}
            return None
        if method == "eth_getTransactionByHash":
            txid = params[0]
            h = self.height_of_tx(txid)
            if h is None:
                return None
            return {
                "hash": txid,
                "blockNumber": hex(h),
                "blockHash": self.block_hash(h),
                "from": "0x" + _h(f"from{txid}")[:40],
                "to": None if txid.endswith("0") else "0x" + _h(f"to{txid}")[:40],
                "input": "0x",
            }
        if method == "eth_getRawTransactionByHash":
            return "0x" + params[0][2:10] + "ff"
        if method == "eth_getTransactionReceipt":
            return {"transactionHash": params[0], "status": "0x1"}
        if method == "debug_traceTransaction":
            tracer = params[1].get("tracer")
            if tracer == "callTracer":
                return {"type": "CALL", "tx": params[0]}
            return {"post": {"tx": params[0]}}
        if method == "eth_newBlockFilter":
            fid = hex(self._next_filter)
            self._next_filter += 1
            self._filters[fid] = self.head
            return fid
        if method == "eth_getFilterChanges":
            fid = params[0]
            if fid not in self._filters:
                raise ValueError("filter not found")  # node expired it
            last = self._filters[fid]
            self._filters[fid] = self.head
            return [self.block_hash(h) for h in range(last + 1, self.head + 1)]
        raise ValueError(f"unsupported method {method}")


class BtcChainModel:
    """Deterministic BTC-shaped chain: bare hex hashes, coinbase + txs."""

    def __init__(self, head: int = 10_000):
        self.head = head

    def block_hash(self, height: int) -> str:
        return _h(f"BTCB{height}")

    def tx_hashes(self, height: int) -> list[str]:
        return [_h(f"BTCTX{height}-{i}") for i in range(1 + height % 2)]

    def block(self, height: int) -> dict:
        out = {
            "hash": self.block_hash(height),
            "height": height,
            "time": 1_600_000_000 + height * 600,
            "tx": self.tx_hashes(height),
        }
        if height:
            out["previousblockhash"] = self.block_hash(height - 1)
        return out

    def handle(self, method: str, params: list):
        if method == "getbestblockhash":
            return self.block_hash(self.head)
        if method == "getblockhash":
            return self.block_hash(int(params[0]))
        if method == "getblock":
            for h in range(0, self.head + 1):
                if self.block_hash(h) == params[0]:
                    return self.block(h)
            return None
        if method == "getrawtransaction":
            txid, verbose = params[0], params[1]
            if verbose:
                return {"txid": txid, "hash": txid, "vin": [], "vout": []}
            return txid[:16] + "ff"
        raise ValueError(f"unsupported method {method}")


def start_stub(
    model,
    pretty: bool = False,
    raw_results: dict[str, bytes] | None = None,
    close_each: bool = False,
) -> tuple[str, ThreadingHTTPServer]:
    """Start a JSON-RPC stub on an ephemeral localhost port; returns
    (url, server). Call ``server.shutdown()`` when done.

    HTTP/1.1 keep-alive; ``server.accepts`` counts TCP connections so tests
    can assert connection reuse. ``pretty=True`` serializes responses with
    spaces/indentation (a non-compact node) — byte-fidelity tests must see
    those exact bytes in the archive. ``raw_results`` maps method → a
    pre-encoded JSON fragment spliced verbatim as the ``result`` value, for
    exact wire-byte assertions. ``close_each=True`` drops the TCP connection
    after every response (a flaky/load-balanced node) — clients must
    transparently reconnect."""

    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"  # keep-alive
        # headers and body go out in two writes; with Nagle's algorithm on,
        # the body waits ~40 ms for the client's delayed ACK
        disable_nagle_algorithm = True

        def setup(self):
            srv.accepts += 1  # one Handler per TCP connection
            super().setup()

        def do_POST(self):
            body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
            method = body["method"]
            raw = (raw_results or {}).get(method)
            if raw is not None:
                rid = json.dumps(body.get("id")).encode()
                data = b'{"jsonrpc": "2.0", "id": ' + rid + b', "result": ' + raw + b"}"
            else:
                try:
                    result = model.handle(method, body.get("params") or [])
                    payload = {"jsonrpc": "2.0", "id": body.get("id"), "result": result}
                except Exception as e:  # stub: every failure is a JSON-RPC error
                    payload = {
                        "jsonrpc": "2.0",
                        "id": body.get("id"),
                        "error": {"code": -32000, "message": str(e)},
                    }
                data = json.dumps(payload, indent=2 if pretty else None).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            if close_each:
                self.send_header("Connection", "close")
                self.close_connection = True
            self.end_headers()
            self.wfile.write(data)

        def log_message(self, *a):  # silence request logging
            pass

    srv = ThreadingHTTPServer(("127.0.0.1", 0), Handler)
    srv.accepts = 0
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return f"http://127.0.0.1:{srv.server_port}", srv
