"""gRPC-shaped dshackle transport (S8 in SURVEY §2.1).

The reference's primary wire protocol is the dshackle proxy's
``emerald.Blockchain`` gRPC service (``/root/reference/src/blockchain/
connection.rs:53-111``): a ``NativeCall`` carrying ``{chain, items:[{id,
method, payload}]}`` answered by a stream of ``NativeCallReplyItem{id,
succeed, payload, error_message}`` — with a 10 s per-call timeout, a
semaphore bounding in-flight calls, gzip message compression, and a
server-streaming ``SubscribeHead`` of ``ChainHead{height, block_id}``
(``connection.rs:113-154``).

No gRPC/protobuf packages ship in this container, and both wire formats are
public and small, so this module implements them directly with the stdlib:

- protobuf wire encoding (varints, length-delimited fields) for the four
  message shapes above, field numbers matching the public emerald-grpc
  ``blockchain.proto``;
- gRPC's length-prefixed message framing — 1-byte compressed flag + 4-byte
  big-endian length + body, gzip when the flag is set;
- a real HTTP/2 carrier (``sources/h2.py``, stdlib-only RFC 7540 + 7541):
  client preface, SETTINGS exchange, HPACK'd request HEADERS
  (``:method POST``, ``:path /emerald.Blockchain/<Method>``,
  ``content-type application/grpc``, ``te trailers``), messages in DATA
  frames, ``grpc-status``/``grpc-message`` in the trailing HEADERS frame —
  the wire shape a real dshackle server speaks. (Rounds ≤4 used a TCP
  preamble stand-in; the carrier is now wire-complete.)

``DshackleClient`` exposes the same ``call``/``call_bytes``/``call_raw``
surface as ``JsonRpcClient``, so every provider plugs into either transport
unchanged. A dshackle ``payload`` is the node's raw result bytes, so byte
fidelity (``avros.rs:54-57``) is native to this transport.
"""

from __future__ import annotations

import gzip
import io
import json
import socket
import struct
import threading
import time
from typing import Any, Iterator

# public emerald-grpc common.proto ChainRef values used by the reference
CHAIN_REFS = {
    "BTC": 1,
    "ETH": 100,
    "ETHEREUM": 100,
    "BITCOIN": 1,
}

PATH_NATIVE_CALL = "/emerald.Blockchain/NativeCall"
PATH_SUBSCRIBE_HEAD = "/emerald.Blockchain/SubscribeHead"

FLAG_GZIP = 0x01
FLAG_TRAILER = 0x80


class DshackleError(RuntimeError):
    pass


class DshackleConnectionClosed(DshackleError, EOFError):
    """Server closed the stream mid-call — retryable (reads are idempotent)."""


# -- protobuf wire format (public encoding; stdlib-only) ---------------------

def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_varint(buf: bytes, i: int) -> tuple[int, int]:
    shift = 0
    val = 0
    while True:
        b = buf[i]
        i += 1
        val |= (b & 0x7F) << shift
        if not b & 0x80:
            return val, i
        shift += 7


def _field_varint(num: int, val: int) -> bytes:
    return _varint(num << 3 | 0) + _varint(val)


def _field_bytes(num: int, val: bytes) -> bytes:
    return _varint(num << 3 | 2) + _varint(len(val)) + val


def pb_decode(buf: bytes) -> dict[int, list]:
    """Generic protobuf message → {field_number: [values...]}; varint fields
    decode to int, length-delimited to bytes (nested messages re-decoded by
    the caller), fixed32/64 to raw bytes."""
    out: dict[int, list] = {}
    i = 0
    while i < len(buf):
        key, i = _read_varint(buf, i)
        num, wt = key >> 3, key & 7
        if wt == 0:
            val, i = _read_varint(buf, i)
        elif wt == 2:
            ln, i = _read_varint(buf, i)
            val = buf[i : i + ln]
            i += ln
        elif wt == 5:
            val = buf[i : i + 4]
            i += 4
        elif wt == 1:
            val = buf[i : i + 8]
            i += 8
        else:
            raise DshackleError(f"unsupported wire type {wt}")
        out.setdefault(num, []).append(val)
    return out


# message builders (field numbers: public emerald-grpc blockchain.proto)

def encode_native_call_request(chain: int, items: list[tuple[int, str, bytes]]) -> bytes:
    body = _field_varint(1, chain)
    for item_id, method, payload in items:
        item = (
            _field_varint(1, item_id)
            + _field_bytes(2, method.encode())
            + _field_bytes(3, payload)
        )
        body += _field_bytes(2, item)
    return body


def decode_native_call_request(buf: bytes) -> tuple[int, list[tuple[int, str, bytes]]]:
    msg = pb_decode(buf)
    chain = (msg.get(1) or [0])[0]
    items = []
    for raw in msg.get(2) or []:
        f = pb_decode(raw)
        items.append(
            (
                (f.get(1) or [0])[0],
                bytes((f.get(2) or [b""])[0]).decode(),
                bytes((f.get(3) or [b""])[0]),
            )
        )
    return chain, items


def encode_reply_item(
    item_id: int, succeed: bool, payload: bytes, error_message: str = ""
) -> bytes:
    body = _field_varint(1, item_id) + _field_varint(2, 1 if succeed else 0)
    if payload:
        body += _field_bytes(3, payload)
    if error_message:
        body += _field_bytes(4, error_message.encode())
    return body


def decode_reply_item(buf: bytes) -> tuple[int, bool, bytes, str]:
    f = pb_decode(buf)
    return (
        (f.get(1) or [0])[0],
        bool((f.get(2) or [0])[0]),
        bytes((f.get(3) or [b""])[0]),
        bytes((f.get(4) or [b""])[0]).decode(),
    )


def encode_chain(chain: int) -> bytes:
    return _field_varint(1, chain)


def decode_chain(buf: bytes) -> int:
    return (pb_decode(buf).get(1) or [0])[0]


def encode_chain_head(chain: int, height: int, block_id: str) -> bytes:
    return (
        _field_varint(1, chain)
        + _field_varint(2, height)
        + _field_bytes(3, block_id.encode())
    )


def decode_chain_head(buf: bytes) -> tuple[int, int, str]:
    f = pb_decode(buf)
    return (
        (f.get(1) or [0])[0],
        (f.get(2) or [0])[0],
        bytes((f.get(3) or [b""])[0]).decode(),
    )


# -- gRPC message framing ----------------------------------------------------

def write_frame(sock_file, body: bytes, compress: bool = False, flag: int | None = None):
    if flag is None:
        if compress:
            body = gzip.compress(body)
            flag = FLAG_GZIP
        else:
            flag = 0
    sock_file.write(struct.pack(">BI", flag, len(body)) + body)
    sock_file.flush()


def read_frame(sock_file) -> tuple[int, bytes] | None:
    """One frame → (flag, body) with gzip transparently undone; None on EOF."""
    hdr = sock_file.read(5)
    if len(hdr) < 5:
        return None
    flag, ln = struct.unpack(">BI", hdr)
    body = sock_file.read(ln)
    if len(body) < ln:
        return None
    if flag & FLAG_GZIP and not flag & FLAG_TRAILER:
        body = gzip.decompress(body)
    return flag, body


def grpc_frame_bytes(body: bytes, compress: bool = False) -> bytes:
    """One gRPC length-prefixed message as bytes (for an HTTP/2 DATA frame)."""
    buf = io.BytesIO()
    write_frame(buf, body, compress=compress)
    return buf.getvalue()


def split_grpc_frames(buf: bytearray) -> list[tuple[int, bytes]]:
    """Consume every COMPLETE gRPC frame from ``buf`` (in place) — DATA
    frame boundaries are transport artifacts; messages may span or share
    them."""
    out = []
    while len(buf) >= 5:
        flag, ln = struct.unpack(">BI", bytes(buf[:5]))
        if len(buf) < 5 + ln:
            break
        body = bytes(buf[5 : 5 + ln])
        del buf[: 5 + ln]
        if flag & FLAG_GZIP:
            body = gzip.decompress(body)
        out.append((flag, body))
    return out


def parse_trailer(body: bytes) -> tuple[int, str]:
    status, message = 2, ""  # UNKNOWN unless stated
    for line in body.decode().splitlines():
        k, _, v = line.partition(":")
        if k.strip() == "grpc-status":
            status = int(v.strip())
        elif k.strip() == "grpc-message":
            message = v.strip()
    return status, message


def trailer_status(headers: list[tuple[str, str]]) -> tuple[int, str]:
    """``grpc-status``/``grpc-message`` from a trailing HEADERS block."""
    status, message = 2, ""
    for k, v in headers:
        if k == "grpc-status":
            status = int(v)
        elif k == "grpc-message":
            message = v
    return status, message


class DshackleClient:
    """NativeCall/SubscribeHead client with the ``JsonRpcClient`` surface.

    Mirrors the reference's envelope: bounded in-flight calls
    (``Semaphore(threads.api)``), a 10 s deadline per call, gzip message
    compression, and one kept-alive connection per client and calling
    thread (reopened transparently after a drop), so a fetch task's pool
    threads never interleave streams on one socket. Picklable into Spark
    workers — the live sockets are shed on pickle and lazily reopened.
    """

    def __init__(
        self,
        url: str,
        chain: str = "ETH",
        timeout_s: float = 10.0,
        parallel: int = 16,
        use_gzip: bool = False,
        tls: bool | None = None,
        tls_ca: str | None = None,
        tls_insecure: bool = False,
    ):
        """``tls``: None derives from the scheme (``dshackles://`` = TLS,
        ``dshackle://`` = plaintext); an explicit bool overrides — the
        reference connects TLS by default and ``--connection.notls``
        disables it (``args.rs:182-184``). ``tls_ca`` pins a CA bundle
        (self-hosted dshackle deployments run private CAs);
        ``tls_insecure`` skips verification (testing only)."""
        scheme_tls = False
        if url.startswith("dshackles://"):
            target = url[len("dshackles://"):]
            scheme_tls = True
        elif url.startswith("dshackle://"):
            target = url[len("dshackle://"):]
        else:
            target = url
        host, _, port = target.partition(":")
        self.host, self.port = host, int(port or 2448)
        self.url = url
        self.chain_ref = CHAIN_REFS.get(chain.upper())
        if self.chain_ref is None:
            raise DshackleError(f"unknown chain {chain}")
        self.timeout_s = timeout_s
        self.use_gzip = use_gzip
        self.tls = scheme_tls if tls is None else tls
        self.tls_ca = tls_ca
        self.tls_insecure = tls_insecure
        self._parallel = parallel
        self._sem = threading.Semaphore(parallel)
        self._id = 0
        # this thread's connection: .sock, .file (its buffered pair), .h2
        self._local = threading.local()
        # optional (observer, blockchain_id) — reference observe_request
        # (connection.rs:66); registry observers are driver-only (shed on
        # pickle), SparkRequestRecorder (worker_safe) rides into tasks
        self.metrics = None

    def __getstate__(self):
        state = self.__dict__.copy()
        del state["_local"]
        state["_sem"] = None
        m = state.get("metrics")
        if m is not None and not getattr(m[0], "worker_safe", False):
            state["metrics"] = None
        return state

    def __setstate__(self, state):
        self.__dict__.update(state)
        self._sem = threading.Semaphore(self._parallel)
        self._local = threading.local()

    # -- connection management ----------------------------------------------
    def _connect(self):
        """This thread's kept-alive HTTP/2 connection; sequential gRPC
        streams on it."""
        from .h2 import H2ClientConnection

        loc = self._local
        if getattr(loc, "h2", None) is None:
            s = socket.create_connection((self.host, self.port), timeout=self.timeout_s)
            # a call is several small frames, each flushed on its own: with
            # Nagle's algorithm on, each waits for the peer's delayed ACK
            s.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
            if self.tls:
                # gRPC requires ALPN-negotiated h2 on TLS connections
                import ssl

                ctx = ssl.create_default_context(cafile=self.tls_ca)
                if self.tls_insecure:
                    ctx.check_hostname = False
                    ctx.verify_mode = ssl.CERT_NONE
                ctx.set_alpn_protocols(["h2"])
                s = ctx.wrap_socket(s, server_hostname=self.host)
                if s.selected_alpn_protocol() != "h2":
                    s.close()
                    raise DshackleError(
                        "TLS peer did not negotiate h2 via ALPN"
                    )
            loc.sock = s
            loc.file = s.makefile("rwb")
            loc.h2 = H2ClientConnection(loc.file)
        return loc.h2

    def close(self) -> None:
        """Close the calling thread's connection."""
        loc = self._local
        if getattr(loc, "h2", None) is not None:
            try:
                loc.file.close()
                loc.sock.close()
            except OSError:
                pass
            loc.sock = loc.file = loc.h2 = None

    def _open_stream(self, path: str, request: bytes) -> tuple[object, int]:
        """New gRPC stream: HPACK'd request HEADERS + the request message as
        one DATA frame, half-closed (unary request side)."""
        h2 = self._connect()
        extra = [("grpc-encoding", "gzip")] if self.use_gzip else []
        sid = h2.request(path, f"{self.host}:{self.port}", extra=extra)
        h2.send_data(
            sid, grpc_frame_bytes(request, compress=self.use_gzip), end_stream=True
        )
        return h2, sid

    # -- NativeCall ----------------------------------------------------------
    def _native_call_once(self, method: str, payload: bytes) -> bytes:
        self._id += 1
        req = encode_native_call_request(self.chain_ref, [(1, method, payload)])
        h2, sid = self._open_stream(PATH_NATIVE_CALL, req)
        reply: tuple[int, bool, bytes, str] | None = None
        buf = bytearray()
        ended = False
        for kind, val in h2.events(sid):
            if kind == "closed":
                raise DshackleConnectionClosed(f"{method}: connection closed mid-call")
            if kind == "rst":
                raise DshackleError(f"{method}: stream reset ({val})")
            if kind == "data":
                buf += val
                for _flag, body in split_grpc_frames(buf):
                    reply = decode_reply_item(body)
            elif kind == "trailers":
                status, msg = trailer_status(val)
                if status != 0:
                    raise DshackleError(f"{method}: grpc-status {status} {msg}")
                ended = True
        if not ended:
            raise DshackleConnectionClosed(f"{method}: stream ended without trailers")
        if reply is None:
            # the reference treats an empty stream as an IO error
            raise DshackleError(f"{method}: no response from blockchain")
        _, succeed, out, err = reply
        if not succeed:
            raise DshackleError(f"{method}: {err}")
        return out

    def _native_call(self, method: str, params: list) -> bytes:
        """One NativeCall under the parallelism cap and the 10 s deadline.

        A dropped/stale connection is reopened once (same policy as the
        JSON-RPC transport); all other failures surface to ``FetchPolicy``."""
        payload = json.dumps(params).encode()
        with self._sem:
            t0 = time.perf_counter()
            try:
                out = self._native_call_once(method, payload)
            except (OSError, EOFError):
                self.close()
                out = self._native_call_once(method, payload)
            if self.metrics is not None:
                registry, chain = self.metrics
                registry.observe_request(method, chain, time.perf_counter() - t0)
            return out

    # -- JsonRpcClient-compatible surface -------------------------------------
    def call_bytes(self, method: str, params: list) -> tuple[Any, bytes]:
        raw = self._native_call(method, params)
        return json.loads(raw), raw

    def call(self, method: str, params: list) -> Any:
        return json.loads(self._native_call(method, params))

    def call_raw(self, method: str, params: list) -> bytes:
        parsed, raw = self.call_bytes(method, params)
        if parsed is None:
            raise DshackleError(f"{method}: result not found")
        return raw

    # -- SubscribeHead (server streaming) -------------------------------------
    def subscribe_head(self) -> Iterator[tuple[int, str]]:
        """Yield ``(height, block_id)`` from the server-streaming head
        subscription until the server ends the stream or the connection
        drops (``StopIteration``); reconnect policy lives in the caller
        (``streaming.head_source.HeadStream``)."""
        from .h2 import H2ClientConnection, H2Error

        # a dedicated connection: the subscription occupies its stream for
        # the connection's lifetime
        s = socket.create_connection((self.host, self.port), timeout=self.timeout_s)
        f = s.makefile("rwb")
        try:
            h2 = H2ClientConnection(f)
            extra = [("grpc-encoding", "gzip")] if self.use_gzip else []
            sid = h2.request(PATH_SUBSCRIBE_HEAD, f"{self.host}:{self.port}", extra=extra)
            h2.send_data(
                sid,
                grpc_frame_bytes(encode_chain(self.chain_ref), compress=self.use_gzip),
                end_stream=True,
            )
            buf = bytearray()
            for kind, val in h2.events(sid):
                if kind in ("closed", "rst", "trailers"):
                    return  # stream over — caller reconnects
                if kind == "data":
                    buf += val
                    for _flag, body in split_grpc_frames(buf):
                        _, height, block_id = decode_chain_head(body)
                        yield height, block_id
        except (OSError, EOFError, H2Error):
            return  # dropped mid-stream — caller reconnects
        finally:
            try:
                f.close()
                s.close()
            except OSError:
                pass
