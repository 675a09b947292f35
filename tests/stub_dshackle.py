"""Local dshackle-shaped gRPC-over-HTTP/2 stub (NativeCall + SubscribeHead).

Speaks the same wire protocol as ``sources.dshackle`` — protobuf messages in
gRPC length-prefixed frames, carried in real HTTP/2 frames (preface,
SETTINGS exchange, HPACK'd HEADERS, DATA, trailing HEADERS with
``grpc-status``) — backed by the deterministic chain models from
``stub_rpc``, so archive→verify runs end-to-end over the reference's primary
transport shape without a real dshackle in the container.
"""

from __future__ import annotations

import json
import socketserver
import threading
import time

from dshackle_archive_spark.sources.dshackle import (
    PATH_NATIVE_CALL,
    PATH_SUBSCRIBE_HEAD,
    decode_chain,
    decode_native_call_request,
    encode_chain_head,
    encode_reply_item,
    grpc_frame_bytes,
    split_grpc_frames,
)
from dshackle_archive_spark.sources.h2 import H2Error, H2ServerConnection


def start_dshackle_stub(
    model,
    pretty: bool = False,
    drop_subscription_after: int | None = None,
    tls_cert: str | None = None,
    tls_key: str | None = None,
) -> tuple[str, socketserver.ThreadingTCPServer]:
    """Serve NativeCall/SubscribeHead on an ephemeral port; returns
    (dshackle://host:port, server) — or (dshackles://..., server) when
    ``tls_cert``/``tls_key`` are given, in which case every connection is
    TLS with ALPN h2 like a real gRPC endpoint. ``server.accepts`` counts
    TCP connections; ``server.calls`` counts NativeCall items served.
    ``drop_subscription_after`` kills the head stream after N messages
    (reconnect tests). ``pretty`` emits indented result payloads
    (byte-fidelity tests)."""
    ssl_ctx = None
    if tls_cert is not None:
        import ssl

        ssl_ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
        ssl_ctx.load_cert_chain(tls_cert, tls_key)
        ssl_ctx.set_alpn_protocols(["h2"])

    class Handler(socketserver.StreamRequestHandler):
        # each frame is flushed on its own: no Nagle wait between them
        disable_nagle_algorithm = True

        def handle(self):
            srv.accepts += 1
            try:
                # huffman=True: response headers/trailers go out
                # Huffman-coded, like a real gRPC server — exercising the
                # client's RFC 7541 Appendix-B decode path end-to-end
                conn = H2ServerConnection(self._rw(), huffman=True)
            except (H2Error, OSError):
                return
            # sequential gRPC streams over one HTTP/2 connection (the
            # client serializes calls; head subscriptions use their own)
            while not srv.stopping:
                try:
                    req = conn.accept_request()
                except (H2Error, OSError):
                    return
                if req is None:
                    return
                sid, headers, body = req
                hdrs = dict(headers)
                path = hdrs.get(":path", "")
                compress = hdrs.get("grpc-encoding") == "gzip"
                frames = split_grpc_frames(bytearray(body))
                msg = frames[0][1] if frames else b""
                try:
                    if path == PATH_NATIVE_CALL:
                        self._native_call(conn, sid, msg, compress)
                    elif path == PATH_SUBSCRIBE_HEAD:
                        self._subscribe_head(conn, sid, msg, compress)
                        return  # subscription holds the connection to its end
                    else:
                        conn.send_response_headers(sid)
                        conn.send_trailers(sid, 12, "unimplemented")
                except (H2Error, OSError, BrokenPipeError):
                    return

        def _rw(self):
            """Single file object doing both directions for H2ServerConnection."""

            class RW:
                def __init__(s, r, w):
                    s.r, s.w = r, w

                def read(s, n):
                    return s.r.read(n)

                def write(s, b):
                    return s.w.write(b)

                def flush(s):
                    s.w.flush()

            return RW(self.rfile, self.wfile)

        def _native_call(self, conn, sid, body: bytes, compress: bool):
            _chain, items = decode_native_call_request(body)
            conn.send_response_headers(
                sid, [("grpc-encoding", "gzip")] if compress else []
            )
            for item_id, method, payload in items:
                srv.calls += 1
                try:
                    params = json.loads(payload) if payload else []
                    result = model.handle(method, params)
                    out = json.dumps(result, indent=2 if pretty else None).encode()
                    reply = encode_reply_item(item_id, True, out)
                except Exception as e:  # application error rides in the item
                    reply = encode_reply_item(item_id, False, b"", str(e))
                conn.send_data(sid, grpc_frame_bytes(reply, compress=compress))
            conn.send_trailers(sid, 0)

        def _subscribe_head(self, conn, sid, body: bytes, compress: bool):
            decode_chain(body)  # chain select (single-chain stub)
            conn.send_response_headers(
                sid, [("grpc-encoding", "gzip")] if compress else []
            )
            sent = 0
            last = None
            while not srv.stopping:
                head = model.head
                if last is None or head > last:
                    lo = head if last is None else last + 1
                    for h in range(lo, head + 1):
                        conn.send_data(
                            sid,
                            grpc_frame_bytes(
                                encode_chain_head(1, h, model.block_hash(h)),
                                compress=compress,
                            ),
                        )
                        sent += 1
                        if (
                            drop_subscription_after is not None
                            and sent >= drop_subscription_after
                        ):
                            return  # drop the connection mid-stream
                    last = head
                time.sleep(0.01)

    class Server(socketserver.ThreadingTCPServer):
        allow_reuse_address = True
        daemon_threads = True

        def get_request(self):
            sock, addr = super().get_request()
            if ssl_ctx is not None:
                sock = ssl_ctx.wrap_socket(sock, server_side=True)
            return sock, addr

    srv = Server(("127.0.0.1", 0), Handler)
    srv.accepts = 0
    srv.calls = 0
    srv.stopping = False
    threading.Thread(target=srv.serve_forever, daemon=True).start()

    orig_shutdown = srv.shutdown

    def shutdown():
        srv.stopping = True
        orig_shutdown()

    srv.shutdown = shutdown
    scheme = "dshackles" if ssl_ctx is not None else "dshackle"
    return f"{scheme}://127.0.0.1:{srv.server_address[1]}", srv
