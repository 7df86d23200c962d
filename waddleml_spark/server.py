"""HTTP serving layer with the reference's exact wire format
(ref: waddle/_server.py:99-110 route table and response shapes).

Framework-free core: `Routes` maps (method, path) → JSON-ready payloads by
delegating to SparkDashboard, whose read routes are DuckDB SQL on the
store's mirror, so every GET and POST /api/compare is served without a
SparkSession or JVM (the Spark versions of those shapes are catalog
queries).  Only DELETE /api/runs/{id} reaches Spark, through the store's
Parquet rewrite.  Bad client input (a malformed number or JSON body)
answers 400 and any other route failure 500, both as {"error": ...}.
The bundled adapter is the stdlib ThreadingHTTPServer; `Routes` can be
wrapped in any ASGI framework by deployments that want one.

Live updates: the reference pushes per-insert WebSocket messages
{"type":"metric",...} (ref :115-124).  The stdlib adapter speaks that
exact wire protocol at GET /ws via a vendored minimal RFC 6455 server
(handshake + text frames + close/ping — the whole surface the reference
client uses), and ALSO exposes Server-Sent Events at GET /events with
the identical JSON payloads.
"""

from __future__ import annotations

import json
import logging
import queue
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from waddleml_spark.operators.dashboard import SparkDashboard
from waddleml_spark.store import WaddleStore
from waddleml_spark.streaming.live import LiveBus

_log = logging.getLogger(__name__)


class BadRequest(ValueError):
    """Malformed client input (a query parameter or request body): the
    HTTP adapter answers 400 with the message."""


def _int(q, name: str, default: int, lo: int = 0) -> int:
    raw = q.get(name, str(default))
    if not re.fullmatch(r"\d+", raw) or int(raw) < lo:
        raise BadRequest(f"{name} must be an integer >= {lo}, got {raw!r}")
    return int(raw)


class Routes:
    """Framework-agnostic route layer, one method per reference route."""

    def __init__(self, dash: SparkDashboard, bus: LiveBus | None = None):
        self.dash = dash
        self.bus = bus or LiveBus()

    # GET /api/runs
    def list_runs(self, q: dict) -> list:
        return self.dash.list_runs(
            project=q.get("project"),
            status=q.get("status"),
            sort=q.get("sort", "started_at"),
            order=q.get("order", "desc"),
            limit=_int(q, "limit", 200),
            offset=_int(q, "offset", 0),
        )

    # GET /api/runs/{run_id}  (404 when missing, ref :45-50)
    def get_run(self, run_id: str) -> tuple[int, dict]:
        data = self.dash.get_run(run_id)
        return (404, {"error": "not found"}) if not data else (200, data)

    # GET /api/runs/{run_id}/metrics
    def get_metrics(self, run_id: str, q: dict) -> list:
        return self.dash.get_metrics(run_id, key=q.get("key"), limit=_int(q, "limit", 5000))

    # GET /api/runs/{run_id}/metrics/downsampled  (extension route)
    def get_metrics_downsampled(self, run_id: str, q: dict) -> list:
        return self.dash.get_metrics_downsampled(
            run_id, q.get("key", ""), points=_int(q, "points", 200, lo=1)
        )

    # POST /api/compare
    def compare(self, body) -> dict:
        ids = body.get("run_ids", []) if isinstance(body, dict) else None
        if not isinstance(ids, list) or not all(isinstance(i, str) for i in ids):
            raise BadRequest('body must be {"run_ids": [string, ...]}')
        return self.dash.compare_runs(ids)

    # DELETE /api/runs/{run_id}
    def delete_run(self, run_id: str) -> tuple[int, dict]:
        ok = self.dash.delete_run(run_id)
        return (200, {"ok": True}) if ok else (500, {"error": "delete failed"})

    # GET /api/metric-keys
    def metric_keys(self) -> list:
        return self.dash.metric_keys_global()

    # GET /api/metric-summary
    def metric_summary(self, q: dict) -> list:
        return self.dash.metric_summary(q.get("key", ""), limit=_int(q, "limit", 20))


def _metric_messages(rows: list[dict]) -> list[dict]:
    """Reference WS message shape (waddle/_run.py:133-135)."""
    return [
        {
            "type": "metric",
            "run_id": r["run_id"],
            "key": r["key"],
            "step": r["step"],
            "ts": r["ts"],
            "value": r["value"],
        }
        for r in rows
    ]


# --- minimal RFC 6455 server-side framing (stdlib-only /ws) ----------------
# The protocol surface the reference actually uses (waddle/_server.py:115-124)
# is: handshake, server->client text frames, client close, ping/pong.  That
# is small enough to speak directly over the stdlib server's socket, so the
# true WS wire format works even where starlette/uvicorn are absent.

_WS_GUID = "258EAFA5-E914-47DA-95CA-C5AB0DC85B11"


class _QueueSub:
    """LiveBus subscriber feeding a handler thread's queue; once the
    handler marks it dead, the next publish raises and LiveBus prunes it
    (ref T5 prune) — without this, a disconnected client's subscriber
    would keep buffering rows forever."""

    def __init__(self):
        self.q: queue.Queue = queue.Queue()
        self.dead = False

    def __call__(self, rows: list[dict]) -> None:
        if self.dead:
            raise RuntimeError("client disconnected")
        self.q.put(rows)


def ws_accept_key(client_key: str) -> str:
    """Sec-WebSocket-Accept per RFC 6455 §4.2.2."""
    import base64
    import hashlib

    digest = hashlib.sha1((client_key + _WS_GUID).encode()).digest()
    return base64.b64encode(digest).decode()


def ws_encode_frame(payload: bytes, opcode: int = 0x1) -> bytes:
    """One FIN frame, server->client (unmasked, RFC 6455 §5.2)."""
    head = bytes([0x80 | opcode])
    n = len(payload)
    if n < 126:
        head += bytes([n])
    elif n < 1 << 16:
        head += bytes([126]) + n.to_bytes(2, "big")
    else:
        head += bytes([127]) + n.to_bytes(8, "big")
    return head + payload


class WsReader:
    """Stateful WebSocket message reader over one connection.

    RFC 6455 conformance (round-4 advice): fragmented data messages
    (FIN=0 then continuation opcode 0x0 frames, §5.4) are reassembled
    under the initial opcode; control frames (>=0x8, never fragmented)
    interleaved between fragments are returned immediately WITHOUT
    losing the partial data message — the fragment buffer lives on the
    reader, so the reassembled message is returned by a later call once
    its final fragment arrives.  With ``require_mask`` (the server
    side), an UNMASKED client frame fails the connection (§5.1) by
    returning None; a client parsing server->client frames (which are
    unmasked) passes ``require_mask=False``."""

    #: max accepted message size (declared frame length AND accumulated
    #: fragment buffer).  A 64-bit length field means a single client
    #: frame can CLAIM anything, and an endless FIN=0 continuation
    #: stream would grow the reassembly buffer without bound — either
    #: one is a memory-exhaustion vector for the dashboard thread
    #: (round-5 advice).  Dashboard messages are tiny JSON commands;
    #: 4 MB is orders of magnitude of headroom.  Oversize fails the
    #: connection (return None), matching every other protocol error.
    MAX_MESSAGE_BYTES = 4 << 20

    def __init__(self, rfile, require_mask: bool = True):
        self.rfile = rfile
        self.require_mask = require_mask
        self._data_op: int | None = None
        self._data_buf = b""

    def _read_exact(self, n: int) -> bytes | None:
        """n bytes or None — mid-frame EOF is a protocol failure, never a
        truncated frame delivered as if complete (file-like read() may
        short-read at EOF)."""
        buf = self.rfile.read(n)
        while len(buf) < n:
            more = self.rfile.read(n - len(buf))
            if not more:
                return None
            buf += more
        return buf

    def read_message(self) -> tuple[int, bytes] | None:
        """Next complete message: (opcode, payload), or None on EOF /
        protocol error."""
        while True:
            hdr = self._read_exact(2)
            if hdr is None:
                return None
            fin = bool(hdr[0] & 0x80)
            op = hdr[0] & 0x0F
            masked = bool(hdr[1] & 0x80)
            n = hdr[1] & 0x7F
            if n in (126, 127):
                ext = self._read_exact(2 if n == 126 else 8)
                if ext is None:
                    return None
                n = int.from_bytes(ext, "big")
            if self.require_mask and not masked:
                return None  # §5.1: client frames MUST be masked
            if op >= 0x8:
                if n > 125:
                    return None  # §5.5: control frames are ≤125 bytes
            elif n + len(self._data_buf) > self.MAX_MESSAGE_BYTES:
                # oversize data frame / fragment flood — fail early,
                # BEFORE allocating: the declared length is attacker
                # data.  Only DATA frames charge the reassembly buffer:
                # a ping interleaved between fragments never enters
                # _data_buf and must not trip the cap near the limit
                return None
            mask = b""
            if masked:
                mask = self._read_exact(4)
                if mask is None:
                    return None
            payload = self._read_exact(n)
            if payload is None:
                return None
            if masked:
                payload = bytes(b ^ mask[i % 4] for i, b in enumerate(payload))
            if op >= 0x8:  # control frame — may interleave with fragments
                return op, payload
            if op != 0x0:
                self._data_op = op
            self._data_buf += payload
            if fin:
                msg = (
                    self._data_op if self._data_op is not None else 0x0,
                    self._data_buf,
                )
                self._data_op, self._data_buf = None, b""
                return msg


def ws_read_frame(rfile, require_mask: bool = True) -> tuple[int, bytes] | None:
    """One-shot ``WsReader`` read — for single-message uses.  Connection
    loops must hold a ``WsReader`` so fragment state survives interleaved
    control frames."""
    return WsReader(rfile, require_mask).read_message()


def make_http_server(
    store: WaddleStore,
    host: str = "127.0.0.1",
    port: int = 8000,
    bus: LiveBus | None = None,
    static_dir: str | None = None,
) -> ThreadingHTTPServer:
    """stdlib adapter: same routes, JSON responses, plus SSE /events.
    static_dir overrides the bundled assets (ref cli.py:146 parity)."""
    routes = Routes(SparkDashboard(store), bus=bus)

    class Handler(BaseHTTPRequestHandler):
        def log_message(self, *a):  # quiet
            pass

        def _json(self, payload, status=200):
            body = json.dumps(payload).encode()
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def _html(self, body: bytes, status=200):
            self.send_response(status)
            self.send_header("Content-Type", "text/html; charset=utf-8")
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

        def do_GET(self):
            u = urlparse(self.path)
            q = {k: v[0] for k, v in parse_qs(u.query).items()}
            if u.path == "/":
                import pathlib

                base = (
                    pathlib.Path(static_dir)
                    if static_dir
                    else pathlib.Path(__file__).parent / "static"
                )
                return self._html((base / "index.html").read_bytes())
            if u.path.startswith("/static/"):
                # ref route parity (waddle/_server.py:108): serve bundled
                # static assets; resolve() + prefix check blocks traversal
                import pathlib

                static = (
                    pathlib.Path(static_dir)
                    if static_dir
                    else pathlib.Path(__file__).parent / "static"
                ).resolve()
                target = (static / u.path[len("/static/"):]).resolve()
                if static in target.parents or target == static:
                    if target.is_file():
                        ctype = (
                            "text/html; charset=utf-8"
                            if target.suffix == ".html"
                            else "application/octet-stream"
                        )
                        body = target.read_bytes()
                        self.send_response(200)
                        self.send_header("Content-Type", ctype)
                        self.send_header("Content-Length", str(len(body)))
                        self.end_headers()
                        return self.wfile.write(body)
                return self._json({"error": "not found"}, 404)
            if u.path == "/api/runs":
                return self._api(routes.list_runs, q)
            m = re.fullmatch(r"/api/runs/([^/]+)/metrics/downsampled", u.path)
            if m:
                return self._api(routes.get_metrics_downsampled, m.group(1), q)
            m = re.fullmatch(r"/api/runs/([^/]+)/metrics", u.path)
            if m:
                return self._api(routes.get_metrics, m.group(1), q)
            m = re.fullmatch(r"/api/runs/([^/]+)", u.path)
            if m:
                return self._api(routes.get_run, m.group(1))
            if u.path == "/api/metric-keys":
                return self._api(routes.metric_keys)
            if u.path == "/api/metric-summary":
                return self._api(routes.metric_summary, q)
            if u.path == "/events":
                return self._sse()
            if u.path == "/ws":
                return self._ws()
            self._json({"error": "not found"}, 404)

        def do_POST(self):
            u = urlparse(self.path)
            if u.path == "/api/compare":
                return self._api(lambda: routes.compare(self._json_body()))
            self._json({"error": "not found"}, 404)

        def do_DELETE(self):
            m = re.fullmatch(r"/api/runs/([^/]+)", urlparse(self.path).path)
            if m:
                return self._api(routes.delete_run, m.group(1))
            self._json({"error": "not found"}, 404)

        def _json_body(self):
            n = _int(self.headers, "Content-Length", 0)
            try:
                return json.loads(self.rfile.read(n) or b"{}")
            except ValueError as e:
                raise BadRequest(f"invalid JSON body: {e}") from None

        def _api(self, route, *args):
            """Answer one API call: 400 for bad input, 500 with the error
            for any other failure, so the client always gets a response."""
            try:
                result = route(*args)
            except BadRequest as e:
                return self._json({"error": str(e)}, 400)
            except Exception as e:
                _log.exception("%s %s failed", self.command, self.path)
                return self._json({"error": f"{type(e).__name__}: {e}"}, 500)
            status, payload = result if isinstance(result, tuple) else (200, result)
            self._json(payload, status)

        def _ws(self):
            """True RFC 6455 WebSocket: the reference's wire protocol
            (waddle/_server.py:115-124), one text frame per metric insert.
            A reader thread services client close/ping frames while the
            handler thread drains the LiveBus queue."""
            key = self.headers.get("Sec-WebSocket-Key")
            if (
                key is None
                or self.headers.get("Upgrade", "").lower() != "websocket"
            ):
                return self._json({"error": "websocket upgrade required"}, 400)
            # subscribe BEFORE the 101 goes out: the moment the client
            # sees the handshake it may publish-and-expect, and a frame
            # published in the gap would be lost.  The finally covers the
            # handshake writes too — a client that vanishes mid-101 must
            # not leave a zombie subscriber buffering rows forever.
            sub = _QueueSub()
            routes.bus.subscribe(sub)
            _CLOSED = object()
            # pongs (reader thread) and metric frames (this thread) share
            # wfile; an unlocked interleaved sendall could split one frame
            # around the other and corrupt the stream
            wlock = threading.Lock()
            try:
                self.send_response_only(101)
                self.send_header("Upgrade", "websocket")
                self.send_header("Connection", "Upgrade")
                self.send_header("Sec-WebSocket-Accept", ws_accept_key(key))
                self.end_headers()
                self.close_connection = True

                def reader():
                    ws = WsReader(self.rfile)  # fragment state per connection
                    try:
                        while True:
                            frame = ws.read_message()
                            if frame is None or frame[0] == 0x8:  # EOF/close
                                break
                            if frame[0] == 0x9:  # ping -> pong, same payload
                                with wlock:
                                    self.wfile.write(
                                        ws_encode_frame(frame[1], 0xA)
                                    )
                                    self.wfile.flush()
                    except (OSError, ValueError):
                        pass
                    sub.q.put(_CLOSED)

                threading.Thread(target=reader, daemon=True).start()
                while True:
                    try:
                        rows = sub.q.get(timeout=300)
                    except queue.Empty:
                        # quiet dashboard: keep the connection alive with
                        # a server ping (reference keeps WS clients
                        # connected indefinitely); a dead peer surfaces
                        # as a write error here
                        with wlock:
                            self.wfile.write(ws_encode_frame(b"", 0x9))
                            self.wfile.flush()
                        continue
                    if rows is _CLOSED:
                        break
                    with wlock:
                        for msg in _metric_messages(rows):
                            self.wfile.write(
                                ws_encode_frame(json.dumps(msg).encode())
                            )
                        self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError, OSError):
                pass
            finally:
                sub.dead = True  # LiveBus prunes on its next publish

        def _sse(self):
            """SSE stream of live metric messages (WS-equivalent payloads)."""
            sub = _QueueSub()
            routes.bus.subscribe(sub)
            try:
                self.send_response(200)
                self.send_header("Content-Type", "text/event-stream")
                self.send_header("Cache-Control", "no-cache")
                self.end_headers()
                while True:
                    try:
                        rows = sub.q.get(timeout=300)
                    except queue.Empty:
                        # SSE comment line = keep-alive (same contract as
                        # the WS ping): quiet streams stay connected
                        self.wfile.write(b": keep-alive\n\n")
                        self.wfile.flush()
                        continue
                    for msg in _metric_messages(rows):
                        self.wfile.write(f"data: {json.dumps(msg)}\n\n".encode())
                    self.wfile.flush()
            except (BrokenPipeError, ConnectionResetError, OSError):
                return
            finally:
                sub.dead = True  # LiveBus prunes on its next publish

    server = ThreadingHTTPServer((host, port), Handler)
    return server


def serve_in_thread(store: WaddleStore, host="127.0.0.1", port=8000, bus=None):
    server = make_http_server(store, host, port, bus=bus)
    t = threading.Thread(target=server.serve_forever, daemon=True)
    t.start()
    return server
