"""Live per-input log + result streaming for remote_parallel_map.

The reference streams each input's stdout to the client WHILE the job
runs (node_service/src/node_service/worker_client.py:154-338 —
JobLogWriter tails worker pipes and relays lines live); rounds 1-2 only
delivered stdout WITH the result rows, so a user watching a 2-hour job
saw nothing until tasks finished.

Spark's own channels can't do better: accumulator updates and task
metrics reach the driver only at task COMPLETION. So the engine opens
its own side-channel — a tiny length-prefixed TCP listener on the
driver; each worker pushes frames right after an input finishes,
inside the running task. Executors can always reach the driver host
(they already hold RPC/shuffle connections to it), so the channel
works in local mode and on a real cluster alike.

Security model (the reference streams logs over its authenticated
node-service channel — worker_client.py relays through the node
server's TLS'd API; an open side-channel would have no equivalent):

* the listener binds ONLY to the advertised driver interface, never
  0.0.0.0 — if the driver host address can't be bound, the channel is
  disabled rather than opened wide;
* every connection must lead with a per-job random 16-byte token
  (``secrets.token_bytes``), shipped to workers inside the task
  closure; the server compares in constant time and drops the
  connection before reading anything else on mismatch;
* the transport envelope is length-prefixed raw bytes — NO pickle at
  the transport layer, so a malformed or hostile frame can't execute
  code during parsing. Typed frames (log lines, result rows) are
  struct-encoded by the helpers below; opaque user payloads (the
  pickled results the operator contract requires) pass through as
  bytes and are only deserialized by the authenticated job owner.

Scale model: ONE reader thread drives all connections through a
``selectors`` loop (round-3 review: thread-per-connection was a driver
thread-count hazard at 10k+ concurrent tasks). Accepts, token checks,
and frame reassembly are all non-blocking state machines.

Delivery contract: exactly-once per input. A successful live push
CLEARS the stdout field in the result row (the worker owns that
decision); a failed push — driver unreachable, channel disabled —
leaves stdout in the row and it is delivered with the result. Task
retries can replay a push, so the driver additionally dedups log
deliveries by input index (first delivery wins — rpm.py). Log delivery
must never fail a job: every socket operation is wrapped and falls
back, and the server's ``stats`` counts what it swallowed.

Close protocol: the selector waits with no timeout, and a self-pipe
(``socket.socketpair``) is registered next to the listener. ``__exit__``
sets the closed flag, writes one byte to the pipe and joins the reader
(bounded at 2 s). The woken reader then

1. accepts the connections still in the listen backlog,
2. reads every connection until it would block or hits EOF, handing
   each complete frame to the sink,
3. only then closes the connections, the listener, the selector and
   the pipe.

So a frame a worker had fully sent before the close is delivered, not
dropped with the socket buffers.

Order rule: a job has ONE listener and each task ONE connection, and
every frame leads with a kind byte — stdout or result batch. The worker
sends an input's stdout frame before the batch that holds its result;
TCP keeps order on one connection, and the reader hands the stdout to
its sink before it queues the batch. So an input's stdout reaches the
sink before its result can be yielded, on local and remote executors
alike.
"""

from __future__ import annotations

import hmac
import secrets
import selectors
import socket
import struct
import threading
from collections.abc import Callable

_LEN = struct.Struct(">I")
_LOG_HEAD = struct.Struct(">Bq")  # kind byte, input index
_MAX_MSG = 1_000_000  # mirror the reference's 1 MB log-response cap
_TOKEN_LEN = 16
_RECV_CHUNK = 1 << 16


# ---------------------------------------------------------------------------
# frame codecs — struct, not pickle, on the wire. Every frame's first
# byte is its kind; the decoders start reading after it.
# ---------------------------------------------------------------------------
STDOUT, RESULT = 0, 1


def encode_log_frame(idx: int, text: str) -> bytes:
    return _LOG_HEAD.pack(STDOUT, idx) + text.encode("utf-8", "replace")


def decode_log_frame(frame: bytes) -> tuple[int, str]:
    _, idx = _LOG_HEAD.unpack_from(frame)
    return idx, frame[_LOG_HEAD.size :].decode("utf-8", "replace")


# result rows: (idx, is_error, payload, stdout, error_type, error_msg,
# error_tb, error_pkl) — matches rpm.result_schema(). Optional fields are
# length-prefixed with -1 meaning NULL; text fields are utf-8.
_ROW_TEXT_FIELDS = (False, True, True, True, True, False)  # after idx/is_error


def encode_result_batch(rows: list[tuple]) -> bytes:
    """Pack several result rows into ONE wire frame — COLUMNAR
    (struct-encoded, still no pickle at the transport layer): u32 row
    count, the idx column as one packed i64 array, the is_error column
    as raw bytes, then each optional field as a mode byte (0 = every
    value None, nothing follows; 1 = packed i32 lengths with -1 for
    None, followed by the concatenated bytes). Batching matters
    because the result channel is per-ROW otherwise — a million small
    results means a million ~15 µs socket sends — and the columnar
    layout matters because DECODE runs on the driver's single listener
    thread: the row-wise layout cost ~8 python struct ops per row
    (measured 1.57 s per million rows, driver-serial); per-column
    unpacks cut that to a handful of C calls plus one slice per
    non-empty value."""
    n = len(rows)
    parts = [bytes((RESULT,)), _LEN.pack(n)]
    parts.append(struct.pack(f">{n}q", *(int(r[0]) for r in rows)))
    parts.append(bytes(1 if r[1] else 0 for r in rows))
    for f, is_text in enumerate(_ROW_TEXT_FIELDS, start=2):
        col = [r[f] for r in rows]
        if all(v is None for v in col):
            parts.append(b"\x00")
            continue
        parts.append(b"\x01")
        lens: list[int] = []
        blobs: list[bytes] = []
        for v in col:
            if v is None:
                lens.append(-1)
            else:
                raw = v.encode("utf-8", "replace") if is_text else bytes(v)
                lens.append(len(raw))
                blobs.append(raw)
        parts.append(struct.pack(f">{n}i", *lens))
        parts.extend(blobs)
    return b"".join(parts)


def decode_result_batch(frame: bytes) -> list[tuple]:
    mv = memoryview(frame)
    (n,) = _LEN.unpack_from(mv, 1)
    off = 1 + _LEN.size
    idxs = struct.unpack_from(f">{n}q", mv, off)
    off += 8 * n
    errs = tuple(map(bool, bytes(mv[off : off + n])))
    off += n
    cols: list = []
    for is_text in _ROW_TEXT_FIELDS:
        mode = mv[off]
        off += 1
        if mode == 0:
            cols.append((None,) * n)
            continue
        lens = struct.unpack_from(f">{n}i", mv, off)
        off += 4 * n
        if is_text and not any(lens):
            # common case: every stdout/error text is "" — no
            # per-value decode calls at all
            cols.append([""] * n)
            continue
        vals = []
        for length in lens:
            if length < 0:
                vals.append(None)
            else:
                # slice the bytes object directly — bytes->bytes
                # slicing is one C call vs memoryview+copy
                raw = frame[off : off + length]
                vals.append(raw.decode("utf-8", "replace") if is_text else raw)
                off += length
        cols.append(vals)
    return list(zip(idxs, errs, *cols))


def frame_sink(
    on_stdout: Callable[[int, str], None],
    on_result: Callable[[list[tuple]], None] | None = None,
) -> Callable[[bytes], None]:
    """A MessageStreamServer sink that routes frames by kind: stdout to
    ``on_stdout(idx, text)``, result batches to ``on_result(rows)``. Any
    other kind raises, which the server counts in ``sink_errors``."""

    def sink(frame: bytes) -> None:
        if frame[0] == STDOUT:
            on_stdout(*decode_log_frame(frame))
        elif frame[0] == RESULT and on_result is not None:
            on_result(decode_result_batch(frame))
        else:
            raise ValueError(f"unexpected frame kind {frame[0]}")

    return sink


def once_per_index(sink: Callable[[int, str], None]) -> Callable[[int, str], None]:
    """Wrap an (idx, text) sink so only the FIRST delivery per input
    index goes through. Task retries and speculative runs re-push
    stdout for inputs whose logs were already delivered (and a retry
    whose push fails after an earlier attempt's succeeded would
    re-deliver with the result row) — the driver-side dedup makes the
    log channel exactly-once, mirroring the result channel's seen-set."""
    seen: set[int] = set()
    lock = threading.Lock()

    def wrapped(idx: int, text: str) -> None:
        with lock:
            if idx in seen:
                return
            seen.add(idx)
        sink(idx, text)

    return wrapped


class _Conn:
    __slots__ = ("buf", "authed")

    def __init__(self) -> None:
        self.buf = bytearray()
        self.authed = False


_WAKE = object()  # selector tag of the close self-pipe


class MessageStreamServer:
    """Driver-side listener: accepts authenticated worker connections
    and invokes ``sink(frame_bytes)`` for each frame as it arrives
    (from the single reader thread — the sink must be thread-safe;
    appending to a list or putting on a queue.Queue both are).

    Use as a context manager around the job action; ``advertise`` is
    the (host, port, token, max_msg) workers need to connect: clients
    take their frame cap from it. ``stats`` counts what the channel
    delivered and what it swallowed: ``frames`` handed to the sink,
    ``drained_at_close`` (of those, the ones read after ``__exit__``),
    ``sink_errors``, ``dropped_conns`` (token mismatch or oversize
    frame) and ``reader_errors``."""

    def __init__(self, sink: Callable[[bytes], None], host: str, max_msg: int = _MAX_MSG):
        self._frame_sink = sink
        self._host = host
        self._max_msg = max_msg
        self._token = secrets.token_bytes(_TOKEN_LEN)
        self.stats = {
            "frames": 0,
            "drained_at_close": 0,
            "sink_errors": 0,
            "dropped_conns": 0,
            "reader_errors": 0,
        }
        self._srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
        self._srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
        # advertised interface ONLY — a bind failure disables the
        # channel (callers fall back to with-result delivery) instead
        # of widening to 0.0.0.0.
        self._srv.bind((host, 0))
        self._srv.listen(1024)
        self._srv.setblocking(False)
        self._port = self._srv.getsockname()[1]
        self._closed = False
        # self-pipe: __exit__ writes one byte so the reader wakes on the
        # close itself instead of on a select timeout.
        self._wake_r, self._wake_w = socket.socketpair()
        self._wake_r.setblocking(False)
        self._sel = selectors.DefaultSelector()
        self._sel.register(self._srv, selectors.EVENT_READ, None)
        self._sel.register(self._wake_r, selectors.EVENT_READ, _WAKE)
        self._thread: threading.Thread | None = None

    @property
    def advertise(self) -> tuple[str, int, bytes, int]:
        return (self._host, self._port, self._token, self._max_msg)

    @property
    def closed(self) -> bool:
        return self._closed

    def __enter__(self) -> "MessageStreamServer":
        self._thread = threading.Thread(target=self._serve, daemon=True)
        self._thread.start()
        return self

    # -- single-thread selector loop ------------------------------------
    def _serve(self) -> None:
        try:
            while not self._closed:
                for key, _ in self._sel.select():
                    if key.data is None:
                        self._accept()
                    elif key.data is not _WAKE:
                        self._service(key)
            self._drain_at_close()
        except Exception:  # noqa: BLE001 — message channel is best-effort
            self.stats["reader_errors"] += 1
        finally:
            self._release()

    def _drain_at_close(self) -> None:
        """Deliver what workers sent before the close: accept the
        connections still in the backlog, then read every connection
        until it would block or hits EOF."""
        before = self.stats["frames"]
        self._accept()
        for key in list(self._sel.get_map().values()):
            if isinstance(key.data, _Conn):
                while self._service(key):
                    pass
        self.stats["drained_at_close"] = self.stats["frames"] - before

    def _release(self) -> None:
        for key in list(self._sel.get_map().values()):
            if isinstance(key.data, _Conn):
                try:
                    key.fileobj.close()
                except OSError:
                    pass
        for sock in (self._srv, self._wake_r, self._wake_w):
            try:
                sock.close()
            except OSError:
                pass
        try:
            self._sel.close()
        except OSError:
            pass
        # no frame can arrive now; a sink that reads this server (the
        # stream's close-aware put) would otherwise keep both, and all
        # the sink holds, in a cycle until a full garbage collection
        self._frame_sink = None

    def _accept(self) -> None:
        while True:
            try:
                conn, _ = self._srv.accept()
            except (BlockingIOError, OSError):
                return
            conn.setblocking(False)
            self._sel.register(conn, selectors.EVENT_READ, _Conn())

    def _service(self, key) -> bool:
        """Read once from a connection. True iff data was read and the
        connection stays open (more may be buffered)."""
        conn, st = key.fileobj, key.data
        try:
            data = conn.recv(_RECV_CHUNK)
        except BlockingIOError:
            return False
        except OSError:
            data = b""
        if data and self._drain(st, data):
            return True
        if data:
            self.stats["dropped_conns"] += 1
        try:
            self._sel.unregister(conn)
        except (KeyError, ValueError):
            pass
        try:
            conn.close()
        except OSError:
            pass
        return False

    def _drain(self, st: _Conn, data: bytes) -> bool:
        """Append ``data`` and consume complete frames from the
        connection buffer; False means protocol violation → drop the
        connection."""
        buf = st.buf
        buf += data
        while True:
            if not st.authed:
                if len(buf) < _TOKEN_LEN:
                    return True
                if not hmac.compare_digest(bytes(buf[:_TOKEN_LEN]), self._token):
                    return False  # wrong/no token: drop before parsing anything
                del buf[:_TOKEN_LEN]
                st.authed = True
            if len(buf) < _LEN.size:
                return True
            (size,) = _LEN.unpack_from(buf)
            if size > self._max_msg:
                return False
            if len(buf) < _LEN.size + size:
                return True
            frame = bytes(buf[_LEN.size : _LEN.size + size])
            del buf[: _LEN.size + size]
            self.stats["frames"] += 1
            try:
                self._frame_sink(frame)
            except Exception:  # noqa: BLE001 — sink bugs can't kill the reader
                self.stats["sink_errors"] += 1

    def __exit__(self, *exc) -> None:
        self._closed = True
        if self._thread is None:  # never entered: no reader to wake
            self._release()
            return
        try:
            self._wake_w.send(b"\0")
        except OSError:
            pass  # already released by the reader
        self._thread.join(timeout=2)


class MessageStreamClient:
    """Worker-side push channel: one lazy connection per task, built
    from the server's ``advertise``; the job token is sent once at
    connect. No method raises: ``send_frame`` reports False for a frame
    over the server's cap or a dead socket, and the caller picks the
    fallback."""

    def __init__(self, host: str, port: int, token: bytes, max_msg: int):
        self._addr = (host, port)
        self._token = token
        self._max_msg = max_msg
        self._sock: socket.socket | None = None
        self._dead = False

    def send_frame(self, frame: bytes) -> bool:
        """Push one frame; True iff delivered."""
        if self._dead or len(frame) > self._max_msg:
            return False
        try:
            if self._sock is None:
                self._sock = socket.create_connection(self._addr, timeout=2)
                # the 2 s bound is for the connect only: a send blocked by
                # a full driver queue is the stream's backpressure, and
                # the driver's cancel-before-close still ends it
                self._sock.settimeout(None)
                self._sock.sendall(self._token)
            self._sock.sendall(_LEN.pack(len(frame)) + frame)
            return True
        except OSError:
            self._dead = True
            self.close()
            return False

    def close(self) -> None:
        try:
            if self._sock is not None:
                self._sock.close()
        except OSError:
            pass
        self._sock = None
