"""Security + scale contract of the driver-side message channel
(burla_spark/logs.py): host-bound listener, per-job token auth, a
pickle-free transport envelope whose frames lead with a kind byte, one
selector-driven reader thread, an event-driven close that drains
buffered frames, swallowed-failure counters, and first-delivery-wins
log dedup. Pure-socket tests — no Spark session."""

from __future__ import annotations

import pickle
import queue
import socket
import threading
import time
from collections import Counter

import pytest

from burla_spark import logs
from burla_spark.logs import (
    MessageStreamClient,
    MessageStreamServer,
    decode_log_frame,
    encode_log_frame,
    encode_result_batch,
    frame_sink,
    once_per_index,
)

HOST = "127.0.0.1"


# ---------------------------------------------------------------------------
# frame codecs: struct round-trips, no pickle on the wire
# ---------------------------------------------------------------------------
def test_result_batch_codec_roundtrip():
    """Columnar batch frame (one packed array per column, mode byte 0
    for an all-None column): every null/empty/unicode/binary shape must
    survive, including the all-clean fast path and single/empty
    batches."""
    from burla_spark.logs import decode_result_batch, encode_result_batch

    varied = [
        (0, False, b"abc", "", None, None, None, None),
        (1, True, None, "out\n", "ValueError", "boom", "tb…", b"\x00pkl"),
        (41, True, None, "caught: déjà vu\n", "ValueError", "bad", "tb…", b"\x00\x01"),
        (2, False, b"", "", "", None, "x", None),
        (3, False, b"\x00\xff", "unicode é", None, "", None, b""),
        (2**40, False, b"big-idx", None, None, None, None, None),
    ]
    assert decode_result_batch(encode_result_batch(varied)) == varied
    # all-clean fast path: empty stdout strings, all error columns None
    clean = [
        (i, False, pickle.dumps(i), "", None, None, None, None)
        for i in range(300)
    ]
    assert decode_result_batch(encode_result_batch(clean)) == clean
    assert decode_result_batch(encode_result_batch([varied[1]])) == [varied[1]]
    assert decode_result_batch(encode_result_batch([])) == []


def test_log_frame_codec_roundtrip():
    assert decode_log_frame(encode_log_frame(7, "héllo\nwörld")) == (7, "héllo\nwörld")
    assert decode_log_frame(encode_log_frame(-1, "")) == (-1, "")


def test_envelope_contains_no_pickle_opcodes():
    # the transport frame for a log message is struct+utf8; feeding it
    # to pickle must fail, proving nothing on the wire auto-executes.
    frame = encode_log_frame(3, "print output")
    with pytest.raises(Exception):
        pickle.loads(frame)


# ---------------------------------------------------------------------------
# listener security
# ---------------------------------------------------------------------------
def test_server_binds_advertised_host_only():
    srv = MessageStreamServer(lambda b: None, HOST)
    try:
        assert srv._srv.getsockname()[0] == HOST  # not 0.0.0.0
        host, port, token, max_msg = srv.advertise
        assert host == HOST and len(token) == 16 and max_msg == 1_000_000
    finally:
        srv.__exit__()


def test_wrong_token_dropped_before_any_parse():
    hits: list = []
    with MessageStreamServer(frame_sink(lambda i, t: hits.append((i, t))), HOST) as srv:
        host, port, *_ = srv.advertise
        evil = pickle.dumps((0, "pwn"))
        with socket.create_connection((host, port), timeout=2) as s:
            s.sendall(b"X" * 16 + len(evil).to_bytes(4, "big") + evil)
            s.settimeout(3)
            assert s.recv(1) == b""  # server closed on us
    assert hits == []


def test_missing_token_prefix_never_reaches_sink():
    hits: list = []
    with MessageStreamServer(frame_sink(lambda i, t: hits.append((i, t))), HOST) as srv:
        host, port, *_ = srv.advertise
        # a valid frame but the first 16 bytes aren't the token
        frame = encode_log_frame(1, "x")
        with socket.create_connection((host, port), timeout=2) as s:
            s.sendall(len(frame).to_bytes(4, "big") + frame + b"\x00" * 8)
            s.settimeout(3)
            assert s.recv(1) == b""
    assert hits == []


def test_authenticated_client_delivers():
    got: "queue.Queue" = queue.Queue()
    with MessageStreamServer(frame_sink(lambda i, t: got.put((i, t))), HOST) as srv:
        client = MessageStreamClient(*srv.advertise)
        assert client.send_frame(encode_log_frame(5, "live line\n"))
        assert client.send_frame(encode_log_frame(9, "second\n"))
        client.close()
        assert got.get(timeout=5) == (5, "live line\n")
        assert got.get(timeout=5) == (9, "second\n")


def test_oversize_frame_drops_connection():
    got: list = []
    with MessageStreamServer(got.append, HOST, max_msg=64) as srv:
        client = MessageStreamClient(*srv.advertise[:3], max_msg=1 << 20)
        assert client.send_frame(b"y" * 1000)  # accepted locally, rejected remotely
        deadline = time.time() + 3
        while time.time() < deadline and not client._dead:
            client.send_frame(b"z")  # eventually hits the closed socket
            time.sleep(0.05)
    assert got == [] or all(len(f) <= 64 for f in got)


def test_client_takes_the_frame_cap_from_advertise():
    """A frame over the server's cap is refused on the worker side
    (the caller falls back) and the connection stays usable."""
    got: "queue.Queue" = queue.Queue()
    with MessageStreamServer(got.put, HOST, max_msg=64) as srv:
        client = MessageStreamClient(*srv.advertise)
        assert not client.send_frame(b"y" * 65)
        assert client.send_frame(b"fits")
        assert got.get(timeout=5) == b"fits"
        client.close()
    assert srv.stats["dropped_conns"] == 0


# ---------------------------------------------------------------------------
# one connection, two frame kinds
# ---------------------------------------------------------------------------
def test_frame_sink_routes_by_kind_in_connection_order():
    """Stdout and result frames share one connection; the sink sees
    them in send order, so a stdout frame sent before a result batch
    is delivered before that batch."""
    events: list = []
    sink = frame_sink(
        lambda i, t: events.append(("stdout", i, t)),
        lambda rows: events.append(("result", [r[0] for r in rows])),
    )
    row = (4, False, b"p", "", None, None, None, None)
    with MessageStreamServer(sink, HOST) as srv:
        client = MessageStreamClient(*srv.advertise)
        for i in range(50):
            assert client.send_frame(encode_log_frame(i, f"line {i}\n"))
            assert client.send_frame(encode_result_batch([(i, *row[1:])]))
        client.close()
        deadline = time.time() + 5
        while srv.stats["frames"] < 100 and time.time() < deadline:
            time.sleep(0.01)
    expected = []
    for i in range(50):
        expected += [("stdout", i, f"line {i}\n"), ("result", [i])]
    assert events == expected


def test_frame_sink_rejects_unknown_kinds():
    """An unknown kind, and a result frame where no result handler is
    set, raise in the sink, which the server counts as a sink error."""
    lines: list = []
    with MessageStreamServer(frame_sink(lambda i, t: lines.append(i)), HOST) as srv:
        client = MessageStreamClient(*srv.advertise)
        assert client.send_frame(b"\x07junk")
        assert client.send_frame(encode_result_batch([]))
        assert client.send_frame(encode_log_frame(3, "ok"))
        client.close()
        deadline = time.time() + 5
        while srv.stats["frames"] < 3 and time.time() < deadline:
            time.sleep(0.01)
    assert lines == [3]
    assert srv.stats["sink_errors"] == 2


def test_result_frames_decode_through_the_module_global(monkeypatch):
    """frame_sink looks ``decode_result_batch`` up at call time, so a
    wrapper installed on the module (as perfbench's tracer does) sees
    every result frame."""
    seen: list = []
    real = logs.decode_result_batch

    def counting(frame):
        seen.append(len(frame))
        return real(frame)

    monkeypatch.setattr(logs, "decode_result_batch", counting)
    got: list = []
    frame = encode_result_batch([(1, False, b"x", "", None, None, None, None)])
    frame_sink(lambda i, t: None, got.extend)(frame)
    assert seen == [len(frame)]
    assert got == [(1, False, b"x", "", None, None, None, None)]


# ---------------------------------------------------------------------------
# scale: many concurrent pushers, ONE reader thread
# ---------------------------------------------------------------------------
def test_selector_reader_handles_256_concurrent_pushers():
    n_conns, per_conn = 256, 4
    got: "queue.Queue" = queue.Queue()
    failures: list = []
    baseline = threading.active_count()
    with MessageStreamServer(got.put, HOST) as srv:
        addr = srv.advertise

        def pusher(i: int) -> None:
            try:
                c = MessageStreamClient(*addr)
                for j in range(per_conn):
                    if not c.send_frame(f"{i}:{j}".encode()):
                        failures.append((i, j))
                c.close()
            except Exception as exc:  # noqa: BLE001
                failures.append((i, repr(exc)))

        threads = [threading.Thread(target=pusher, args=(i,)) for i in range(n_conns)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=30)
        assert not failures, failures[:5]
        frames = set()
        deadline = time.time() + 20
        while len(frames) < n_conns * per_conn and time.time() < deadline:
            try:
                frames.add(got.get(timeout=1))
            except queue.Empty:
                pass
        assert len(frames) == n_conns * per_conn
        # thread-per-connection would have spawned ~256 reader threads;
        # the selector design adds exactly one.
        assert threading.active_count() <= baseline + 2


# ---------------------------------------------------------------------------
# close protocol: wake on an event, drain what workers already sent
# ---------------------------------------------------------------------------
def test_exit_wakes_idle_reader_immediately():
    for _ in range(5):
        srv = MessageStreamServer(lambda b: None, HOST).__enter__()
        time.sleep(0.05)  # reader is parked in select
        t0 = time.perf_counter()
        srv.__exit__()
        took = time.perf_counter() - t0
        assert took < 0.05, f"__exit__ took {took:.3f}s"
        assert not srv._thread.is_alive()


def test_frames_sent_just_before_exit_delivered_exactly_once():
    got: list = []
    srv = MessageStreamServer(got.append, HOST).__enter__()
    client = MessageStreamClient(*srv.advertise)
    for i in range(500):
        assert client.send_frame(f"f{i}".encode())
    srv.__exit__()
    client.close()
    counts = Counter(got)
    assert set(counts) == {f"f{i}".encode() for i in range(500)}
    assert set(counts.values()) == {1}
    assert srv.stats["frames"] == 500


def test_connection_in_backlog_at_close_is_drained():
    """Park the reader inside the sink, connect a second client (it
    can only sit in the listen backlog), close, then release the sink:
    the backlog connection's frames must still reach the sink."""
    release = threading.Event()
    got: list = []

    def sink(frame: bytes) -> None:
        if frame == b"park":
            release.wait(5)
        got.append(frame)

    srv = MessageStreamServer(sink, HOST).__enter__()
    first = MessageStreamClient(*srv.advertise)
    assert first.send_frame(b"park")
    deadline = time.time() + 5
    while srv.stats["frames"] == 0 and time.time() < deadline:
        time.sleep(0.01)
    late = MessageStreamClient(*srv.advertise)
    for i in range(20):
        assert late.send_frame(f"late{i}".encode())
    closer = threading.Thread(target=srv.__exit__)
    closer.start()
    while not srv.closed:
        time.sleep(0.001)
    release.set()
    closer.join(5)
    assert not closer.is_alive()
    first.close()
    late.close()
    assert got == [b"park"] + [f"late{i}".encode() for i in range(20)]
    assert srv.stats["drained_at_close"] == 20


def test_stats_count_sink_errors_and_dropped_connections():
    got: list = []

    def sink(frame: bytes) -> None:
        if frame == b"bad":
            raise ValueError("sink bug")
        got.append(frame)

    with MessageStreamServer(sink, HOST, max_msg=64) as srv:
        client = MessageStreamClient(*srv.advertise[:3], max_msg=1 << 20)
        assert client.send_frame(b"one")
        assert client.send_frame(b"bad")
        assert client.send_frame(b"two")
        client.close()
        with socket.create_connection(srv.advertise[:2], timeout=2) as s:
            s.sendall(b"X" * 16)  # wrong token
            s.settimeout(3)
            assert s.recv(1) == b""
        oversize = MessageStreamClient(*srv.advertise[:3], max_msg=1 << 20)
        assert oversize.send_frame(b"y" * 1000)
        deadline = time.time() + 5
        while srv.stats["dropped_conns"] < 2 and time.time() < deadline:
            time.sleep(0.01)
        oversize.close()
    assert got == [b"one", b"two"]
    assert srv.stats["sink_errors"] == 1
    assert srv.stats["frames"] == 3
    assert srv.stats["dropped_conns"] == 2
    assert srv.stats["reader_errors"] == 0


# ---------------------------------------------------------------------------
# delivery dedup
# ---------------------------------------------------------------------------
def test_once_per_index_first_delivery_wins():
    out: list = []
    sink = once_per_index(lambda i, t: out.append((i, t)))
    sink(1, "first attempt")
    sink(2, "other input")
    sink(1, "speculative replay")  # dropped
    sink(1, "with-result fallback replay")  # dropped
    assert out == [(1, "first attempt"), (2, "other input")]
