"""Protocol tests for the ``sbs1`` source's reader,
``Sbs1PartitionedStreamReader``, driven directly on the reader object
against localhost TCP servers -- no Spark session, so they run in the
default gate: the offset/replay/commit contract that exactly-once
delivery rests on, connect-failure surfacing, the first-offset rebase
after a restart, and the ``hosts`` option parsing the CLI shares."""

from __future__ import annotations

import socket
import socketserver
import threading
import time

from dump1090_stream_parser_spark.cli import build_parser
from dump1090_stream_parser_spark.sources.sbs1_source import (
    Sbs1PartitionedStreamReader,
    _parse_hosts,
)


def _serve(payload: bytes) -> socketserver.ThreadingTCPServer:
    """A server on a free port that sends `payload` to each client,
    then holds the connection open."""

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(payload)
            time.sleep(30)

    server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def _reader(port: int, **options: str) -> Sbs1PartitionedStreamReader:
    return Sbs1PartitionedStreamReader(
        {
            "hosts": f"127.0.0.1:{port}",
            "connect_attempt_limit": "5",
            "connect_attempt_delay": "0.2",
            **options,
        }
    )


def _materialize(reader, parts) -> list[dict]:
    return [
        row
        for p in parts
        for batch in reader.read(p)
        for row in batch.to_pylist()
    ]


def test_sbs1_partitioned_reader_replay_and_commit():
    """Unit-level offset protocol: partitions(start, end) re-reads the
    same rows for the same range (task-retry exactly-once), commit
    prunes the replay buffer, and a checkpoint-ahead restart
    fast-forwards instead of wedging."""
    lines = [f"MSG,8,1,1,ABC00{i},1,,,,,,,,,,,,,,,,0" for i in range(25)]
    server = _serve(("\n".join(lines) + "\n").encode())
    reader = None
    try:
        reader = _reader(server.server_address[1])
        assert reader.initialOffset() == {"r0": 0}
        deadline = time.time() + 10
        while time.time() < deadline:
            end = reader.latestOffset()
            if end["r0"] >= len(lines):
                break
            time.sleep(0.1)
        assert end["r0"] == len(lines)
        start = {"r0": 0}

        rows1 = _materialize(reader, reader.partitions(start, end))
        # task retry: same rows
        rows2 = _materialize(reader, reader.partitions(start, end))
        assert [r["value"] for r in rows1] == lines
        assert rows1 == rows2
        assert all(r["ingest_ts"] is not None for r in rows1)
        # commit prunes: a re-plan of the committed range is now empty
        reader.commit(end)
        assert not _materialize(reader, reader.partitions(start, end))
        # checkpoint-ahead restart: fast-forward, no wedge, no rows
        ahead = {"r0": end["r0"] + 1000}
        assert reader.partitions(ahead, ahead) == []
        later = reader.latestOffset()
        assert later["r0"] >= end["r0"]
    finally:
        if reader is not None:
            reader.stop()
        server.shutdown()
        server.server_close()


def test_sbs1_partitioned_reader_connect_failure_raises():
    """A9 parity: a receiver that exhausts its connect attempts, with a
    backoff between them, surfaces the ConnectionError on
    latestOffset."""
    s = socket.socket()
    s.bind(("127.0.0.1", 0))
    dead_port = s.getsockname()[1]
    s.close()

    reader = _reader(
        dead_port, connect_attempt_limit="2", connect_attempt_delay="0.05"
    )
    try:
        t0 = time.time()
        deadline = t0 + 10
        raised = False
        while time.time() < deadline:
            try:
                reader.latestOffset()
            except ConnectionError:
                raised = True
                break
            time.sleep(0.01)
        assert raised
        assert time.time() - t0 >= 0.05  # at least one backoff wait
    finally:
        reader.stop()


def test_sbs1_partitioned_reader_first_offset_rebase_preserves_fresh_lines():
    """On restart, the fresh connection may out-frame the checkpointed
    offset during recovery. A guard that only fast-forwards then
    delivers NEW lines mislabeled as the replayed WAL batch and
    silently drops the lines below the offset. The rebase contract:
    the first externally-supplied offset renumbers the fresh stream to
    start AT it -- the replayed range reads EMPTY (the documented
    ephemeral-TCP loss), and every recovery-framed line is preserved
    and delivered after it."""
    lines = [f"MSG,8,1,1,RB00{i:02d},1,,,,,,,,,,,,,,,,0" for i in range(25)]
    server = _serve(("\n".join(lines) + "\n").encode())
    reader = None
    try:
        reader = _reader(server.server_address[1])
        # let the drain thread frame everything BEFORE any offset call
        # (the recovery window: connection live, checkpoint not yet
        # consulted) -- poke the thread without latestOffset's sync
        reader._ensure_started()
        deadline = time.time() + 10
        while time.time() < deadline:
            if reader.receivers[0].snapshot_count() >= len(lines):
                break
            time.sleep(0.1)
        assert reader.receivers[0].snapshot_count() == len(lines)

        # first external offsets = the WAL's pending batch [10, 20):
        # must replay EMPTY, not serve fresh lines mislabeled as it
        assert _materialize(
            reader, reader.partitions({"r0": 10}, {"r0": 20})
        ) == []
        # the fresh lines were PRESERVED: renumbered to start at 20
        end = reader.latestOffset()
        assert end["r0"] == 20 + len(lines)
        got = _materialize(reader, reader.partitions({"r0": 20}, end))
        assert [r["value"] for r in got] == lines
    finally:
        if reader is not None:
            reader.stop()
        server.shutdown()
        server.server_close()


def test_parse_hosts_ports_default_and_blank_entries():
    assert _parse_hosts("r1:31003,r2") == [("r1", 31003), ("r2", 30003)]
    assert _parse_hosts(" r1:31003 , ,r2,, ") == [
        ("r1", 31003),
        ("r2", 30003),
    ]
    assert _parse_hosts("") == []


def test_cli_single_feed_is_a_one_host_list():
    """The CLI's hosts list: -l/-p become the one receiver unless
    --hosts is given."""

    def hosts(argv: list[str]) -> list[tuple[str, int]]:
        args = build_parser().parse_args(argv)
        return _parse_hosts(args.hosts or f"{args.location}:{args.port}")

    assert hosts([]) == [("localhost", 30003)]
    assert hosts(["-l", "feed.local", "-p", "31000"]) == [
        ("feed.local", 31000)
    ]
    assert hosts(["-l", "feed.local", "--hosts", "r1:31003,r2"]) == [
        ("r1", 31003),
        ("r2", 30003),
    ]
