"""Streaming integration tests (SURVEY.md §5.2 item 4): file replay and
the custom sbs1 TCP source, each checked against batch-mode parity."""

from __future__ import annotations

import socket
import socketserver
import threading
import time

from pyspark.sql import functions as F

from dump1090_stream_parser_spark.sources.sbs1 import parse_lines, silver
from dump1090_stream_parser_spark.streaming.pipeline import (
    bronze_from_file_replay,
    bronze_from_sbs1_multi,
    silver_stream,
    write_silver,
)

from .test_sbs1_parser import GOLDEN, INVALID


def test_file_replay_stream_matches_batch(spark, tmp_path):
    src = tmp_path / "lines"
    src.mkdir()
    (src / "part1.txt").write_text("\n".join(GOLDEN + INVALID) + "\n")

    out = tmp_path / "out"
    ckpt = tmp_path / "ckpt"
    bronze = bronze_from_file_replay(spark, str(src))
    q = write_silver(
        silver_stream(bronze),
        str(out),
        str(ckpt),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)

    got = spark.read.parquet(str(out / "squitters"))
    batch_lines = spark.read.text(str(src))
    expect = silver(parse_lines(batch_lines))
    assert got.count() == len(GOLDEN)
    # stream/batch parity on the typed payload (parsed_time differs by
    # construction: batch stamp vs stream stamp)
    key_cols = ["transmission_type", "hex_ident", "generated_ts", "altitude"]
    assert sorted(map(tuple, got.select(*key_cols).collect())) == sorted(
        map(tuple, expect.select(*key_cols).collect())
    )
    dead = spark.read.parquet(str(out / "dead_letter"))
    assert dead.count() == len(INVALID)


class _Broadcast(socketserver.BaseRequestHandler):
    """Serves the fixture lines once, in two chunks split mid-field to
    exercise partial-line carry (FIXTURES.md §1.2), then keeps the
    connection open."""

    def handle(self):
        payload = ("\n".join(GOLDEN + INVALID) + "\n").encode()
        cut = payload.index(b"51.46720") + 4  # mid-field split
        self.request.sendall(payload[:cut])
        time.sleep(0.3)
        self.request.sendall(payload[cut:])
        time.sleep(30)


def test_sbs1_source_end_to_end(spark, tmp_path):
    server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), _Broadcast)
    server.daemon_threads = True
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        bronze = bronze_from_sbs1_multi(
            spark, [("127.0.0.1", port)], connect_attempt_limit=3
        )
        parsed = silver_stream(bronze)
        q = (
            parsed.writeStream.format("memory")
            .queryName("sbs1_test")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            deadline = time.time() + 90
            want = len(GOLDEN) + len(INVALID)
            while time.time() < deadline:
                n = spark.sql("SELECT count(*) FROM sbs1_test").collect()[0][0]
                if n >= want:
                    break
                time.sleep(1)
            rows = spark.sql("SELECT * FROM sbs1_test").collect()
            good = [r for r in rows if r["_corrupt_record"] is None]
            bad = [r for r in rows if r["_corrupt_record"] is not None]
            # partial-line carry reassembled the split MSG,3 line exactly once
            assert len(good) == len(GOLDEN)
            assert len(bad) == len(INVALID)
            assert all(r["parsed_time"] is not None for r in good)
            msg3 = [r for r in good if r["transmission_type"] == 3]
            assert any(abs(r["lat"] - 51.46720) < 1e-9 for r in msg3)
        finally:
            q.stop()
    finally:
        server.shutdown()
        server.server_close()


def test_silver_sink_idempotent_on_batch_replay(spark, tmp_path):
    """A re-delivered micro-batch (same batch_id) must not double-insert."""
    from dump1090_stream_parser_spark.streaming.pipeline import (
        silver_batch_writer,
    )

    out = tmp_path / "idem"
    batch = parse_lines(
        spark.createDataFrame([(l,) for l in GOLDEN], "value string"),
        parsed_time=F.col("generated_ts"),
    )
    write_batch = silver_batch_writer(str(out))
    write_batch(batch, 7)
    write_batch(batch, 7)  # replay of the SAME batch id
    n = spark.read.parquet(str(out / "squitters")).count()
    assert n == len(GOLDEN)
    write_batch(batch, 8)  # a NEW batch id appends
    n2 = spark.read.parquet(str(out / "squitters")).count()
    assert n2 == 2 * len(GOLDEN)


def test_bronze_archive_and_silver_from_one_stream(spark, tmp_path):
    from dump1090_stream_parser_spark.streaming.pipeline import (
        write_bronze_and_silver,
    )

    src = tmp_path / "blines"
    src.mkdir()
    (src / "l.txt").write_text("\n".join(GOLDEN + INVALID) + "\n")
    out = tmp_path / "bout"
    q = write_bronze_and_silver(
        bronze_from_file_replay(spark, str(src)),
        str(out),
        str(tmp_path / "bckpt"),
        trigger={"availableNow": True},
    )
    q.awaitTermination(120)
    bronze = spark.read.parquet(str(out / "bronze"))
    assert bronze.count() == len(GOLDEN) + len(INVALID)  # raw, lossless
    got = spark.read.parquet(str(out / "squitters"))
    assert got.count() == len(GOLDEN)
    dead = spark.read.parquet(str(out / "dead_letter"))
    assert dead.count() == len(INVALID)
    # every raw line is recoverable: bronze replay reproduces silver
    replay = silver(parse_lines(bronze.select("value")))
    assert replay.count() == len(GOLDEN)


def test_checkpoint_resume_processes_only_new_files(spark, tmp_path):
    """Restarting the stream with the same checkpoint resumes from the
    committed offset: old files are not reprocessed, new ones are, and
    the batch-id-idempotent sink never double-counts."""
    src = tmp_path / "rsrc"
    src.mkdir()
    out, ckpt = tmp_path / "rout", tmp_path / "rckpt"

    def run_once():
        bronze = bronze_from_file_replay(spark, str(src))
        q = write_silver(
            silver_stream(bronze),
            str(out),
            str(ckpt),
            trigger={"availableNow": True},
        )
        q.awaitTermination(120)

    (src / "a.txt").write_text("\n".join(GOLDEN[:3]) + "\n")
    run_once()
    assert spark.read.parquet(str(out / "squitters")).count() == 3

    # restart with no new data: nothing is reprocessed
    run_once()
    assert spark.read.parquet(str(out / "squitters")).count() == 3

    # restart with one new file: only its lines are appended
    (src / "b.txt").write_text("\n".join(GOLDEN[3:]) + "\n")
    run_once()
    got = spark.read.parquet(str(out / "squitters"))
    assert got.count() == len(GOLDEN)
    assert got.select("hex_ident").distinct().count() == 3


def test_supervise_restarts_failed_query(spark, tmp_path):
    """supervise() re-launches a failed stream (the reference's reconnect
    loop at the query level) and stops retrying on a clean termination."""
    from dump1090_stream_parser_spark.streaming.monitor import supervise

    src = tmp_path / "ssrc"
    src.mkdir()
    (src / "l.txt").write_text("\n".join(GOLDEN) + "\n")
    attempts = []

    def start():
        if not attempts:
            attempts.append("fail")
            raise RuntimeError("transient failure before start")
        attempts.append("ok")
        bronze = bronze_from_file_replay(spark, str(src))
        return write_silver(
            silver_stream(bronze),
            str(tmp_path / "sout"),
            str(tmp_path / "sckpt"),
            trigger={"availableNow": True},
        )

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        # the first factory call raises before a query exists -- supervise
        # only guards awaitTermination, so factory errors propagate (by
        # design: a startup bug should not be retried silently)
        supervise(start, attempt_limit=3, delay=0.1)

    # second run: factory succeeds, query runs to clean completion
    supervise(start, attempt_limit=3, delay=0.1)
    assert attempts == ["fail", "ok"]
    got = spark.read.parquet(str(tmp_path / "sout" / "squitters"))
    assert got.count() == len(GOLDEN)


class _PhaseServer(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


def _serve_once(port: int, lines: list[str]) -> socketserver.TCPServer:
    """A server on `port` that sends `lines` to each client then holds
    the connection open."""

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(("\n".join(lines) + "\n").encode())
            time.sleep(30)

    server = _PhaseServer(("127.0.0.1", port), Handler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    return server


def test_sbs1_partitioned_source_end_to_end(spark, tmp_path):
    """The multi-receiver partitioned reader (hosts=...): every
    receiver's lines arrive exactly once, partial-line carry reassembles
    per receiver, and per-row ingest_ts is stamped. Each server tags its
    callsign so delivery can be attributed per receiver."""
    n_receivers = 3
    per_recv = {}
    servers = []
    hosts = []
    try:
        for i in range(n_receivers):
            lines = [
                f"MSG,1,1,1,4CA2D{i},1,2026/08/13,10:00:01.000,"
                f"2026/08/13,10:00:01.050,RX{i}N{j},,,,,,,,,,,"
                for j in range(40)
            ]
            per_recv[i] = lines
            payload = ("\n".join(lines) + "\n").encode()
            cut = len(payload) // 2  # mid-stream split: carry per receiver

            class Handler(socketserver.BaseRequestHandler):
                _payload = payload
                _cut = cut

                def handle(self):
                    self.request.sendall(self._payload[: self._cut])
                    time.sleep(0.2)
                    self.request.sendall(self._payload[self._cut:])
                    time.sleep(30)

            server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
            server.daemon_threads = True
            servers.append(server)
            hosts.append(("127.0.0.1", server.server_address[1]))
            threading.Thread(target=server.serve_forever, daemon=True).start()

        bronze = bronze_from_sbs1_multi(
            spark, hosts, connect_attempt_limit=5, connect_attempt_delay=0.2
        )
        q = (
            bronze.writeStream.format("memory")
            .queryName("sbs1_part_test")
            .option("checkpointLocation", str(tmp_path / "pckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            want = n_receivers * 40
            deadline = time.time() + 90
            while time.time() < deadline:
                n = spark.sql(
                    "SELECT count(*) FROM sbs1_part_test"
                ).collect()[0][0]
                if n >= want:
                    break
                time.sleep(1)
            rows = spark.sql("SELECT * FROM sbs1_part_test").collect()
            got = sorted(r["value"] for r in rows)
            expect = sorted(l for ls in per_recv.values() for ls in [ls] for l in ls)
            assert got == expect  # exactly once per line, all receivers
            assert all(r["ingest_ts"] is not None for r in rows)
        finally:
            q.stop()
    finally:
        for s in servers:
            s.shutdown()
            s.server_close()


def test_sbs1_partitioned_source_silver_parity(spark, tmp_path):
    """test_sbs1_source_end_to_end's contract across TWO receivers:
    the same GOLDEN + INVALID fixture lines (served across two
    receivers, each split mid-stream to exercise per-receiver carry)
    through silver_stream -- good rows parse, invalid rows dead-letter,
    parsed_time is stamped per row."""
    shards = [GOLDEN, INVALID]
    servers, hosts = [], []
    try:
        for lines in shards:
            payload = ("\n".join(lines) + "\n").encode()
            cut = len(payload) // 2

            class Handler(socketserver.BaseRequestHandler):
                _payload = payload
                _cut = cut

                def handle(self):
                    self.request.sendall(self._payload[: self._cut])
                    time.sleep(0.2)
                    self.request.sendall(self._payload[self._cut:])
                    time.sleep(30)

            server = socketserver.ThreadingTCPServer(
                ("127.0.0.1", 0), Handler
            )
            server.daemon_threads = True
            servers.append(server)
            hosts.append(("127.0.0.1", server.server_address[1]))
            threading.Thread(target=server.serve_forever, daemon=True).start()

        bronze = bronze_from_sbs1_multi(
            spark, hosts, connect_attempt_limit=5, connect_attempt_delay=0.2
        )
        parsed = silver_stream(bronze)
        q = (
            parsed.writeStream.format("memory")
            .queryName("sbs1_part_silver")
            .option("checkpointLocation", str(tmp_path / "psckpt"))
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            want = len(GOLDEN) + len(INVALID)
            deadline = time.time() + 90
            while time.time() < deadline:
                n = spark.sql(
                    "SELECT count(*) FROM sbs1_part_silver"
                ).collect()[0][0]
                if n >= want:
                    break
                time.sleep(1)
            rows = spark.sql("SELECT * FROM sbs1_part_silver").collect()
            good = [r for r in rows if r["_corrupt_record"] is None]
            bad = [r for r in rows if r["_corrupt_record"] is not None]
            assert len(good) == len(GOLDEN)
            assert len(bad) == len(INVALID)
            assert all(r["parsed_time"] is not None for r in good)
            msg3 = [r for r in good if r["transmission_type"] == 3]
            assert any(abs(r["lat"] - 51.46720) < 1e-9 for r in msg3)
        finally:
            q.stop()
    finally:
        for s in servers:
            s.shutdown()
            s.server_close()


def test_sbs1_partitioned_source_restart_no_duplicates(spark, tmp_path):
    """Restart-from-checkpoint e2e on the partitioned reader: a fresh
    run against the same checkpoint must never re-emit committed rows
    (the fresh connection fast-forwards to the checkpointed offset) and
    must keep delivering rows served after the restart. Loss of rows
    served across the restart gap is inherent to ephemeral TCP and
    documented; duplication would be a bug."""
    counter = {"n": 0}

    class Handler(socketserver.BaseRequestHandler):
        def handle(self):
            try:
                while True:
                    i = counter["n"]
                    counter["n"] += 1
                    line = f"MSG,8,1,1,AB{i:04d},1,,,,,,,,,,,,,,,,0\n"
                    self.request.sendall(line.encode())
                    time.sleep(0.05)
            except OSError:
                pass

    server = socketserver.ThreadingTCPServer(("127.0.0.1", 0), Handler)
    server.daemon_threads = True
    port = server.server_address[1]
    threading.Thread(target=server.serve_forever, daemon=True).start()

    out = tmp_path / "restart_out"
    ckpt = str(tmp_path / "restart_ckpt")

    def run_phase(seconds: float) -> None:
        bronze = bronze_from_sbs1_multi(
            spark,
            [("127.0.0.1", port)],
            connect_attempt_limit=5,
            connect_attempt_delay=0.2,
        )
        q = (
            bronze.writeStream.format("parquet")
            .option("path", str(out))
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="1 second")
            .start()
        )
        try:
            time.sleep(seconds)
        finally:
            q.stop()
            q.awaitTermination(30)

    try:
        run_phase(14)
        phase1 = [r["value"] for r in spark.read.parquet(str(out)).collect()]
        assert phase1, "phase 1 delivered nothing"
        served_before_restart = counter["n"]
        run_phase(14)
        rows = [r["value"] for r in spark.read.parquet(str(out)).collect()]
        # exactly-once across the restart: no value appears twice
        assert len(rows) == len(set(rows)), "duplicate rows after restart"
        # and the restarted query delivered NEW data (ids the server
        # only produced after phase 1 ended)
        new_ids = {
            int(v.split(",")[4][2:])
            for v in rows
            if int(v.split(",")[4][2:]) >= served_before_restart
        }
        assert new_ids, "restarted query delivered no post-restart rows"
    finally:
        server.shutdown()
        server.server_close()


def test_sbs1_partitioned_source_survives_server_kill(spark, tmp_path):
    """A9 end-to-end on the PARTITIONED reader: one of two receivers'
    feeds dies mid-stream and comes back; its drain thread reconnects
    and every line from both phases (and from the untouched receiver)
    lands exactly once."""
    part1, part2 = GOLDEN[: len(GOLDEN) // 2], GOLDEN[len(GOLDEN) // 2:]
    steady = [f"MSG,8,1,1,CC{i:04d},1,,,,,,,,,,,,,,,,0" for i in range(10)]

    probe = socket.socket()
    probe.bind(("127.0.0.1", 0))
    kill_port = probe.getsockname()[1]
    probe.close()

    # long-hold server: _serve_once's 30 s hold would close the
    # connection mid-test, and on reconnect it re-serves the same
    # payload -- a harness artifact (a real feed never resends), so
    # the steady receiver gets a handler that holds for the whole test
    class _SteadyHandler(socketserver.BaseRequestHandler):
        def handle(self):
            self.request.sendall(("\n".join(steady) + "\n").encode())
            time.sleep(600)

    steady_server = _PhaseServer(("127.0.0.1", 0), _SteadyHandler)
    threading.Thread(
        target=steady_server.serve_forever, daemon=True
    ).start()
    steady_port = steady_server.server_address[1]
    server = _serve_once(kill_port, part1)
    q = None
    try:
        bronze = bronze_from_sbs1_multi(
            spark,
            [("127.0.0.1", kill_port), ("127.0.0.1", steady_port)],
            connect_attempt_limit=100,
            connect_attempt_delay=0.2,
        )
        q = (
            bronze.writeStream.format("memory")
            .queryName("sbs1_pkill_test")
            .option("checkpointLocation", str(tmp_path / "pkckpt"))
            .trigger(processingTime="1 second")
            .start()
        )

        def count() -> int:
            return spark.sql(
                "SELECT count(*) FROM sbs1_pkill_test"
            ).collect()[0][0]

        want1 = len(part1) + len(steady)
        deadline = time.time() + 60
        while time.time() < deadline and count() < want1:
            time.sleep(0.5)
        assert count() == want1, "phase-1 lines not all delivered"

        server.shutdown()
        server.server_close()
        time.sleep(1.0)
        server = _serve_once(kill_port, part2)

        want = want1 + len(part2)
        deadline = time.time() + 60
        while time.time() < deadline and count() < want:
            time.sleep(0.5)

        rows = [r["value"] for r in spark.sql(
            "SELECT value FROM sbs1_pkill_test"
        ).collect()]
        assert sorted(rows) == sorted(part1 + part2 + steady)
    finally:
        if q is not None:
            q.stop()
        server.shutdown()
        server.server_close()
        steady_server.shutdown()
        steady_server.server_close()
