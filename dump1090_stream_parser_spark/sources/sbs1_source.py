"""Custom ``sbs1`` Python streaming data source (SURVEY.md §4.3, §7.1 M4).

Re-expresses the reference's TCP client loop -- connect with retry/backoff,
recv into a carry buffer, split lines, stamp receive time (Appendix A
L64-L77, L92-L124, L155-L166) -- as a Spark 4 ``DataSource`` with ONE
reader, :class:`Sbs1PartitionedStreamReader`, for one feed or many:

- option ``hosts="h1:p1,h2:p2,..."`` lists the receivers; the
  reference's single feed (CLI ``-l/-p``) is a one-entry list, built
  with :func:`_parse_hosts`. The other options mirror the reference CLI
  (A13): ``buffer_size``, ``connect_attempt_limit``,
  ``connect_attempt_delay``; plus ``replay_capacity``,
  ``max_lines_per_batch`` and ``rows_per_partition``;
- per-ROW receive timestamp (``ingest_ts``) -- the faithful
  ``parsed_time`` semantics the reference has and per-batch
  ``current_timestamp()`` lacks (SURVEY.md §7.4.2);
- one receiver THREAD per host drains its socket concurrently with
  micro-batch processing (recv + framing only -- recv releases the
  GIL); offsets are per-receiver cumulative line counts, and each
  micro-batch plans data-bearing partitions so decode + parse +
  downstream work run executor-parallel;
- a bounded replay buffer makes planned offset ranges re-readable, so
  task retries are exactly-once into the batch; a full buffer pauses
  recv (TCP backpressure) instead of evicting rows; ``commit`` prunes
  it, and after a restart from a checkpoint the first offset Spark
  supplies renumbers the fresh connection (``_ReceiverThread.rebase``).
  Ephemeral-TCP loss on disconnect is inherent to the medium and
  identical to the reference (SURVEY.md §3.2) -- mitigate upstream with
  a durable bus if needed.

Why the sockets stay driver-side: the Python data source API executes
``read(partition)`` in POOLED executor workers with no task->worker
affinity ("this method is static and stateless",
pyspark.sql.datasource), and an SBS-1 broadcast is UNSEEKABLE --
every new connection receives the feed from connect time onward.
Socket state held in executor workers therefore duplicates
rows whenever a receiver's task lands on a different worker while the
old worker's socket still buffers (each socket gets its own full copy
of the feed) and loses rows on every handover. A single long-lived
process -- the source's driver-side runner -- is the only place an
unseekable connection can live correctly; what CAN parallelize
(framing, decode, typed parse, sink work) is exactly what the
partition plan distributes. The durable-bus caveat stands: replay
beyond the in-memory buffer needs a seekable upstream (SURVEY.md
§3.2).

THROUGHPUT CEILING (measured, BASELINE.md rounds 10-12): all drain
threads share this source's one Python process -- the GIL bounds
one-box ingest at ~300k rows/s however receivers are grouped. The
high-throughput path is the JVM-native ``sbs1-jvm`` source
(java/src/sbs1/Sbs1JvmSource.java, sources/sbs1_jvm.py glue): the
SAME design on JVM threads, measured 0.9-1.6M rows/s. This Python
source remains the zero-dependency default -- a real dump1090 feed is
~10-1.5k msg/s, 200x under its ceiling.
"""

from __future__ import annotations

import socket
import threading
from collections import deque
from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

#: Bronze schema: raw line + receive-side timestamp.
SBS1_BRONZE_DDL = "value string, ingest_ts timestamp"


class _ReceiverThread(threading.Thread):
    """One background drain loop per receiver: connect with
    retry/backoff (A9), recv into the partial-line carry (A2), frame on
    ``\\n``, stamp receive time, append to a bounded replay buffer.

    Runs CONCURRENTLY with micro-batch processing, so draining never
    waits on a batch and a batch never waits on recv. recv blocks with
    a short timeout and releases the GIL, so N receivers genuinely
    overlap; per-line Python work here is one C-level split -- decode
    and tuple building are deferred to the executors via the partition
    payload.
    """

    def __init__(
        self,
        index: int,
        host: str,
        port: int,
        buffer_size: int,
        attempt_limit: int,
        attempt_delay: float,
        replay_capacity: int,
    ):
        super().__init__(daemon=True, name=f"sbs1-recv-{index}")
        self.index = index
        self.host = host
        self.port = port
        self.buffer_size = buffer_size
        self.attempt_limit = attempt_limit
        self.attempt_delay = attempt_delay
        self.lock = threading.Lock()
        #: BLOB-granularity replay buffer: (first_line_no, n_lines,
        #: framed bytes blob, receive ts) per drain. The hot loop does
        #: ONE rfind + ONE count per recv -- no per-line Python work at
        #: all (per-line splits were the measured drain ceiling, and
        #: they also made partition pickling 1M-small-objects slow);
        #: line splitting happens executor-side in read(). Line counts
        #: include empty lines (read() filters them after slicing, so
        #: index arithmetic stays consistent). Bounded by line count
        #: via drain backpressure, never eviction.
        self.buffer: deque[tuple[int, int, bytes, datetime]] = deque()
        self.buffered_lines = 0
        self.replay_capacity = replay_capacity
        self.count = 0  # cumulative lines framed == this receiver's offset
        self.error: BaseException | None = None
        self._stop = threading.Event()
        self._carry = b""
        self._synced = False  # first-offset rebase latch (see rebase)

    def run(self) -> None:
        sock: socket.socket | None = None
        attempts = 0
        while not self._stop.is_set():
            if sock is None:
                try:
                    sock = socket.create_connection(
                        (self.host, self.port), timeout=self.attempt_delay
                    )
                    sock.settimeout(0.2)
                    attempts = 0
                except OSError as exc:
                    attempts += 1
                    if attempts >= self.attempt_limit:
                        self.error = ConnectionError(
                            f"sbs1: gave up connecting to "
                            f"{self.host}:{self.port} after {attempts} "
                            "attempts"
                        )
                        self.error.__cause__ = exc
                        return
                    self._stop.wait(self.attempt_delay)
                    continue
            with self.lock:
                full = self.buffered_lines >= self.replay_capacity
            if full:
                # BACKPRESSURE, not eviction: draining ahead of what the
                # query has committed must never drop uncommitted rows
                # (the 8M-row bench lost 10% under eviction). Pausing
                # recv fills the kernel window and flow-controls the
                # sender; buffer memory stays bounded at replay_capacity
                # lines.
                self._stop.wait(0.05)
                continue
            try:
                chunk = sock.recv(self.buffer_size)
            except socket.timeout:
                continue
            except OSError:
                chunk = b""
            if chunk == b"":
                # dead connection (empty recv, Appendix A L98) -> reconnect
                try:
                    sock.close()
                finally:
                    sock = None
                continue
            buf = self._carry + chunk
            cut = buf.rfind(b"\n")
            if cut < 0:
                self._carry = buf
                continue
            blob, self._carry = buf[:cut], buf[cut + 1:]
            n = blob.count(b"\n") + 1
            now = datetime.now(timezone.utc).replace(tzinfo=None)
            with self.lock:
                self.buffer.append((self.count, n, blob, now))
                self.count += n
                self.buffered_lines += n
        if sock is not None:
            try:
                sock.close()
            except OSError:
                pass

    def stop(self) -> None:
        self._stop.set()

    # -- driver-side accessors (called from the reader) ---------------------

    def snapshot_count(self) -> int:
        with self.lock:
            return self.count

    def chunks_between(
        self, lo: int, hi: int
    ) -> list[tuple[bytes, datetime]]:
        """Blob slices covering line range [lo, hi) -- the partition
        payload (split + decoded executor-side). Interior chunks pass
        through ZERO-COPY; only the two boundary chunks pay a split."""
        out: list[tuple[bytes, datetime]] = []
        with self.lock:
            for start, n, blob, ts in self.buffer:
                end = start + n
                if end <= lo or start >= hi:
                    continue
                a = max(0, lo - start)
                b = min(n, hi - start)
                if a == 0 and b == n:
                    out.append((blob, ts))
                else:
                    lines = blob.split(b"\n")
                    out.append((b"\n".join(lines[a:b]), ts))
        return out

    def prune_below(self, line_no: int) -> None:
        with self.lock:
            while self.buffer:
                start, n, _, _ = self.buffer[0]
                if start + n <= line_no:
                    self.buffer.popleft()
                    self.buffered_lines -= n
                else:
                    break

    def fast_forward(self, line_no: int) -> None:
        """Restart-from-checkpoint beyond our history: ephemeral TCP
        cannot replay, so jump the counter and drop stale buffer."""
        with self.lock:
            if line_no > self.count:
                self.count = line_no
                self.buffer.clear()
                self.buffered_lines = 0

    def rebase(self, line_no: int) -> None:
        """First-offset sync after (re)start: renumber this FRESH
        connection's lines to begin at the checkpoint frontier. The old
        guard (fast_forward only when lo > count) failed whenever the
        fresh connection out-framed the checkpointed offset during
        recovery: new-stream lines replayed AS the pending batch
        (mislabeled under exactly-once) and lines below the offset were
        silently dropped. Rebasing shifts every buffered line instead:
        the replayed range reads EMPTY (the documented ephemeral-TCP
        loss contract) and every fresh line is preserved after it.
        No-op once synced; fresh queries sync at latestOffset."""
        with self.lock:
            if self._synced:
                return
            self._synced = True
            if line_no <= 0:
                return
            self.buffer = deque(
                (start + line_no, n, blob, ts)
                for start, n, blob, ts in self.buffer
            )
            self.count += line_no

    def mark_synced(self) -> None:
        with self.lock:
            self._synced = True


class Sbs1ReceiverPartition(InputPartition):
    """Data-bearing partition: the receiver's raw bytes for one offset
    range, as (blob, receive-ts) drain chunks -- a handful of large
    bytes objects (fast to pickle), split + decoded executor-side."""

    def __init__(self, index: int, chunks: list[tuple[bytes, datetime]]):
        self.index = index
        self.chunks = chunks


class Sbs1PartitionedStreamReader(DataSourceStreamReader):
    """Multi-receiver SBS-1 reader: option ``hosts="h1:p1,h2:p2"``.

    Offsets are per-receiver cumulative line counts
    (``{"r0": n0, "r1": n1, ...}``); each batch plans one partition per
    receiver holding that receiver's framed lines, so executor tasks do
    the decode and everything downstream in parallel. Retried tasks
    re-read the same rows from the partition payload (exactly-once into
    the batch); ``commit`` prunes each receiver's replay buffer.
    """

    def __init__(self, options: dict):
        self.hosts = _parse_hosts(options.get("hosts", ""))
        if not self.hosts:
            raise ValueError(
                "sbs1 partitioned reader needs hosts=h1:p1[,h2:p2,...]"
            )
        self.buffer_size = int(options.get("buffer_size", 65536))
        self.attempt_limit = int(options.get("connect_attempt_limit", 10))
        self.attempt_delay = float(options.get("connect_attempt_delay", 5.0))
        self.replay_capacity = int(options.get("replay_capacity", 1_000_000))
        self.max_lines_per_batch = int(
            options.get("max_lines_per_batch", 1_000_000)
        )
        #: target lines per TASK: each receiver's batch range splits
        #: into ceil(range/rows_per_partition) partitions so the
        #: decode+parse work spreads over the whole cluster instead of
        #: one task per receiver (4 receivers on 32 cores left 28 idle
        #: and ran 3x slower before this split), and one hot receiver
        #: cannot skew a batch into a single straggler task.
        self.rows_per_partition = int(
            options.get("rows_per_partition", 65536)
        )
        # Threads start LAZILY on the first driver-side call: Spark
        # instantiates a SECOND reader in the read-planning worker just
        # to pickle its read() method (plan_data_source_read.py) -- that
        # instance must not open sockets, and the pickled closure must
        # not carry thread state (__getstate__ below).
        self.receivers: list[_ReceiverThread] | None = None
        #: high-water mark each receiver's offset has been PLANNED to --
        #: lets latestOffset cap per-batch growth at max_lines_per_batch
        self._planned: dict[int, int] = {}

    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        state["receivers"] = None  # read() needs no driver-side state
        state["_planned"] = {}
        return state

    def _ensure_started(self) -> list[_ReceiverThread]:
        if self.receivers is None:
            self.receivers = [
                _ReceiverThread(
                    i,
                    host,
                    port,
                    self.buffer_size,
                    self.attempt_limit,
                    self.attempt_delay,
                    self.replay_capacity,
                )
                for i, (host, port) in enumerate(self.hosts)
            ]
            self._planned = {r.index: 0 for r in self.receivers}
            for r in self.receivers:
                r.start()
        return self.receivers

    def _check_errors(self) -> None:
        for r in self._ensure_started():
            if r.error is not None:
                raise r.error

    def initialOffset(self) -> dict:
        return {f"r{i}": 0 for i in range(len(self.hosts))}

    def latestOffset(self) -> dict:
        self._ensure_started()
        self._check_errors()
        # Cap each batch at max_lines_per_batch per receiver so one
        # burst cannot build an unbounded batch; leftover stays
        # buffered for the next trigger.
        out = {}
        for r in self.receivers:
            # fresh-query path: no checkpointed offset will arrive, so
            # numbering starts at 0 (no-op after a restart rebase)
            r.mark_synced()
            nxt = min(
                r.snapshot_count(),
                self._planned[r.index] + self.max_lines_per_batch,
            )
            self._planned[r.index] = max(self._planned[r.index], nxt)
            out[f"r{r.index}"] = nxt
        return out

    def partitions(self, start: dict, end: dict) -> list[InputPartition]:
        parts: list[InputPartition] = []
        for r in self._ensure_started():
            lo = int(start.get(f"r{r.index}", 0))
            hi = int(end.get(f"r{r.index}", 0))
            # restart path: the first planned range is the WAL's
            # pending batch -- rebase this fresh connection's numbering
            # to its END (empty replay, documented loss; every line
            # framed during recovery preserved after it)
            r.rebase(hi)
            if lo > r.snapshot_count():
                # defensive: a checkpoint still ahead after rebase
                r.fast_forward(lo)
                self._planned[r.index] = max(self._planned[r.index], lo)
                continue
            self._planned[r.index] = max(self._planned[r.index], lo)
            step = self.rows_per_partition
            for s in range(lo, hi, step):
                parts.append(
                    Sbs1ReceiverPartition(
                        r.index, r.chunks_between(s, min(s + step, hi))
                    )
                )
        return parts

    def read(self, partition: Sbs1ReceiverPartition):
        # Executor-side: decode + Arrow batch building only; all socket
        # and offset state stayed in the driver-side runner process.
        # Yielding RecordBatches takes the worker's vectorized fast
        # path (plan_data_source_read handles RecordBatch iterators
        # directly) instead of per-row tuple conversion -- measured
        # ~2x on the 4-receiver ingest bench.
        import pyarrow as pa

        target = 65536
        buf_vals: list[str] = []
        buf_ts: list[datetime] = []

        def flush() -> "pa.RecordBatch":
            vals = pa.array(buf_vals, type=pa.string())
            tss = pa.array(buf_ts, type=pa.timestamp("us"))
            buf_vals.clear()
            buf_ts.clear()
            return pa.RecordBatch.from_arrays(
                [vals, tss], names=["value", "ingest_ts"]
            )

        for blob, ts in partition.chunks:
            # one C-level decode per blob; \n is ASCII so replacement
            # decoding never crosses a line boundary
            text = blob.decode("utf-8", errors="replace")
            vals = [s.rstrip("\r") for s in text.split("\n") if s]
            buf_vals.extend(vals)
            buf_ts.extend([ts] * len(vals))
            if len(buf_vals) >= target:
                yield flush()
        if buf_vals:
            yield flush()

    def commit(self, end: dict) -> None:
        for r in self.receivers or []:
            off = int(end.get(f"r{r.index}", 0))
            # restart-committed path: rebase so latestOffset never
            # goes backwards and recovery-framed lines are preserved
            r.rebase(off)
            r.prune_below(off)

    def stop(self) -> None:
        for r in self.receivers or []:
            r.stop()


def _parse_hosts(spec: str) -> list[tuple[str, int]]:
    """``"h1:p1,h2,h3:p3"`` -> [(h1, p1), (h2, 30003), (h3, p3)]."""
    out: list[tuple[str, int]] = []
    for part in spec.split(","):
        part = part.strip()
        if not part:
            continue
        if ":" in part:
            host, port = part.rsplit(":", 1)
            out.append((host, int(port)))
        else:
            out.append((part, 30003))
    return out


class Sbs1DataSource(DataSource):
    """``spark.readStream.format("sbs1")`` -- SBS-1 BaseStation TCP feed(s).

    Option ``hosts`` lists the receivers (one entry for a single feed);
    each gets a concurrent drain thread and its own executor
    partitions."""

    @classmethod
    def name(cls) -> str:
        return "sbs1"

    def schema(self) -> str:
        return SBS1_BRONZE_DDL

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return Sbs1PartitionedStreamReader(self.options)


def _ship_package(spark: SparkSession) -> None:
    """Make this package importable in Spark's Python workers.

    The DataSource class is pickled BY REFERENCE, so the worker that
    unpickles it must be able to ``import dump1090_stream_parser_spark``
    -- true when the driver happens to run from the repo root, false
    anywhere else. Shipping a zip via addPyFile puts the package on
    every worker's path (and on executors, which matters off local mode).

    The zip is named by a hash of the package's ``.py`` contents, so a
    zip left in the temp dir by another checkout or an older version is
    never shipped in place of the current sources.
    """
    import hashlib
    import os
    import tempfile
    import zipfile

    import dump1090_stream_parser_spark as pkg

    pkg_dir = os.path.dirname(os.path.abspath(pkg.__file__))
    files = sorted(
        os.path.join(root, f)
        for root, _dirs, names in os.walk(pkg_dir)
        for f in names
        if f.endswith(".py")
    )
    digest = hashlib.sha256()
    for full in files:
        digest.update(os.path.relpath(full, pkg_dir).encode() + b"\0")
        with open(full, "rb") as fh:
            digest.update(fh.read())
    zip_path = os.path.join(
        tempfile.gettempdir(),
        f"dump1090_stream_parser_spark-{digest.hexdigest()[:16]}.zip",
    )
    if not os.path.exists(zip_path):
        # write aside, then rename: a concurrent or interrupted writer
        # never leaves a partial zip under the final name
        part = f"{zip_path}.{os.getpid()}.part"
        with zipfile.ZipFile(part, "w") as zf:
            for full in files:
                rel = os.path.join(
                    os.path.basename(pkg_dir), os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
        os.replace(part, zip_path)
    spark.sparkContext.addPyFile(zip_path)


def register(spark: SparkSession) -> None:
    """Idempotently register the source with a session.

    The class is registered for pickle-BY-VALUE: Spark's data source
    workers (create_data_source / python_streaming_source_runner) unpickle
    it in processes that don't have this repo on sys.path, and the
    streaming runner doesn't honor addPyFile. By-value embeds the module
    code in the pickle, so the source works regardless of deploy layout.
    """
    import sys

    from pyspark import cloudpickle

    mod = sys.modules[__name__]
    try:
        cloudpickle.register_pickle_by_value(mod)
    except Exception:
        pass
    try:
        _ship_package(spark)  # still useful for executor-side imports
    except Exception:
        # Spark Connect has no sparkContext; rely on the driver's path.
        pass
    spark.dataSource.register(Sbs1DataSource)
