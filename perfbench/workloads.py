"""The benchmark's workloads: closed-loop drivers of the public engine API.

Each workload generates its event log from the seed with the engine's own
generator, then hands the engine nothing but that log. Set-up populates
the table and warms the JVM on the timed code path; the timed phase runs
one tailer that starts the next epoch only after the previous one has
committed, until the deadline; reads and correctness checks follow.

- ``cow_bulk``: copy-on-write catch-up replay (``CDCPipeline.replay``,
  one seq-range epoch per call) with large epochs.
- ``mor_tail``: merge-on-read live tail (``StreamingTailer.
  run_available_now``) with one small log file per micro-batch, bounded
  snapshots and periodic compaction.
"""

from __future__ import annotations

import glob
import json
import os
import time
from urllib.parse import unquote, urlparse

import pyarrow.parquet as pq
from pyspark.errors import StreamingQueryException
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from getl_spark.events import generate_change_events, read_event_log, write_event_log
from getl_spark.oracle import assert_final_state_matches, reduce_events
from getl_spark.pipeline import CDCPipeline
from getl_spark.streaming import StreamingTailer

import stats

NUM_BUCKETS = 32
WRITE_SALT = 2
CONTENT_MAX = 1024
READS_WARMUP = 5
READS_TIMED = 15
# The final-state check compares keys with pmod(xxhash64(repo, path), N) == 0.
KEY_SAMPLE = 8
ORACLE_COLS = ["seq", "op", "repo", "path", "commit", "lang", "content"]


class StopTailing(Exception):
    """Raised before a micro-batch is applied once the timed phase is over."""


def log_files(path: str) -> list[dict]:
    """The log's parquet files in seq order, with size and seq range."""
    out = []
    for f in glob.glob(os.path.join(path, "*.parquet")):
        md = pq.ParquetFile(f).metadata
        col = md.schema.names.index("seq")
        rgs = [md.row_group(i).column(col).statistics for i in range(md.num_row_groups)]
        out.append({
            "path": f,
            "bytes": os.path.getsize(f),
            "rows": md.num_rows,
            "seq_min": min(s.min for s in rgs),
            "seq_max": max(s.max for s in rgs),
        })
    return sorted(out, key=lambda x: x["seq_min"])


class Workload:
    """Shared timing, read and check logic; subclasses add set-up and the loop."""

    name = ""
    streaming = False

    def __init__(self, spark, work: str, seed: int, seconds: float, tracer):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.tracer = tracer
        self.wh = os.path.join(work, "wh")
        self.pipe: CDCPipeline | None = None
        self.timing = False
        self.timed: list = []  # closed apply_epoch spans of the timed phase
        self.warmup: list = []
        self.written_bytes = 0
        self.reads_ms: list[float] = []
        self.live_files_at_read = 0
        self.failures: list[str] = []
        self.attempted = 0
        self.harness_s = 0.0
        self._seen_files: set = set()
        self._last_snap = 0
        self.log_s = 0.0
        tracer.after_epoch.append(self._after_epoch)

    # ------------------------------------------------------------ epochs
    def _after_epoch(self, span) -> None:
        if self.pipe is None or not span.attrs.get("applied"):
            return
        (self.timed if self.timing else self.warmup).append(span)
        meta = self.pipe.target.meta
        snaps = [s for s in meta["snapshots"] if s["snapshot_id"] > self._last_snap]
        self._last_snap = meta["current_snapshot_id"] or 0
        new = stats.new_files_since(snaps, self._seen_files)
        if self.timing:
            self.written_bytes += sum(int(f["bytes"]) for f in new)

    def make_log(self, n_files: int, per_file: int, n_keys: int) -> list[dict]:
        """Generate ``n_files * per_file`` events with the engine's generator,
        one file per seq block. Besides the input, this warms the JVM's SQL,
        shuffle and parquet paths that every epoch uses."""
        t0 = time.monotonic()
        path = os.path.join(self.work, "log")
        ev = generate_change_events(
            self.spark, n_files * per_file, n_keys=n_keys, n_repos=max(n_keys // 200, 8),
            seed=self.seed, content_max=CONTENT_MAX, partitions=n_files,
        )
        write_event_log(ev, path)
        files = log_files(path)
        if [f["rows"] for f in files] != [per_file] * n_files:
            raise RuntimeError(f"event log layout is not {n_files} files of {per_file} events")
        self.log_s = time.monotonic() - t0
        return files

    def start_timing(self) -> float:
        self.timing = True
        self._harness0 = self.tracer.harness_s
        return time.monotonic() + self.seconds

    def stop_timing(self) -> None:
        self.timing = False
        self.harness_s = self.tracer.harness_s - self._harness0

    def fail(self, what: str, err) -> None:
        self.failures.append(f"{what}: {err!r}")

    # ------------------------------------------------------------- reads
    def read_once(self) -> tuple[float, int]:
        span = self.tracer.open("consumer.read")
        try:
            row = self.pipe.state().agg(
                F.count(F.lit(1)).alias("n"), F.sum(F.length("content")).alias("b")
            ).collect()[0]
        finally:
            self.tracer.close(span)
        return (span.end - span.start) * 1000.0, int(row["n"])

    def reads(self) -> None:
        """Consumer reads of the live state; the first warms the plan."""
        for i in range(READS_WARMUP + READS_TIMED):
            timed = i >= READS_WARMUP
            self.attempted += timed
            try:
                ms, n = self.read_once()
                if n <= 0:
                    raise AssertionError("empty state")
            except Exception as e:  # noqa: BLE001 - a failed read is a counted failure
                if timed:
                    self.fail("read", e)
                continue
            if timed:
                self.reads_ms.append(ms)
        self.live_files_at_read = len(self.pipe.target.current_files())

    # ------------------------------------------------------------ checks
    def consumed_events(self) -> DataFrame:
        raise NotImplementedError

    def last_slice(self) -> DataFrame:
        raise NotImplementedError

    def check(self) -> None:
        """Watermark, re-apply no-op and final state against the oracle."""
        last = self.timed[-1].epoch if self.timed else None
        checks = (
            ("watermark", lambda: self._check_watermark(last)),
            ("reapply", lambda: self._check_reapply(last)),
            ("final_state", self._check_state),
        )
        for what, fn in checks:
            self.attempted += 1
            try:
                fn()
            except Exception as e:  # noqa: BLE001 - a mismatch is a counted failure
                self.fail(what, e)

    def _check_watermark(self, last) -> None:
        wm = self.pipe.checkpoints.last(pipeline=self.pipe.name)
        if wm is None or last is None or wm.epoch != last:
            raise AssertionError(f"checkpoint watermark {wm} != last timed epoch {last}")

    def _check_reapply(self, last) -> None:
        res = self.pipe.apply_epoch(self.last_slice(), last)
        if res.applied:
            raise AssertionError(f"re-applying epoch {last} was not a no-op")

    def _check_state(self) -> None:
        sample = F.pmod(F.xxhash64("repo", "path"), F.lit(KEY_SAMPLE)) == 0
        oracle = reduce_events(
            self.consumed_events().filter(sample).select(*ORACLE_COLS).toPandas()
        )
        engine = (
            self.pipe.state().filter(sample)
            .select("repo", "path", "commit", "lang", "content", "_seq").toPandas()
        )
        if oracle.empty:
            raise AssertionError("key sample is empty")
        assert_final_state_matches(engine, oracle)

    # ------------------------------------------------------------ bytes
    def timed_input_bytes(self) -> int:
        raise NotImplementedError

    def consumed_input_bytes(self) -> int:
        raise NotImplementedError

    def end_setup(self) -> None:
        """Record the table's size after the set-up's fixed log prefix:
        unlike the timed phase, that prefix is the same on every run."""
        self.pipe.target.refresh()
        self.setup_lake_bytes = sum(int(f["bytes"]) for f in self.pipe.target.current_files())
        self.setup_input_bytes = self.consumed_input_bytes()


class CowBulk(Workload):
    """Copy-on-write catch-up replay of large epochs."""

    name = "cow_bulk"
    EPOCH_EVENTS = 20_000
    WARMUP_EPOCHS = 4
    N_KEYS = 40_000

    def setup(self) -> None:
        # one epoch per timed second plus slack: epochs take over 2 s
        # today, so the log outlasts the deadline even at twice the speed
        self.n_epochs = self.WARMUP_EPOCHS + int(self.seconds) + 4
        self.files = self.make_log(self.n_epochs, self.EPOCH_EVENTS, self.N_KEYS)
        self.max_seq = self.files[-1]["seq_max"]
        self.log = read_event_log(self.spark, os.path.join(self.work, "log"))
        self.pipe = CDCPipeline(
            self.spark, self.wh, num_buckets=NUM_BUCKETS, write_salt=WRITE_SALT
        )
        for e in range(self.WARMUP_EPOCHS):
            self._epoch(e)
        self.end_setup()

    def _epoch(self, e: int) -> None:
        res = self.pipe.replay(
            self.log, self.EPOCH_EVENTS, max_seq=self.max_seq, stop_after_epoch=e
        )
        if [(r.epoch, r.applied) for r in res] != [(e, True)]:
            raise AssertionError(f"replay of epoch {e} returned {res}")

    def run_timed(self) -> None:
        deadline = self.start_timing()
        try:
            for e in range(self.WARMUP_EPOCHS, self.n_epochs):
                self.attempted += 1
                try:
                    self._epoch(e)
                except Exception as err:  # noqa: BLE001 - counted, loop stops
                    self.fail(f"epoch {e}", err)
                    break
                if time.monotonic() >= deadline:
                    break
        finally:
            self.stop_timing()

    def consumed_events(self) -> DataFrame:
        return self.log.filter(F.col("seq") <= self.files[self.timed[-1].epoch]["seq_max"])

    def last_slice(self) -> DataFrame:
        f = self.files[self.timed[-1].epoch]
        return self.log.filter((F.col("seq") >= f["seq_min"]) & (F.col("seq") <= f["seq_max"]))

    def timed_input_bytes(self) -> int:
        return sum(self.files[s.epoch]["bytes"] for s in self.timed)

    def consumed_input_bytes(self) -> int:
        last = self.timed[-1] if self.timed else self.warmup[-1]
        return sum(f["bytes"] for f in self.files[: last.epoch + 1])


class MorTail(Workload):
    """Merge-on-read streaming tail, one ~2k-event log file per micro-batch.

    Batch ids are epochs. Epoch 0 preloads the table in one large
    trigger; epochs 1..2 warm up; timing starts at epoch 3. Compaction
    runs in every epoch e with (e + 1) % COMPACT_EVERY == 0, and the
    timed phase stops only at a cycle boundary, so every run times
    whole maintenance cycles and the same share of compaction epochs.
    """

    name = "mor_tail"
    streaming = True
    BATCH_EVENTS = 2_000
    PRELOAD_FILES = 20
    WARMUP_BATCHES = 2
    COMPACT_EVERY = 3
    # small enough that snapshot expiry already runs in every epoch by
    # the end of set-up: the timed epochs carry bounded metadata
    KEEP_SNAPSHOTS = 4
    N_KEYS = 20_000

    def _tailer(self, max_files_per_trigger):
        return StreamingTailer(
            self.spark, self.wh, os.path.join(self.work, "stream-ckpt"),
            num_buckets=NUM_BUCKETS, write_salt=WRITE_SALT,
            max_files_per_trigger=max_files_per_trigger, merge_mode="mor",
            keep_snapshots=self.KEEP_SNAPSHOTS, compact_every=self.COMPACT_EVERY,
        )

    def _publish(self, files) -> None:
        for f in files:
            os.rename(f["path"], os.path.join(self.src, os.path.basename(f["path"])))

    def setup(self) -> None:
        self.t0_epoch = 1 + self.WARMUP_BATCHES
        timed_cap = 2 * int(self.seconds) + 2 * self.COMPACT_EVERY
        n_files = self.PRELOAD_FILES + self.WARMUP_BATCHES + timed_cap
        self.files = self.make_log(n_files, self.BATCH_EVENTS, self.N_KEYS)
        self.src = os.path.join(self.work, "src")
        os.makedirs(self.src)
        self._publish(self.files[: self.PRELOAD_FILES])
        self._tailer(None).run_available_now(self.src)
        self.tail = self._tailer(1)
        self.pipe = self.tail.pipeline
        self._guard()
        self._publish(self.files[self.PRELOAD_FILES : self.PRELOAD_FILES + self.WARMUP_BATCHES])
        self.tail.run_available_now(self.src)
        self.batch_files = self._batch_files()
        self.end_setup()

    def _guard(self) -> None:
        """Stop the stream at the cycle boundary nearest the deadline.

        Stopping at the first boundary after it would time one or two
        cycles depending on whether a cycle took a little less or a
        little more than ``seconds``."""
        inner = self.pipe.apply_epoch
        self.timed_from = None

        def guarded(batch_df, epoch, *args, **kwargs):
            if (
                self.timed_from is not None
                and epoch > self.t0_epoch
                and epoch % self.COMPACT_EVERY == 0
            ):
                elapsed = time.monotonic() - self.timed_from
                cycles = (epoch - self.t0_epoch) // self.COMPACT_EVERY
                if elapsed + elapsed / cycles / 2 >= self.seconds:
                    raise StopTailing(epoch)
            return inner(batch_df, epoch, *args, **kwargs)

        self.pipe.apply_epoch = guarded

    def run_timed(self) -> None:
        self._publish(self.files[self.PRELOAD_FILES + self.WARMUP_BATCHES :])
        self.start_timing()
        self.timed_from = time.monotonic()
        try:
            self.tail.run_available_now(self.src)
        except StreamingQueryException as e:
            if "StopTailing" not in str(e):
                self.attempted += 1
                self.fail("stream", e)
        finally:
            self.timed_from = None
            self.stop_timing()
        self.attempted += len(self.timed)
        self.batch_files = self._batch_files()

    def _batch_files(self) -> dict:
        """Batch id -> basenames of the log files it consumed, from the
        stream's own source log."""
        out: dict = {}
        for p in glob.glob(os.path.join(self.work, "stream-ckpt", "sources", "0", "*")):
            with open(p) as fh:
                for line in fh:
                    if line.startswith("{"):
                        entry = json.loads(line)
                        name = os.path.basename(unquote(urlparse(entry["path"]).path))
                        out.setdefault(int(entry["batchId"]), set()).add(name)
        return out

    def _files_of(self, epochs) -> list[dict]:
        by_name = {os.path.basename(f["path"]): f for f in self.files}
        return [by_name[n] for e in epochs for n in sorted(self.batch_files[e])]

    def _paths(self, files) -> list[str]:
        return [os.path.join(self.src, os.path.basename(f["path"])) for f in files]

    def consumed_events(self) -> DataFrame:
        files = self._files_of(range(self.timed[-1].epoch + 1))
        return self.spark.read.parquet(*self._paths(files))

    def last_slice(self) -> DataFrame:
        return self.spark.read.parquet(*self._paths(self._files_of([self.timed[-1].epoch])))

    def timed_input_bytes(self) -> int:
        return sum(f["bytes"] for f in self._files_of(s.epoch for s in self.timed))

    def consumed_input_bytes(self) -> int:
        last = self.timed[-1] if self.timed else self.warmup[-1]
        return sum(f["bytes"] for f in self._files_of(range(last.epoch + 1)))


WORKLOADS = {w.name: w for w in (CowBulk, MorTail)}
