"""CDCPipeline — the change-event tailer (getl Flow.copy reimagined).

Reference parity: one epoch here is one getl ``Flow.copy`` run
(/root/reference/src/main/groovy/getl/proc/Flow.groovy:294-672) whose
column-map codegen, prepared-statement batches, and transaction
orchestration collapse into a single declarative Spark job:

    read epoch slice  (seq-range pushdown — getl ReadSpec.where,
                       jdbc/opts/ReadSpec.groovy:73)
    -> LWW dedup      (window rank)
    -> schema evolve  (transactional DDL at its seq position)
    -> MERGE INTO     (salted, bucket-pruned copy-on-write)
    -> lineage rows   (per-bucket offset range / count / bytes / latency)
    -> checkpoint     (watermark save, monotonic guard)

Exactly-once: the MERGE stamps ``watermark.<pipeline>`` in the same
atomic snapshot commit; re-running an epoch is a no-op at the data
layer, and lineage/checkpoint rewrites are idempotent per epoch —
so crash anywhere and replay from the checkpoint converges
(CopyTest 81->0 pattern,
/root/reference/src/test/groovy/getl/lang/CopyTest.groovy:156-176).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from getl_spark.checkpoint import CheckpointManager
from getl_spark.dedup import lww_dedup
from getl_spark.lake import LakeCatalog, LakeTable, PartitionSpec
from getl_spark.lineage import LineageRecorder
from getl_spark.schema import parse_ddl

TARGET_SCHEMA_DDL = (
    "repo string, path string, commit string, lang string, content string, "
    "_seq bigint, _epoch bigint, _deleted boolean"
)


@dataclass
class EpochResult:
    epoch: int
    applied: bool
    stats: dict = field(default_factory=dict)
    events: int = 0
    max_seq: int | None = None
    latency_ms: int = 0


class CDCPipeline:
    def __init__(
        self,
        spark: SparkSession,
        warehouse: str,
        name: str = "tail",
        num_buckets: int = 16,
        keys: tuple = ("repo", "path"),
        checkpoint_method: str = "INSERT",
        write_salt: int | str = 1,
        target_table: str = "target",
        lww_strategy: str = "broadcast",
        merge_mode: str = "cow",
        broadcast_cap: int = 5_000_000,
        keep_snapshots: int | None = None,
        compact_every: int | None = None,
        verify_unique_seq: bool = True,
        schema_policy: str | None = None,
        dedup_store=None,
        dedup_column=None,
    ):
        """``merge_mode``:

        - "cow" (copy-on-write): every epoch MERGEs into the target via
          a bucket-pruned full-outer join and rewrites touched buckets.
          Reads are plain scans. Best for read-heavy / low-churn.
        - "mor" (merge-on-read): every epoch APPENDS the epoch's winner
          rows as delta files — write cost is O(epoch), not O(table).
          Reads resolve the LWW state (per-key max _seq + tombstone
          filter); ``compact()`` folds deltas back to one row per key.
          Best for high-churn ingest — the Iceberg-v2/Hudi-MOR shape.

        Both modes keep the same exactly-once guard (epoch watermark
        stamped in the same atomic commit) and identical final state.

        ``dedup_store``: an optional :class:`~getl_spark.dedupstore.
        DedupStore` (text MinHash/winnow) or :class:`~getl_spark.
        dedupstore.EmbDedupStore` (embedding LSH + exact cosine) run
        as a PRE-MERGE stage — each epoch's winner rows (I/U events
        with content) are near-dedup'd against the standing corpus
        keyed by ``seq`` as the doc id; ``dedup_column`` overrides
        the judged column (default ``content`` for the text store,
        ``embedding`` for the vector store); dropped
        events never reach the MERGE (the key keeps its prior state)
        and are durably recorded in the store's ``_dedup_rejects``
        table. Replay-safe by construction: the store's verdicts
        commit before its story watermark advances, so a crashed
        epoch that re-runs recovers the SAME kept set from persisted
        verdicts (``rejected_of``) instead of re-judging, and the
        MERGE's own epoch watermark still makes the re-apply a no-op.
        Composition of getl's Flow.copy + story-table skip
        (proc/Flow.groovy:294-672, files/Manager.groovy:525-567)
        with content identity instead of file names.
        """
        if merge_mode not in ("cow", "mor"):
            raise ValueError("merge_mode must be 'cow' or 'mor'")
        if schema_policy not in (None, "merge", "merge_exists"):
            raise ValueError("schema_policy must be None, 'merge' or 'merge_exists'")
        # implicit schema-diff evolution (getl updateFields MERGE /
        # MERGE_EXISTS, data/Dataset.groovy:449-485): per epoch, diff
        # the incoming frame's schema against the target and apply
        # add/widen ("merge") plus drop-missing ("merge_exists")
        # through the same transactional evolution path as explicit
        # events. Renames stay explicit — underivable from data
        # (SURVEY §7.4 risk 4).
        self.schema_policy = schema_policy
        if isinstance(write_salt, str) and write_salt != "auto":
            raise ValueError("write_salt must be an int or 'auto'")
        self.spark = spark
        self.name = name
        self.keys = list(keys)
        if "repo" not in self.keys:
            # the bucket spec partitions on "repo": keys that do not
            # contain the partition column would yield several winner
            # rows per logical merge key and wrong bucket pruning
            raise ValueError("keys must include the partition column 'repo'")
        # "broadcast" is safe because the event log guarantees unique
        # seq (FIXTURES §2); epochs whose key count exceeds
        # ``broadcast_cap`` fall back to the "agg" strategy (the key
        # count comes free from the lineage aggregation — no extra job)
        self.lww_strategy = lww_strategy
        self.broadcast_cap = int(broadcast_cap)
        # The broadcast fast path's precondition is globally-unique seq
        # (FIXTURES §2). An at-least-once source that redelivers the
        # SAME seq would leave duplicate winner rows (the inner join
        # keeps every copy). Verified per epoch with one narrow
        # distinct-count job over the seq column; violations fall back
        # to the agg strategy, which collapses duplicates. Disable for
        # sources that guarantee uniqueness end-to-end.
        self.verify_unique_seq = bool(verify_unique_seq)
        self.last_lww_strategy: str | None = None  # effective strategy of the last epoch
        # bounded metadata: keep at most N snapshots per table (None =
        # unbounded). Every commit rewrites the full snapshot list, so
        # an always-on pipeline needs this or metadata grows O(epochs^2)
        # on disk; expired history trades time travel + deep incremental
        # catch-up (consumers recover via the rebuild path).
        self.keep_snapshots = int(keep_snapshots) if keep_snapshots else None
        # MOR maintenance cadence: fold deltas every N applied epochs.
        # Read cost in MOR grows with delta-file count; compaction
        # resets it to one resolved file set. Incremental consumers
        # crossing a compaction recover via the rebuild path.
        self.compact_every = int(compact_every) if compact_every else None
        self.catalog = LakeCatalog(warehouse)
        self.target: LakeTable = self.catalog.create_table(
            target_table,
            parse_ddl(TARGET_SCHEMA_DDL),
            PartitionSpec.bucket(num_buckets, "repo"),
            properties={"write.salt": str(write_salt), "write.mode": merge_mode},
            if_not_exists=True,
        )
        # an existing table's stored mode wins over the constructor arg
        self.merge_mode = self.target.properties.get("write.mode", merge_mode)
        self.checkpoints = CheckpointManager(self.catalog, method=checkpoint_method)
        self.lineage = LineageRecorder(self.catalog, legacy_owner=name)
        self.dedup_store = dedup_store
        self.dedup_column = dedup_column
        self.last_dedup_stats: dict = {}

    # ------------------------------------------------------------ one epoch
    def apply_epoch(self, events: DataFrame, epoch: int, schema_changes: list | None = None) -> EpochResult:
        """Apply one micro-batch. ``events`` must be exactly the epoch's
        slice of the log (any op mix, duplicates fine)."""
        t0 = time.monotonic()
        per_key = None
        winners_cached = None
        try:
            for change in schema_changes or []:
                self._apply_schema_change(change)
            if self.schema_policy:
                self._apply_schema_policy(events)

            spec = self.target.partition_spec
            bucket_expr = spec.bucket_expr() if spec.kind == "bucket" else F.lit(0)

            # ONE combined per-key aggregation pass over the raw slice
            # yields the winner seq per key AND everything lineage
            # needs (per-bucket count / seq range / bytes). The wide
            # content rows are scanned exactly twice per epoch (this
            # agg + the broadcast-join probe below) and NEVER cached:
            # cache materialization was the measured non-scaling phase
            # (allocation-bound), while pruned parquet scans + partial
            # aggs scale with cores.
            per_key = (
                events.groupBy(bucket_expr.cast("int").alias("_pb"), *self.keys)
                .agg(
                    F.max("seq").alias("_wseq"),
                    F.min("seq").alias("_mn"),
                    F.count(F.lit(1)).alias("_n"),
                    F.coalesce(F.sum(F.length("content")), F.lit(0)).alias("_by"),
                )
                .persist(StorageLevel.MEMORY_AND_DISK)  # tiny: one row per key
            )
            lin_rows = (
                per_key.groupBy("_pb")
                .agg(
                    F.min("_mn").alias("seq_min"),
                    F.max("_wseq").alias("seq_max"),
                    F.sum("_n").alias("event_count"),
                    F.sum("_by").alias("bytes"),
                    F.count(F.lit(1)).alias("_kc"),
                )
                .collect()
            )
            n_keys = sum(int(r["_kc"]) for r in lin_rows)
            n_events_epoch = sum(int(r["event_count"]) for r in lin_rows)

            # write_salt="auto": size the skew salt from this (first)
            # epoch's observed histogram and persist it as the table
            # property so every later epoch and process reuses it
            if self.target.properties.get("write.salt") == "auto":
                self._resolve_auto_salt(events, per_key)
            lin = pd.DataFrame(
                [
                    {
                        "epoch": int(epoch),
                        "partition_id": int(r["_pb"]),
                        "seq_min": int(r["seq_min"]),
                        "seq_max": int(r["seq_max"]),
                        "event_count": int(r["event_count"]),
                        "bytes": int(r["bytes"]),
                        "epoch_latency_ms": 0,
                        "pipeline": self.name,
                    }
                    for r in lin_rows
                ],
                columns=[f.name for f in self.lineage.table.schema().fields],
            )
            touched = [int(b) for b in lin["partition_id"]] if len(lin) else []

            winners = self._select_winners(events, per_key, n_keys, n_events_epoch)
            if self.dedup_store is not None:
                # the dedup stage consumes winners several times (id
                # span, banding, verify texts, rejected_of) and the
                # MERGE consumes it once more — without a persist each
                # action re-reads the event log and re-runs the LWW
                # semi-join
                winners_cached = winners.persist()
                winners = self._dedup_winners(winners_cached, epoch)
            # Deletes become TOMBSTONES (_deleted=true) rather than
            # physical row removal, and every arm is guarded by
            # s._seq > t._seq: the per-key state is monotonic in seq,
            # so epochs/micro-batches may arrive in ANY order (file-
            # listing order in the streaming tailer is not contractual)
            # and the final state still converges to the oracle's LWW
            # reduction. A stale U after an applied D loses to the
            # tombstone's higher seq instead of resurrecting the row.
            def _build_src(w: DataFrame) -> DataFrame:
                s = (
                    w.withColumn("_epoch", F.lit(int(epoch)).cast("bigint"))
                    .withColumnRenamed("seq", "_seq")
                    .withColumn("_deleted", F.col("op") == "D")
                )
                return self._align_source_columns(s)

            # broadcast fast-path invariant check deferred into the
            # write action (see _select_winners); a violation falls
            # back to the agg winner strategy for this epoch
            expected_rows = getattr(self, "_deferred_winner_check", None)

            def _agg_retry_src() -> DataFrame:
                from getl_spark.dedup import lww_dedup as _lww

                self.last_lww_strategy = "agg"
                return _build_src(
                    _lww(events, self.keys, "seq", "commit", strategy="agg")
                )

            src = _build_src(winners)
            if self.merge_mode == "mor":
                # merge-on-read: append winner rows as delta files —
                # O(epoch) write, no join against the target at all.
                # Same idempotency guard, same atomic watermark stamp.
                wm = self.target.properties.get(f"watermark.{self.name}")
                if wm is not None and int(wm) >= int(epoch):
                    res = {"skipped": True, "reason": f"epoch {epoch} <= watermark {wm}"}
                elif not len(lin):
                    res = {"skipped": True, "reason": "empty source"}
                else:
                    # cast every column to the target type (mirrors the
                    # CoW merge arm): after add_column the missing-column
                    # fill must be a TYPED null (F.lit(None) is void and
                    # breaks the parquet write), and after widen_column
                    # the delta file is recorded at the current
                    # schema_id so its physical types must match it.
                    def _delta_of(s: DataFrame) -> DataFrame:
                        return s.select(
                            *[
                                (
                                    F.col(f.name) if f.name in s.columns else F.lit(None)
                                )
                                .cast(f.dataType)
                                .alias(f.name)
                                for f in self.target.schema().fields
                            ]
                        )

                    # the precondition re-checks the watermark on every
                    # commit attempt: a concurrent same-name tailer
                    # that committed this epoch first must make OUR
                    # append a no-op, not a duplicate delta (append
                    # rebases blindly at the commit layer otherwise)
                    from getl_spark.lake.merge import MergeValidationError
                    from getl_spark.lake.table import CommitSkipped

                    wm_key = f"watermark.{self.name}"

                    def _pre(meta, _e=int(epoch), _k=wm_key):
                        w = meta["properties"].get(_k)
                        return w is None or int(w) < _e

                    _va = None
                    if expected_rows is not None:
                        # one winner row per key <=> delta row count ==
                        # n_keys, read from the parquet footers of the
                        # write that just ran — zero extra jobs
                        def _va(new_files, _exp=int(expected_rows)):
                            got = sum(int(f["rows"]) for f in new_files)
                            if got != _exp:
                                raise MergeValidationError(
                                    f"delta carried {got} rows, expected {_exp}"
                                )

                    summary = {"engine": "getl_spark", "epoch": int(epoch), "pipeline": self.name, "mor_delta": True}
                    try:
                        try:
                            snap = self.target.append(
                                _delta_of(src),
                                summary,
                                {wm_key: str(int(epoch))},
                                precondition=_pre,
                                validate=_va,
                            )
                        except MergeValidationError:
                            # same-seq redelivery hit the winner set:
                            # re-derive winners with the duplicate-
                            # collapsing agg strategy and re-append
                            snap = self.target.append(
                                _delta_of(_agg_retry_src()),
                                summary,
                                {wm_key: str(int(epoch))},
                                precondition=_pre,
                            )
                        res = {"snapshot": snap, "stats": {}, "skipped": False}
                    except CommitSkipped:
                        res = {"skipped": True, "reason": f"epoch {epoch} committed concurrently"}
            else:
                from getl_spark.lake.merge import MergeValidationError

                def _mb(s: DataFrame):
                    b = (
                        self.target.merge(s)
                        .on(self.keys)
                        .when_matched_update(condition="s._seq > t._seq")
                        .when_not_matched_insert()
                        .idempotency(self.name, epoch)
                        .with_summary({"engine": "getl_spark"})
                    )
                    if spec.kind == "bucket":
                        b = b.touched_buckets(touched)
                    return b

                mb = _mb(src)
                if expected_rows is not None:
                    mb = mb.expect_source_rows(expected_rows)
                try:
                    res = mb.execute(self.spark)
                except MergeValidationError:
                    # same-seq redelivery hit the winner set: the merge
                    # aborted before commit; re-derive winners with the
                    # duplicate-collapsing agg strategy and re-merge
                    res = _mb(_agg_retry_src()).execute(self.spark)
            latency_ms = int((time.monotonic() - t0) * 1000)

            if len(lin):
                lin["epoch_latency_ms"] = int(latency_ms)
                self.lineage.write(lin, epoch, pipeline=self.name)
            n_events = int(lin["event_count"].sum()) if len(lin) else 0
            max_seq = int(lin["seq_max"].max()) if len(lin) else None
            if max_seq is not None:
                self.checkpoints.save(self.spark, self.name, epoch, int(max_seq))
            if (
                self.compact_every
                and self.merge_mode == "mor"
                and not res.get("skipped", False)
                and (int(epoch) + 1) % self.compact_every == 0
            ):
                self.compact()
            if (
                self.keep_snapshots
                and len(self.target.meta["snapshots"]) > self.keep_snapshots
            ):
                # bookkeeping tables are append-only, so expiring them
                # trims only snapshot metadata (the newest snapshot
                # still references every data file) — no history lost
                self.target.expire_snapshots(self.keep_snapshots)
                self.lineage.table.expire_snapshots(self.keep_snapshots)
                self.checkpoints.table.expire_snapshots(self.keep_snapshots)
            return EpochResult(
                epoch=epoch,
                applied=not res.get("skipped", False),
                stats=res.get("stats", {}),
                events=n_events,
                max_seq=max_seq,
                latency_ms=latency_ms,
            )
        finally:
            if per_key is not None:
                per_key.unpersist()
            if winners_cached is not None:
                winners_cached.unpersist()

    def _dedup_winners(self, winners: DataFrame, epoch: int) -> DataFrame:
        """Pre-merge near-dedup stage: run the epoch's winner I/U rows
        through the dedup store (doc id = winning seq — unique and
        monotonic across epochs, so the store's watermark story filter
        makes epoch replays no-ops) and anti-join the dropped seqs out
        of the merge source. Tombstones (D) and content-less rows pass
        through untouched. The kept set comes from the store's
        PERSISTED verdicts, not add_batch's return value, so a replay
        of an already-ingested epoch — where the story filter returns
        nothing new — recovers the identical kept set.

        Accepts either store kind: a text :class:`DedupStore` (judged
        on ``content``, or ``dedup_column``) or an
        :class:`EmbDedupStore` (judged on an ``array``-typed embedding
        column — events carrying vectors alongside/instead of text).
        Both expose the same add_batch / rejected_of replay contract
        and declare the id / value columns their input carries."""
        store = self.dedup_store
        col = self.dedup_column or store.EVENT_COL
        rows = winners.filter((F.col("op") != "D") & F.col(col).isNotNull()).select(
            F.col("seq").cast("bigint").alias(store.ID_COL),
            F.col(col).cast(store.VALUE_TYPE).alias(store.VALUE_COL),
        )
        store.add_batch(self.spark, rows)
        self.last_dedup_stats = dict(store.last_batch_stats)
        if self.last_dedup_stats["story_path"] == "empty":
            # no content rows (an empty or tombstone-only epoch): none
            # can carry a verdict, so skip the verdict read's jobs
            return winners
        rejected = store.rejected_of(self.spark, rows)
        return winners.join(
            rejected.select(F.col(store.ID_COL).alias("seq")), "seq", "left_anti"
        )

    def _resolve_auto_salt(self, events: DataFrame, per_key: DataFrame) -> None:
        """Turn write.salt="auto" into a concrete factor (SURVEY §4.2 —
        getl's manual ``segmented`` sharding, proc/FileCopier.groovy:49+,
        sized automatically from the observed histogram instead).

        The hot-partition share comes from the already-persisted
        ``per_key`` frame when the partition columns are key columns
        (exact, one tiny agg over cached rows); otherwise from a
        sampled histogram of the raw events. Persisted with a CAS so
        concurrent pipelines agree on whichever factor lands first.
        """
        from getl_spark.salt import detect_salt_factor, salt_factor_from_counts

        spec = self.target.partition_spec
        cols = list(spec.columns) if spec.kind == "bucket" else list(self.keys)
        num_parts = spec.num_buckets if spec.kind == "bucket" else 32
        if all(c in per_key.columns for c in cols):
            stats = (
                per_key.groupBy(*cols)
                .agg(F.sum("_n").alias("n"))
                .agg(F.max("n").alias("hot"), F.sum("n").alias("total"))
                .collect()[0]
            )
            if stats["total"] is None:
                return  # empty epoch: keep "auto" for the next one
            factor = salt_factor_from_counts(
                int(stats["hot"]), int(stats["total"]), num_parts
            )
        else:
            factor = detect_salt_factor(events, cols, num_parts, sample_fraction=1.0)
        self.target.transform_properties(
            lambda props: {"write.salt": str(factor)}
            if props.get("write.salt") == "auto"
            else {}
        )

    def _select_winners(
        self, events: DataFrame, per_key: DataFrame, n_keys: int, n_events: int | None = None
    ) -> DataFrame:
        """Pick the epoch's LWW winner rows under the configured strategy.

        The broadcast fast path reuses ``per_key`` (already persisted —
        the per-key agg above IS the winner-discovery pass) and semi-
        joins the raw stream on the globally-unique seq, so the wide
        content rows never shuffle. It is guarded by ``broadcast_cap``:
        a 10^8-key epoch would OOM the driver building the broadcast
        winner set, so above the cap we fall back to the ``agg``
        strategy (max_by shuffle, no broadcast, no driver collection).
        ``n_keys`` is exact and free — summed from the lineage agg.

        Reference semantics: getl's set-based merge collapse
        (jdbc/JDBCDriver.groovy:2202-2268) keeps one row per key too;
        the strategy choice is purely physical.
        """
        strategy = self.lww_strategy
        self._deferred_winner_check: int | None = None
        if strategy == "broadcast" and n_keys > self.broadcast_cap:
            strategy = "agg"
        if strategy == "broadcast" and self.verify_unique_seq and n_events:
            if self.dedup_store is not None:
                # the composed path must not feed unverified winners to
                # the dedup store (its verdicts commit before the merge
                # could detect the violation), so it keeps the upfront
                # narrow-column job
                if events.select("seq").distinct().count() != n_events:
                    strategy = "agg"
            else:
                # plain path: fold the check into the merge/append
                # write action itself (guide §1.2 — no extra pass for
                # an invariant the running pass can observe): a
                # same-seq redelivery hitting the winner set yields
                # more than one source row per key, detected as a
                # source-row-count mismatch BEFORE the commit; the
                # epoch then falls back to the agg strategy. A
                # redelivered seq OUTSIDE the winner set joins to
                # nothing, so the winner rows — and the final state —
                # are identical to the agg strategy's.
                self._deferred_winner_check = int(n_keys)
        self.last_lww_strategy = strategy
        if strategy == "broadcast":
            return events.join(
                F.broadcast(per_key.select(F.col("_wseq").alias("seq"))),
                "seq",
                "inner",
            )
        return lww_dedup(events, self.keys, "seq", "commit", strategy=strategy)

    def _align_source_columns(self, src: DataFrame) -> DataFrame:
        """Map incoming event columns through the target's rename
        history: sources that still emit the pre-rename name (SURVEY
        §7.4 risk 4) keep applying cleanly after the DDL lands."""
        target_cols = set(self.target.schema().fieldNames())
        for entry in self.target.meta["evolution_log"]:
            if entry["op"] != "rename":
                continue
            old, new = entry["column"], entry["new_name"]
            if old in src.columns and new not in src.columns and new in target_cols:
                src = src.withColumnRenamed(old, new)
        return src

    def _apply_schema_policy(self, events: DataFrame) -> None:
        """Implicit evolution by schema diff (getl updateFields MERGE /
        MERGE_EXISTS, data/Dataset.groovy:449-485).

        Driver-side only — reads ``events.schema``, never the data, so
        it costs no Spark job. Incoming names are first mapped through
        the target's rename history (a not-yet-migrated source must not
        re-add a renamed column under its old name). Then:

        - column in the frame but not the target  -> ``add_column``
        - same column, legally wider type         -> ``widen_column``
        - same column, narrower type              -> no-op (the apply
          path casts to the target type anyway)
        - same column, incompatible type          -> ValueError (an
          implicit lossy change is a bug upstream; send explicit
          drop+add events to force it)
        - "merge_exists" only: target column absent from the frame ->
          ``drop_column`` (keys and engine-internal columns protected)

        Every step commits through the idempotent evolution path, so a
        crash-resumed epoch re-diffs to a no-op.
        """
        from getl_spark.lake.evolution import check_widen

        # the full event ENVELOPE is excluded from the diff — seq/op
        # map to _seq/_deleted and event_ts is transport metadata
        # (EVENT_SCHEMA_DDL), not payload; without this a standard
        # event frame would implicitly add event_ts to the target
        internal_src = {"seq", "op", "event_ts"}
        internal_tgt = {"_seq", "_epoch", "_deleted"}
        renames: dict[str, str] = {}
        for entry in self.target.meta["evolution_log"]:
            if entry["op"] == "rename":
                renames[entry["column"]] = entry["new_name"]

        def mapped(name: str) -> str:
            seen = set()
            while name in renames and name not in seen:
                seen.add(name)
                name = renames[name]
            return name

        tgt = {f.name: f.dataType for f in self.target.schema().fields}
        src_names: set[str] = set()
        for f in events.schema.fields:
            if f.name in internal_src:
                continue
            name = mapped(f.name)
            src_names.add(name)
            incoming = f.dataType.simpleString()
            if name not in tgt:
                self.target.add_column(name, incoming)
                tgt[name] = f.dataType
                continue
            current = tgt[name].simpleString()
            if current == incoming:
                continue
            try:
                check_widen(current, incoming)
            except ValueError:
                try:  # narrower incoming casts cleanly on apply — keep target type
                    check_widen(incoming, current)
                except ValueError:
                    raise ValueError(
                        f"schema_policy={self.schema_policy}: incompatible "
                        f"implicit type change for '{name}': {current} -> "
                        f"{incoming}; send explicit schema-change events"
                    ) from None
            else:
                self.target.widen_column(name, incoming)

        if self.schema_policy == "merge_exists":
            for name in list(tgt):
                if name in internal_tgt or name in self.keys or name in src_names:
                    continue
                self.target.drop_column(name)

    def _apply_schema_change(self, change: dict) -> None:
        """Transactional DDL (FIXTURES.md §3 shape)."""
        kind = change["change"]
        if kind == "add_column":
            if change["column_name"] not in self.target.schema().fieldNames():
                self.target.add_column(change["column_name"], change["new_type"])
        elif kind == "widen_column":
            self.target.widen_column(change["column_name"], change["new_type"])
        elif kind == "rename_column":
            if change["new_name"] not in self.target.schema().fieldNames():
                self.target.rename_column(change["column_name"], change["new_name"])
        elif kind == "drop_column":
            if change["column_name"] in self.target.schema().fieldNames():
                self.target.drop_column(change["column_name"])
        else:
            raise ValueError(f"unknown schema change {kind}")

    # ------------------------------------------------------------- replay
    def replay(
        self,
        events: DataFrame,
        epoch_size: int,
        max_seq: int | None = None,
        schema_changes: list | None = None,
        stop_after_epoch: int | None = None,
    ) -> list[EpochResult]:
        """Batch-incremental replay: chunk the log into seq-range epochs,
        resume after the checkpointed watermark.

        epoch e covers seq in (e*epoch_size, (e+1)*epoch_size]. The
        seq-range filter pushes down to parquet min/max stats, so a
        resume never rescans committed ranges.
        """
        if max_seq is None:
            max_seq = events.agg(F.max("seq")).collect()[0][0] or 0
        n_epochs = (max_seq + epoch_size - 1) // epoch_size
        last = self.checkpoints.last(self.spark, self.name)
        start = (last.epoch + 1) if last is not None else 0
        results: list[EpochResult] = []
        for e in range(start, n_epochs):
            lo, hi = e * epoch_size, (e + 1) * epoch_size
            sl = events.filter((F.col("seq") > lo) & (F.col("seq") <= hi))
            changes = [
                c for c in (schema_changes or []) if lo < c["seq"] <= hi
            ]
            results.append(self.apply_epoch(sl, e, changes))
            if stop_after_epoch is not None and e >= stop_after_epoch:
                break
        return results

    # ------------------------------------------------------------ reading
    def state(self, include_tombstones: bool = False) -> DataFrame:
        """Live table state (tombstones filtered and marker dropped).

        In MOR mode the read resolves LWW first: one winner per key by
        (_seq, tiebreak) over base + delta files."""
        self.target.refresh()
        df = self.target.read(self.spark)
        if self.merge_mode == "mor":
            tiebreak = next(
                (c for c in ("commit", "_epoch") if c in df.columns), self.keys[0]
            )
            df = lww_dedup(df, self.keys, "_seq", tiebreak, strategy="agg")
        if include_tombstones:
            return df
        return df.filter(~F.col("_deleted")).drop("_deleted")

    def compact(self) -> dict:
        """MOR maintenance: fold all delta files into one resolved row
        per key (tombstones retained; purge them separately). A no-op
        for CoW tables."""
        if self.merge_mode != "mor":
            return self.target.compact(self.spark)
        resolved = self.state(include_tombstones=True)
        return self.target.overwrite_all(resolved, {"mor_compaction": True})

    def purge_tombstones(self, older_than_seq: int) -> dict:
        """Maintenance: physically drop tombstones whose seq is below a
        safety horizon (no in-flight batch can still carry lower seqs).
        The streaming analog of Iceberg's delete-file compaction.

        MOR mode compacts first — mandatory for correctness, not just
        hygiene: uncompacted delta files can still hold a stale
        non-tombstone row for the same key at a lower _seq, and
        physically deleting the tombstone would make that stale row the
        LWW winner on read, resurrecting a deleted key. After
        compact() exactly one resolved row per key exists, so dropping
        a tombstone can no longer change any other row's outcome."""
        if self.merge_mode == "mor":
            self.compact()
        return self.target.delete_where(
            self.spark, f"_deleted AND _seq < {int(older_than_seq)}"
        )

    def state_sha256(self) -> DataFrame:
        """Per-row invariant view: (repo, path, sha2(content, 256))."""
        return self.state().select(
            "repo", "path", F.sha2(F.col("content"), 256).alias("content_sha256")
        )

    def metrics(self, spark: SparkSession | None = None) -> DataFrame:
        """Per-epoch throughput from the lineage table: events, bytes,
        apply latency, and events/s (getl ProcessTime / readRows
        counters as a queryable table)."""
        spark = spark or self.spark
        lin = self.lineage.table.read(spark)
        # scope to THIS pipeline (legacy pre-upgrade rows were
        # backfilled to "tail", the pre-upgrade default, at upgrade —
        # no NULLs survive, so no cross-pipeline double-attribution)
        lin = lin.filter(F.col("pipeline") == self.name)
        return (
            lin.groupBy("epoch")
            .agg(
                F.sum("event_count").alias("events"),
                F.sum("bytes").alias("bytes"),
                F.max("epoch_latency_ms").alias("epoch_latency_ms"),
                F.min("seq_min").alias("seq_min"),
                F.max("seq_max").alias("seq_max"),
            )
            .withColumn(
                "events_per_sec",
                F.when(
                    F.col("epoch_latency_ms") > 0,
                    F.col("events") / (F.col("epoch_latency_ms") / 1000.0),
                ).otherwise(F.lit(None).cast("double")),
            )
            .orderBy("epoch")
        )


def incremental_sync(
    spark: SparkSession,
    source: LakeTable,
    target: LakeTable,
    transform,
    name: str = "consumer",
    on_non_append: str = "error",
    rebuild_transform=None,
) -> dict:
    """Exactly-once downstream propagation (the medallion chain):
    read the SOURCE table's snapshots appended since this consumer's
    watermark (``read_incremental`` — O(new data), never a rescan),
    let ``transform(delta_df, target) -> MergeBuilder`` shape the
    apply, and execute it with idempotency(name, <source snapshot
    id>) so the consumer watermark advances in the same atomic commit
    as the derived data. Re-running with no new source snapshot — or
    crashing after the commit and re-running — is a no-op.

    The consumed range must be append-only. MOR pipeline targets and
    lineage/metrics tables are append-only *between maintenance runs*
    — but ``compact()`` / ``purge_tombstones()`` (and the CLI
    ``compact`` command) write overwrite snapshots, after which every
    range crossing them is permanently non-incremental.
    ``on_non_append`` picks the recovery:

    - ``"error"`` (default): raise — correct when the caller schedules
      maintenance and catch-up so they never interleave.
    - ``"rebuild"``: fall back to a FULL read of the source at the
      current snapshot and apply ``rebuild_transform(full_df, target)
      -> MergeBuilder`` (defaults to ``transform``), advancing the
      watermark past the overwrite in the same atomic commit. Use the
      default only when ``transform`` is a convergent full-state
      upsert (a LWW MERGE is); increment-style transforms (counters,
      sums of deltas) MUST pass a ``rebuild_transform`` that rebuilds
      the derived state from scratch, or they will double-count.
    """
    if on_non_append not in ("error", "rebuild"):
        raise ValueError("on_non_append must be 'error' or 'rebuild'")
    source.refresh()
    target.refresh()
    last = int(target.properties.get(f"watermark.{name}", "0"))
    cur = source.meta["current_snapshot_id"] or 0
    if cur <= last:
        return {"skipped": True, "reason": f"snapshot {cur} <= watermark {last}"}
    try:
        delta = source.read_incremental(spark, last, cur)
    except ValueError as e:
        if on_non_append != "rebuild":
            raise ValueError(
                f"{e}. The source was compacted/overwritten since this "
                f"consumer's watermark ({last}); pass "
                f"on_non_append='rebuild' (with a rebuild_transform for "
                f"increment-style consumers) to catch up from a full snapshot."
            ) from e
        full = source.read(spark, snapshot_id=cur)
        builder = (rebuild_transform or transform)(full, target)
        res = builder.idempotency(name, cur).execute(spark)
        res["rebuild"] = True
        return res
    builder = transform(delta, target)
    return builder.idempotency(name, cur).execute(spark)
