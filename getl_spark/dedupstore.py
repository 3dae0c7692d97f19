"""Incremental near-dedup — the story pattern applied to dedup.

No 100-TB pipeline re-dedups its corpus from scratch per ingest: the
LSH rows of every item ever seen persist in lake tables, and each new
batch is (a) sketched once, (b) joined against the standing sketch
tables + itself for candidates, (c) verified exactly, (d) appended.
Cost per batch is O(new items + touched buckets), not O(corpus).

One engine, two strategies. :class:`_DedupCore` owns everything the
two stores share: the story state (watermark, pending crash tails,
the reprocess carve-out, effective/committed id ranges, heal-claim
verification), the candidate join, the heal anti-join for every table
a crashed batch may have half-committed, the verdict table and
:meth:`~_DedupCore.rejected_of`, ``open`` and config pinning, and the
maintenance verbs. A strategy supplies only what really differs:

- :class:`DedupStore` (text): MinHash band rows in ``_dedup_index``
  plus optional winnowed fingerprints in ``_dedup_winnow``, Jaccard
  verification against ``_dedup_docs``; ids in ``doc_id``. The INDEX
  commit is the batch's done marker.
- :class:`EmbDedupStore` (vectors): hyperplane-LSH bucket rows in
  ``_embdedup_buckets``, exact-cosine verification against
  ``_embdedup_vectors``; ids in ``vec_id``. The VECTORS commit is the
  batch's done marker.

Every other table of a batch is appended before the done table, under
the same batch token. The contracts below hold for both strategies:

- **Story filter / monotonic guard** read NO data at all: every
  append stamps ``max_<id>`` into its snapshot summary, so the
  high-watermark is driver-side metadata (the same mechanism as the
  CDC checkpoint). Already-committed ids are skipped by
  ``id > watermark`` — zero Spark jobs. A replayed batch whose ids
  sit below the watermark is distinguished from a monotonicity
  violation by a membership probe against the content table pruned
  to the batch ids' storage buckets (manifest pruning; runs only on
  replays).
- **Candidate join** touches only TOUCHED buckets: the new batch's
  distinct sketch-key set is broadcast and the stored sketch table is
  left-semi filtered on it — a map-side filter, so the stored side is
  never shuffled — after a manifest-level prune to the storage
  buckets those keys hash to. The cap window and the pair join then
  see O(new + touched-bucket) rows. Per-bucket counts stay exact
  because the semi filter keeps WHOLE buckets (the filter key IS the
  bucket key), so no separate bucket-stats table is needed for
  `_cap_buckets` correctness.
- **Crash heal** is metadata-triggered: each batch carries a token
  stamped into every table's summary; a snapshot whose token never
  reached the done table marks a crashed tail, and only then does the
  heal anti-join run — against a bucket-pruned, id-range-filtered
  read. Tails resolve by TOKEN only: either the crash was between one
  call's appends (same token reaches the done table on replay) or a
  replay whose input span covers the tail's inferred id range stamps
  it into the done commit's ``heals`` list. The done watermark moving
  past a tail's ids proves nothing — a later batch commits without
  reprocessing the tail — so the story filter treats ids inside a
  pending tail's range as REPROCESSABLE (they pass the membership
  probe yet were never judged). The hot path runs no heal scan at all.

Reference analog: getl's story-table exactly-once skip
(/root/reference/src/main/groovy/getl/files/Manager.groovy:936-948)
applied to content identity instead of file names.

Equality contract (pinned by test): with ingest-ordered ids (every
new batch's ids are larger than all stored ids) and
``max_bucket=None``, the union of ``add_batch`` outputs over any
batch split equals the one-shot pairwise drop over the same candidate
generator (``near_dedup_minhash(union, transitive=False)`` for text,
``embedding_near_dups`` pairs for vectors) — because the pairwise drop
rule ("drop the higher id of each verified pair") never lets a later
item evict an earlier one, and the banded candidate join over (stored
+ new) sketch rows reproduces exactly the one-shot join's pairs that
touch a new item. Dropped items' sketch rows stay stored on purpose:
the one-shot pair set includes pairs whose lower id was itself
dropped, so the incremental index must too. The touched-bucket
pruning does not perturb this: a pair whose higher id is new lives,
by definition, in a bucket the new batch touches, and the semi filter
keeps every stored member of each touched bucket.

With ``max_bucket`` set, exact equality weakens to a one-sided
guarantee: incremental is STRICTLY MORE AGGRESSIVE (a pair is judged
when its higher id arrives, before the bucket can cross the cap, so
incremental finds every pair the one-shot capped run finds, plus
pairs whose bucket only later became degenerate). The cap is part of
the store's pinned config, so batches can't silently mix caps.

``require_monotonic=False`` is the compatibility escape hatch: ids
below the watermark are then legitimate new items, so the story
filter falls back to an anti-join against the done table's id column
(range-pruned to the batch's id span, but still a scan of that
column — linear, documented). The O(new + touched) bound is a
property of the contract path, as is batch==one-shot equality.

Stores written before round 6 lack the summary stamps; they are
detected (any data snapshot missing ``max_<id>``/``batch``) and
serviced through the same legacy scan path.

Maintenance & retention contract: an always-on ingest appends a file
per touched bucket and a snapshot per batch, forever. ``compact()``
folds small files bucket-locally, ``expire(keep_last)`` bounds
snapshot metadata, and ``prune_dropped(before_id)`` reclaims the
sketch rows and content of long-dropped items (their verdict rows are
kept, so replay recovery still works). All three stamp a maintenance
marker into their snapshot summaries so the watermark reader skips
them — they never flip a store onto the legacy path. Retention
defaults keep everything: dropped items' sketch rows are part of the
equality contract above, so pruning them is an explicit, documented
trade (see :meth:`_DedupCore._prune_dropped`). ``expire`` must keep at
least the deepest crash-replay window you need — a crashed tail is
only healable while its batch stamps are visible — and if every
stamped append expires, the store safely (if slowly) falls back to
the membership anti-join path rather than trusting a blank watermark.
"""

from __future__ import annotations

import inspect
import uuid
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from getl_spark.functions.dedupe import (
    _cap_buckets,
    jaccard_verify,
    minhash_banded_rows,
)
from getl_spark.lake import LakeCatalog, PartitionSpec
from getl_spark.schema import parse_ddl


def _is_maintenance(summ: dict) -> bool:
    """Compaction / retention-prune / delete snapshots rewrite or drop
    EXISTING rows only — they introduce no new doc ids, so the
    append-summary watermarks stay valid across them and they must not
    flip the store onto the legacy scan path."""
    return bool(
        summ.get("compaction") or summ.get("maintenance") or summ.get("delete_where")
    )


def _data_summaries(table) -> list[dict]:
    """Summaries of snapshots that added rows (appends with content) —
    plus ZERO-row appends that carry a ``batch`` token: a judged batch
    whose banded/vector rows happen to be empty still stamps its done
    marker and ``heals`` claims through its summary, and skipping it
    would leave its tail pending (and heal scans running) forever
    (ADVICE r7 #3). Creation, unstamped empty-replay, and maintenance
    snapshots don't count."""
    out = []
    for snap in table.meta["snapshots"]:
        summ = snap.get("summary") or {}
        if _is_maintenance(summ):
            continue
        if snap.get("operation") == "append" and (
            summ.get("added_rows", 0) > 0 or "batch" in summ
        ):
            out.append(summ)
    return out


def _watermark(table, key: str) -> tuple[int | None, bool]:
    """(high-watermark, modern) from snapshot summaries — no scan.

    ``modern`` is False when any data-bearing snapshot lacks the
    watermark/token stamps (store written before round 6, or the
    table was compacted by a rewrite that added rows) — callers then
    fall back to the legacy scan path.
    """
    hi, modern = None, True
    for snap in table.meta["snapshots"]:
        summ = snap.get("summary") or {}
        if _is_maintenance(summ):
            continue
        # zero-row appends count when stamped (see _data_summaries):
        # their batch WAS judged, so the watermark must advance past it
        if summ.get("added_rows", 0) <= 0 and "batch" not in summ:
            continue
        if snap.get("operation") != "append":
            modern = False
            continue
        m = summ.get(key)
        if m is None or "batch" not in summ:
            modern = False
            continue
        m = int(m)
        if hi is None or m > hi:
            hi = m
    return hi, modern


def _pending_tails(prior, done, key: str) -> list[dict]:
    """Data summaries committed to ``prior`` whose batch token never
    reached ``done`` — crashed batches whose replay hasn't completed
    yet. Pure metadata.

    A tail is resolved by TOKEN only: either its own token reached
    ``done`` (the crash happened between the two appends of one call),
    or a later ``done`` append lists it in its ``heals`` stamp (the
    replay that reprocessed the crashed batch ran under a fresh token
    and declares which tails it covered). The done-side watermark is
    deliberately NOT consulted: a later batch's commit advances the
    watermark past a crashed tail's ids without reprocessing them, so
    "done_hi >= tail hi" proves nothing (the round-6 code inferred
    resolution from exactly that and silently swallowed such tails on
    replay).

    Each tail carries the EXACT id ranges its append added (see
    :func:`_summary_ranges`).
    """
    done_toks, stamped_committed = set(), []
    for s in _data_summaries(done):
        done_toks.add(s.get("batch"))
        done_toks.update(s.get("heals") or [])
        # STAMPED committed spans only — legacy inferred ranges are a
        # superset guess and must not shrink a tail (ADVICE r7 #1)
        stamped_committed.extend(s.get("id_ranges") or [])
    tails = []
    for s, ranges in _summary_ranges(prior, key):
        tok, hi = s.get("batch"), s.get(key)
        if tok is None or tok in done_toks or not ranges:
            continue
        if stamped_committed:
            # A replay that only PARTIALLY covered this tail (crash,
            # then restart with a smaller epoch size) committed a SLICE
            # of its ids under its own token + id_ranges stamp. Those
            # ids are judged and done: subtract every stamped committed
            # span so (a) the reprocess carve-out shrinks to the truly
            # uncovered remainder — re-including them would re-append
            # their band/vector rows and break cap exactness — and (b)
            # a tail whose every range is covered resolves outright
            # instead of forcing heal scans on all future batches.
            shrunk = []
            for l, h in ranges:
                if h is None:
                    shrunk.append([l, h])
                    continue
                shrunk.extend(_subtract_ranges(l, h, stamped_committed))
            if not shrunk:
                continue  # fully covered by stamped commits — resolved
            ranges = shrunk
        tails.append({"batch": tok, "hi": None if hi is None else int(hi), "ranges": ranges})
    return tails


def _summary_ranges(table, key: str):
    """``(summary, [[lo, hi], ...])`` per data summary of ``table``. Every
    stamped append records ``id_ranges`` — the driver-side list of
    ``[lo, hi]`` spans its effective (non-committed-before) ids
    occupied; usually one span, several when the append itself
    reprocessed earlier tails. Appends from round-6 stores lack the
    stamp; their single range is then inferred as ``(prev_hi, hi]``
    from the preceding data summaries' watermarks — a conservative
    superset, exact under the monotonic-id contract except that it
    may reach below the batch's true lo into id space no committed
    batch occupies (harmless: carving empty id space out of the
    membership probe changes nothing). Pure metadata."""
    prev_hi = None
    for s in _data_summaries(table):
        hi, ranges = s.get(key), s.get("id_ranges")
        if hi is not None:
            if ranges is None:
                ranges = [[None if prev_hi is None else prev_hi + 1, int(hi)]]
            prev_hi = int(hi) if prev_hi is None else max(prev_hi, int(hi))
        yield s, ranges


def _reprocess_cond(tails: list[dict], id_expr):
    """Column predicate selecting ids inside any pending tail's id
    ranges — these LOOK committed to a membership probe against the
    tail's table but were never judged/marked done, so the story
    filter must treat them as reprocessable, not as replays. None when
    there are no usable tails."""
    cond = None
    for t in tails:
        for lo, hi in t["ranges"]:
            if hi is None:
                continue
            c = id_expr <= F.lit(int(hi))
            if lo is not None:
                c = c & (id_expr >= F.lit(int(lo)))
            cond = c if cond is None else (cond | c)
    return cond


def _overlapping(tails: list[dict], lo: int, hi: int) -> list[dict]:
    return [
        t for t in tails
        if any(
            h is not None and int(h) >= lo and (l is None or int(l) <= hi)
            for l, h in t["ranges"]
        )
    ]


def _healed_tokens(tails: list[dict], lo: int, hi: int) -> list[str]:
    """Tails whose every id range is fully covered by this batch's
    input span [lo, hi] — the replay contract resubmits whole batches,
    so span coverage is the metadata-only proxy for "this run
    reprocessed that crashed batch". Stamped as ``heals`` on the done
    table's append; a partially-covering run claims nothing and the
    tail stays pending (safe: its ranges keep being reprocessable)."""
    out = []
    for t in tails:
        # a legacy (round-6, unstamped) first-batch tail has lo=None —
        # its true lower edge is unknowable from metadata, so require
        # the batch to at least START at or below the tail's hi: a
        # disjoint higher batch (lo > hi) reprocesses none of the
        # tail's ids and must not claim it healed (the whole-batch
        # replay contract makes lo <= hi the honest metadata proxy)
        ok = all(
            h is not None
            and int(h) <= hi
            and (lo <= int(l) if l is not None else lo <= int(h))
            for l, h in t["ranges"]
        )
        if ok:
            out.append(t["batch"])
    return out


def _committed_ranges(done, key: str) -> list[list[int | None]]:
    """``[lo, hi]`` id spans the ``done`` table's data summaries claim
    as committed (:func:`_summary_ranges`); used to stamp exact-gap
    ranges on the non-monotonic path."""
    return [r for _, ranges in _summary_ranges(done, key) for r in ranges or []]


def _subtract_ranges(lo: int, hi: int, committed: list) -> list[list[int]]:
    """``[lo, hi]`` minus the committed spans — the exact id gaps a
    non-monotonic batch's surviving (anti-joined) rows can occupy.
    Stamping these instead of the raw hull keeps the ``id_ranges``
    contract (``ranges never claim committed ids``) on the
    require_monotonic=False path: a crash there must not leave a tail
    whose reprocess carve-out swallows other batches' committed ids."""
    spans = [[None if lo is None else int(lo), int(hi)]]
    for cl, ch in committed:
        if ch is None:
            continue
        ch = int(ch)
        cl = int(cl) if cl is not None else None
        nxt = []
        for sl, sh in spans:
            # sl None = unbounded below (legacy inferred tail range)
            if (sl is not None and ch < sl) or (cl is not None and cl > sh):
                nxt.append([sl, sh])
                continue
            if cl is not None and (sl is None or cl > sl):
                nxt.append([sl, min(sh, cl - 1)])
            if ch < sh:
                nxt.append([ch + 1, sh])
        spans = nxt
        if not spans:
            break
    return sorted(spans, key=lambda r: (r[0] is not None, r[0] or 0, r[1]))


def _effective_ranges(
    clipped: bool, lo_raw: int, hi_raw: int, watermark, tails: list[dict]
) -> list[list[int]]:
    """Driver-side ``[lo, hi]`` spans of the ids an add_batch call will
    actually process: the above-watermark span plus the slices of
    pending-tail ranges the input covers. Stamped as ``id_ranges`` so
    a crash after THIS append leaves a tail whose ranges never claim
    committed ids (a committed batch can sit between two pending
    tails — a single [min, max] span would swallow it)."""
    if not clipped:
        return [[int(lo_raw), int(hi_raw)]]
    out = []
    if hi_raw > watermark:
        out.append([int(watermark) + 1, int(hi_raw)])
    for t in _overlapping(tails, lo_raw, hi_raw):
        for l, h in t["ranges"]:
            if h is None or int(h) < lo_raw or (l is not None and int(l) > hi_raw):
                continue
            lo_eff = int(lo_raw) if l is None else max(int(l), int(lo_raw))
            out.append([lo_eff, min(int(h), int(hi_raw))])
    return sorted(out)


def _storage_buckets(df: DataFrame, table) -> list[int]:
    """Distinct storage buckets the rows of ``df`` hash to under the
    table's own partition transform — the driver-side input to
    ``table.read(buckets=...)`` manifest pruning (same mechanism as
    AnnIndex._buckets_for_cells). One small job over ``df``; at most
    ``num_buckets`` values come back."""
    spec = table.partition_spec
    assert spec.kind == "bucket"
    rows = df.select(spec.bucket_expr().cast("int").alias("_b")).distinct().collect()
    return sorted({int(r["_b"]) for r in rows})


def _plan_string(df: DataFrame) -> str:
    """Physical-plan text for a not-yet-executed DataFrame (used by
    the pruning assertions in tests); best-effort."""
    try:
        jqe = df._jdf.queryExecution()
        jvm = df.sparkSession._jvm
        mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
        return jqe.explainString(mode)
    except Exception:
        return ""


def _not_monotonic(lo, hi) -> ValueError:
    return ValueError(
        f"add_batch: new ids must exceed all stored ids for the "
        f"batch==incremental equality contract (new min {lo} <= stored "
        f"max {hi}); pass require_monotonic=False to override"
    )


class _DedupCore:
    """Story / heal / verdict / maintenance engine shared by
    :class:`DedupStore` and :class:`EmbDedupStore` (module docstring).

    A strategy sets the class constants below, builds ``cfg`` and calls
    :meth:`_open` with its sketch tables, and implements ``_sketch``
    (the batch's candidate-key rows per sketch table) and ``_verify``
    (the exact pair check). Store tables, keyed by role name:

    - one or more SKETCH tables (``ID_COL`` + key columns, bucketed by
      the last key column); the first one stamps the config;
    - the CONTENT table (``ID_COL`` + ``VALUE_COL``, bucketed by id);
    - ``rejects``: persisted VERDICTS, one row per dropped id with the
      smallest lower id it verified against. Committed before the done
      table, so by the time the done commit marks a batch done — the
      point at which the story filter starts skipping its ids — every
      verdict of that batch is durable, and a replayed epoch recovers
      its kept set via :meth:`rejected_of` instead of re-judging (the
      CDC pre-merge composition relies on this).

    After each ``add_batch`` call, ``last_batch_stats`` holds the
    pruning evidence for that batch: which story path ran, how many
    files of the first sketch table the candidate join read vs the
    table total, the physical plan of the stored-side semi filter, and
    whether a heal scan was needed.
    """

    ID_COL: str  # id column of every store table
    VALUE_COL: str  # the content table's value column ...
    VALUE_TYPE: str  # ... and its type
    EVENT_COL: str  # event column CDCPipeline judges by default
    PREFIX: str  # lake table name prefix
    CONTENT: str  # role of the content table
    DONE: str  # role of the table whose commit marks a batch done
    CFG_TABLE: str  # role of the sketch table whose appends stamp cfg
    CFG_MARK: str  # cfg key marking a config-stamped snapshot
    KIND: str  # store kind, for error messages

    def _open(self, warehouse: str, num_buckets: int, sketches: dict) -> None:
        """Create-or-load the tables (``sketches``: role -> key-column
        DDL, config table first) and check the pinned config — the
        parameters are fixed at creation and stamped into the config
        table's appends, so a mismatched reopen fails loudly instead of
        silently mixing incompatible sketches. ``num_buckets`` sizes
        the storage bucketing that manifest pruning keys on; at corpus
        scale it should be large enough that one batch's keys touch a
        small fraction of buckets. Reopening keeps the tables' own
        stored spec."""
        self.last_batch_stats: dict = {}
        first, *rest = sketches.items()
        specs = [
            first,
            (self.CONTENT, f"{self.VALUE_COL} {self.VALUE_TYPE}"),
            ("rejects", "dup_of bigint"),
            *rest,
        ]
        cat = LakeCatalog(warehouse)
        self._t = {}
        for role, cols in specs:
            by = parse_ddl(cols).fieldNames()[-1] if role in sketches else self.ID_COL
            self._t[role] = cat.create_table(
                self.PREFIX + role,
                parse_ddl(f"{self.ID_COL} bigint, {cols}"),
                PartitionSpec.bucket(num_buckets, by),
                if_not_exists=True,
            )
        self._sketches = list(sketches)
        self.rejects = self._t["rejects"]
        for snap in self._t[self.CFG_TABLE].meta["snapshots"]:
            summ = snap.get("summary", {})
            if self.CFG_MARK not in summ:
                continue  # creation / unrelated snapshot
            mismatch = {
                k: (summ.get(k), self.cfg[k])
                for k in self.cfg
                if summ.get(k) != self.cfg[k]
            }
            if mismatch:
                raise ValueError(
                    f"{type(self).__name__} config mismatch vs existing index: {mismatch}"
                )
            break

    @classmethod
    def open(cls, warehouse: str):
        """Reopen an existing store under its OWN stored configuration
        (every config-table append stamps the full cfg into its
        snapshot summary) — maintenance jobs (compact/expire/prune)
        shouldn't have to repeat ingest parameters they can get wrong.
        Raises if the warehouse has no ingested batch to read a spec
        from."""
        cat = LakeCatalog(warehouse)
        if not cat.table_exists(cls.PREFIX + cls.CFG_TABLE):
            raise ValueError(f"no {cls.KIND} at {warehouse!r}")
        params = inspect.signature(cls).parameters
        for snap in cat.load_table(cls.PREFIX + cls.CFG_TABLE).meta["snapshots"]:
            summ = snap.get("summary") or {}
            if cls.CFG_MARK in summ:
                return cls(warehouse, **{k: v for k, v in summ.items() if k in params})
        raise ValueError(
            f"{cls.KIND} at {warehouse!r} has no ingested batch to read "
            "its configuration from — pass the parameters explicitly"
        )

    def corpus_size(self) -> int:
        return self._t[self.CONTENT].count_rows()

    def _by_id(self, t) -> bool:
        """True for tables holding one row per id (content, rejects)."""
        return t.partition_spec.columns == [self.ID_COL]

    def _ids_in(self, spark, t, lo, hi, buckets=None) -> DataFrame:
        """``ID_COL`` values of ``t`` within ``[lo, hi]``, distinct —
        sketch tables hold several rows per id. An anti-join on the id
        is an equality, so rows in other storage buckets / outside the
        span can never match: both prunings are always safe."""
        i = self.ID_COL
        ids = t.read(spark, buckets=buckets).select(i).filter(
            (F.col(i) >= lo) & (F.col(i) <= hi)
        )
        return ids if self._by_id(t) else ids.distinct()

    def _add_batch(
        self, spark: SparkSession, batch: DataFrame, value_col: str,
        id_col: str, require_monotonic: bool,
    ) -> DataFrame:
        """Dedup ``batch`` against the standing corpus + itself; persist
        its sketch rows, content and verdicts; return the KEPT new rows
        (original columns). Re-submitting already-committed ids is a
        no-op for them (story semantics). See the module docstring for
        the per-batch cost contract and how each scan is pruned."""
        i, wm = self.ID_COL, f"max_{self.ID_COL}"
        for t in self._t.values():
            t.refresh()
        done, content = self._t[self.DONE], self._t[self.CONTENT]
        # every table but the done marker, in append order
        priors = [
            r for r in (self.CONTENT, *self._sketches, "rejects") if r != self.DONE
        ]
        first = self._t[priors[0]]
        stats = self.last_batch_stats = {"heal": False}
        have_done = done.count_rows() > 0  # manifest stats, no scan
        hi_done, modern = _watermark(done, wm)
        if modern:
            _, modern = _watermark(first, wm)
        if have_done and hi_done is None:
            # rows exist but no stamped append snapshot is visible —
            # expire_snapshots dropped them all. The fast path would
            # skip the story filter and re-ingest replayed ids; fall
            # back to the true membership anti-join instead.
            modern = False
        fast = modern and require_monotonic

        iid = F.col(id_col).cast("bigint")
        row = batch.agg(F.min(iid).alias("lo"), F.max(iid).alias("hi")).collect()[0]
        lo_raw, hi_raw = row["lo"], row["hi"]
        if lo_raw is None:  # empty input
            stats["story_path"] = "empty"
            return batch

        d = batch
        tails = _pending_tails(first, done, wm) if modern else []
        reproc = _reprocess_cond(tails, iid)
        anti_span = None
        if have_done and fast:
            stats["story_path"] = "watermark"
            if hi_done is not None and lo_raw <= hi_done:
                # replay (ids already committed), a crashed tail being
                # replayed (ids committed to the first table but never
                # judged — their batch token never reached the done
                # table), or a monotonicity violation (ids never seen).
                # The membership probe tests the content table (bucketed
                # by id, prunable) while the done marker may be another
                # table, so ids inside a pending tail's range can pass
                # the probe despite being un-judged — they are carved
                # out as reprocessable BEFORE the probe and kept in ``d``.
                committed = iid <= hi_done
                if reproc is not None:
                    committed = committed & ~reproc
                old_ids = d.filter(committed).select(iid.alias(i))
                db = _storage_buckets(old_ids, content)
                if db:
                    present = content.read(spark, buckets=db).select(i)
                    # prune_dropped reclaims dropped items' content rows
                    # but KEEPS their verdict rows — a replayed batch
                    # containing pruned ids must still read as
                    # committed, so the probe accepts ids from either
                    # table (both bucketed by id)
                    if self.rejects.count_rows() > 0:
                        rb = _storage_buckets(old_ids, self.rejects)
                        present = present.unionByName(
                            self.rejects.read(spark, buckets=rb).select(i)
                        )
                    if old_ids.join(present, i, "left_anti").limit(1).collect():
                        raise _not_monotonic(lo_raw, hi_done)
                keep = iid > hi_done
                if reproc is not None:
                    keep = keep | reproc
                d = d.filter(keep)
            if (
                hi_done is not None
                and hi_raw <= hi_done
                and not _overlapping(tails, lo_raw, hi_raw)
            ):
                # full replay of committed batches, no crashed tail in
                # range — story no-op (d is already filtered empty)
                stats["story_path"] = "watermark-replay-noop"
                return d
        elif have_done:
            # legacy / non-monotonic path: true membership anti-join
            # against the done table, range-pruned to the batch's id
            # span (still a scan of its id column, see module docstring)
            stats["story_path"] = "anti-join"
            stored_ids = self._ids_in(spark, done, lo_raw, hi_raw)
            d = d.withColumn("_iid", iid).join(
                stored_ids.withColumnRenamed(i, "_iid"), "_iid", "left_anti"
            ).drop("_iid")
            row = d.agg(F.min(iid).alias("lo"), F.max(iid).alias("hi")).collect()[0]
            anti_span = (row["lo"], row["hi"])
            if require_monotonic:
                hi = hi_done
                if not modern:
                    hi = done.read(spark).agg(F.max(i)).collect()[0][0]
                lo = anti_span[0]
                if lo is not None and hi is not None and lo <= hi:
                    raise _not_monotonic(lo, hi)
        else:
            stats["story_path"] = "first-batch"

        batch_tok = uuid.uuid4().hex[:12]
        clipped = fast and hi_done is not None and lo_raw <= hi_done
        if anti_span is not None:
            # exact-gap stamp: the anti-join already removed committed
            # ids, but the SURVIVORS' hull may still straddle other
            # batches' committed spans (an unordered batch can wrap
            # around them) — subtract the done table's committed ranges
            # so a crash here never leaves a tail claiming them
            eff = (
                []
                if anti_span[0] is None
                else _subtract_ranges(
                    anti_span[0], anti_span[1], _committed_ranges(done, wm)
                )
            )
        else:
            eff = _effective_ranges(clipped, lo_raw, hi_raw, hi_done, tails)
        # heal anti-joins below filter to [batch_lo, batch_hi] — must
        # cover reprocessed tail ids, which sit below the watermark
        batch_lo = min((r[0] for r in eff), default=lo_raw)
        batch_hi = hi_raw
        stamp = {"op": "add_batch", "batch": batch_tok, wm: int(batch_hi), "id_ranges": eff}
        healed = _healed_tokens(tails, int(lo_raw), int(hi_raw))
        if healed:
            # The heals stamp is a metadata CLAIM derived from input
            # SPAN coverage. Verify it against rows before trusting it:
            # the crashed batch's ids are durable in the first table
            # (its append succeeded), so any of them missing from this
            # input means the whole-batch replay contract was violated
            # — stamping the heal would permanently mark un-judged ids
            # as committed (silent under-dedup, ADVICE r7 #2). Drop
            # ALL heal claims in that case: the tails stay pending
            # (still reprocessable — safe) and a conforming replay
            # heals them later. Runs only on the rare crash-replay path.
            claim_tails = [t for t in tails if t["batch"] in set(healed)]
            claim_cond = _reprocess_cond(claim_tails, F.col(i))
            if claim_cond is not None:
                stored_tail_ids = first.read(spark).select(i).filter(claim_cond)
                missing = stored_tail_ids.join(
                    batch.select(iid.alias(i)), i, "left_anti"
                ).limit(1).collect()
                if missing:
                    stats["heal_claims_dropped"] = list(healed)
                    healed = []
        if healed:
            stats["healed_tails"] = list(healed)

        # a table of a crashed tail holds rows this batch recomputes;
        # the legacy gate keys on the table being healed itself (an
        # unstamped store whose first batch crashed has an empty done
        # table but populated earlier tables, ADVICE r6 #2)
        heal = {
            r: bool(_pending_tails(self._t[r], done, wm))
            if modern
            else self._t[r].count_rows() > 0
            for r in priors
        }
        heal[self.DONE] = False  # appended last: never half-committed
        sketches = self._sketch(d, value_col, id_col)
        new_ids = sketches[0][1].select(i).distinct()
        key_buckets: dict = {}
        pairs = reduce(DataFrame.unionByName, [
            self._candidates(spark, r, rows, new_ids, heal[r], min_shared, key_buckets)
            for r, rows, min_shared in sketches
        ]).distinct().persist()

        # verify on the values of exactly the ids the pairs touch; old
        # values come from a read pruned to the touched ids' storage
        # buckets (pairs is persisted — the candidate join runs once,
        # here, for the bucket collection)
        new_vals = d.select(
            iid.alias(i), F.col(value_col).cast(self.VALUE_TYPE).alias(self.VALUE_COL)
        )
        touched = (
            pairs.select(F.col("a_id").alias(i))
            .unionByName(pairs.select(F.col("b_id").alias(i)))
            .distinct()
        )
        old_touched = touched.join(new_ids, i, "left_anti")
        # an empty content table holds no old values: skip the job
        tb = _storage_buckets(old_touched, content) if content.count_rows() else []
        vals = new_vals
        if tb:
            vals = content.read(spark, buckets=tb).join(
                old_touched, i, "left_semi"
            ).unionByName(new_vals)
        verified = self._verify(vals.join(touched, i, "left_semi"), pairs)
        # verdict rows: each dropped id with the smallest lower id it
        # verified against (deterministic representative)
        reject_rows = verified.groupBy(F.col("b_id").alias(i)).agg(
            F.min("a_id").alias("dup_of")
        )

        # persist AFTER computing, the done table LAST: its commit is
        # the batch's done marker (the story filter keys on it), so a
        # crash before it means the whole batch reprocesses — and the
        # heal anti-join de-duplicates the crashed tail's partial
        # commits. It runs ONLY when snapshot metadata shows a crashed
        # tail (a batch token that never reached the done table).
        add = {self.CONTENT: new_vals, "rejects": reject_rows}
        add.update((r, rows) for r, rows, _ in sketches)
        rej_buckets: set = set()
        for r in (*priors, self.DONE):
            t, rows = self._t[r], add[r]
            before = {f["path"] for f in t.current_files()}
            if heal[r]:
                stats["heal"] = True
                if self._by_id(t):
                    hb = _storage_buckets(new_ids, t)
                    if r == "rejects":
                        rej_buckets.update(hb)
                else:
                    # bucketed by a content key, not the id — but a
                    # replayed crashed batch re-sketches the SAME
                    # values, so any existing row with an id in the
                    # batch range carries a key from this batch's own
                    # key set: prune the heal read to those keys'
                    # storage buckets, which the candidate join already
                    # collected (none: the table holds no rows yet)
                    hb = key_buckets.get(r, [])
                    files, hset = t.current_files(), set(hb)
                    pre = "" if r == self.CFG_TABLE else f"{r}_"
                    stats[pre + "heal_files_total"] = len(files)
                    stats[pre + "heal_files_read"] = sum(
                        1 for f in files if f["bucket"] in hset
                    )
                rows = rows.join(
                    self._ids_in(spark, t, batch_lo, batch_hi, hb), i, "left_anti"
                )
            st = {**stamp, **(self.cfg if r == self.CFG_TABLE else {})}
            if r == self.DONE and healed:
                # a replay that covered crashed tails declares them
                # healed here, under ITS token — _pending_tails resolves
                # tails by token only, never by the watermark having
                # moved past them
                st["heals"] = list(healed)
            snap = t.append(rows, st)
            if r == "rejects":
                rej_buckets.update(
                    f["bucket"] for f in snap["files"] if f["path"] not in before
                )
        for _, rows, _ in sketches:
            rows.unpersist()
        pairs.unpersist()
        # the kept rows are the batch minus its committed verdicts — a
        # read of the verdict buckets this batch just wrote (plus, on a
        # heal, every bucket of its ids: a crashed tail's verdicts stand)
        # instead of a plan over the unpersisted sketches and pairs,
        # which every action on the result would re-run from scratch
        if not rej_buckets:
            return d
        dropped = self.rejects.read(spark, buckets=rej_buckets).select(
            F.col(i).alias("_drop")
        ).filter(F.col("_drop").between(lo_raw, hi_raw))
        return d.join(dropped, iid == F.col("_drop"), "left_anti")

    def _candidates(
        self, spark, role, rows, new_ids, heal, min_shared, key_buckets
    ) -> DataFrame:
        """Candidate ``(a_id, b_id)`` pairs from one sketch table: its
        stored rows in the buckets this batch touches plus the batch's
        own ``rows``, capped, self-joined on the key columns, kept only
        where the higher id is new (old x old pairs were judged in
        earlier batches). With ``min_shared`` a pair needs that many
        common keys (winnowed fingerprints)."""
        i, t = self.ID_COL, self._t[role]
        keys = [c for c in rows.columns if c != i]
        if t.count_rows() > 0:  # manifest stats, no scan
            # touched-bucket pruning: manifest-prune the scan to the
            # storage buckets the new keys hash to, then broadcast the
            # key set and left-semi filter map-side — the stored side
            # is never shuffled, and the cap window + pair join below
            # see only touched buckets' rows (whole buckets, so the
            # cap's per-bucket counts stay exact).
            new_keys = rows.select(*keys).distinct()
            sb = key_buckets[role] = _storage_buckets(new_keys, t)
            stored = t.read(spark, buckets=sb).join(
                F.broadcast(new_keys), keys, "left_semi"
            )
            if role == self.CFG_TABLE:
                files, sbset = t.current_files(), set(sb)
                self.last_batch_stats.update(
                    index_files_total=len(files),
                    index_files_read=sum(1 for f in files if f["bucket"] in sbset),
                    index_buckets_total=len({f["bucket"] for f in files}),
                    index_buckets_read=len(sb),
                    stored_semi_plan=_plan_string(stored),
                )
            if heal:
                # healing replay: a crashed tail's rows are committed
                # here AND recomputed in ``rows`` — drop the stored
                # copies so the per-bucket cap and the min_shared count
                # see each row once (double-counting can push a bucket
                # over max_bucket and diverge from the clean run)
                stored = stored.join(F.broadcast(new_ids), i, "left_anti")
            rows = stored.unionByName(rows)
        capped = _cap_buckets(rows, keys, self.max_bucket)
        a, b = capped.alias("a"), capped.alias("b")
        cond = reduce(
            lambda x, y: x & y,
            [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys]
            + [F.col(f"a.{i}") < F.col(f"b.{i}")],
        )
        a_id, b_id = F.col(f"a.{i}").alias("a_id"), F.col(f"b.{i}").alias("b_id")
        pairs = a.join(b, cond)
        if min_shared is None:
            pairs = pairs.select(a_id, b_id)
        else:
            pairs = (
                pairs.groupBy(a_id, b_id)
                .agg(F.count(F.lit(1)).alias("_shared"))
                .filter(F.col("_shared") >= min_shared)
                .select("a_id", "b_id")
            )
        return pairs.join(new_ids.withColumnRenamed(i, "b_id"), "b_id", "left_semi")

    def rejected_of(
        self, spark: SparkSession, ids: DataFrame, id_col: str | None = None
    ) -> DataFrame:
        """(id, dup_of) for the subset of ``ids`` (column ``id_col``,
        default the store's ``ID_COL``) the store has dropped — a
        bucket-pruned read of the persisted verdicts, valid for any mix
        of new and previously-ingested ids. This is how a replayed CDC
        epoch recovers its kept set without re-judging: verdicts commit
        BEFORE the done marker, so any id the story filter skips
        already has its verdict durable. Batches ingested by a store
        that predates the verdicts table return no rows — re-ingest or
        treat those epochs as all-kept."""
        i = self.ID_COL
        self.rejects.refresh()
        idf = ids.select(F.col(id_col or i).cast("bigint").alias(i)).distinct()
        if self.rejects.count_rows() == 0:  # manifest stats, no scan
            return idf.limit(0).withColumn("dup_of", F.lit(None).cast("bigint"))
        rb = _storage_buckets(idf, self.rejects)
        return self.rejects.read(spark, buckets=rb).join(idf, i, "left_semi")

    # -- maintenance -------------------------------------------------
    def _tables(self):
        return dict(self._t)

    def compact(self, spark: SparkSession) -> dict:
        """Small-file compaction across the store's tables: every
        ``add_batch`` appends a file per touched bucket, and both the
        candidate join and the bucket-pruned verdict/heal reads pay
        per-file overhead — fold periodically (bucket-local binpack;
        compaction snapshots are transparent to the watermark story
        filter). Returns files before/after per table."""
        out = {}
        for name, t in self._t.items():
            t.refresh()
            before = len(t.current_files())
            t.compact(spark)
            t.refresh()
            out[name] = {"files_before": before, "files_after": len(t.current_files())}
        return out

    def expire(self, keep_last: int = 8) -> dict:
        """Bound snapshot metadata: an always-on ingest otherwise grows
        every table's snapshot list O(batches) and each commit rewrites
        it (O(batches^2) on disk over time). Keeps the newest
        ``keep_last`` snapshots per table — the watermark/token stamps
        of expired snapshots are no longer visible, so keep at least as
        many as the deepest crash-replay window you need (a tail can
        only be healed while its stamps are still in the kept list)."""
        return {name: t.expire_snapshots(keep_last) for name, t in self._t.items()}

    def remove_orphans(self, older_than_seconds: float = 3600) -> dict:
        """Delete data files referenced by NO snapshot across the
        store's tables — a crashed add_batch (between writing files and
        committing) leaves its files behind forever otherwise. Same
        mtime grace period as the lake tables' own
        ``remove_orphan_files``; files deleted per table returned."""
        return {
            name: t.remove_orphan_files(older_than_seconds)
            for name, t in self._t.items()
        }

    def _prune_dropped(self, spark: SparkSession, before: int, out_key: str) -> dict:
        """RETENTION: reclaim the heavy state (sketch rows, content) of
        items that were DROPPED with ``id < before``. Their verdict rows
        are KEPT — one tiny row per dropped item — so ``rejected_of``
        replay recovery still works at any depth.

        Dropped items' sketch rows stay stored BY DESIGN (module
        docstring: the one-shot pair set includes pairs whose lower id
        was itself dropped), so pruning trades storage for a bounded,
        one-sided equality change: a future item whose ONLY verified
        match is a pruned dropped item will now be KEPT (the one-shot
        run over the full history would have dropped it). Kept items
        are untouched — pairs against them are unaffected. Choose
        ``before`` older than any content you expect to recur.
        """
        i, before = self.ID_COL, int(before)
        self.rejects.refresh()
        old = self.rejects.read(spark).filter(F.col(i) < before).select(i).persist()
        stamp = {"maintenance": "prune_dropped", f"before_{i}": before}
        out = {out_key: old.count()}
        try:
            if out[out_key] == 0:
                return out
            for name, t in self._t.items():
                if name == "rejects":
                    continue
                t.refresh()
                # the content table (bucketed by id) rewrites only the
                # dropped ids' buckets; sketch tables bucket by content
                # keys — a dropped item's rows spread across buckets,
                # so those rewrites touch every bucket holding any such
                # row (heavyweight, like compaction — a periodic job,
                # never per-batch)
                if self._by_id(t):
                    bks = _storage_buckets(old, t)
                    keep = t.read(spark, buckets=bks).join(old, i, "left_anti")
                    t.overwrite_buckets(keep, bks, dict(stamp))
                else:
                    keep = t.read(spark).join(old, i, "left_anti")
                    t.overwrite_all(keep, dict(stamp))
            return out
        finally:
            old.unpersist()


class DedupStore(_DedupCore):
    """Persisted MinHash LSH index + document texts in a lake
    warehouse. One store per (num_hashes, bands, shingle_words,
    hash_fn, threshold) configuration — the parameters are fixed at
    creation and written into the index table's snapshot summaries
    so a mismatched reopen fails loudly instead of silently mixing
    incompatible signatures.

    ``num_buckets`` sizes the storage bucketing that manifest pruning
    keys on (thousands on a real cluster — default 64 here).

    ``winnow`` adds an optional second candidate generator: winnowed
    (MOSS) fingerprints catch shared boilerplate SPANS that global
    Jaccard banding misses — complementary, same capped-equi-join
    scale shape. Its index persists beside the MinHash one.
    """

    ID_COL, VALUE_COL, VALUE_TYPE, EVENT_COL = "doc_id", "text", "string", "content"
    PREFIX, CONTENT, DONE = "_dedup_", "docs", "index"
    CFG_TABLE, CFG_MARK, KIND = "index", "num_hashes", "dedup store"

    def __init__(
        self,
        warehouse: str,
        num_hashes: int = 64,
        bands: int = 16,
        shingle_words: int = 3,
        threshold: float = 0.7,
        hash_fn: str = "xxhash64",
        max_bucket: int | None = None,
        num_buckets: int = 64,
        winnow: dict | None = None,
    ):
        self.cfg = {
            "num_hashes": int(num_hashes), "bands": int(bands),
            "shingle_words": int(shingle_words), "threshold": float(threshold),
            "hash_fn": hash_fn,
            "max_bucket": None if max_bucket is None else int(max_bucket),
            "winnow": None if winnow is None else {
                "k": int(winnow.get("k", 8)),
                "w": int(winnow.get("w", 4)),
                "min_shared": int(winnow.get("min_shared", 2)),
            },
        }
        self.max_bucket = max_bucket
        sketches = {"index": "band_id int, band_hash string"}
        if winnow is not None:
            sketches["winnow"] = "h bigint"
        self._open(warehouse, num_buckets, sketches)
        self.index, self.docs = self._t["index"], self._t["docs"]
        self.winnow_index = self._t.get("winnow")

    def add_batch(
        self,
        spark: SparkSession,
        docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        require_monotonic: bool = True,
    ) -> DataFrame:
        """Dedup ``docs`` against the standing corpus + themselves;
        persist their signatures; return the KEPT new docs (original
        columns). See :meth:`_DedupCore._add_batch`."""
        return self._add_batch(spark, docs, text_col, id_col, require_monotonic)

    def prune_dropped(self, spark: SparkSession, before_doc_id: int) -> dict:
        """Reclaim band rows, texts and fingerprints of docs dropped
        with ``doc_id < before_doc_id``; see
        :meth:`_DedupCore._prune_dropped` for the documented trade."""
        return self._prune_dropped(spark, before_doc_id, "pruned_docs")

    def _sketch(self, d: DataFrame, text_col: str, id_col: str) -> list:
        from getl_spark.functions.text import winnow as _winnow

        c, did = self.cfg, F.col(id_col).cast("bigint").alias("doc_id")
        out = [("index", minhash_banded_rows(
            d, text_col, id_col,
            c["num_hashes"], c["bands"], c["shingle_words"], c["hash_fn"],
        ).select(did, "band_id", "band_hash").persist(), None)]
        if c["winnow"] is not None:
            wc = c["winnow"]
            fp = _winnow(d, text_col, id_col, k=wc["k"], w=wc["w"], hash_fn=c["hash_fn"])
            out.append(("winnow", fp.select(did, "h").distinct().persist(), wc["min_shared"]))
        return out

    def _verify(self, texts: DataFrame, pairs: DataFrame) -> DataFrame:
        return jaccard_verify(
            texts, pairs, "text", "doc_id", self.cfg["shingle_words"],
            self.cfg["threshold"],
        )


class EmbDedupStore(_DedupCore):
    """Incremental EMBEDDING near-dedup: every vector's hyperplane-LSH
    bucket rows (same integer-exact math as
    :func:`getl_spark.functions.simsearch.embedding_near_dups`) persist
    beside the vectors themselves, and candidate pairs are exact-cosine
    verified. Same story filter, touched-bucket pruning, token-triggered
    heal, verdicts and maintenance as :class:`DedupStore` (module
    docstring); the VECTORS table commit is the done marker. Verdicts
    persist in ``_embdedup_rejects`` and surface through
    :meth:`rejected_of`, so this store composes into the CDC pipeline's
    pre-merge stage with the same replay-recovery guarantees.
    """

    ID_COL, VALUE_COL, VALUE_TYPE = "vec_id", "embedding", "array<double>"
    EVENT_COL = "embedding"
    PREFIX, CONTENT, DONE = "_embdedup_", "vectors", "vectors"
    CFG_TABLE, CFG_MARK, KIND = "buckets", "n_bits", "embedding dedup store"

    def __init__(
        self,
        warehouse: str,
        dim: int,
        threshold: float = 0.95,
        n_bits: int = 12,
        n_tables: int = 4,
        seed: int = 99,
        max_bucket: int | None = 1000,
        num_buckets: int = 64,
    ):
        self.cfg = {
            "dim": int(dim), "threshold": float(threshold),
            "n_bits": int(n_bits), "n_tables": int(n_tables),
            "seed": int(seed),
            "max_bucket": None if max_bucket is None else int(max_bucket),
        }
        self.max_bucket = max_bucket
        self._open(warehouse, num_buckets, {"buckets": "tbl int, bucket bigint"})
        self.buckets, self.vectors = self._t["buckets"], self._t["vectors"]

    def add_batch(
        self,
        spark: SparkSession,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        require_monotonic: bool = True,
    ) -> DataFrame:
        """Dedup ``vectors`` against the standing corpus + themselves;
        persist their bucket rows + vectors; return the KEPT new rows
        (original columns). See :meth:`_DedupCore._add_batch`."""
        return self._add_batch(spark, vectors, vec_col, id_col, require_monotonic)

    def prune_dropped(self, spark: SparkSession, before_vec_id: int) -> dict:
        """Reclaim bucket rows and vectors of vectors dropped with
        ``vec_id < before_vec_id``; see
        :meth:`_DedupCore._prune_dropped` for the documented trade."""
        return self._prune_dropped(spark, before_vec_id, "pruned_vecs")

    def _sketch(self, d: DataFrame, vec_col: str, id_col: str) -> list:
        from getl_spark.functions.simsearch import _bucketed

        c = self.cfg
        rows = _bucketed(
            d, id_col, vec_col, "vec_id", c["dim"], c["n_bits"], c["n_tables"], c["seed"]
        ).select(F.col("vec_id").cast("bigint"), "tbl", "bucket").persist()
        return [("buckets", rows, None)]

    def _verify(self, vecs: DataFrame, pairs: DataFrame) -> DataFrame:
        from getl_spark.functions.simsearch import cosine

        av = vecs.select(F.col("vec_id").alias("a_id"), F.col("embedding").alias("a_vec"))
        bv = vecs.select(F.col("vec_id").alias("b_id"), F.col("embedding").alias("b_vec"))
        return (
            pairs.join(av, "a_id")
            .join(bv, "b_id")
            .filter(
                F.round(cosine(F.col("a_vec"), F.col("b_vec")), 4)
                >= self.cfg["threshold"]
            )
            .select("a_id", "b_id")
        )
