"""Deterministic change-event synthesis — fully distributed, JVM-side.

Generates the binlog/WAL-style event log of FIXTURES.md §2 over the
input-hint schema ``(repo, path, commit, lang, content)`` + ``(seq,
op, event_ts)`` using only Catalyst expressions over ``spark.range`` —
no driver-side loops, no Python UDFs — so bench-scale logs (10^7+)
generate at cluster speed and the generator itself scales to 10^10.

Reference parity: getl's randomized row generator ``GenerateRandomRow``
(/root/reference/src/main/groovy/getl/utils/GenerationUtils.groovy:759+)
used by DslTest to fill tables; here generation is seeded + replayable
(no wall clock, xxhash64-derived) so the pandas oracle can re-reduce
the same log.

Guarantees (FIXTURES.md §2):
- ``seq`` globally monotonic + unique (= range id + 1)
- first event for a key is I; after a D the next event for the key is
  forced I (re-insert); otherwise U/D draws — so U/D only ever follow
  a live key
- ~dup_rate duplicate delivery: an event re-emits its key's previous
  event (same op/commit/content, higher seq) — idempotent under LWW
- zipf-ish skew: low key ids (=> a few hot repos) absorb most events
- ``content`` is a pure function of (repo, path, commit) so state can
  be re-derived and sha256-checked
- ``event_ts`` derived from seq (no Date.now)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

EVENT_SCHEMA_DDL = (
    "seq bigint, op string, repo string, path string, commit string, "
    "lang string, content string, event_ts timestamp"
)

_EXTS = ["py", "java", "groovy", "sql", "md", "ts"]
_LANGS = {"py": "py", "java": "java", "groovy": "groovy", "sql": "sql", "md": "md", "ts": "ts"}
_TS_BASE = 1700000000  # fixed epoch base; event_ts = base + seq seconds


def _hash_u(col, salt: int, mod: int):
    """Deterministic pseudo-uniform integer in [0, mod)."""
    return F.pmod(F.xxhash64(col, F.lit(salt)), F.lit(mod))


def _murmur3_int(v: int, seed: int = 42) -> int:
    """Spark's ``Murmur3Hash`` of a 4-byte int (what ``F.hash`` /
    ``HashPartitioning`` compute for an IntegerType column), signed.
    Pinned against ``F.hash`` by ``test_events.test_murmur3_matches``."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    k = (v & 0xFFFFFFFF) * c1 & 0xFFFFFFFF
    k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
    k = k * c2 & 0xFFFFFFFF
    h = (seed & 0xFFFFFFFF) ^ k
    h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
    h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    h ^= 4  # fmix: total byte length
    h ^= h >> 16
    h = h * 0x85EBCA6B & 0xFFFFFFFF
    h ^= h >> 13
    h = h * 0xC2B2AE35 & 0xFFFFFFFF
    h ^= h >> 16
    return h - (1 << 32) if h >= (1 << 31) else h


def _identity_route(num_parts: int) -> list[int]:
    """``lut`` with ``pmod(murmur3(lut[p]), num_parts) == p`` for every
    partition p: ``repartition(P, element_at(lut, block+1))`` then
    routes contiguous block b exactly to partition b — the file layout
    of ``repartitionByRange`` with NO sampling pass (the sampling job
    re-executes the whole upstream plan; here the ``seq`` distribution
    is known uniform by construction, so sampling is pure waste)."""
    lut: dict[int, int] = {}
    v = 0
    while len(lut) < num_parts:
        p = _murmur3_int(v) % num_parts
        if p not in lut:
            lut[p] = v
        v += 1
    return [lut[p] for p in range(num_parts)]


def commit_expr(repo, path, seq):
    """Deterministic 40-hex commit id from (repo, path, seq)."""
    h = [F.lower(F.lpad(F.hex(F.xxhash64(repo, path, seq, F.lit(i))), 16, "0")) for i in range(3)]
    return F.substring(F.concat(*h), 1, 40)


def content_expr(repo, path, commit, min_len: int = 64, max_len: int = 2048):
    """Deterministic pseudo-source text, pure function of (repo,path,commit)."""
    length = F.lit(min_len) + _hash_u(commit, 7, max_len - min_len)
    chunk = F.concat(F.lower(F.hex(F.xxhash64(commit, F.lit(8)))), F.lit(" "))
    header = F.concat(F.lit("// "), repo, F.lit("/"), path, F.lit(" @ "), commit, F.lit("\n"))
    body = F.substring(F.repeat(chunk, (length / 17 + 1).cast("int")), 1, length.cast("int"))
    return F.concat(header, body)


def generate_change_events(
    spark: SparkSession,
    n_events: int,
    n_keys: int | None = None,
    n_repos: int | None = None,
    seed: int = 42,
    dup_rate: float = 0.05,
    delete_rate: float = 0.10,
    skew: float = 2.0,
    content_min: int = 64,
    content_max: int = 2048,
    partitions: int | None = None,
) -> DataFrame:
    """Synthesize ``n_events`` change events. One shuffle (by key) total.

    The per-key op state machine needs events of a key ordered by seq;
    both window passes share one ``partitionBy(key) orderBy(seq)``
    spec, so Catalyst plans a single exchange + sort.
    """
    n_keys = n_keys or max(n_events // 20, 10)
    n_repos = n_repos or max(n_keys // 50, 4)
    keys_per_repo = (n_keys + n_repos - 1) // n_repos

    rng = spark.range(0, n_events, numPartitions=partitions)
    seq = F.col("id") + 1

    # zipf-ish key skew: u^skew concentrates mass near key 0
    u = _hash_u(seq, seed, 1_000_000) / 1_000_000.0
    key_id = F.least(
        F.floor(F.lit(n_keys) * F.pow(u, F.lit(skew))).cast("long"), F.lit(n_keys - 1)
    )

    # The pre-window frame carries ONLY what the op state machine
    # needs (seq, key, draws): every other output column — key id,
    # repo/path/lang strings, commit, content — is a pure function of
    # seq, so it is re-derived BELOW the final exchange instead of
    # being computed here and pushed through two shuffles and the
    # window sort (guide §2.3: shuffle slim rows, synthesize payloads
    # once, above nothing).
    df = rng.select(
        seq.alias("seq"),
        key_id.alias("_key"),
        (_hash_u(seq, seed + 1, 100) < int(delete_rate * 100)).alias("_draw_d"),
        (_hash_u(seq, seed + 2, 100) < int(dup_rate * 100)).alias("_dup"),
    )

    w = Window.partitionBy("_key").orderBy("seq")
    w_prev = w.rowsBetween(Window.unboundedPreceding, -1)
    df = df.withColumn("_i", F.row_number().over(w))
    # the op state machine runs over the NON-dup subsequence of each key,
    # so a duplicated D can't derail the alive/dead tracking: forced
    # re-insert looks at the last real event's draw, skipping dups.
    is_dup = F.col("_dup") & (F.col("_i") > 1)
    df = df.withColumn("_is_dup", is_dup)
    nondup = ~F.col("_is_dup")
    df = df.withColumn(
        "_prev_real_draw_d",
        F.last(F.when(nondup, F.col("_draw_d")), ignorenulls=True).over(w_prev),
    )
    op_base = (
        F.when(
            (F.col("_i") == 1) | F.coalesce(F.col("_prev_real_draw_d"), F.lit(False)),
            F.lit("I"),
        )
        .when(F.col("_draw_d"), F.lit("D"))
        .otherwise(F.lit("U"))
    )
    df = df.withColumn("_op_base", op_base)
    # duplicate delivery: re-emit the key's last real event at a new,
    # higher seq — idempotent under LWW by construction. Carry the
    # real event's op and SEQ only: commit is a pure function of
    # (repo, path, seq) and repo/path are shared within a key, so the
    # dup's commit/content re-derive from ``_commit_seq`` below the
    # exchange — the window stage no longer computes or carries
    # 40-byte commit strings.
    df = df.withColumn(
        "_prev_real_op", F.last(F.when(nondup, F.col("_op_base")), ignorenulls=True).over(w_prev)
    ).withColumn(
        "_prev_real_seq",
        F.last(F.when(nondup, F.col("seq")), ignorenulls=True).over(w_prev),
    )
    df = df.withColumn(
        "op", F.when(F.col("_is_dup"), F.col("_prev_real_op")).otherwise(F.col("_op_base"))
    )
    df = df.withColumn(
        "_commit_seq",
        F.when(F.col("_is_dup"), F.col("_prev_real_seq")).otherwise(F.col("seq")),
    )
    # Restore the seq-range layout BEFORE synthesizing the wide
    # columns: the exchange then moves only (seq, op, _commit_seq) ≈
    # 25 B/row, and the payload strings are generated exactly once,
    # below it (guide §2.3: shuffle metadata, not payloads). ``seq``
    # is uniform on [1, n_events] BY CONSTRUCTION, so instead of
    # ``repartitionByRange`` — whose sampling pass re-executes the
    # whole upstream plan (range → window) as an extra job — route
    # contiguous seq blocks to partitions exactly via a Murmur3-
    # inverting lookup: same one-file-per-seq-range layout, no
    # sampling job. The marker attribute lets write_event_log skip
    # its own (second) range repartition for frames that already
    # carry this layout.
    # _key rides along (8 B/row) rather than being re-derived below the
    # exchange: recomputing it costs an xxhash64 + pow per row, more
    # than its shuffle bytes.
    slim = df.select("seq", "op", "_commit_seq", "_key")
    n_parts = partitions or int(spark.conf.get("spark.sql.shuffle.partitions"))
    if n_parts <= 4096:
        block_size = -(-n_events // n_parts)  # ceil
        # one SQL expression (not one Column per LUT entry) with exact
        # integer block division; the LUT literals stay INT so the
        # Murmur3 partition hash matches _identity_route's inversion
        lut = ", ".join(str(x) for x in _identity_route(n_parts))
        route = F.expr(
            f"element_at(array({lut}), CAST((seq - 1) DIV {block_size} AS INT) + 1)"
        )
        slim = slim.repartition(n_parts, route)
    else:
        # LUT-as-literal-array stops scaling; sampling amortizes here
        slim = slim.repartitionByRange(n_parts, "seq")

    # Below the exchange: every wide column re-derived from (seq,
    # _key) with the SAME expressions as before the restructure
    # (bit-identical output, pinned by test_events.test_deterministic
    # + the cross-version row-hash check in OPTIMIZATION_r08.md).
    key2 = F.col("_key")
    repo_id = (key2 / keys_per_repo).cast("long")
    path_id = key2 % keys_per_repo
    ext = F.element_at(
        F.array(*[F.lit(e) for e in _EXTS]), (_hash_u(key2, seed + 9, len(_EXTS)) + 1).cast("int")
    )
    repo = F.concat(F.lit("org"), F.pmod(repo_id, F.lit(97)), F.lit("/proj"), repo_id)
    path = F.concat(
        F.lit("src/dir"), F.pmod(path_id, F.lit(16)), F.lit("/file"), path_id, F.lit("."), ext
    )
    commit = commit_expr(repo, path, F.col("_commit_seq"))
    out = slim.select(
        "seq",
        "op",
        repo.alias("repo"),
        path.alias("path"),
        commit.alias("commit"),
        ext.alias("lang"),
        F.when(F.col("op") == "D", F.lit(None).cast("string"))
        .otherwise(content_expr(repo, path, commit, content_min, content_max))
        .alias("content"),
        F.timestamp_seconds(F.lit(_TS_BASE) + F.col("seq")).alias("event_ts"),
    )
    out._getl_range_by_seq = True
    return out


def write_event_log(df: DataFrame, path: str, partitions: int | None = None) -> None:
    """Persist the event log as parquet range-partitioned by ``seq``:
    each file holds one seq range, so epoch slices (`seq > lo AND seq
    <= hi`) prune whole files via parquet min/max stats instead of
    rescanning the full log every epoch.

    Frames produced by :func:`generate_change_events` already carry
    the seq-range layout (marked via ``_getl_range_by_seq``); for
    those the extra exchange — whose sampling pass would re-execute
    the whole generator including content synthesis — is skipped
    unless an explicit ``partitions`` override asks for a re-layout."""
    if partitions:
        out = df.repartitionByRange(partitions, "seq")
    elif getattr(df, "_getl_range_by_seq", False):
        out = df
    else:
        out = df.repartitionByRange("seq")
    out.write.mode("overwrite").parquet(path)


def read_event_log(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.parquet(path)
