"""Corpus deduplication: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale design: every variant avoids the O(n^2) all-pairs join.
- exact: hash-groupBy (one shuffle on the fingerprint).
- MinHash+LSH: shingles -> K minhashes -> B bands; candidate pairs
  come from an equi-join on (band_id, band_hash) — only documents
  sharing a band bucket are compared, the classic
  Broder/Leskovec-Rajaraman-Ullman scheme, all in built-in exprs.
- SimHash: 64-bit signature via per-bit weighted majority of token
  hashes; near-dups = equal signature or equal band (Hamming-bucketed).
- n-gram Jaccard: exact verification on LSH candidates only.

No Python UDFs anywhere — signatures are higher-order array exprs
(transform/aggregate), so this runs at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from getl_spark.functions.text import (
    fingerprint_sha256,
    sha_hash60,
    tokens,
    word_shingles,
)

# ---------------------------------------------------------------- exact


def exact_duplicates(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Groups of byte-identical (normalized) documents:
    (fingerprint, keep_id=min id, n, ids)."""
    return (
        df.select(F.col(id_col), fingerprint_sha256(F.col(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n"),
            F.sort_array(F.collect_list(id_col)).alias("ids"),
        )
    )


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Keep the first (min id) document of each exact-duplicate group."""
    keep = exact_duplicates(df, text_col, id_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, id_col, "left_semi")


# -------------------------------------------------------------- minhash


def minhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    shingle_words: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, mh0..mh{K-1}) signature columns via explode -> per-shingle
    hash columns -> MIN aggregate.

    This is the scale shape: every step is whole-stage codegen (Spark
    evaluates higher-order-function lambdas INTERPRETED — the
    array-fold form allocates a K-array per shingle and runs ~3x
    slower, measured at sf0.1), and the groupBy gets a map-side
    partial aggregate, so the shuffle carries one K-vector per doc,
    not per shingle. In sha mode the four 15-hex-char slices of one
    digest are separate columns of the SAME select, so codegen CSE
    computes each sha256 once.
    """
    from getl_spark.partitioning import widen_small_scan

    sh = word_shingles(F.col(text_col), shingle_words)
    # the explode + per-shingle digests are the CPU cost of the whole
    # LSH pipeline and run in the SCAN stage: a small single-file
    # corpus would hash serially on one core (guide §2.5 input skew) —
    # widen the slim (id, text) projection first; no-op at scale
    ex = widen_small_scan(df.select(id_col, text_col)).select(
        F.col(id_col), F.explode(sh).alias("_s")
    )
    # The K hash/min expressions are built as SQL strings, not Column
    # ops: every Column method is one py4j round trip (~0.5-1 ms), and
    # the per-column loops cost ~0.5 s of DRIVER time per query build
    # at K=32 (measured with cProfile: plan CONSTRUCTION, not
    # execution, guide §5). selectExpr/expr parse the same trees in
    # one JVM call; resolved expressions — and therefore values and
    # codegen — are identical (sha mode: the per-block sha2 subtrees
    # are identical across the 4 slice columns, so codegen CSE still
    # computes each digest once).
    cols = []
    if hash_fn == "xxhash64":
        for i in range(num_hashes):
            cols.append(f"xxhash64(_s, {i}) AS mh{i}")
    elif hash_fn == "sha256":
        for block in range((num_hashes + 3) // 4):
            digest = f"sha2(concat('{block}:', _s), 256)"
            for off_i in range(4):
                i = block * 4 + off_i
                if i >= num_hashes:
                    break
                cols.append(f"substring({digest}, {off_i * 15 + 1}, 15) AS mh{i}")
    else:
        raise ValueError(f"unknown hash_fn {hash_fn!r}")
    return (
        ex.selectExpr(f"`{id_col}`", *cols)
        .groupBy(id_col)
        .agg(*[F.expr(f"min(mh{i}) AS mh{i}") for i in range(num_hashes)])
    )


def _cap_buckets(banded: DataFrame, key_cols: list[str], max_bucket: int | None) -> DataFrame:
    """LSH hygiene: drop buckets with more than ``max_bucket`` members.

    A degenerate bucket of b docs emits b^2/2 candidate pairs — one
    boilerplate/empty-doc cluster at corpus scale goes quadratic and
    OOMs the join stage. Oversized buckets are almost always exact
    duplicates (handled by exact_dedup first) or low-signal boilerplate;
    standard practice (e.g. BigCode/RefinedWeb dedup) drops them. The
    window count shuffles on the same key as the self-join, so AQE
    reuses the exchange — the cap costs no extra shuffle round."""
    if max_bucket is None:
        return banded
    w = Window.partitionBy(*key_cols)
    return (
        banded.withColumn("_bsz", F.count(F.lit(1)).over(w))
        .filter(F.col("_bsz") <= max_bucket)
        .drop("_bsz")
    )


def minhash_banded_rows(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, band_id, band_hash) LSH index rows — the unit both the
    one-shot pair join and the incremental signature store
    (:class:`getl_spark.dedupstore.DedupStore`) build on. band_hash is
    a STRING in every mode so persisted rows and fresh rows join on
    one stable type (sha256 keeps the raw joined minhashes for the
    DuckDB oracle; xxhash64 compresses to one hash, stringified)."""
    rows_per_band = num_hashes // bands
    sig = minhash_signatures_df(df, text_col, id_col, num_hashes, shingle_words, hash_fn)

    # SQL-string construction for the same driver-time reason as
    # minhash_signatures_df (values/codegen identical)
    def band_key(b):
        joined = "concat_ws(',', {})".format(
            ", ".join(f"mh{b * rows_per_band + r}" for r in range(rows_per_band))
        )
        return joined if hash_fn == "sha256" else f"CAST(xxhash64({joined}) AS STRING)"

    bands_sql = ", ".join(
        f"struct({b} AS band_id, {band_key(b)} AS band_hash)" for b in range(bands)
    )
    return sig.select(
        F.col(id_col),
        F.expr(f"explode(array({bands_sql}))").alias("band"),
    ).select(id_col, "band.band_id", "band.band_hash")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_words: int = 3,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate candidate pairs (a_id < b_id) via banded LSH.

    Plan: signature -> explode into B (band_id, band_hash) rows ->
    self-equi-join on the bucket -> distinct pairs. The join key is
    (band_id, band_hash): only same-bucket docs ever meet, so the
    shuffle is proportional to corpus size, not its square.
    ``max_bucket`` drops degenerate buckets (see _cap_buckets).
    """
    banded = minhash_banded_rows(
        df, text_col, id_col, num_hashes, bands, shingle_words, hash_fn
    )
    banded = _cap_buckets(banded, ["band_id", "band_hash"], max_bucket)
    a = banded.alias("a")
    b = banded.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )


def winnow_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
) -> DataFrame:
    """Near-duplicate candidates from the winnowed sketch (the MOSS
    pipeline, Schleimer et al. SIGMOD'03): two docs are candidates
    when they share >= ``min_shared`` selected fingerprint hashes.

    vs MinHash LSH: winnowing guarantees detection of any shared
    substring of length >= w+k-1 (local similarity — plagiarism/
    boilerplate spans), while MinHash bounds global Jaccard; the two
    candidate generators are complementary. Plan shape is identical
    to the LSH path: sketch build (one window shuffle) -> equi-join
    on the hash (shuffle ~ sketch size, never all-pairs) -> per-pair
    count agg; ``max_bucket`` caps degenerate hash buckets exactly
    like LSH band buckets.

    Returns (a_id, b_id, shared) with a_id < b_id.
    """
    from getl_spark.functions.text import winnow

    sel = winnow(df, text_col, id_col, k=k, w=w, hash_fn=hash_fn)
    fp = sel.select(id_col, "h").distinct()
    fp = _cap_buckets(fp, ["h"], max_bucket)
    a = fp.alias("a")
    b = fp.alias("b")
    return (
        a.join(
            b,
            (F.col("a.h") == F.col("b.h"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id")
        )
        .agg(F.count(F.lit(1)).alias("shared"))
        .filter(F.col("shared") >= min_shared)
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_words: int = 3,
    threshold: float = 0.7,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs only:
    (a_id, b_id, jaccard) filtered to >= threshold."""
    sh = df.select(
        F.col(id_col), word_shingles(F.col(text_col), shingle_words).alias("sh")
    )
    j = (
        pairs.join(sh.withColumnRenamed(id_col, "a_id").withColumnRenamed("sh", "sh_a"), "a_id")
        .join(sh.withColumnRenamed(id_col, "b_id").withColumnRenamed("sh", "sh_b"), "b_id")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("a_id", "b_id", F.round("jaccard", 4).alias("jaccard"))
    )
    return j.filter(F.col("jaccard") >= threshold)


def connected_components(
    pairs: DataFrame,
    max_iterations: int = 25,
    checkpoint_dir: str | None = None,
    strict: bool = False,
) -> DataFrame:
    """(node, component) for an undirected edge list (a_id, b_id);
    component = the minimum node id reachable (deterministic
    representative).

    Iterative min-label propagation: each round every node takes the
    min of its label and its neighbors' labels — one edges-sized
    shuffle per round, converging in O(cluster diameter) rounds (dedup
    clusters are shallow; 25 covers diameter-25 chains, and the loop
    exits early on convergence). Checkpointing truncates the plan
    lineage each round so the DAG stays O(1) deep at any scale:
    ``checkpoint_dir=None`` (default) uses localCheckpoint — fast, but
    blocks die with their executor; pass a ``checkpoint_dir`` on a
    long-lived production cluster for reliable (HDFS/S3) checkpoints
    that survive executor loss.

    If the loop exits without converging (clusters deeper than
    ``max_iterations``), labels would silently diverge from the
    transitive closure; ``strict=True`` raises instead, and the
    default logs a warning so near_dedup callers see it.
    """
    import warnings

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint()
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() != checkpoint_dir:
            sc.setCheckpointDir(checkpoint_dir)
        # per-iteration checkpoints are cleaned on RDD GC when
        # spark.cleaner.referenceTracking.cleanCheckpoints=true
        # (set by getl_spark.session.get_spark); without it each
        # iteration's full copy persists in the checkpoint store
        return df.checkpoint()

    edges = pairs.select(F.col("a_id").alias("src"), F.col("b_id").alias("dst"))
    edges = _ckpt(
        edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    )
    labels = _ckpt(
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
    )
    changed = 0
    for _ in range(max_iterations):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.node)
            .groupBy("src")
            .agg(F.min("component").alias("ncomp"))
        )
        new_labels = _ckpt(
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("component"), F.coalesce("ncomp", F.col("component"))
                ).alias("component"),
            )
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .filter(F.col("n.component") < F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed != 0:
        msg = (
            f"connected_components did not converge in {max_iterations} "
            f"iterations ({changed} labels still changing) — components are "
            f"an under-merged approximation of the transitive closure; "
            f"raise max_iterations"
        )
        if strict:
            raise RuntimeError(msg)
        warnings.warn(msg, RuntimeWarning, stacklevel=2)
    return labels


def near_dedup_minhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
    transitive: bool = False,
) -> DataFrame:
    """Full near-dedup: LSH candidates -> Jaccard verify -> drop.

    Drop policy (both deterministic):
    - transitive=False (default): drop the higher id of each verified
      pair — a doc survives iff no verified pair links it to a lower
      id. NOT transitive closure: for a chain a~b, b~c with a!~c, both
      b and c drop, a stays.
    - transitive=True: connected-components clustering over verified
      pairs; exactly ONE representative (min id) survives per cluster
      — for the chain above, a survives, b AND c drop (same outcome
      here, but e.g. c would survive pairwise if its only link b was
      judged against a first — closure removes that order-dependence
      in interpretation and keeps one doc per cluster always).
    """
    pairs = lsh_candidate_pairs(
        df, text_col, id_col, num_hashes, bands, hash_fn=hash_fn, max_bucket=max_bucket
    )
    return _drop_verified(df, pairs, text_col, id_col, threshold, transitive)


def _drop_verified(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float,
    transitive: bool,
) -> DataFrame:
    """Shared dedup tail: Jaccard-verify candidate pairs, then drop —
    pairwise (higher id of each verified pair) or via transitive
    connected-components clustering (one min-id representative per
    cluster). Both near_dedup_minhash and near_dedup_winnow end here,
    so drop-policy fixes land in exactly one place."""
    verified = jaccard_verify(df, pairs, text_col, id_col, threshold=threshold)
    if transitive:
        comp = connected_components(verified)
        dups = (
            comp.filter(F.col("node") != F.col("component"))
            .select(F.col("node").alias(id_col))
            .distinct()
        )
    else:
        dups = verified.select(F.col("b_id").alias(id_col)).distinct()
    return df.join(dups, id_col, "left_anti")


def near_dedup_winnow(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
    min_shared: int = 2,
    threshold: float = 0.3,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
    transitive: bool = True,
) -> DataFrame:
    """Full near-dedup on the MOSS sketch (the winnowing analog of
    :func:`near_dedup_minhash`): winnowed-fingerprint candidates ->
    exact n-gram Jaccard verify -> connected-components clustering ->
    keep one representative (min id) per cluster.

    Use this over the MinHash path when duplication is LOCAL — shared
    boilerplate spans (license headers, generated preambles, copied
    functions) inside otherwise-different documents. Winnowing
    guarantees any shared substring of length >= w+k-1 produces a
    shared fingerprint, so such clusters are found even when global
    Jaccard is far below an LSH band-collision probability; the verify
    ``threshold`` is correspondingly lower by default (0.3 vs 0.7) —
    candidates are already span-evidenced, the verify only discards
    incidental k-gram collisions.

    Plan shape matches the 100-TB-safe LSH path exactly: sketch build
    (one window shuffle), capped equi-join on fingerprint hash (never
    all-pairs), verify on candidates only, CC over verified edges.
    ``transitive=True`` by default: boilerplate chains a~b~c with
    a!~c are the COMMON case here, so closure is the right default
    (pairwise drop would be order-dependent).
    """
    pairs = winnow_candidate_pairs(
        df, text_col, id_col, k=k, w=w, min_shared=min_shared,
        hash_fn=hash_fn, max_bucket=max_bucket,
    )
    return _drop_verified(df, pairs, text_col, id_col, threshold, transitive)


# -------------------------------------------------------------- simhash


def _simhash(text_col, n_bits: int, token_hash) -> "F.Column":
    """SimHash core: sign of per-bit sum over token hashes.

    For each bit i: +1 if bit set in hash(token) else -1; the
    signature bit is 1 if the sum > 0. Pure aggregate/transform exprs.
    The horner fold stays inside signed-long range (Spark 4 ANSI mode
    raises on overflow), so n_bits <= 62.
    """
    toks = F.array_distinct(tokens(F.lower(text_col)))
    hashes = F.transform(toks, token_hash)
    bit_sums = F.transform(
        F.sequence(F.lit(0), F.lit(n_bits - 1)),
        lambda i: F.aggregate(
            hashes,
            F.lit(0).cast("long"),
            lambda acc, h: acc
            + F.when(F.getbit(h, i) == 1, F.lit(1)).otherwise(F.lit(-1)),
        ),
    )
    bits = F.transform(
        bit_sums, lambda s: F.when(s > 0, F.lit(1)).otherwise(F.lit(0)).cast("long")
    )
    # horner fold, MSB first: sig = sum(bit_i << i) without shift-by-column
    return F.aggregate(
        F.reverse(bits), F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )


def simhash64(text_col) -> "F.Column":
    """63-bit SimHash on xxhash64 token hashes — the fast path."""
    return _simhash(text_col, 63, lambda t: F.xxhash64(t))


def simhash60(text_col) -> "F.Column":
    """60-bit SimHash on sha_hash60 token hashes — cross-engine
    (DuckDB computes identical signatures), used by the oracle-checked
    driver query."""
    return _simhash(text_col, 60, lambda t: sha_hash60(t))


def simhash_signatures_df(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_fn: str = "xxhash64",
) -> DataFrame:
    """(id, simhash) via explode(distinct tokens) -> hash column ->
    per-bit signed-count aggregate -> sign fold. Same codegen rationale
    as minhash_signatures_df: the column-expression form (simhash64/60)
    runs n_bits interpreted lambda aggregates per document; this form
    is one whole-stage-codegen aggregate with map-side combine.
    Identical values to simhash64 (63-bit xxhash64) / simhash60
    (60-bit sha_hash60)."""
    from getl_spark.partitioning import widen_small_scan

    n_bits = 60 if hash_fn == "sha256" else 63
    toks = F.explode(F.array_distinct(tokens(F.lower(F.col(text_col))))).alias("_t")
    # same scan-stage parallelism rationale as minhash_signatures_df
    ex = widen_small_scan(df.select(id_col, text_col)).select(F.col(id_col), toks)
    h = sha_hash60(F.col("_t")) if hash_fn == "sha256" else F.xxhash64(F.col("_t"))
    ex = ex.select(id_col, h.alias("_h"))
    # ONE aggregate expression built as a SQL string: the former
    # per-bit Column loops (n_bits sum columns + an n_bits-term sign
    # fold) cost ~1.5 s of DRIVER plan-construction time per query
    # build at 60+ bits — one py4j round trip per Column method call
    # (measured with cProfile; guide §5). The parsed tree aggregates
    # into the same n_bits sum buffers and projects the same sign
    # fold, so values and codegen are identical; the b{i} intermediate
    # columns simply never get names.
    sig_sql = " + ".join(
        f"CAST(CASE WHEN sum(CASE WHEN getbit(_h, {i}) = 1 THEN 1 ELSE -1 END) > 0"
        f" THEN {1 << i} ELSE 0 END AS BIGINT)"
        for i in range(n_bits)
    )
    return ex.groupBy(id_col).agg(F.expr(sig_sql).alias("simhash"))


def simhash_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    band_bits: int = 16,
    hash_fn: str = "xxhash64",
    max_bucket: int | None = None,
    hamming_k: int | None = 8,
) -> DataFrame:
    """Near-dup pairs whose SimHash matches on any band
    (Hamming-distance bucketing). ``max_bucket`` drops degenerate
    buckets (see _cap_buckets).

    ``hamming_k`` is the VERIFY stage: a pair matching one band can
    still differ in every other bit, so candidates are filtered on
    whole-signature Hamming distance ``bit_count(a ^ b) <= hamming_k``
    — then the output means what the operator's name says (pairs
    within Hamming k), not merely band-collision candidates. The
    signatures ride along the band explode (8 bytes/row), so the
    verify is a codegen filter on the join output — no second join,
    no extra shuffle. Verified is the DEFAULT (k=8, matching the
    driver oracle); pass ``None`` explicitly for the cheaper
    candidates-only behavior (narrower shuffle rows, no carry)."""
    if hash_fn == "sha256":
        total_bits, band_bits = 60, min(band_bits, 15)
    else:
        total_bits = 64
    sig = simhash_signatures_df(df, text_col, id_col, hash_fn)
    bands = total_bits // band_bits
    mask = (1 << band_bits) - 1
    # the signature rides the explode ONLY when the verify needs it —
    # candidate-only mode keeps the narrow shuffle rows
    carry = ["simhash"] if hamming_k is not None else []
    bands_sql = ", ".join(
        f"struct({b} AS band_id,"
        f" shiftrightunsigned(simhash, {b * band_bits}) & {mask} AS band_val)"
        for b in range(bands)
    )
    banded = sig.select(
        id_col,
        *carry,
        F.expr(f"explode(array({bands_sql}))").alias("band"),
    ).select(id_col, *carry, "band.band_id", "band.band_val")
    banded = _cap_buckets(banded, ["band_id", "band_val"], max_bucket)
    a, b = banded.alias("a"), banded.alias("b")
    cond = (
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_val") == F.col("b.band_val"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
    )
    if hamming_k is not None:
        cond = cond & (
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
            <= F.lit(int(hamming_k))
        )
    return (
        a.join(b, cond)
        .select(F.col(f"a.{id_col}").alias("a_id"), F.col(f"b.{id_col}").alias("b_id"))
        .distinct()
    )
