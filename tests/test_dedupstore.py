"""Incremental near-dedup store: batch-split invariance (union of
incremental outputs == one-shot near_dedup_minhash on the union),
story idempotence, config pinning, monotonic-id guard."""

import pytest
from pyspark.sql import functions as F

from getl_spark.dedupstore import DedupStore
from getl_spark.functions import dedupe

BASE = [
    # cluster 1: 1 ~ 101 (cross-batch near-dup), 1 ~ 2 (in-batch)
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "the quick brown fox jumps over the lazy dog near the river banks"),
    (3, "completely unrelated text about catalyst query optimization in spark"),
    (4, "another standalone document describing merge on read compaction"),
    # batch 2
    (101, "the quick brown fox jumps over the lazy dog near the river bank"),
    (102, "fresh content on adaptive query execution and shuffle partitions"),
    (103, "another standalone document describing merge on read compaction today"),
    # batch 3
    (201, "fresh content on adaptive query execution and shuffle partitions now"),
    (202, "entirely new subject matter for the third ingest batch of documents"),
]
PARAMS = dict(num_hashes=32, bands=16, threshold=0.35)


@pytest.fixture()
def corpus(spark):
    return spark.createDataFrame(BASE, "doc_id bigint, text string")


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def test_incremental_equals_one_shot_across_batches(spark, corpus, tmp_path):
    one_shot = _ids(
        dedupe.near_dedup_minhash(corpus, transitive=False, **PARAMS)
    )
    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    kept = []
    for lo, hi in [(0, 100), (100, 200), (200, 300)]:
        batch = corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        kept += _ids(store.add_batch(spark, batch))
    assert sorted(kept) == one_shot
    # the cross-batch near-dups were dropped incrementally
    assert 101 not in kept and 103 not in kept and 201 not in kept
    assert 1 in kept and 4 in kept and 102 in kept
    assert store.corpus_size() == len(BASE)


def test_resubmitting_indexed_ids_is_noop(spark, corpus, tmp_path):
    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    first = _ids(store.add_batch(spark, corpus.filter("doc_id < 100")))
    again = store.add_batch(spark, corpus.filter("doc_id < 100"))
    assert again.count() == 0  # story semantics: already judged
    assert store.corpus_size() == 4
    # and the standing index still dedups a genuinely new near-dup
    nxt = _ids(store.add_batch(spark, corpus.filter("doc_id >= 100 AND doc_id < 200")))
    assert 101 not in nxt and 102 in nxt
    assert sorted(first) == [1, 3, 4]


def test_config_mismatch_raises(spark, corpus, tmp_path):
    wh = str(tmp_path / "wh")
    store = DedupStore(wh, **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100"))
    with pytest.raises(ValueError, match="config mismatch"):
        DedupStore(wh, num_hashes=64, bands=16, threshold=0.35)


def test_monotonic_guard(spark, corpus, tmp_path):
    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id >= 100 AND doc_id < 200"))
    with pytest.raises(ValueError, match="monotonic"):
        store.add_batch(spark, corpus.filter("doc_id < 100"))
    # explicit override still works (documented escape hatch)
    out = store.add_batch(
        spark, corpus.filter("doc_id < 100"), require_monotonic=False
    )
    assert out.count() >= 1


def test_dedup_cli_two_batches(spark, corpus, tmp_path):
    """Operational loop: `python -m getl_spark dedup` run per ingest
    batch against one warehouse — second batch dedups against the
    first's persisted index, kept docs land in --out."""
    import json as _json
    import os
    import subprocess
    import sys

    from conftest import REPO

    wh = str(tmp_path / "wh")
    b1, b2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    corpus.filter("doc_id < 100").write.parquet(b1)
    corpus.filter("doc_id >= 100 AND doc_id < 200").write.parquet(b2)
    env = dict(os.environ, PYTHONPATH=REPO)

    def run(docs, out):
        r = subprocess.run(
            [sys.executable, "-m", "getl_spark", "dedup",
             "--warehouse", wh, "--docs", docs, "--out", out,
             "--num-hashes", "32", "--bands", "16", "--threshold", "0.35"],
            capture_output=True, text=True, env=env, timeout=300,
        )
        assert r.returncode == 0, r.stderr[-2000:]
        return _json.loads(r.stdout.strip().splitlines()[-1])

    r1 = run(b1, str(tmp_path / "out1"))
    assert (r1["batch_rows"], r1["kept"], r1["corpus_size"]) == (4, 3, 4)
    assert r1["story_path"] == "first-batch"
    r2 = run(b2, str(tmp_path / "out2"))
    assert r2["batch_rows"] == 3 and r2["corpus_size"] == 7
    assert r2["story_path"] == "watermark"
    kept2 = {
        r.doc_id for r in spark.read.parquet(str(tmp_path / "out2")).collect()
    }
    assert kept2 == {102}  # 101 near-dups doc 1, 103 near-dups doc 4


def test_winnow_index_catches_cross_batch_boilerplate(spark, tmp_path):
    """MinHash/winnow dual-index store: a shared boilerplate SPAN
    (low global Jaccard — LSH-blind) in a LATER batch is caught
    against the standing winnow index; union of incremental outputs
    equals the one-shot pairwise drop over (minhash + winnow)
    candidates."""
    import random

    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    span = " ".join(f"b{i}" for i in range(14))  # 14-word boilerplate

    def doc(n=40, with_span=False):
        words = [vocab[rng.randrange(len(vocab))] for _ in range(n)]
        t = " ".join(words)
        return f"{span} {t}" if with_span else t

    rows = [
        (1, doc(with_span=True)),
        (2, doc()),
        (3, doc()),
        (101, doc(with_span=True)),  # shares ONLY the span with doc 1
        (102, doc()),
    ]
    corpus = spark.createDataFrame(rows, "doc_id bigint, text string")
    params = dict(num_hashes=32, bands=16, threshold=0.1)
    wc = {"k": 4, "w": 4, "min_shared": 2}

    # one-shot reference: pairwise drop over BOTH candidate sources
    cand = (
        dedupe.lsh_candidate_pairs(corpus, num_hashes=32, bands=16)
        .unionByName(
            dedupe.winnow_candidate_pairs(
                corpus, k=wc["k"], w=wc["w"], min_shared=wc["min_shared"]
            ).select("a_id", "b_id")
        )
        .distinct()
    )
    one_shot = sorted(
        r.doc_id
        for r in dedupe._drop_verified(
            corpus, cand, "text", "doc_id", 0.1, transitive=False
        ).collect()
    )
    assert 101 not in one_shot, "boilerplate span must be caught by winnow"

    # minhash alone must MISS it (proves the winnow index is load-bearing)
    mh_only = DedupStore(str(tmp_path / "whmh"), **params)
    mh_kept = []
    for lo, hi in [(0, 100), (100, 200)]:
        batch = corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        mh_kept += [r.doc_id for r in mh_only.add_batch(spark, batch).collect()]
    assert 101 in mh_kept

    store = DedupStore(str(tmp_path / "wh"), winnow=wc, **params)
    kept = []
    for lo, hi in [(0, 100), (100, 200)]:
        batch = corpus.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        kept += [r.doc_id for r in store.add_batch(spark, batch).collect()]
    assert sorted(kept) == one_shot

    # reopening without the winnow config fails loudly
    with pytest.raises(ValueError, match="config mismatch"):
        DedupStore(str(tmp_path / "wh"), **params)


def test_embedding_store_incremental_equals_one_shot(spark, tmp_path):
    """EmbDedupStore: union of add_batch outputs == one-shot pairwise
    drop over embedding_near_dups pairs (same buckets, same verify),
    with a seeded cross-batch near-dup caught against the standing
    index."""
    from getl_spark.dedupstore import EmbDedupStore
    from getl_spark.functions import simsearch

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    params = dict(dim=64, threshold=0.3, n_bits=6, n_tables=4, seed=99,
                  max_bucket=None)
    pairs = simsearch.embedding_near_dups(
        emb, threshold=0.3, id_col="vec_id", dim=64, n_bits=6, n_tables=4,
        seed=99, max_bucket=None,
    )
    dropped = {r.b_id for r in pairs.collect()}
    all_ids = {r.vec_id for r in emb.select("vec_id").collect()}
    one_shot = sorted(all_ids - dropped)
    assert dropped, "near-dup pairs must exist at threshold 0.3"

    store = EmbDedupStore(str(tmp_path / "wh"), **params)
    kept = []
    # split so a seeded (i-1, i) perturbation pair crosses batches
    for cond in ["vec_id <= 200", "vec_id > 200"]:
        kept += [r.vec_id for r in store.add_batch(spark, emb.filter(cond)).collect()]
    assert sorted(kept) == one_shot
    assert store.corpus_size() == len(all_ids)

    # resubmission is a story no-op; mismatched config fails loudly
    assert store.add_batch(spark, emb.filter("vec_id <= 200")).count() == 0
    with pytest.raises(ValueError, match="config mismatch"):
        EmbDedupStore(str(tmp_path / "wh"), dim=64, threshold=0.3, n_bits=10)


def test_property_incremental_equals_one_shot_random_corpora(spark, tmp_path):
    """Property check of the equality contract: random small corpora
    (dup-heavy vocab so near-dups arise naturally), random 3-way batch
    splits — union of add_batch outputs must equal the one-shot
    pairwise kept set every time. Deterministic seeds; a found
    counterexample prints its seed."""
    import random

    for seed in range(6):
        rng = random.Random(seed)
        vocab = [f"t{i}" for i in range(12)]  # tiny vocab -> heavy overlap
        rows = [
            (i, " ".join(vocab[rng.randrange(len(vocab))] for _ in range(rng.randint(6, 14))))
            for i in range(24)
        ]
        corpus = spark.createDataFrame(rows, "doc_id bigint, text string")
        params = dict(num_hashes=16, bands=8, threshold=0.5)
        one_shot = sorted(
            r.doc_id
            for r in dedupe.near_dedup_minhash(
                corpus, transitive=False, **params
            ).collect()
        )
        cut1, cut2 = sorted(rng.sample(range(1, 24), 2))
        store = DedupStore(str(tmp_path / f"wh{seed}"), **params)
        kept = []
        for lo, hi in [(0, cut1), (cut1, cut2), (cut2, 24)]:
            batch = corpus.filter(
                (F.col("doc_id") >= lo) & (F.col("doc_id") < hi)
            )
            kept += [r.doc_id for r in store.add_batch(spark, batch).collect()]
        assert sorted(kept) == one_shot, (
            f"seed={seed} split=({cut1},{cut2}): {sorted(kept)} != {one_shot}"
        )


def test_add_batch_prunes_index_scan(spark, tmp_path):
    """VERDICT r5 #1: per-batch cost must be O(new + touched buckets).
    Pin the three mechanisms: (a) the story filter runs on the summary
    watermark, no data scan; (b) the candidate join's stored-index
    read is manifest-pruned to a STRICT SUBSET of storage buckets and
    files; (c) the semi filter against the broadcast key set is a
    broadcast join — the stored side is never shuffled."""
    rows = [
        (i, f"document number {i} with some distinct words {i * 7} {i * 13} {i * 29}")
        for i in range(200)
    ]
    seedc = spark.createDataFrame(rows, "doc_id bigint, text string")
    store = DedupStore(
        str(tmp_path / "wh"), num_hashes=16, bands=8, threshold=0.5, num_buckets=64
    )
    store.add_batch(spark, seedc).count()
    one = spark.createDataFrame(
        [(500, "document number 3 with some distinct words 21 39 87")],
        "doc_id bigint, text string",
    )
    kept = store.add_batch(spark, one)
    st = store.last_batch_stats
    assert st["story_path"] == "watermark"
    assert st["heal"] is False
    assert 0 < st["index_buckets_read"] < st["index_buckets_total"], (
        "a 1-doc batch (8 band keys) must read a strict subset of the "
        f"64 storage buckets, got {st['index_buckets_read']}/"
        f"{st['index_buckets_total']}"
    )
    assert st["index_files_read"] < st["index_files_total"]
    plan = st["stored_semi_plan"]
    assert "BroadcastHashJoin" in plan and "LeftSemi" in plan, plan
    # the tree prints the stream (stored-scan) side before the
    # BroadcastExchange build side; only the build side — the
    # batch-sized key distinct — may shuffle
    stream_side = plan.split("BroadcastExchange")[0]
    assert "FileScan parquet" in stream_side, plan
    assert "Exchange hashpartitioning" not in stream_side, (
        "the stored-index side of the semi filter must not shuffle:\n" + plan
    )
    # and the pruned path still judged the near-dup correctly
    assert _ids(kept) == []  # doc 500 duplicates doc 3 -> dropped


def test_crash_between_docs_and_index_heals_on_replay(spark, corpus, tmp_path):
    """Crash after the docs append but before the index commit: the
    replay must (a) reprocess the batch (story filter keys on the
    index watermark), (b) detect the crashed tail from snapshot
    metadata alone and run the heal anti-join exactly once, (c) leave
    no duplicate docs rows, (d) produce the same kept set as a clean
    run."""
    wh = str(tmp_path / "wh")
    store = DedupStore(wh, **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()
    batch2 = corpus.filter("doc_id >= 100 AND doc_id < 200")

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the index commit")

    store.index.append = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.add_batch(spark, batch2)

    store2 = DedupStore(wh, **PARAMS)  # fresh handle = fresh process
    kept2 = _ids(store2.add_batch(spark, batch2))
    assert store2.last_batch_stats["heal"] is True
    assert kept2 == [102]  # same as the clean path: 101~1, 103~4 dropped
    docs_df = store2.docs.read(spark)
    assert docs_df.count() == docs_df.select("doc_id").distinct().count(), (
        "heal must not duplicate docs rows"
    )
    assert store2.corpus_size() == 7
    # the tail is resolved by the replay's index commit — the next
    # batch runs the zero-scan hot path again
    store2.add_batch(spark, corpus.filter("doc_id >= 200")).count()
    assert store2.last_batch_stats["heal"] is False
    assert store2.last_batch_stats["story_path"] == "watermark"


def test_compact_is_transparent_to_the_story(spark, corpus, tmp_path):
    """VERDICT r5 #8: small-file compaction folds the per-batch file
    accumulation without flipping the store onto the legacy path —
    compaction snapshots carry a maintenance marker the watermark
    reader skips."""
    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()
    store.add_batch(spark, corpus.filter("doc_id >= 100 AND doc_id < 200")).count()
    res = store.compact(spark)
    assert res["index"]["files_after"] <= res["index"]["files_before"]
    assert res["docs"]["files_after"] <= res["docs"]["files_before"]

    # resubmitting a committed batch is still the zero-scan no-op
    again = store.add_batch(spark, corpus.filter("doc_id < 100"))
    assert again.count() == 0
    assert store.last_batch_stats["story_path"] == "watermark-replay-noop"

    # and a genuinely new batch still runs the hot path and still
    # dedups against the (compacted) standing index
    kept3 = _ids(store.add_batch(spark, corpus.filter("doc_id >= 200")))
    assert store.last_batch_stats["story_path"] == "watermark"
    assert kept3 == [202]  # 201 ~ 102 dropped cross-batch


def test_expire_bounds_snapshots_and_degrades_safely(spark, corpus, tmp_path):
    """expire() bounds snapshot metadata. If it expires EVERY stamped
    append (keep_last=1 right after a compaction), the store must NOT
    trust the blank watermark: it falls back to the membership
    anti-join, so replayed ids are still skipped, not re-ingested."""
    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()
    store.add_batch(spark, corpus.filter("doc_id >= 100 AND doc_id < 200")).count()
    store.compact(spark)  # newest snapshot per table = maintenance
    store.expire(keep_last=1)
    for t in store._tables().values():
        assert len(t.meta["snapshots"]) == 1

    size_before = store.corpus_size()
    again = store.add_batch(
        spark, corpus.filter("doc_id < 100"), require_monotonic=False
    )
    assert again.count() == 0
    assert store.last_batch_stats["story_path"] == "anti-join"
    assert store.corpus_size() == size_before, "replay after expire re-ingested"

    # new content still dedups against the standing index
    kept3 = _ids(store.add_batch(spark, corpus.filter("doc_id >= 200")))
    assert kept3 == [202]


def test_prune_dropped_reclaims_state_keeps_verdicts(spark, corpus, tmp_path):
    """prune_dropped reclaims dropped docs' band rows / texts but KEEPS
    their verdict rows, so rejected_of replay recovery still works; the
    documented one-sided equality change is pinned (a future doc whose
    only match was pruned is now kept)."""
    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()
    store.add_batch(spark, corpus.filter("doc_id >= 100 AND doc_id < 200")).count()
    # dropped so far: 2 (~1, in-batch), 101 (~1), 103 (~4)
    res = store.prune_dropped(spark, before_doc_id=200)
    assert res["pruned_docs"] == 3

    assert store.index.read(spark).filter("doc_id IN (2, 101, 103)").count() == 0
    assert store.docs.read(spark).filter("doc_id IN (2, 101, 103)").count() == 0
    # kept docs untouched
    assert store.docs.read(spark).filter("doc_id IN (1, 4, 102)").count() == 3
    # verdicts survive pruning — replay recovery intact
    rej = store.rejected_of(
        spark, spark.createDataFrame([(2,), (101,), (103,)], "doc_id bigint")
    )
    assert {(r.doc_id, r.dup_of) for r in rej.collect()} == {
        (2, 1),
        (101, 1),
        (103, 4),
    }

    # maintenance snapshot doesn't flip the story path, and pairs
    # against KEPT docs are unaffected: 201 ~ 102 still drops
    kept3 = _ids(store.add_batch(spark, corpus.filter("doc_id >= 200")))
    assert store.last_batch_stats["story_path"] == "watermark"
    assert kept3 == [202]

    # the documented trade: a new near-dup of PRUNED 101's content is
    # still dropped here because its twin doc 1 (kept) remains indexed —
    # so assert the exact contract instead with a doc matching ONLY a
    # pruned id: none exists in BASE, hence equality for kept content
    # is fully preserved, which is what this pins.


def test_prune_dropped_noop_below_horizon(spark, corpus, tmp_path):
    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()
    res = store.prune_dropped(spark, before_doc_id=0)
    assert res == {"pruned_docs": 0}


def test_embedding_store_maintenance(spark, tmp_path):
    """EmbDedupStore compact/expire: same transparency + safe-degrade
    contracts as the text store."""
    from getl_spark.dedupstore import EmbDedupStore

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    params = dict(dim=64, threshold=0.3, n_bits=6, n_tables=4, seed=99,
                  max_bucket=None)
    store = EmbDedupStore(str(tmp_path / "wh"), **params)
    k1 = store.add_batch(spark, emb.filter("vec_id <= 200")).count()
    store.compact(spark)

    # compaction transparent: replay is still the zero-scan no-op
    assert store.add_batch(spark, emb.filter("vec_id <= 200")).count() == 0
    assert store.last_batch_stats["story_path"] == "watermark-replay-noop"
    k2 = store.add_batch(spark, emb.filter("vec_id > 200")).count()
    assert store.last_batch_stats["story_path"] == "watermark"

    # expire everything stamped -> safe degrade to anti-join, no re-ingest
    store.compact(spark)
    store.expire(keep_last=1)
    size = store.corpus_size()
    again = store.add_batch(
        spark, emb.filter("vec_id <= 200"), require_monotonic=False
    )
    assert again.count() == 0
    assert store.last_batch_stats["story_path"] == "anti-join"
    assert store.corpus_size() == size
    assert k1 > 0 and k2 > 0


def test_open_reconstructs_stored_config(spark, corpus, tmp_path):
    """DedupStore.open / EmbDedupStore.open reopen a store under its
    OWN stamped configuration — maintenance jobs never repeat (or get
    wrong) ingest parameters."""
    from getl_spark.dedupstore import EmbDedupStore

    wh = str(tmp_path / "wh")
    DedupStore(wh, **PARAMS).add_batch(spark, corpus.filter("doc_id < 100")).count()
    store = DedupStore.open(wh)
    assert store.cfg["num_hashes"] == PARAMS["num_hashes"]
    assert store.cfg["threshold"] == PARAMS["threshold"]
    # and it is fully operational (replay no-op through the story)
    assert store.add_batch(spark, corpus.filter("doc_id < 100")).count() == 0

    with pytest.raises(ValueError, match="no dedup store"):
        DedupStore.open(str(tmp_path / "absent"))

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    ewh = str(tmp_path / "ewh")
    EmbDedupStore(ewh, dim=64, threshold=0.3, n_bits=6, n_tables=4,
                  seed=7, max_bucket=None).add_batch(
        spark, emb.filter("vec_id <= 100")).count()
    estore = EmbDedupStore.open(ewh)
    assert estore.cfg["seed"] == 7 and estore.cfg["max_bucket"] is None
    assert estore.add_batch(spark, emb.filter("vec_id <= 100")).count() == 0


def test_remove_orphans_cleans_crashed_batch_files(spark, corpus, tmp_path):
    """A data file written but never committed (crashed add_batch) is
    reclaimed by remove_orphans(0); committed files survive."""
    import os

    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()

    # simulate the crash: drop an unreferenced parquet into the index
    # table's data dir
    data_dir = os.path.join(str(tmp_path / "wh"), "_dedup_index", "data")
    orphan = os.path.join(data_dir, "b00000-orphan-deadbeef.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")

    res = store.remove_orphans(older_than_seconds=0)
    assert res["index"] == 1 and res["docs"] == 0
    assert not os.path.exists(orphan)

    # store still fully operational after the sweep
    assert store.add_batch(spark, corpus.filter("doc_id < 100")).count() == 0
    kept = _ids(store.add_batch(spark, corpus.filter("doc_id >= 100 AND doc_id < 200")))
    assert kept == [102]


def test_crash_tail_partial_replay_slices_converge(spark, corpus, tmp_path):
    """ADVICE r7 #1 (medium): batch A crashes before its index commit,
    then is replayed in TWO smaller slices (restart with a smaller
    epoch size). Each slice commits its ids under its own id_ranges
    stamp; the pending tail must SHRINK by those stamped committed
    spans — re-replaying the first slice afterwards must be a story
    no-op (not a reprocess that re-appends duplicate band rows), the
    second slice must heal the (shrunk) tail outright, and future
    batches must run without heal scans."""
    wh = str(tmp_path / "wh")
    store = DedupStore(wh, **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()

    batch_a = corpus.filter("doc_id >= 100 AND doc_id < 200")

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the index commit")

    store.index.append = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.add_batch(spark, batch_a)

    # replay A as two smaller slices
    s1 = DedupStore(wh, **PARAMS)
    kept1 = _ids(s1.add_batch(spark, corpus.filter("doc_id IN (101, 102)")))
    assert kept1 == [102]  # 101 ~ 1 dropped, as in the clean run

    # re-replaying slice 1 must now read as committed (its ids carry a
    # stamped id_ranges commit), NOT as the tail's reprocessable ids —
    # the old behavior re-judged them and duplicated index rows
    s1b = DedupStore(wh, **PARAMS)
    assert s1b.add_batch(spark, corpus.filter("doc_id IN (101, 102)")).count() == 0
    assert s1b.last_batch_stats["story_path"] == "watermark-replay-noop", (
        s1b.last_batch_stats
    )
    idx = s1b.index.read(spark).filter("doc_id IN (101, 102)")
    assert idx.count() == idx.distinct().count()

    # slice 2 covers the tail's uncovered remainder — heals it
    s2 = DedupStore(wh, **PARAMS)
    kept2 = _ids(s2.add_batch(spark, corpus.filter("doc_id = 103")))
    assert kept2 == []  # 103 ~ 4 dropped, as in the clean run
    assert s2.last_batch_stats.get("healed_tails"), s2.last_batch_stats

    # verdicts match the clean run; no duplicate rows anywhere
    rej = s2.rejected_of(
        spark, spark.createDataFrame([(101,), (102,), (103,)], "doc_id bigint")
    )
    assert {(r.doc_id, r.dup_of) for r in rej.collect()} == {(101, 1), (103, 4)}
    docs_df = s2.docs.read(spark)
    assert docs_df.count() == docs_df.select("doc_id").distinct().count()
    idx = s2.index.read(spark)
    assert idx.count() == idx.distinct().count()

    # tail fully resolved: the next batch runs without heal scans
    s3 = DedupStore(wh, **PARAMS)
    kept3 = _ids(s3.add_batch(spark, corpus.filter("doc_id >= 200")))
    assert kept3 == [202]  # 201 ~ 102 dropped, as in the clean run
    assert s3.last_batch_stats["heal"] is False, s3.last_batch_stats


def test_zero_row_done_marker_with_token_counts(spark, corpus, tmp_path):
    """ADVICE r7 #3: a done-marker append that adds ZERO rows but
    carries a batch token (a judged batch whose banded rows are empty)
    must still surface through _data_summaries/_watermark — losing it
    would leave its tail pending (heal scans forever)."""
    from getl_spark.dedupstore import _data_summaries, _pending_tails, _watermark

    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()
    hi0, modern0 = _watermark(store.index, "max_doc_id")
    assert modern0 and hi0 is not None

    # simulate a crashed batch (docs committed, index not) ...
    store.docs.append(
        spark.createDataFrame([(500, "tail doc")], "doc_id bigint, text string"),
        {"op": "add_batch", "batch": "tok-tail", "max_doc_id": 500,
         "id_ranges": [[500, 500]]},
    )
    assert [t["batch"] for t in _pending_tails(store.docs, store.index, "max_doc_id")] == [
        "tok-tail"
    ]
    # ... whose healing replay happens to append zero index rows: the
    # empty append still carries the token + heals claim
    empty = store.index.read(spark).limit(0)
    store.index.append(
        empty,
        {"op": "add_batch", "batch": "tok-heal", "max_doc_id": 500,
         "id_ranges": [[500, 500]], "heals": ["tok-tail"]},
    )
    assert any(s.get("batch") == "tok-heal" for s in _data_summaries(store.index))
    hi, modern = _watermark(store.index, "max_doc_id")
    assert modern and hi == 500
    assert _pending_tails(store.docs, store.index, "max_doc_id") == []


def test_crash_tail_replayed_after_later_batch_commits(spark, corpus, tmp_path):
    """ADVICE r6 (high): batch A crashes before its index commit, then a
    LATER batch B commits fully, advancing the index watermark past A's
    ids. Replaying A must REPROCESS it — A's ids pass the docs
    membership probe (its docs append committed) yet were never judged
    — not return a silent watermark-replay-noop that loses A's kept
    set, band rows, and verdicts forever. Tails resolve by TOKEN, never
    by the watermark having moved past them."""
    wh = str(tmp_path / "wh")
    store = DedupStore(wh, **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()

    batch_a = corpus.filter("doc_id >= 100 AND doc_id < 200")

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the index commit")

    store.index.append = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.add_batch(spark, batch_a)

    # a LATER batch commits fully before A is replayed; 201's twin
    # (102) was never indexed because A crashed, so 201 survives here
    # (out-of-order ingestion: the pair (102, 201) is only judged when
    # its HIGHER id is new, and 201 committed while 102 was pending)
    store_b = DedupStore(wh, **PARAMS)
    kept_b = _ids(store_b.add_batch(spark, corpus.filter("doc_id >= 200")))
    assert kept_b == [201, 202]

    # replay A: must reprocess, not no-op
    store_c = DedupStore(wh, **PARAMS)
    kept_a = _ids(store_c.add_batch(spark, batch_a))
    st = store_c.last_batch_stats
    assert st["story_path"] == "watermark", st
    assert kept_a == [102]  # 101 ~ 1, 103 ~ 4 dropped, same as clean run
    assert st.get("healed_tails"), "replay must claim the crashed tail healed"
    rej = store_c.rejected_of(
        spark, spark.createDataFrame([(101,), (102,), (103,)], "doc_id bigint")
    )
    assert {(r.doc_id, r.dup_of) for r in rej.collect()} == {(101, 1), (103, 4)}
    assert store_c.index.read(spark).filter("doc_id IN (101,102,103)").count() > 0
    docs_df = store_c.docs.read(spark)
    assert docs_df.count() == docs_df.select("doc_id").distinct().count()

    # the tail is RESOLVED by the heals stamp: replaying A again is now
    # the zero-scan story no-op, and no duplicate band rows exist
    store_d = DedupStore(wh, **PARAMS)
    assert store_d.add_batch(spark, batch_a).count() == 0
    assert store_d.last_batch_stats["story_path"] == "watermark-replay-noop"
    idx = store_d.index.read(spark).filter("doc_id IN (101,102,103)")
    assert idx.count() == idx.distinct().count()


def test_legacy_unstamped_crashed_docs_append_heals(spark, corpus, tmp_path):
    """ADVICE r6 #2: a pre-round-6 (unstamped) store whose first batch
    crashed after the docs append has an EMPTY index but populated
    docs. The legacy heal gate must key on the DOCS table (the one
    being healed), not the index — otherwise the replay re-appends the
    same texts and duplicates doc_id rows, inflating every later
    verify."""
    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    b1 = corpus.filter("doc_id < 100")
    # simulate the legacy crashed state: docs rows committed WITHOUT
    # round-6 summary stamps, index/rejects still empty
    store.docs.append(
        b1.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text"),
        {"op": "legacy"},
    )
    kept = _ids(store.add_batch(spark, b1))
    docs_df = store.docs.read(spark)
    assert docs_df.count() == docs_df.select("doc_id").distinct().count(), (
        "legacy heal must not duplicate docs rows"
    )
    assert kept == [1, 3, 4]
    assert store.corpus_size() == 4


def test_replay_after_prune_dropped_is_noop(spark, corpus, tmp_path):
    """ADVICE r6 #3: prune_dropped removes dropped docs' rows from the
    docs table, but their verdict rows are kept BY DESIGN — so a replay
    of a fully-committed batch containing pruned ids must still read as
    committed (the membership probe accepts verdict rows too): a story
    no-op, not a spurious monotonicity ValueError."""
    store = DedupStore(str(tmp_path / "wh"), **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()
    store.add_batch(spark, corpus.filter("doc_id >= 100 AND doc_id < 200")).count()
    res = store.prune_dropped(spark, before_doc_id=200)  # prunes 2, 101, 103
    assert res["pruned_docs"] == 3

    again = store.add_batch(spark, corpus.filter("doc_id < 100"))
    assert again.count() == 0
    assert store.last_batch_stats["story_path"] == "watermark-replay-noop"
    again2 = store.add_batch(
        spark, corpus.filter("doc_id >= 100 AND doc_id < 200")
    )
    assert again2.count() == 0

    # a genuinely unseen low id is still a loud monotonicity violation
    bad = spark.createDataFrame(
        [(50, "never seen before text about nothing in particular")],
        "doc_id bigint, text string",
    )
    with pytest.raises(ValueError, match="monotonic"):
        store.add_batch(spark, bad)


def test_prune_dropped_one_sided_equality_weakening(spark, tmp_path):
    """VERDICT r6 #6: pin the documented prune_dropped trade — a future
    doc whose ONLY verified match is a pruned DROPPED doc is now KEPT
    (the one-shot run over the full history would have dropped it).
    Constructed chain: X ~ W (X dropped), Y ~ X but Y !~ W."""
    words = [f"w{i}" for i in range(1, 21)]
    w_text = " ".join(words)
    x_text = " ".join(words[:12] + [f"x{i}" for i in range(8)])
    y_text = " ".join([f"y{i}" for i in range(8)] + words[8:12] + [f"x{i}" for i in range(8)])
    corpus2 = spark.createDataFrame(
        [(1, w_text), (2, x_text), (101, y_text)], "doc_id bigint, text string"
    )
    params = dict(num_hashes=32, bands=32, threshold=0.35)

    # sanity: in the one-shot pairwise run, X drops against W and Y
    # drops against X (but Y does NOT verify against W)
    one_shot = _ids(dedupe.near_dedup_minhash(corpus2, transitive=False, **params))
    assert one_shot == [1], one_shot

    # without pruning, the incremental store matches the one-shot
    ctrl = DedupStore(str(tmp_path / "ctrl"), **params)
    assert _ids(ctrl.add_batch(spark, corpus2.filter("doc_id < 100"))) == [1]
    assert _ids(ctrl.add_batch(spark, corpus2.filter("doc_id >= 100"))) == []

    # with X's state pruned, Y's only match is gone -> Y is kept
    store = DedupStore(str(tmp_path / "wh"), **params)
    assert _ids(store.add_batch(spark, corpus2.filter("doc_id < 100"))) == [1]
    assert store.prune_dropped(spark, before_doc_id=100)["pruned_docs"] == 1
    kept = _ids(store.add_batch(spark, corpus2.filter("doc_id >= 100")))
    assert kept == [101], (
        "documented one-sided weakening: a doc whose only verified "
        "match was pruned must be kept"
    )


def test_emb_crash_tail_replayed_after_later_batch_commits(spark, tmp_path):
    """EmbDedupStore analog of the token-only tail fix: bucket rows
    committed, vectors (done marker) crash, later batch commits, then
    the replay must reprocess the tail instead of raising a spurious
    monotonicity error — and resolve it via the heals stamp."""
    from getl_spark.dedupstore import EmbDedupStore

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    params = dict(dim=64, threshold=0.3, n_bits=6, n_tables=4, seed=99,
                  max_bucket=None)
    wh = str(tmp_path / "wh")
    store = EmbDedupStore(wh, **params)
    store.add_batch(spark, emb.filter("vec_id <= 150")).count()

    batch_a = emb.filter("vec_id > 150 AND vec_id <= 160")

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the vectors commit")

    store.vectors.append = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.add_batch(spark, batch_a)

    store_b = EmbDedupStore(wh, **params)
    store_b.add_batch(spark, emb.filter("vec_id > 300")).count()

    store_c = EmbDedupStore(wh, **params)
    kept_a = store_c.add_batch(spark, batch_a)
    st = store_c.last_batch_stats
    assert st["story_path"] == "watermark", st
    assert kept_a.count() > 0
    assert st.get("healed_tails")
    assert st["heal"] is True
    # heal read is pruned to the batch keys' storage buckets
    assert st["heal_files_read"] < st["heal_files_total"]
    bkt = store_c.buckets.read(spark).filter("vec_id > 150 AND vec_id <= 160")
    assert bkt.count() == bkt.select("vec_id", "tbl", "bucket").distinct().count()

    # tail resolved: replaying again is the zero-scan story no-op
    store_d = EmbDedupStore(wh, **params)
    assert store_d.add_batch(spark, batch_a).count() == 0
    assert store_d.last_batch_stats["story_path"] == "watermark-replay-noop"
    assert store_d.corpus_size() == emb.filter("vec_id <= 160 OR vec_id > 300").count()


def test_heal_reads_are_pruned(spark, tmp_path):
    """VERDICT r6 #4: the winnow heal anti-join (like the docs heal)
    must read a pruned file subset, not the full index — a replayed
    crashed batch re-fingerprints the same texts, so existing rows for
    its ids live in its own keys' storage buckets."""
    rows = [
        (i, f"document number {i} with some distinct words {i * 7} {i * 13} {i * 29}")
        for i in range(200)
    ]
    seedc = spark.createDataFrame(rows, "doc_id bigint, text string")
    wh = str(tmp_path / "wh")
    wc = {"k": 4, "w": 4, "min_shared": 2}
    store = DedupStore(wh, num_hashes=16, bands=8, threshold=0.5,
                       num_buckets=64, winnow=wc)
    store.add_batch(spark, seedc).count()

    one = spark.createDataFrame(
        [(500, "a genuinely new document about heal scan pruning")],
        "doc_id bigint, text string",
    )

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the index commit")

    store.index.append = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.add_batch(spark, one)

    store2 = DedupStore(wh, num_hashes=16, bands=8, threshold=0.5,
                        num_buckets=64, winnow=wc)
    store2.add_batch(spark, one).count()
    st = store2.last_batch_stats
    assert st["heal"] is True
    assert 0 < st["winnow_heal_files_read"] < st["winnow_heal_files_total"], st


def test_emb_prune_dropped_keeps_verdicts_and_replay_noop(spark, tmp_path):
    """EmbDedupStore.prune_dropped mirrors the text store: dropped
    vectors' bucket rows + vectors reclaimed, verdict rows kept, and a
    replay of a committed batch containing pruned ids is still the
    story no-op (the membership probe accepts verdict rows)."""
    from getl_spark.dedupstore import EmbDedupStore

    from conftest import SF_DIR

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    params = dict(dim=64, threshold=0.3, n_bits=6, n_tables=4, seed=99,
                  max_bucket=None)
    store = EmbDedupStore(str(tmp_path / "wh"), **params)
    store.add_batch(spark, emb.filter("vec_id <= 200")).count()
    store.add_batch(spark, emb.filter("vec_id > 200")).count()
    n_rej = store.rejects.count_rows()
    assert n_rej > 0, "threshold 0.3 must reject near-dups in testdata"
    dropped_low = [
        r.vec_id for r in store.rejects.read(spark).filter("vec_id <= 200").collect()
    ]
    assert dropped_low, "need at least one dropped vec below the horizon"

    res = store.prune_dropped(spark, before_vec_id=201)
    assert res["pruned_vecs"] == len(dropped_low)
    ids = ", ".join(str(i) for i in dropped_low)
    assert store.vectors.read(spark).filter(f"vec_id IN ({ids})").count() == 0
    assert store.buckets.read(spark).filter(f"vec_id IN ({ids})").count() == 0
    # verdicts survive
    assert store.rejects.count_rows() == n_rej

    # replay of the batch containing pruned ids: story no-op, no error
    again = store.add_batch(spark, emb.filter("vec_id <= 200"))
    assert again.count() == 0
    assert store.last_batch_stats["story_path"] == "watermark-replay-noop"


def test_legacy_tail_not_healed_by_disjoint_batch(spark, corpus, tmp_path):
    """An older-layout tail (stamped max_doc_id, no id_ranges) has an
    unknowable lower edge, so its ranges could only be guessed. The
    store refuses that layout:
    the next add_batch raises a ValueError naming it and asking for a
    rebuild, before anything is appended."""
    wh = str(tmp_path / "wh")
    store = DedupStore(wh, **PARAMS)
    b1 = corpus.filter("doc_id < 100")
    # simulate the round-6 crashed state: docs committed with a batch
    # token + watermark but NO id_ranges stamp, index still empty
    store.docs.append(
        b1.select(F.col("doc_id").cast("bigint").alias("doc_id"), "text"),
        {"op": "add_batch", "batch": "r6tail", "max_doc_id": 4},
    )
    version = store.docs.version

    store_b = DedupStore(wh, **PARAMS)
    with pytest.raises(ValueError, match="max_doc_id without id_ranges.*rebuild"):
        store_b.add_batch(spark, corpus.filter("doc_id >= 100 AND doc_id < 200"))
    store_b.docs.refresh()
    assert store_b.docs.version == version
    assert store_b.index.count_rows() == 0


def test_unordered_crash_tail_never_claims_committed_ids(spark, corpus, tmp_path):
    """require_monotonic=False: the surviving (anti-joined) ids' hull
    can straddle OTHER batches' committed spans. A crash must leave a
    tail whose stamped ranges claim only the gaps — otherwise replays
    of the committed batches inside the hull are carved out as
    'reprocessable' and their band rows are re-appended, breaking the
    per-bucket cap's exactness with duplicate index rows."""
    from getl_spark.dedupstore import _pending_tails

    wh = str(tmp_path / "wh")
    store = DedupStore(wh, **PARAMS)
    store.add_batch(spark, corpus.filter("doc_id < 100")).count()  # X: 1-4
    batch_y = corpus.filter("doc_id >= 200")  # Y: 201-202
    store.add_batch(spark, batch_y).count()

    # unordered batch whose hull [101, 301] straddles Y's span
    extra = corpus.filter("doc_id >= 100 AND doc_id < 200").unionByName(
        spark.createDataFrame(
            [(301, "a brand new document far above the committed watermark")],
            "doc_id bigint, text string",
        )
    )

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the index commit")

    store2 = DedupStore(wh, **PARAMS)
    store2.index.append = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        store2.add_batch(spark, extra, require_monotonic=False)

    # the tail's stamped ranges exclude Y's committed ids
    store3 = DedupStore(wh, **PARAMS)
    tails = _pending_tails(store3.docs, store3.index, "max_doc_id")
    assert len(tails) == 1, tails
    for lo, hi in tails[0]["ranges"]:
        assert not (lo <= 201 <= hi or lo <= 202 <= hi), tails

    # replaying committed Y is still the story no-op, with no duplicate
    # band rows re-appended
    assert store3.add_batch(spark, batch_y).count() == 0
    assert store3.last_batch_stats["story_path"] == "watermark-replay-noop"
    idx = store3.index.read(spark).filter("doc_id IN (201, 202)")
    assert idx.count() > 0 and idx.count() == idx.distinct().count()

    # and replaying the unordered batch itself heals the tail
    store4 = DedupStore(wh, **PARAMS)
    store4.add_batch(spark, extra, require_monotonic=False).count()
    assert store4.last_batch_stats.get("healed_tails") == [
        tails[0]["batch"]
    ]
    docs_df = store4.docs.read(spark)
    assert docs_df.count() == docs_df.select("doc_id").distinct().count()


def test_emb_healing_replay_cap_not_double_counted(spark, tmp_path):
    """A healing replay sees the crashed tail's bucket rows BOTH in the
    stored index and recomputed from the batch. If both copies reach
    _cap_buckets the bucket size doubles, can cross max_bucket, and the
    replay's kept set diverges from the clean run's."""
    from getl_spark.dedupstore import EmbDedupStore

    vecs = spark.createDataFrame(
        [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(1, 5)],
        "vec_id bigint, embedding array<double>",
    )
    params = dict(dim=4, threshold=0.95, n_bits=4, n_tables=1, seed=7,
                  max_bucket=4)

    clean = EmbDedupStore(str(tmp_path / "clean"), **params)
    kept_clean = sorted(r.vec_id for r in clean.add_batch(spark, vecs).collect())
    assert kept_clean == [1]  # 2, 3, 4 are exact dups of 1

    wh = str(tmp_path / "wh")
    store = EmbDedupStore(wh, **params)

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the vectors commit")

    store.vectors.append = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        store.add_batch(spark, vecs)

    store2 = EmbDedupStore(wh, **params)
    kept_replay = sorted(r.vec_id for r in store2.add_batch(spark, vecs).collect())
    assert kept_replay == kept_clean, (
        "healing replay must match the clean run: the tail's stored "
        "bucket rows must not double the per-bucket counts"
    )


def test_emb_remove_orphans_cleans_crashed_batch_files(spark, tmp_path):
    """EmbDedupStore.remove_orphans: an unreferenced parquet file in the
    bucket table's data dir (a crashed add_batch's leftover) is swept;
    the vectors and verdict tables lose nothing, and the story still
    reads a replay as the no-op."""
    import os

    from conftest import SF_DIR

    from getl_spark.dedupstore import EmbDedupStore

    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")).withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    wh = str(tmp_path / "wh")
    store = EmbDedupStore(wh, dim=64, threshold=0.3, n_bits=6, n_tables=4,
                          seed=99, max_bucket=None)
    batch = emb.filter("vec_id <= 100")
    store.add_batch(spark, batch).count()

    orphan = os.path.join(wh, "_embdedup_buckets", "data", "b00000-orphan-deadbeef.parquet")
    with open(orphan, "wb") as fh:
        fh.write(b"not really parquet")

    res = store.remove_orphans(older_than_seconds=0)
    assert res == {"buckets": 1, "vectors": 0, "rejects": 0}
    assert not os.path.exists(orphan)

    assert store.add_batch(spark, batch).count() == 0
    assert store.last_batch_stats["story_path"] == "watermark-replay-noop"
