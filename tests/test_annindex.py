"""Persisted IVF index: build/probe/append lifecycle, probe-all ==
exact, parity with the one-shot ivf_topk, REAL manifest pruning
(probes must not scan unprobed cells' files), reopen from disk."""

import pytest
from pyspark.sql import functions as F

from getl_spark.annindex import AnnIndex
from getl_spark.functions import simsearch


@pytest.fixture(scope="module")
def emb(spark):
    from conftest import SF_DIR

    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )


def _pairs(df):
    return {(r.query_id, r.neighbor_id, r.score) for r in df.collect()}


def test_build_search_probe_all_equals_exact(spark, emb, tmp_path):
    idx = AnnIndex(str(tmp_path / "wh"), dim=64, n_centroids=16)
    n = idx.build(spark, emb, train=True)
    assert n == emb.count()
    queries = emb.filter("vec_id < 5")
    got = _pairs(idx.search(spark, queries, k=5, n_probe=16))
    exact = _pairs(simsearch.cosine_topk(emb, queries, k=5))
    assert got == exact


def test_search_matches_one_shot_ivf_topk(spark, emb, tmp_path):
    """The persisted index and the one-shot operator share centroids
    and assignment math, so equal n_probe must yield equal results."""
    idx = AnnIndex(str(tmp_path / "wh"), dim=64, n_centroids=16)
    idx.build(spark, emb, train=True)
    queries = emb.filter("vec_id < 5")
    got = _pairs(idx.search(spark, queries, k=5, n_probe=4))
    one_shot = _pairs(
        simsearch.ivf_topk(
            emb, queries, k=5, dim=64, n_centroids=16, n_probe=4,
            centroids=idx.centroids,
        )
    )
    assert got == one_shot


def test_probe_actually_prunes_files(spark, emb, tmp_path):
    idx = AnnIndex(str(tmp_path / "wh"), dim=64, n_centroids=16)
    idx.build(spark, emb, train=True)
    queries = emb.filter("vec_id < 2")
    probe = simsearch._ivf_cells_udf(idx.centroids, 2)
    cells = sorted(
        {
            int(c)
            for r in queries.select(probe(F.col("embedding")).alias("cs")).collect()
            for c in r["cs"]
        }
    )
    buckets = idx._buckets_for_cells(spark, cells)
    total_buckets = {
        f["bucket"] for f in idx.table.current_snapshot["files"]
    }
    assert len(buckets) < len(total_buckets), (
        "a 2-query/2-probe batch must scan a strict subset of buckets"
    )
    # and the pruned search is still correct vs an unpruned re-rank
    got = _pairs(idx.search(spark, queries, k=3, n_probe=2))
    assert len(got) == queries.count() * 3


def test_reopen_from_disk_and_append(spark, emb, tmp_path):
    wh = str(tmp_path / "wh")
    AnnIndex(wh, dim=64, n_centroids=16).build(spark, emb, train=True)

    # fresh object (simulating a new process) loads centroids from disk
    idx2 = AnnIndex(wh, dim=64, n_centroids=16)
    assert idx2.centroids is not None
    dup = emb.filter("vec_id = 3").select(
        (F.col("vec_id") + 100000).alias("vec_id"), "embedding"
    )
    assert idx2.append(spark, dup) == 1
    got = idx2.search(spark, emb.filter("vec_id = 3"), k=1, n_probe=1)
    top = got.collect()[0]
    assert top.neighbor_id == 100003 and top.score == 1.0

    with pytest.raises(ValueError, match="config mismatch"):
        AnnIndex(wh, dim=64, n_centroids=32)


def test_unbuilt_index_raises(spark, emb, tmp_path):
    idx = AnnIndex(str(tmp_path / "wh"), dim=64)
    with pytest.raises(ValueError, match="not built"):
        idx.search(spark, emb.limit(1))


def test_append_then_compact_preserves_results(spark, emb, tmp_path):
    """Appends fragment buckets (one file per touched bucket per
    batch); compact() folds them and probes return identical results."""
    idx = AnnIndex(str(tmp_path / "wh"), dim=64, n_centroids=16)
    idx.build(spark, emb.filter("vec_id < 400"), train=True)
    for lo, hi in [(400, 450), (450, 500)]:
        idx.append(spark, emb.filter(f"vec_id >= {lo} AND vec_id < {hi}"))
    before = idx.stats(spark)
    assert before["rows"] == 500
    queries = emb.filter("vec_id < 5")
    res_before = _pairs(idx.search(spark, queries, k=5, n_probe=16))
    idx.compact(spark)
    after = idx.stats(spark)
    assert after["rows"] == 500
    assert after["data_files"] < before["data_files"]
    assert after["max_files_per_bucket"] == 1
    assert _pairs(idx.search(spark, queries, k=5, n_probe=16)) == res_before


def test_rebuild_is_crash_atomic(spark, emb, tmp_path):
    """ADVICE r5: a crash between the new centroids sidecar write and
    the table overwrite must leave probes on the OLD build — the
    committed snapshot's build_id selects the sidecar, so new-centroids
    + old-assignment can never pair up."""
    wh = str(tmp_path / "wh")
    idx = AnnIndex(wh, dim=64, n_centroids=16)
    idx.build(spark, emb, train=False)
    old_bid = idx.build_id
    queries = emb.filter("vec_id < 3")
    before = _pairs(idx.search(spark, queries, k=3, n_probe=16))

    # crash the rebuild right before the table commit
    real_overwrite = idx.table.overwrite_all

    def boom(*a, **k):
        raise RuntimeError("simulated crash before the build commit")

    idx.table.overwrite_all = boom
    with pytest.raises(RuntimeError, match="simulated crash"):
        idx.rebuild(spark, train=True)
    idx.table.overwrite_all = real_overwrite

    # a fresh handle (new process) must resolve to the OLD build and
    # return identical results — the orphan sidecar is inert
    idx2 = AnnIndex(wh, dim=64, n_centroids=16)
    assert idx2.build_id == old_bid
    assert idx2.trained is False
    assert _pairs(idx2.search(spark, queries, k=3, n_probe=16)) == before

    # a completed rebuild swaps the build id and stays exact at full
    # probe; the old sidecar is garbage-collected
    idx2.rebuild(spark, train=True)
    assert idx2.build_id != old_bid and idx2.trained is True
    assert _pairs(idx2.search(spark, queries, k=3, n_probe=16)) == _pairs(
        simsearch.cosine_topk(emb, queries, k=3)
    )
    import os

    leftovers = [
        fn for fn in os.listdir(wh)
        if fn.startswith("_ann_index.centroids.") and idx2.build_id not in fn
    ]
    assert leftovers == []


def test_stale_handle_resyncs_centroids_after_external_rebuild(
    spark, emb, tmp_path
):
    """A long-lived handle must pick up another process's rebuild on
    its next probe (refresh + build-id sync), not keep pruning with
    superseded centroids."""
    wh = str(tmp_path / "wh")
    idx_a = AnnIndex(wh, dim=64, n_centroids=16)
    idx_a.build(spark, emb, train=False)
    idx_b = AnnIndex(wh, dim=64, n_centroids=16)  # second process
    idx_b.rebuild(spark, train=True)
    queries = emb.filter("vec_id < 3")
    got = _pairs(idx_a.search(spark, queries, k=3, n_probe=16))
    assert idx_a.build_id == idx_b.build_id
    assert idx_a.trained is True
    assert got == _pairs(simsearch.cosine_topk(emb, queries, k=3))


def test_tune_n_probe_hits_recall_target(spark, emb, tmp_path):
    idx = AnnIndex(str(tmp_path / "wh"), dim=64, n_centroids=16)
    idx.build(spark, emb, train=True)
    out = idx.tune_n_probe(
        spark, emb.filter("vec_id < 20"), k=5, target_recall=0.9, sample=20
    )
    assert out["recall"] >= 0.9
    assert out["trace"][0][0] == 1  # doubling trace starts at 1
    assert out["n_probe"] == out["trace"][-1][0]
    # the winner persists as the search default, across processes
    idx2 = AnnIndex(str(tmp_path / "wh"), dim=64, n_centroids=16)
    assert idx2.default_n_probe == out["n_probe"]
    got = idx2.search(spark, emb.filter("vec_id < 3"), k=5)  # n_probe=None
    assert got.count() == 15
    # probing everything trivially satisfies any target
    full = idx.tune_n_probe(
        spark, emb.filter("vec_id < 10"), k=3, target_recall=1.0,
        sample=10, persist=False,
    )
    assert full["recall"] <= 1.0 and full["n_probe"] <= 16


def test_stats_reports_drift_and_trained_flag(spark, emb, tmp_path):
    idx = AnnIndex(str(tmp_path / "wh"), dim=64, n_centroids=16)
    idx.build(spark, emb.filter("vec_id < 400"), train=False)
    st0 = idx.stats(spark)
    # ADVICE r5: trained must come from the sidecar, not centroid presence
    assert st0["trained"] is False
    assert st0["rows_at_build"] == 400 and st0["appended_since_build"] == 0
    assert st0["cell_skew_at_build"] == st0["cell_skew_now"] is not None
    # pile appends into one cell: skew_now must grow past the baseline
    hot = emb.filter("vec_id = 7").select("vec_id", "embedding")
    stacked = hot
    for i in range(1, 80):
        stacked = stacked.union(
            hot.select((F.col("vec_id") + 10000 * i).alias("vec_id"), "embedding")
        )
    idx.append(spark, stacked)
    st1 = idx.stats(spark)
    assert st1["appended_since_build"] == 80
    assert st1["cell_skew_now"] > st1["cell_skew_at_build"]
    # retraining rebuild resets the baseline to the grown corpus
    idx.rebuild(spark, train=True)
    st2 = idx.stats(spark)
    assert st2["trained"] is True
    assert st2["rows_at_build"] == 480 and st2["appended_since_build"] == 0
