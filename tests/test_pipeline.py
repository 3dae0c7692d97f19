"""End-to-end CDC replay: engine final state vs pandas oracle
(per-row sha256 invariant), exactly-once re-run, crash resume,
lineage + checkpoint bookkeeping."""

import pytest
from pyspark.sql import functions as F

from getl_spark.events import generate_change_events
from getl_spark.oracle import assert_final_state_matches, reduce_events
from getl_spark.pipeline import CDCPipeline

N_EVENTS = 4000
EPOCH = 1000


@pytest.fixture(scope="module")
def event_df(spark):
    df = generate_change_events(spark, N_EVENTS, n_keys=250, n_repos=8, seed=7)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def oracle_final(event_df):
    return reduce_events(event_df.toPandas())


def engine_state_pdf(pipe):
    return pipe.state().drop("_epoch").toPandas()


def test_full_replay_matches_oracle(spark, tmp_warehouse, event_df, oracle_final):
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, write_salt=2)
    results = pipe.replay(event_df, EPOCH)
    assert len(results) == N_EVENTS // EPOCH
    assert all(r.applied for r in results)
    assert sum(r.events for r in results) == N_EVENTS
    assert_final_state_matches(engine_state_pdf(pipe), oracle_final)


def test_rerun_is_exactly_once(spark, tmp_warehouse, event_df, oracle_final):
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    pipe.replay(event_df, EPOCH)
    v_before = pipe.target.version
    snaps_before = len(pipe.target.meta["snapshots"])
    results2 = pipe.replay(event_df, EPOCH)  # CopyTest 81->0 analog
    assert results2 == []
    pipe.target.refresh()
    assert pipe.target.version == v_before
    assert len(pipe.target.meta["snapshots"]) == snaps_before
    assert_final_state_matches(engine_state_pdf(pipe), oracle_final)


def test_crash_resume_from_checkpoint(spark, tmp_warehouse, event_df, oracle_final):
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    partial = pipe.replay(event_df, EPOCH, stop_after_epoch=1)  # "crash" after epoch 1
    assert [r.epoch for r in partial] == [0, 1]
    # fresh process: new pipeline object over the same warehouse
    pipe2 = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    resumed = pipe2.replay(event_df, EPOCH)
    assert [r.epoch for r in resumed] == [2, 3], "committed epochs must be skipped"
    assert_final_state_matches(engine_state_pdf(pipe2), oracle_final)


def test_stale_epoch_application_is_noop(spark, tmp_warehouse, event_df, oracle_final):
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    pipe.replay(event_df, EPOCH)
    # re-apply epoch 0's slice directly (out-of-band duplicate delivery)
    sl = event_df.filter("seq <= 1000")
    res = pipe.apply_epoch(sl, 0)
    assert not res.applied
    assert_final_state_matches(engine_state_pdf(pipe), oracle_final)


def test_lineage_rows(spark, tmp_warehouse, event_df):
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    pipe.replay(event_df, EPOCH)
    lin = pipe.lineage.read(spark)
    pdf = lin.toPandas()
    assert set(pdf["epoch"]) == {0, 1, 2, 3}
    assert pdf["event_count"].sum() == N_EVENTS
    # offset ranges partition the log
    for e in range(4):
        sub = pdf[pdf["epoch"] == e]
        assert sub["seq_min"].min() > e * EPOCH
        assert sub["seq_max"].max() <= (e + 1) * EPOCH
    assert (pdf["bytes"] > 0).any()
    assert (pdf["epoch_latency_ms"] >= 0).all()


def test_checkpoint_history_and_monotonic_guard(spark, tmp_warehouse, event_df):
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    pipe.replay(event_df, EPOCH)
    last = pipe.checkpoints.last(spark, "tail")
    assert last.epoch == 3 and last.max_seq == N_EVENTS
    # stale save refused (SavePointManager value < new guard)
    assert pipe.checkpoints.save(spark, "tail", 2, 999) is False
    assert pipe.checkpoints.last(spark, "tail").epoch == 3
    # INSERT method keeps full history
    hist = pipe.checkpoints.history(spark, "tail").toPandas()
    assert sorted(hist["epoch"]) == [0, 1, 2, 3]


def test_mid_stream_schema_evolution(spark, tmp_warehouse, event_df, oracle_final):
    changes = [
        {"seq": 1500, "change": "add_column", "column_name": "stars", "new_type": "int"},
        {"seq": 2500, "change": "widen_column", "column_name": "stars", "new_type": "bigint"},
        {"seq": 3500, "change": "rename_column", "column_name": "lang", "new_name": "language"},
    ]
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    pipe.replay(event_df, EPOCH, schema_changes=changes)
    cols = pipe.target.schema().fieldNames()
    assert "stars" in cols and "language" in cols and "lang" not in cols
    state = pipe.state()
    assert dict(state.dtypes)["stars"] == "bigint"
    # content invariant still holds on the evolved schema
    pdf = state.drop("_epoch", "stars").withColumnRenamed("language", "lang").toPandas()
    assert_final_state_matches(pdf, oracle_final)


def test_merge_mode_checkpoints(spark, tmp_warehouse, event_df):
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, checkpoint_method="MERGE")
    pipe.replay(event_df, EPOCH)
    hist = pipe.checkpoints.history(spark, "tail").toPandas()
    assert len(hist) == 1  # single-row upsert mode
    assert hist["epoch"].iloc[0] == 3


def test_metrics_view(spark, tmp_warehouse):
    from getl_spark.events import generate_change_events
    from getl_spark.pipeline import CDCPipeline

    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=4)
    ev = generate_change_events(spark, 1000, n_keys=100, n_repos=4, seed=3)
    pipe.replay(ev, 500)
    m = pipe.metrics().collect()
    assert [r.epoch for r in m] == [0, 1]
    assert sum(r.events for r in m) == 1000
    assert all(r.events_per_sec is None or r.events_per_sec > 0 for r in m)
    assert m[0].seq_min == 1 and m[-1].seq_max == 1000


def test_broadcast_cap_falls_back_to_agg(spark, tmp_warehouse, event_df, oracle_final):
    """Scale guard: an epoch whose key count exceeds broadcast_cap must
    NOT build a driver-side broadcast winner set — it falls back to the
    agg (max_by) strategy and produces the identical final state."""
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, broadcast_cap=10)
    results = pipe.replay(event_df, EPOCH)
    assert all(r.applied for r in results)
    # 250 keys > cap of 10: every epoch must have taken the agg path
    assert pipe.last_lww_strategy == "agg"
    assert_final_state_matches(engine_state_pdf(pipe), oracle_final)


def test_broadcast_cap_plan_has_no_broadcast(spark, tmp_warehouse, event_df):
    """The fallback winners plan contains no broadcast at all (it is a
    pure groupBy/max_by — no join), while the under-cap path does."""
    from pyspark.sql import functions as F
    from pyspark.storagelevel import StorageLevel

    spec_bucket = F.pmod(F.xxhash64("repo"), F.lit(8)).cast("int").alias("_pb")
    per_key = (
        event_df.groupBy(spec_bucket, "repo", "path")
        .agg(F.max("seq").alias("_wseq"))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    try:
        over = CDCPipeline(spark, tmp_warehouse + "/a", num_buckets=8, broadcast_cap=10)
        winners = over._select_winners(event_df, per_key, n_keys=250)
        assert over.last_lww_strategy == "agg"
        plan = winners._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan

        under = CDCPipeline(spark, tmp_warehouse + "/b", num_buckets=8, broadcast_cap=1000)
        winners2 = under._select_winners(event_df, per_key, n_keys=250)
        assert under.last_lww_strategy == "broadcast"
        plan2 = winners2._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" in plan2
    finally:
        per_key.unpersist()


def test_auto_salt_resolves_persists_and_balances(spark, tmp_warehouse):
    """write_salt='auto': the first epoch sizes the salt from the
    observed key histogram (SURVEY §4.2), persists it as a table
    property (so a second process reuses it), and the hot bucket's
    rows spread over multiple, size-balanced files."""
    import statistics

    from getl_spark.events import generate_change_events
    from getl_spark.oracle import reduce_events

    # skew=6 puts ~40% of events on key 0 -> repo org0/proj0 is hot
    ev = generate_change_events(spark, 6000, n_keys=200, n_repos=10, seed=5, skew=6.0)
    ev.cache().count()
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=16, write_salt="auto")
    pipe.replay(ev, 3000)
    salt = pipe.target.properties["write.salt"]
    assert salt.isdigit() and int(salt) > 1, f"skewed data resolved salt={salt}"
    # fresh handle over the same warehouse sees the persisted factor
    pipe2 = CDCPipeline(spark, tmp_warehouse, num_buckets=16, write_salt="auto")
    assert pipe2.target.properties["write.salt"] == salt
    # final state still correct under salted writes
    assert_final_state_matches(
        pipe.state().drop("_epoch").toPandas(), reduce_events(ev.toPandas())
    )
    # hot bucket fans out over >1 file, none pathologically larger
    from pyspark.sql import functions as F

    hot_bucket = spark.createDataFrame([("org0/proj0",)], "repo string").select(
        F.pmod(F.xxhash64("repo"), F.lit(16)).cast("int").alias("b")
    ).collect()[0].b
    rows = [f["rows"] for f in pipe.target.current_files() if f["bucket"] == hot_bucket]
    assert len(rows) > 1, "hot bucket still written by a single task"
    assert max(rows) <= 3 * statistics.median(rows), rows
    ev.unpersist()


def test_auto_salt_balanced_data_resolves_to_one(spark, tmp_warehouse):
    from getl_spark.events import generate_change_events

    ev = generate_change_events(spark, 2000, n_keys=400, n_repos=16, seed=6, skew=1.0)
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, write_salt="auto")
    pipe.replay(ev, 2000)
    assert pipe.target.properties["write.salt"] == "1"


def test_write_salt_rejects_bad_string(spark, tmp_warehouse):
    import pytest as _p

    with _p.raises(ValueError, match="auto"):
        CDCPipeline(spark, tmp_warehouse, write_salt="yes")


def test_two_pipelines_concurrent_writers_same_target(spark, tmp_warehouse):
    """Two CDCPipelines in separate OS processes (own JVMs) merge into
    the SAME target concurrently on disjoint key ranges (split by
    bucket parity): partition-level commit rebase + retry must
    serialize every snapshot, keep both watermarks, and converge to
    the oracle reduction of the union of both slices."""
    import subprocess
    import sys

    from conftest import REPO

    from getl_spark.events import generate_change_events
    from getl_spark.oracle import reduce_events

    # parent creates the table (and bookkeeping tables) once, so the
    # workers never race on CREATE
    CDCPipeline(spark, tmp_warehouse, num_buckets=16, name="seed")
    worker = (
        "import sys\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from getl_spark.session import get_spark\n"
        "from getl_spark.events import generate_change_events\n"
        "from getl_spark.pipeline import CDCPipeline\n"
        "from pyspark.sql import functions as F\n"
        "name, parity, wh = sys.argv[1], int(sys.argv[2]), sys.argv[3]\n"
        "spark = get_spark(f'ccw-{name}', cpus=4)\n"
        "ev = generate_change_events(spark, 4000, n_keys=300, n_repos=12, seed=31)\n"
        "mine = ev.filter(F.pmod(F.xxhash64('repo'), F.lit(16)) % 2 == parity)\n"
        "pipe = CDCPipeline(spark, wh, name=name, num_buckets=16)\n"
        "res = pipe.replay(mine, 1000, max_seq=4000)\n"
        "print('applied', sum(r.events for r in res))\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, name, str(parity), tmp_warehouse],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for name, parity in (("tail_a", 0), ("tail_b", 1))
    ]
    for p in procs:
        _, err = p.communicate(timeout=600)
        assert p.returncode == 0, err.decode()[-3000:]

    ev = generate_change_events(spark, 4000, n_keys=300, n_repos=12, seed=31)
    oracle = reduce_events(ev.toPandas())
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=16, name="reader")
    assert_final_state_matches(pipe.state().drop("_epoch").toPandas(), oracle)
    # both watermarks landed; snapshots strictly serialized
    t = pipe.target
    assert t.properties["watermark.tail_a"] == "3"
    assert t.properties["watermark.tail_b"] == "3"
    snap_ids = [s["snapshot_id"] for s in t.meta["snapshots"]]
    assert snap_ids == list(range(1, len(snap_ids) + 1))


def test_keep_snapshots_bounds_metadata_growth(spark, tmp_warehouse, event_df, oracle_final):
    """Always-on pipelines must not grow metadata without bound: with
    keep_snapshots the target's snapshot list and metadata-version
    directory stay O(keep), state stays correct, and resume stays
    exactly-once (the watermark lives in table properties, which
    survive expiry)."""
    import os

    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, keep_snapshots=2)
    pipe.replay(event_df, EPOCH)
    assert len(pipe.target.meta["snapshots"]) <= 3  # 2 kept + this epoch
    assert_final_state_matches(engine_state_pdf(pipe), oracle_final)
    # resume in a fresh handle is still exactly-once
    pipe2 = CDCPipeline(spark, tmp_warehouse, num_buckets=8, keep_snapshots=2)
    assert pipe2.replay(event_df, EPOCH) == []
    meta_files = [
        f
        for f in os.listdir(os.path.join(tmp_warehouse, "target", "metadata"))
        if f.endswith(".metadata.json")
    ]
    assert len(meta_files) <= 12  # bounded, not one per commit


def test_duplicate_seq_redelivery_converges(spark, tmp_warehouse):
    """At-least-once redelivery of the SAME seq within an epoch: the
    per-epoch uniqueness verification must route the epoch through the
    agg strategy so the target holds exactly one row per key."""
    from getl_spark.events import generate_change_events

    ev = generate_change_events(spark, 1000, n_keys=80, n_repos=4, seed=17)
    dup = ev.unionAll(ev.filter(F.col("seq") % 7 == 0))  # redeliver ~1/7
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    pipe.replay(dup, 1000, max_seq=1000)
    assert pipe.last_lww_strategy == "agg"  # verification tripped
    state = pipe.state()
    n_keys = state.select("repo", "path").distinct().count()
    assert state.count() == n_keys, "duplicate rows per key in target"


def test_duplicate_seq_redelivery_converges_mor(spark, tmp_warehouse):
    """Same redelivery scenario through the MOR arm: the deferred
    winner check (delta row count from parquet footers, validated
    between write and commit) must abort the oversized delta and
    re-append via the agg strategy — no duplicate winner rows land."""
    from getl_spark.events import generate_change_events

    ev = generate_change_events(spark, 1000, n_keys=80, n_repos=4, seed=17)
    dup = ev.unionAll(ev.filter(F.col("seq") % 7 == 0))
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, merge_mode="mor")
    pipe.replay(dup, 1000, max_seq=1000)
    assert pipe.last_lww_strategy == "agg"  # deferred verification tripped
    # the committed delta must hold exactly one winner row per key
    delta = pipe.target.read(spark)
    n_keys = delta.select("repo", "path").distinct().count()
    assert delta.count() == n_keys, "duplicate winner rows in MOR delta"
    state = pipe.state()
    assert state.count() == state.select("repo", "path").distinct().count()


def test_two_pipelines_share_lineage_without_collision(spark, tmp_warehouse):
    """Same warehouse, two pipelines, same epoch numbers: lineage rows
    are scoped per pipeline (previously the repair path deleted the
    other pipeline's rows) and metrics() reports only its own."""
    from getl_spark.events import generate_change_events

    ev = generate_change_events(spark, 1000, n_keys=80, n_repos=4, seed=19)
    a = CDCPipeline(spark, tmp_warehouse, name="a", num_buckets=4, target_table="t_a")
    b = CDCPipeline(spark, tmp_warehouse, name="b", num_buckets=4, target_table="t_b")
    a.replay(ev, 500, max_seq=1000)
    b.replay(ev, 500, max_seq=1000)
    lin = a.lineage.read_pandas()
    assert set(lin["pipeline"].unique()) == {"a", "b"}
    ma = {r.epoch: r.events for r in a.metrics().collect()}
    mb = {r.epoch: r.events for r in b.metrics().collect()}
    assert ma == {0: 500, 1: 500} and mb == {0: 500, 1: 500}


def test_replayed_widen_is_schema_noop(spark, tmp_warehouse, event_df):
    """Replaying an epoch whose widen_column already applied must not
    commit a duplicate schema version."""
    changes = [
        {"seq": 1500, "change": "add_column", "column_name": "stars", "new_type": "int"},
        {"seq": 2500, "change": "widen_column", "column_name": "stars", "new_type": "bigint"},
    ]
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    pipe.replay(event_df, EPOCH, schema_changes=changes)
    sid = pipe.target.current_schema_id
    n_log = len(pipe.target.meta["evolution_log"])
    # wipe the checkpoint so the epochs replay (idempotent at the data
    # layer); schema changes re-apply as no-ops
    pipe.checkpoints.clear(spark, "tail")
    pipe2 = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    pipe2.replay(event_df, EPOCH, schema_changes=changes)
    assert pipe2.target.current_schema_id == sid
    assert len(pipe2.target.meta["evolution_log"]) == n_log


def test_lineage_epoch_latency_semantics(spark, tmp_warehouse, event_df):
    """The column is named epoch_latency_ms because it records the
    WHOLE-EPOCH apply latency stamped onto each of the epoch's bucket
    rows — assert exactly that: identical within an epoch and equal to
    the EpochResult's measured latency."""
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    results = pipe.replay(event_df, EPOCH)
    pdf = pipe.lineage.read_pandas()
    by_epoch = {r.epoch: r.latency_ms for r in results}
    for e, grp in pdf.groupby("epoch"):
        assert grp["epoch_latency_ms"].nunique() == 1
        assert int(grp["epoch_latency_ms"].iloc[0]) == by_epoch[int(e)]


def test_lineage_legacy_table_upgrades_in_place(spark, tmp_warehouse):
    """A lineage table in the older layout (no pipeline column, the
    latency column still named apply_latency_ms) is refused on open
    with a ValueError naming the missing columns — no migration."""
    import pandas as pd

    from getl_spark.lake import LakeCatalog, PartitionSpec
    from getl_spark.lineage import LineageRecorder
    from getl_spark.schema import parse_ddl

    cat = LakeCatalog(tmp_warehouse)
    legacy = cat.create_table(
        "_lineage",
        parse_ddl(
            "epoch bigint, partition_id int, seq_min bigint, seq_max bigint, "
            "event_count bigint, bytes bigint, apply_latency_ms bigint"
        ),
        PartitionSpec.none(),
    )
    legacy.append_pandas(
        pd.DataFrame(
            [
                {"epoch": 0, "partition_id": 1, "seq_min": 1, "seq_max": 10,
                 "event_count": 10, "bytes": 100, "apply_latency_ms": 42},
            ]
        ),
        {"epoch": 0},
    )
    version = legacy.version
    with pytest.raises(ValueError, match=r"older layout.*epoch_latency_ms.*pipeline.*rebuild"):
        LineageRecorder(cat)
    # the check reads metadata only: the table is left as it was
    assert cat.load_table("_lineage").version == version


def test_schema_policy_merge_implicit_add(spark, tmp_warehouse, event_df, oracle_final):
    """getl updateFields MERGE analog: a new column appears in the log
    mid-stream (no explicit DDL event) and lands in the target; the
    content invariant still holds on full replay."""
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, schema_policy="merge")
    pipe.apply_epoch(event_df.filter("seq <= 1000"), 0)
    assert "stars" not in pipe.target.schema().fieldNames()
    with_stars = event_df.withColumn("stars", (F.col("seq") % 5).cast("int"))
    pipe.apply_epoch(with_stars.filter("seq > 1000 AND seq <= 2000"), 1)
    cols = pipe.target.schema().fieldNames()
    assert "stars" in cols
    # the event ENVELOPE must never leak into the target via the policy
    assert "event_ts" not in cols and "seq" not in cols and "op" not in cols
    for e in (2, 3):
        pipe.apply_epoch(
            with_stars.filter(f"seq > {e * 1000} AND seq <= {(e + 1) * 1000}"), e
        )
    state = pipe.state()
    # rows last written in epoch 0 predate the column -> NULL; later ones carry it
    pdf = state.toPandas()
    assert pdf.loc[pdf["_seq"] <= 1000, "stars"].isna().all()
    assert (pdf.loc[pdf["_seq"] > 1000, "stars"] == pdf.loc[pdf["_seq"] > 1000, "_seq"] % 5).all()
    assert_final_state_matches(state.drop("_epoch", "stars").toPandas(), oracle_final)


def test_schema_policy_merge_widen_and_narrow(spark, tmp_warehouse, event_df):
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, schema_policy="merge")
    with_stars = event_df.withColumn("stars", (F.col("seq") % 5).cast("int"))
    pipe.apply_epoch(with_stars.filter("seq <= 1000"), 0)
    assert dict(pipe.state().dtypes)["stars"] == "int"
    # incoming bigint -> implicit widen
    wide = event_df.withColumn("stars", (F.col("seq") % 5).cast("bigint"))
    pipe.apply_epoch(wide.filter("seq > 1000 AND seq <= 2000"), 1)
    assert dict(pipe.state().dtypes)["stars"] == "bigint"
    sid = pipe.target.current_schema_id
    # incoming int again (narrower): no-op, casts cleanly on apply
    pipe.apply_epoch(with_stars.filter("seq > 2000 AND seq <= 3000"), 2)
    assert pipe.target.current_schema_id == sid
    assert dict(pipe.state().dtypes)["stars"] == "bigint"
    # incompatible implicit change refuses loudly
    bad = event_df.withColumn("stars", F.lit(True))
    with pytest.raises(ValueError, match="incompatible"):
        pipe.apply_epoch(bad.filter("seq > 3000"), 3)


def test_schema_policy_merge_exists_drops_missing(spark, tmp_warehouse, event_df, oracle_final):
    """MERGE_EXISTS: target columns absent from the incoming frame are
    dropped (keys and engine-internal columns protected)."""
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, schema_policy="merge_exists")
    pipe.apply_epoch(event_df.filter("seq <= 2000"), 0)
    assert "lang" in pipe.target.schema().fieldNames()
    no_lang = event_df.drop("lang")
    pipe.apply_epoch(no_lang.filter("seq > 2000 AND seq <= 4000"), 1)
    cols = pipe.target.schema().fieldNames()
    assert "lang" not in cols
    for k in ("repo", "path", "_seq", "_deleted"):
        assert k in cols
    pdf = pipe.state().drop("_epoch").toPandas()
    assert_final_state_matches(
        pdf.assign(lang=""), oracle_final.assign(lang="")
    )


def test_schema_policy_respects_rename_history(spark, tmp_warehouse, event_df):
    """A source still emitting the pre-rename name must not re-add the
    renamed column under its old name."""
    changes = [
        {"seq": 500, "change": "rename_column", "column_name": "lang", "new_name": "language"}
    ]
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, schema_policy="merge")
    pipe.apply_epoch(event_df.filter("seq <= 2000"), 0, schema_changes=changes)
    cols = pipe.target.schema().fieldNames()
    assert "language" in cols and "lang" not in cols
    # next epoch still sends "lang": mapped through the rename, not re-added
    pipe.apply_epoch(event_df.filter("seq > 2000"), 1)
    cols = pipe.target.schema().fieldNames()
    assert "language" in cols and "lang" not in cols


def test_schema_policy_rejects_bad_value(spark, tmp_warehouse):
    with pytest.raises(ValueError, match="schema_policy"):
        CDCPipeline(spark, tmp_warehouse, schema_policy="replace")


def test_mor_concurrent_same_name_writers_no_double_append(spark, tmp_warehouse, event_df):
    """Two same-name MOR tailers racing on one epoch: the loser's
    append must skip via the commit precondition, not rebase a
    duplicate delta."""
    e0 = event_df.filter(F.col("seq") <= 1000)
    p1 = CDCPipeline(spark, tmp_warehouse, num_buckets=8, merge_mode="mor")
    p2 = CDCPipeline(spark, tmp_warehouse, num_buckets=8, merge_mode="mor")
    # p2's view is stale: constructed before p1 commits epoch 0
    r1 = p1.apply_epoch(e0, 0)
    assert r1.applied
    r2 = p2.apply_epoch(e0, 0)  # stale watermark check passes; commit must not
    assert not r2.applied
    p1.target.refresh()
    files = [f for f in p1.target.current_files()]
    rows = sum(f["rows"] for f in files)
    assert rows == p1.state(include_tombstones=True).count()  # no duplicate delta


def test_schema_policy_merge_in_mor_mode(spark, tmp_warehouse, event_df, oracle_final):
    """The implicit policy must work identically in merge-on-read mode:
    the delta append casts every row to the evolved target schema, and
    the resolved read surfaces the new column."""
    pipe = CDCPipeline(
        spark, tmp_warehouse, num_buckets=8, merge_mode="mor", schema_policy="merge"
    )
    pipe.apply_epoch(event_df.filter("seq <= 2000"), 0)
    with_stars = event_df.withColumn("stars", (F.col("seq") % 5).cast("int"))
    pipe.apply_epoch(with_stars.filter("seq > 2000"), 1)
    pipe.compact()
    state = pipe.state()
    pdf = state.toPandas()
    assert "stars" in pdf.columns and "event_ts" not in pdf.columns
    assert pdf.loc[pdf["_seq"] <= 2000, "stars"].isna().all()
    assert (pdf.loc[pdf["_seq"] > 2000, "stars"] == pdf.loc[pdf["_seq"] > 2000, "_seq"] % 5).all()
    assert_final_state_matches(state.drop("_epoch", "stars").toPandas(), oracle_final)
