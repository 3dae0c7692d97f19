"""Lake-format tests: create/append/read, bucket pruning, merge,
schema evolution, time travel, idempotent epoch commits."""

import os

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from getl_spark.schema import parse_ddl

from getl_spark.lake import LakeCatalog, LakeTable, PartitionSpec

SCHEMA = parse_ddl(
    "repo string, path string, commit string, lang string, content string, _seq bigint"
)


def mk(spark, rows):
    return spark.createDataFrame([Row(**r) for r in rows], SCHEMA)


def row(repo, path, seq, content=None, commit=None, lang="py"):
    return dict(
        repo=repo,
        path=path,
        commit=commit or f"c{seq:08d}" + "0" * 32,
        lang=lang,
        content=content or f"content of {repo}/{path} at {seq}",
        _seq=seq,
    )


@pytest.fixture()
def table(tmp_warehouse):
    cat = LakeCatalog(tmp_warehouse)
    return cat.create_table("target", SCHEMA, PartitionSpec.bucket(8, "repo"))


def test_create_load_roundtrip(tmp_warehouse):
    cat = LakeCatalog(tmp_warehouse)
    t = cat.create_table("t1", SCHEMA, PartitionSpec.bucket(4, "repo"))
    t2 = cat.load_table("t1")
    assert t2.schema() == SCHEMA
    assert t2.partition_spec.num_buckets == 4
    assert cat.list_tables() == ["t1"]
    assert t.current_snapshot is None
    cat.drop_table("t1")
    assert not cat.table_exists("t1")


def test_append_read_and_manifest_counts(spark, table):
    df = mk(spark, [row("a/r1", "f1.py", 1), row("a/r1", "f2.py", 2), row("b/r2", "g.py", 3)])
    snap = table.append(df)
    assert snap["summary"]["added_rows"] == 3
    got = table.read(spark).orderBy("_seq").collect()
    assert [r.path for r in got] == ["f1.py", "f2.py", "g.py"]
    assert table.count_rows() == 3  # manifest stats, no scan


def test_bucket_pruning_reads_only_touched_files(spark, table):
    repos = [f"org{i}/proj{i}" for i in range(10)]
    df = mk(spark, [row(r, "f.py", i + 1) for i, r in enumerate(repos)])
    table.append(df)
    buckets = {
        r["repo"]: r["b"]
        for r in spark.createDataFrame([(x,) for x in repos], "repo string")
        .select("repo", F.pmod(F.xxhash64(F.col("repo")), F.lit(8)).alias("b"))
        .collect()
    }
    target_b = buckets[repos[0]]
    expected = {r for r, b in buckets.items() if b == target_b}
    assert expected != set(repos), "10 repos over 8 buckets should not all collide"
    got = {r.repo for r in table.read(spark, buckets=[target_b]).collect()}
    assert got == expected
    # pruning happened at the manifest level: fewer files in the scan
    files_all = {f["path"] for f in table.current_files()}
    files_b = {f["path"] for f in table.current_files() if f["bucket"] == target_b}
    assert files_b < files_all


def test_merge_upsert_insert_update_delete(spark, table):
    table.append(mk(spark, [row("a/r1", "f1.py", 1), row("a/r1", "f2.py", 2)]))
    src = mk(
        spark,
        [
            row("a/r1", "f1.py", 10, content="v2"),  # update
            row("a/r1", "f3.py", 11),  # insert
            row("a/r1", "f2.py", 12),  # delete (op D below)
        ],
    ).withColumn("op", F.when(F.col("path") == "f2.py", F.lit("D")).otherwise(F.lit("U")))
    res = (
        table.merge(src)
        .on(["repo", "path"])
        .when_matched_delete("s.op = 'D'")
        .when_matched_update()
        .when_not_matched_insert("s.op <> 'D'")
        .execute(spark)
    )
    assert res["stats"] == {"deleted": 1, "updated": 1, "inserted": 1}
    got = {r.path: r for r in table.read(spark).collect()}
    assert set(got) == {"f1.py", "f3.py"}
    assert got["f1.py"].content == "v2"
    assert got["f1.py"]._seq == 10


def test_merge_delete_on_missing_key_is_noop(spark, table):
    table.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    src = mk(spark, [row("a/r1", "ghost.py", 5)]).withColumn("op", F.lit("D"))
    res = (
        table.merge(src)
        .on(["repo", "path"])
        .when_matched_delete("s.op = 'D'")
        .when_matched_update()
        .when_not_matched_insert("s.op <> 'D'")
        .execute(spark)
    )
    assert res["stats"] == {"deleted": 0, "updated": 0, "inserted": 0}
    assert table.count_rows() == 1


def _two_repos_in_different_buckets(spark, num_buckets=8):
    cands = [f"org{i}/proj{i}" for i in range(16)]
    rows = (
        spark.createDataFrame([(x,) for x in cands], "repo string")
        .select("repo", F.pmod(F.xxhash64(F.col("repo")), F.lit(num_buckets)).alias("b"))
        .collect()
    )
    r0, b0 = rows[0].repo, rows[0].b
    other = next(r for r in rows if r.b != b0)
    return (r0, b0), (other.repo, other.b)


def test_merge_untouched_buckets_carried_forward(spark, table):
    (repo_a, b_a), (repo_b, b_b) = _two_repos_in_different_buckets(spark)
    table.append(mk(spark, [row(repo_a, "f1.py", 1), row(repo_b, "g.py", 2)]))
    untouched_before = {f["path"] for f in table.current_files() if f["bucket"] == b_b}
    src = mk(spark, [row(repo_a, "f1.py", 9, content="v9")]).withColumn("op", F.lit("U"))
    res = (
        table.merge(src)
        .on(["repo", "path"])
        .when_matched_update()
        .when_not_matched_insert()
        .execute(spark)
    )
    assert res["touched_buckets"] == [b_a]
    untouched_after = {f["path"] for f in table.current_files() if f["bucket"] == b_b}
    assert untouched_before == untouched_after, "untouched bucket rewritten"
    got = {r.repo: r.content for r in table.read(spark).collect()}
    assert got[repo_a] == "v9"
    assert got[repo_b].startswith(f"content of {repo_b}")


def test_idempotent_epoch_commit(spark, table):
    src = mk(spark, [row("a/r1", "f1.py", 1)]).withColumn("op", F.lit("I"))

    def apply():
        return (
            table.merge(src)
            .on(["repo", "path"])
            .when_matched_delete("s.op = 'D'")
            .when_matched_update()
            .when_not_matched_insert("s.op <> 'D'")
            .idempotency("tail", 7)
            .execute(spark)
        )

    r1 = apply()
    assert not r1["skipped"]
    v = table.version
    r2 = apply()  # re-apply same epoch -> no-op, no new snapshot
    assert r2["skipped"]
    assert table.version == v
    assert table.count_rows() == 1
    assert table.properties["watermark.tail"] == "7"


def test_time_travel_and_history(spark, table):
    table.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    s1 = table.current_snapshot["snapshot_id"]
    table.append(mk(spark, [row("a/r1", "f2.py", 2)]))
    assert table.read(spark).count() == 2
    assert table.read(spark, snapshot_id=s1).count() == 1
    assert [h["operation"] for h in table.history()] == ["append", "append"]


def test_schema_evolution_add_widen_rename(spark, table):
    table.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    table.add_column("stars", "int")
    table.widen_column("stars", "bigint")
    table.rename_column("lang", "language")
    got = table.read(spark).collect()[0]
    assert got.stars is None
    assert got.language == "py"
    # new-schema write + old file coexist
    new_schema = table.schema()
    assert "language" in new_schema.fieldNames() and "stars" in new_schema.fieldNames()
    df2 = spark.createDataFrame(
        [("b/r2", "g.py", "c" * 40, "java", "x", 2, 5)], new_schema
    )
    table.append(df2)
    rows = {r.repo: r for r in table.read(spark).collect()}
    assert rows["b/r2"].stars == 5 and rows["a/r1"].stars is None
    assert rows["a/r1"].language == "py"


def test_illegal_widen_rejected(table):
    with pytest.raises(ValueError):
        table.widen_column("_seq", "int")  # narrowing


def test_delete_where_and_truncate(spark, table):
    table.append(mk(spark, [row("a/r1", "f1.py", 1), row("b/r2", "g.py", 2)]))
    table.delete_where(spark, "repo = 'a/r1'")
    assert [r.repo for r in table.read(spark).collect()] == ["b/r2"]
    table.truncate()
    assert table.read(spark).count() == 0 and table.count_rows() == 0


def test_compact_and_expire(spark, table):
    for i in range(3):
        table.append(mk(spark, [row("a/r1", f"f{i}.py", i + 1)]))
    n_files_before = len(table.current_files())
    table.compact(spark)
    assert len(table.current_files()) < n_files_before
    removed = table.expire_snapshots(keep_last=1)
    assert removed > 0
    assert table.read(spark).count() == 3
    # all remaining manifest files exist on disk
    for f in table.current_files():
        assert os.path.exists(os.path.join(table.location, f["path"]))


def test_merge_partial_update_retains_unset_target_columns(spark, table):
    """Delta/Iceberg set-map semantics: a partial when_matched_update
    must leave unmentioned target columns untouched (not clobber them
    with source values or NULLs)."""
    table.append(mk(spark, [row("a/r1", "f1.py", 1, content="KEEP-ME", lang="py")]))
    src = mk(spark, [row("a/r1", "f1.py", 9, content="SRC-CONTENT", lang="SRC-LANG")])
    (
        table.merge(src)
        .on(["repo", "path"])
        .when_matched_update(set={"_seq": "s._seq", "lang": "s.lang"})
        .execute(spark)
    )
    got = table.read(spark).collect()[0]
    assert got._seq == 9 and got.lang == "SRC-LANG"
    assert got.content == "KEEP-ME"  # not in the set map -> target value retained


def test_orphan_metadata_file_is_adopted_not_fatal(spark, tmp_warehouse):
    """Crash between claiming v{N+1}.metadata.json and bumping VERSION
    used to leave the table permanently unwritable (every writer's
    claim fails, refresh still sees N). The claim protocol now adopts
    the complete orphan commit and retries on top of it."""
    import json
    import shutil

    cat = LakeCatalog(tmp_warehouse)
    t = cat.create_table("t_orphan", SCHEMA, PartitionSpec.bucket(4, "repo"))
    t.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    v = t.version
    # simulate the crashed writer: a fully-written claim, VERSION not bumped
    meta_dir = os.path.join(tmp_warehouse, "t_orphan", "metadata")
    src_meta = os.path.join(meta_dir, f"v{v}.metadata.json")
    orphan = os.path.join(meta_dir, f"v{v + 1}.metadata.json")
    shutil.copyfile(src_meta, orphan)
    t.update_properties({"probe": "1"})  # must not spin/exhaust retries
    t.refresh()
    assert t.properties["probe"] == "1"
    assert t.version >= v + 2  # orphan adopted, our commit landed after it
    with open(os.path.join(meta_dir, "VERSION")) as f:
        assert int(f.read()) == t.version
    # data still readable
    assert t.read(spark).count() == 1


def test_sequence_blocks_disjoint_under_concurrency(spark, tmp_warehouse):
    """next_block is a CAS loop: concurrent reservations must never
    overlap (the old read-then-write could re-apply a stale base)."""
    from concurrent.futures import ThreadPoolExecutor

    from getl_spark.lake import LakeCatalog
    from getl_spark.sequence import SequenceGenerator

    cat = LakeCatalog(tmp_warehouse)
    cat.create_table("seqtab", SCHEMA, PartitionSpec.none())

    def reserve(i):
        # each worker loads its OWN table handle (separate metadata view)
        g = SequenceGenerator(LakeCatalog(tmp_warehouse).load_table("seqtab"))
        return [g.next_block(10) for _ in range(4)]

    with ThreadPoolExecutor(max_workers=6) as ex:
        starts = [s for block in ex.map(reserve, range(6)) for s in block]
    assert len(starts) == len(set(starts)) == 24
    # blocks are [start, start+9]: disjoint iff starts differ by >= 10
    ordered = sorted(starts)
    assert all(b - a >= 10 for a, b in zip(ordered, ordered[1:]))
    g = SequenceGenerator(LakeCatalog(tmp_warehouse).load_table("seqtab"))
    assert g.current() == 240


def test_read_incremental_appends_only_new_files(spark, table):
    s0 = table.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    s1 = table.append(mk(spark, [row("a/r1", "f2.py", 2), row("b/r2", "g.py", 3)]))
    s2 = table.append(mk(spark, [row("c/r3", "h.py", 4)]))
    inc = table.read_incremental(spark, s0["snapshot_id"], s1["snapshot_id"])
    assert sorted(r._seq for r in inc.collect()) == [2, 3]
    # open-ended: everything after s1
    tail = table.read_incremental(spark, s1["snapshot_id"])
    assert [r._seq for r in tail.collect()] == [4]
    # empty range
    assert table.read_incremental(spark, s2["snapshot_id"]).count() == 0
    # a non-append snapshot in the range is refused
    table.delete_where(spark, "_seq = 1")
    with pytest.raises(ValueError, match="non-append"):
        table.read_incremental(spark, s0["snapshot_id"])
    # but the pre-overwrite range still works
    assert table.read_incremental(spark, s0["snapshot_id"], s2["snapshot_id"]).count() == 3


def test_primary_key_default_merge_keys(spark, tmp_warehouse):
    """getl Field.isKey parity: a table's declared primary key becomes
    the default MERGE ON clause (explicit .on() still wins)."""
    from getl_spark.schema import field
    from pyspark.sql.types import StructType

    cat = LakeCatalog(tmp_warehouse)
    # via explicit arg
    t = cat.create_table("pk1", SCHEMA, PartitionSpec.bucket(4, "repo"),
                         primary_key=["repo", "path"])
    assert t.properties["primary.key"] == "repo,path"
    t.append(mk(spark, [row("a/r1", "f1.py", 1, content="old")]))
    res = (t.merge(mk(spark, [row("a/r1", "f1.py", 9, content="new")]))
           .when_matched_update().execute(spark))
    assert res["stats"]["updated"] == 1
    got = t.read(spark).collect()[0]
    assert got.content == "new" and got._seq == 9
    # via isKey field metadata
    s2 = StructType([
        field("k", "string", is_key=True),
        field("v", "string"),
    ])
    t2 = cat.create_table("pk2", s2, PartitionSpec.none())
    assert t2.properties["primary.key"] == "k"
    # no key anywhere -> explicit error
    t3 = cat.create_table("pk3", SCHEMA, PartitionSpec.none())
    with pytest.raises(ValueError, match="primary key"):
        t3.merge(mk(spark, [row("a/r1", "f1.py", 1)])).execute(spark)
    # bad key column rejected at create
    with pytest.raises(ValueError, match="not in schema"):
        cat.create_table("pk4", SCHEMA, primary_key=["nope"])


def test_multiprocess_commit_race_loses_nothing(tmp_warehouse):
    """6 OS processes x 15 appends race on one table: the link-claim
    commit protocol must serialize every commit — no lost rows, no
    duplicate versions, VERSION == latest metadata file."""
    import subprocess
    import sys

    from conftest import REPO

    cat = LakeCatalog(tmp_warehouse)
    cat.create_table("race", parse_ddl("w int, i int"), PartitionSpec.none())
    loc = os.path.join(tmp_warehouse, "race")
    worker = (
        "import sys, pandas as pd\n"
        f"sys.path.insert(0, {REPO!r})\n"
        "from getl_spark.lake.table import LakeTable\n"
        "w = int(sys.argv[1])\n"
        "t = LakeTable.load(sys.argv[2])\n"
        "for i in range(15):\n"
        "    t.refresh()\n"
        "    t.append_pandas(pd.DataFrame({'w': [w], 'i': [i]}))\n"
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", worker, str(w), loc],
            stdout=subprocess.PIPE,
            stderr=subprocess.PIPE,
        )
        for w in range(6)
    ]
    for p in procs:
        _, err = p.communicate(timeout=300)
        assert p.returncode == 0, err.decode()[-2000:]
    t = cat.load_table("race")
    assert t.count_rows() == 90
    pdf = t.read_pandas()
    assert len(pdf) == 90
    assert len(set(zip(pdf["w"], pdf["i"]))) == 90  # every append exactly once
    snap_ids = [s["snapshot_id"] for s in t.meta["snapshots"]]
    assert snap_ids == list(range(1, 91))  # strictly serialized commits
    with open(os.path.join(loc, "metadata", "VERSION")) as f:
        assert int(f.read()) == t.version


def test_widen_matrix_decimal_guard():
    from getl_spark.lake.evolution import check_widen

    check_widen("decimal(10,2)", "decimal(18,2)")
    check_widen("decimal(10,2)", "decimal(20,4)")
    check_widen("smallint", "double")
    check_widen("timestamp", "string")
    with pytest.raises(ValueError, match="decimal narrow"):
        check_widen("decimal(18,6)", "decimal(10,2)")
    with pytest.raises(ValueError, match="decimal narrow"):
        check_widen("decimal(10,2)", "decimal(12,6)")  # integer digits shrink 8->6
    with pytest.raises(ValueError, match="illegal widen"):
        check_widen("bigint", "int")


def test_drop_column_lazy_and_no_resurrection(spark, tmp_warehouse):
    """Dropping a column projects it out of old files on read; a
    re-added column of the same name must read NULL from pre-drop
    files (not resurrect old values). Partition/primary-key columns
    are protected."""
    cat = LakeCatalog(tmp_warehouse)
    t = cat.create_table("d", SCHEMA, PartitionSpec.bucket(4, "repo"),
                         primary_key=["repo", "path"])
    t.append(mk(spark, [row("a/r1", "f1.py", 1, lang="py")]))
    t.drop_column("lang")
    assert "lang" not in t.read(spark).columns
    # re-add under the same name: old files read NULL, new rows carry values
    t.add_column("lang", "string")
    df2 = spark.createDataFrame(
        [("b/r2", "g.py", "c" + "0" * 39, "new", 2, "go")],
        parse_ddl("repo string, path string, commit string, content string, _seq bigint, lang string"),
    )
    t.append(df2.select(*t.schema().fieldNames()))
    got = {r.path: r.lang for r in t.read(spark).collect()}
    assert got == {"f1.py": None, "g.py": "go"}
    with pytest.raises(ValueError, match="partition column"):
        t.drop_column("repo")
    with pytest.raises(ValueError, match="primary-key column"):
        t.drop_column("path")
    with pytest.raises(ValueError, match="does not exist"):
        t.drop_column("nope")


def test_version_regression_is_invisible_to_readers(spark, tmp_warehouse):
    """A stalled claimant's late VERSION write can roll the pointer
    back below acknowledged commits. load()/refresh() derive the live
    version from the metadata-file listing, so a regressed pointer
    never hides committed snapshots, and the next writer heals it."""
    cat = LakeCatalog(tmp_warehouse)
    t = cat.create_table("t_reg", SCHEMA, PartitionSpec.bucket(4, "repo"))
    t.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    t.append(mk(spark, [row("a/r1", "f2.py", 2)]))
    t.append(mk(spark, [row("a/r1", "f3.py", 3)]))
    live = t.version
    meta_dir = os.path.join(tmp_warehouse, "t_reg", "metadata")
    vfile = os.path.join(meta_dir, "VERSION")
    with open(vfile, "w") as f:
        f.write("1")  # the stalled writer's late rollback
    t2 = cat.load_table("t_reg")
    assert t2.version == live  # reader sees the real head, not the pointer
    assert t2.read(spark).count() == 3
    t2.update_properties({"heal": "1"})  # next writer advances past the head
    with open(vfile) as f:
        assert int(f.read()) == live + 1


def test_success_path_version_write_is_guarded(tmp_warehouse):
    """A stale writer whose link lands below the live head must have
    its claim WITHDRAWN (returns False, slot removed) — committing it
    would be invisible to readers — and VERSION must never roll back."""
    import json
    import shutil

    cat = LakeCatalog(tmp_warehouse)
    t = cat.create_table("t_guard", SCHEMA, PartitionSpec.bucket(4, "repo"))
    meta_dir = os.path.join(tmp_warehouse, "t_guard", "metadata")
    vfile = os.path.join(meta_dir, "VERSION")
    # simulate "the world moved on": v5 exists and VERSION points at it
    shutil.copyfile(
        os.path.join(meta_dir, "v0.metadata.json"),
        os.path.join(meta_dir, "v5.metadata.json"),
    )
    with open(vfile, "w") as f:
        f.write("5")
    # stale handle (version 0) links v1 below the head: withdrawn
    new_meta = json.loads(json.dumps(t.meta))
    new_meta["properties"]["stale"] = "1"
    assert t._try_commit(new_meta) is False
    assert not os.path.exists(os.path.join(meta_dir, "v1.metadata.json"))
    with open(vfile) as f:
        assert int(f.read()) == 5
    # the caller's retry loop lands the change at the head instead
    t.refresh()
    t.update_properties({"stale": "1"})
    t2 = LakeTable.load(os.path.join(tmp_warehouse, "t_guard"))
    assert t2.properties["stale"] == "1" and t2.version == 6


def test_read_incremental_empty_range_pins_snapshot_schema(spark, table):
    """Empty-result frames must carry the `to` snapshot's schema, not
    the table's current one — a consumer pinned below a schema
    evolution sees a consistent shape whether or not rows came back."""
    table.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    snap1 = table.meta["current_snapshot_id"]
    pre_cols = set(table.schema().fieldNames())
    table.add_column("stars", "int")
    empty = table.read_incremental(spark, snap1, snap1)
    assert set(empty.columns) == pre_cols  # not the evolved schema
    assert empty.count() == 0


def test_disjoint_bucket_overwrites_rebase_not_conflict(spark, table):
    """Partition-level optimistic concurrency: a stale handle
    committing an overwrite of bucket set A rebases cleanly over a
    concurrent overwrite of disjoint bucket set B (previously ANY
    file-set divergence raised)."""
    rows = [row(f"r{i}/p{i}", f"f{i}.py", i) for i in range(1, 9)]
    table.append(mk(spark, rows))
    t2 = LakeTable.load(table.location)  # independent stale handle
    buckets = sorted({f["bucket"] for f in table.current_files()})
    assert len(buckets) >= 2
    b_a, b_b = buckets[0], buckets[1]
    # handle 1 rewrites bucket b_a
    df_a = table.read(spark, buckets=[b_a]).withColumn("lang", F.lit("go"))
    table.overwrite_buckets(df_a, [b_a])
    # stale handle 2 rewrites DISJOINT bucket b_b: must rebase, not raise
    df_b = t2.read(spark, buckets=[b_b]).withColumn("lang", F.lit("rs"))
    t2.overwrite_buckets(df_b, [b_b])
    table.refresh()
    langs = {r.lang for r in table.read(spark).collect()}
    assert "go" in langs and "rs" in langs  # both rewrites survived


def test_merge_retries_on_same_bucket_conflict(spark, table):
    """A genuine same-bucket conflict re-executes the merge against
    the winner's snapshot (operation-level retry): both writers'
    changes land, seq-guarded."""
    table.append(mk(spark, [row("a/r1", "f1.py", 1), row("a/r1", "f2.py", 2)]))
    t2 = LakeTable.load(table.location)  # stale handle
    # writer 1 merges an update for f1 (rewrites a/r1's bucket)
    table.merge(mk(spark, [row("a/r1", "f1.py", 10, content="w1")])).on(
        ["repo", "path"]
    ).when_matched_update().when_not_matched_insert().execute(spark)
    # stale writer 2 merges f2 into the SAME bucket: first commit
    # conflicts, retry must re-read and keep writer 1's f1 update
    t2.merge(mk(spark, [row("a/r1", "f2.py", 11, content="w2")])).on(
        ["repo", "path"]
    ).when_matched_update().when_not_matched_insert().execute(spark)
    table.refresh()
    got = {r.path: (r._seq, r.content) for r in table.read(spark).collect()}
    assert got["f1.py"] == (10, "w1")
    assert got["f2.py"] == (11, "w2")


def test_expire_snapshots_cleans_metadata_files(spark, table):
    for i in range(1, 13):
        table.append(mk(spark, [row("a/r1", f"f{i}.py", i)]))
    meta_dir = os.path.join(table.location, "metadata")
    assert len([f for f in os.listdir(meta_dir) if f.endswith(".metadata.json")]) == 13
    table.expire_snapshots(keep_last=2, keep_metadata_versions=3)
    kept = sorted(f for f in os.listdir(meta_dir) if f.endswith(".metadata.json"))
    # only versions >= current-3 survive (plus the expire commit itself)
    assert len(kept) <= 4
    t2 = LakeTable.load(table.location)  # still loads fine
    assert t2.read(spark).count() == 12
    assert len(t2.meta["snapshots"]) == 2


def test_read_incremental_expired_snapshot_clear_error(spark, table):
    table.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    snap1 = table.meta["current_snapshot_id"]
    table.append(mk(spark, [row("a/r1", "f2.py", 2)]))
    table.append(mk(spark, [row("a/r1", "f3.py", 3)]))
    table.expire_snapshots(keep_last=1)
    with pytest.raises(ValueError, match="expired"):
        table.read_incremental(spark, snap1)


def test_remove_orphan_files(spark, table):
    """Files from dead commits (conflict losers / crashes between data
    write and commit) are deleted once past the grace period;
    referenced files and fresh in-flight files survive."""
    import time as _time

    table.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    data_dir = os.path.join(table.location, "data")
    old_orphan = os.path.join(data_dir, "snap-deadbeef-00000-b0.parquet")
    new_orphan = os.path.join(data_dir, "snap-cafebabe-00000-b1.parquet")
    for p in (old_orphan, new_orphan):
        with open(p, "wb") as f:
            f.write(b"not really parquet")
    _time.sleep(0.01)
    os.utime(old_orphan, (1, 1))  # ancient mtime
    removed = table.remove_orphan_files(older_than_seconds=3600)
    assert removed == 1
    assert not os.path.exists(old_orphan)
    assert os.path.exists(new_orphan)  # grace period protects in-flight
    assert table.read(spark).count() == 1  # referenced data untouched
    # zero grace collects the fresh orphan too
    assert table.remove_orphan_files(older_than_seconds=0) == 1


def test_stale_writer_cannot_commit_into_recycled_slot(spark, table):
    """Metadata cleanup frees old version slots; a writer stale by more
    than the cleanup buffer must NOT silently 'commit' into a freed
    slot (its write would be invisible to every reader) — it rebases
    onto the live head instead."""
    table.append(mk(spark, [row("a/r1", "f0.py", 1)]))
    stale = LakeTable.load(table.location)  # version 1
    for i in range(2, 12):
        table.update_properties({"tick": str(i)})
    table.expire_snapshots(keep_last=1, keep_metadata_versions=2)
    meta_dir = os.path.join(table.location, "metadata")
    assert not os.path.exists(os.path.join(meta_dir, "v2.metadata.json"))
    head = table.version
    stale.update_properties({"stale_write": "1"})  # would have linked v2
    t2 = LakeTable.load(table.location)
    assert t2.properties.get("stale_write") == "1", "stale commit was lost"
    assert t2.version > head


def test_expire_keep_last_zero_rejected(spark, table):
    table.append(mk(spark, [row("a/r1", "f0.py", 1)]))
    with pytest.raises(ValueError, match="keep_last"):
        table.expire_snapshots(keep_last=0)


def test_remove_orphans_cleans_crashed_staging_dirs(spark, table):
    table.append(mk(spark, [row("a/r1", "f0.py", 1)]))
    staging = os.path.join(table.location, "_staging-dead-beef")
    os.makedirs(staging)
    with open(os.path.join(staging, "part-0.parquet"), "wb") as f:
        f.write(b"x")
    os.utime(staging, (1, 1))
    assert table.remove_orphan_files(older_than_seconds=3600) == 1
    assert not os.path.exists(staging)


def test_delete_where_null_condition_keeps_rows(spark, table):
    """SQL DELETE semantics: rows where the predicate is NULL are NOT
    deleted (a bare ~cond would silently drop them)."""
    table.append(
        mk(spark, [row("a/r1", "f1.py", 1), dict(row("a/r1", "f2.py", 2), lang=None)])
    )
    table.delete_where(spark, "lang = 'go'")  # NULL for f2.py
    assert table.read(spark).count() == 2


def test_merge_null_clause_condition_does_not_drop_rows(spark, table):
    """A matched-delete condition evaluating to NULL must not delete
    the target row (nor vanish it uncounted)."""
    table.append(mk(spark, [row("a/r1", "f1.py", 1)]))
    src = mk(spark, [dict(row("a/r1", "f1.py", 2), lang=None)])
    res = (
        table.merge(src)
        .on(["repo", "path"])
        .when_matched_delete("s.lang = 'go'")  # NULL
        .when_matched_update()
        .execute(spark)
    )
    assert res["stats"]["deleted"] == 0 and res["stats"]["updated"] == 1
    assert table.read(spark).count() == 1
