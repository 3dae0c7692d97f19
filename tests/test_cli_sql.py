"""spark-submit CLI entry (python -m getl_spark) and the spark.sql
view surface over lake tables."""

import json
import os
import subprocess
import sys

import pytest
from conftest import REPO

from getl_spark.events import generate_change_events
from getl_spark.lake import LakeCatalog
from getl_spark.pipeline import CDCPipeline


def test_register_views_sql_surface(spark, tmp_warehouse):
    ev = generate_change_events(spark, 1000, n_keys=100, n_repos=4, seed=51)
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    pipe.replay(ev, 1000)
    cat = LakeCatalog(tmp_warehouse)
    views = cat.register_views(spark)
    assert {"target", "checkpoints", "lineage"} <= set(views)
    n = spark.sql("SELECT count(*) AS n FROM target WHERE NOT _deleted").collect()[0]["n"]
    assert n == pipe.state().count()
    joined = spark.sql(
        """SELECT l.epoch, sum(l.event_count) AS n, max(c.max_seq) AS wm
           FROM lineage l JOIN checkpoints c USING (epoch)
           GROUP BY l.epoch ORDER BY l.epoch"""
    ).collect()
    assert joined[0]["n"] == 1000 and joined[0]["wm"] == 1000


def _run_cli(args, env_extra=None):
    env = dict(os.environ)
    env["PYTHONPATH"] = REPO
    env["SPARK_GRAFT_CPUS"] = "4"
    env.update(env_extra or {})
    out = subprocess.run(
        [sys.executable, "-m", "getl_spark", *args],
        capture_output=True,
        text=True,
        env=env,
        cwd=REPO,
        timeout=600,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_cli_generate_tail_state(tmp_path):
    log = str(tmp_path / "log")
    wh = str(tmp_path / "wh")
    g = _run_cli(["generate", "--out", log, "--events", "5000", "--seed", "3"])
    assert g["generated"] == 5000
    t = _run_cli(
        ["tail", "--events", log, "--warehouse", wh, "--epoch-size", "2500", "--num-buckets", "8"]
    )
    assert t["epochs"] == 2 and t["events"] == 5000 and t["rows"] > 0
    # resume: nothing to do
    t2 = _run_cli(
        ["tail", "--events", log, "--warehouse", wh, "--epoch-size", "2500", "--num-buckets", "8"]
    )
    assert t2["epochs"] == 0


def test_cli_compact_and_purge_preserve_state(spark, tmp_warehouse, capsys):
    """CLI maintenance knob: compact + tombstone purge must preserve
    the resolved live state exactly (MOR table)."""
    import pandas as pd

    from getl_spark.__main__ import main

    ev = generate_change_events(spark, 2000, n_keys=150, n_repos=4, seed=9)
    pipe = CDCPipeline(spark, tmp_warehouse, num_buckets=8, merge_mode="mor")
    pipe.replay(ev, 500)
    before = pipe.state().orderBy("repo", "path").toPandas().reset_index(drop=True)
    raw_before = pipe.target.count_rows()

    rc = main(["compact", "--warehouse", tmp_warehouse, "--purge-tombstones-below", str(10**9)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["mode"] == "mor"
    assert out["rows_after"] <= raw_before

    pipe2 = CDCPipeline(spark, tmp_warehouse, num_buckets=8)
    after = pipe2.state().orderBy("repo", "path").toPandas().reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)
    assert pipe2.state(include_tombstones=True).filter("_deleted").count() == 0


def test_cli_copyfiles_with_story(tmp_path):
    src = tmp_path / "src"
    for r in ("a", "b"):
        (src / r).mkdir(parents=True)
        (src / r / "f.csv").write_text("x\n")
    dest = str(tmp_path / "dest")
    story = str(tmp_path / "story")
    args = [
        "copyfiles", "--source", str(src), "--mask", "{r}/f.csv",
        "--dest", dest, "--story", story,
    ]
    out1 = _run_cli(args)
    assert out1["files"] == 2 and out1["copies"] == 2 and out1["failed"] == 0
    assert os.path.exists(os.path.join(dest, "a", "f.csv"))
    # second run: story makes it exactly-once
    out2 = _run_cli(args)
    assert out2["copies"] == 0 and out2["failed"] == 0


def test_cli_tail_from_config_names(tmp_path):
    """VERDICT r5 #7: one ConfigRegistry, all entry points — tail run
    as a subprocess with --warehouse and --events both NAMES from a
    config file (lake connection + table), ${var} substitution
    included; state resolves through the same config."""
    log = str(tmp_path / "log")
    wh = str(tmp_path / "wh")
    _run_cli(["generate", "--out", log, "--events", "3000", "--seed", "7"])
    cfg = tmp_path / "job.json"
    cfg.write_text(
        json.dumps(
            {
                "vars": {"base": str(tmp_path)},
                "connections": {"wh": {"type": "lake", "warehouse": "${base}/wh"}},
                "tables": {"events": {"format": "parquet", "path": "${base}/log"}},
            }
        )
    )
    t = _run_cli(
        ["tail", "--events", "events", "--warehouse", "wh",
         "--epoch-size", "1500", "--num-buckets", "8", "--config", str(cfg)]
    )
    assert t["epochs"] == 2 and t["events"] == 3000 and t["rows"] > 0
    assert os.path.isdir(wh)

    env = dict(os.environ, PYTHONPATH=REPO, SPARK_GRAFT_CPUS="4")
    proc = subprocess.run(
        [sys.executable, "-m", "getl_spark", "state", "--warehouse", "wh",
         "--config", str(cfg)],
        capture_output=True, text=True, env=env, cwd=REPO, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    st = json.loads(proc.stdout[proc.stdout.index("{"):])
    assert st["target"]["rows"] > 0


def test_cli_dedup_and_compact_from_config_names(spark, tmp_path, capsys):
    """dedup --docs as a config table name, --warehouse as a lake
    connection name; compact through the same config. In-process to
    keep the suite fast (the subprocess round-trip is pinned above)."""
    from getl_spark.__main__ import main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zetas"),
         (3, "unrelated content entirely different words here")],
        "doc_id bigint, text string",
    ).write.parquet(docs)
    cfg = tmp_path / "job.json"
    cfg.write_text(
        json.dumps(
            {
                "connections": {
                    "dedup_wh": {"type": "lake", "warehouse": str(tmp_path / "ddwh")},
                    "cdc_wh": {"type": "lake", "warehouse": str(tmp_path / "wh")},
                },
                "tables": {"new_docs": {"format": "parquet", "path": docs}},
            }
        )
    )
    rc = main(
        ["dedup", "--warehouse", "dedup_wh", "--docs", "new_docs",
         "--num-hashes", "32", "--bands", "16", "--threshold", "0.35",
         "--config", str(cfg)]
    )
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["batch_rows"] == 3 and out["kept"] == 2 and out["dropped"] == 1

    # a non-lake or unknown name fails loudly, not silently-as-a-path
    ev = generate_change_events(spark, 500, n_keys=50, n_repos=2, seed=11)
    CDCPipeline(spark, str(tmp_path / "wh"), num_buckets=8).replay(ev, 500)
    rc = main(["compact", "--warehouse", "cdc_wh", "--config", str(cfg)])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["rows_before"] > 0


def test_cli_dedup_maintenance_only(spark, tmp_path, capsys):
    """dedup without --docs runs maintenance against the store's OWN
    stored config (DedupStore.open): prune + compact + expire in one
    call; a follow-up ingest with explicit (matching) params still
    dedups against the maintained index."""
    from getl_spark.__main__ import main

    docs = str(tmp_path / "docs")
    spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon zetas"),
         (3, "unrelated content entirely different words here")],
        "doc_id bigint, text string",
    ).write.parquet(docs)
    wh = str(tmp_path / "ddwh")
    base = ["dedup", "--warehouse", wh, "--num-hashes", "32",
            "--bands", "16", "--threshold", "0.35"]
    rc = main([*base, "--docs", docs])
    assert rc == 0
    capsys.readouterr()

    rc = main(["dedup", "--warehouse", wh, "--compact",
               "--expire-keep-last", "8", "--prune-dropped-below", "100"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "batch_rows" not in out
    assert out["pruned"]["pruned_docs"] == 1  # doc 2 ~ doc 1
    assert out["compacted"]["index"]["files_after"] <= out["compacted"]["index"]["files_before"]
    assert out["corpus_size"] == 2  # 3 ingested - 1 pruned

    # maintained store still dedups new near-dups of KEPT content
    docs2 = str(tmp_path / "docs2")
    spark.createDataFrame(
        [(10, "unrelated content entirely different words there")],
        "doc_id bigint, text string",
    ).write.parquet(docs2)
    rc = main([*base, "--docs", docs2])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["batch_rows"] == 1 and out["kept"] == 0 and out["dropped"] == 1


def test_cli_dedup_requires_docs_or_maintenance(tmp_path):
    from getl_spark.__main__ import main

    with pytest.raises(SystemExit):
        main(["dedup", "--warehouse", str(tmp_path / "x")])


def test_cli_embdedup_ingest_and_maintenance(spark, tmp_path, capsys):
    """embdedup: first ingest sets the config; the second batch and the
    maintenance run reopen under the stored config (no --dim repeat)."""
    from pyspark.sql import functions as F

    from conftest import SF_DIR

    from getl_spark.__main__ import main

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").withColumn(
        "embedding", F.transform("embedding", lambda x: x.cast("double"))
    )
    v1, v2 = str(tmp_path / "v1"), str(tmp_path / "v2")
    emb.filter("vec_id <= 150").write.parquet(v1)
    emb.filter("vec_id <= 150").write.parquet(v2)  # full replay batch
    wh = str(tmp_path / "ewh")

    rc = main(["embdedup", "--warehouse", wh, "--vectors", v1,
               "--dim", "64", "--threshold", "0.3", "--n-bits", "6"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["batch_rows"] == out["corpus_size"] > 0
    n1 = out["corpus_size"]

    # replayed batch, reopened WITHOUT --dim: story no-op, corpus flat
    rc = main(["embdedup", "--warehouse", wh, "--vectors", v2,
               "--allow-unordered"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["kept"] == 0 and out["corpus_size"] == n1
    # the replay's kept=0 is the story no-op contract, not 150 dropped
    # dups — the CLI labels it so the output is self-explanatory
    assert out["story_path"] in ("anti-join", "watermark-replay-noop")

    rc = main(["embdedup", "--warehouse", wh, "--compact",
               "--expire-keep-last", "8"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "compacted" in out and out["corpus_size"] == n1

    # retention: reclaim dropped vecs' state, verdicts kept (parity
    # with the text store's --prune-dropped-below)
    rc = main(["embdedup", "--warehouse", wh, "--prune-dropped-below", "151"])
    assert rc == 0
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert "pruned" in out
    assert out["corpus_size"] == n1 - out["pruned"]["pruned_vecs"]
