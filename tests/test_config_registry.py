"""Config-file registry (getl ConfigFiles/ConfigSlurper parity):
multi-file deep merge, ${var} macro substitution, named tables
registering as views, and the script CLI running against
config-registered tables."""

import json
import os

import pytest

from getl_spark.config import ConfigRegistry


def _write(tmp_path, name, doc):
    p = tmp_path / name
    p.write_text(json.dumps(doc))
    return str(p)


class TestLoadMergeVars:
    def test_multi_file_deep_merge_later_wins(self, tmp_path):
        a = _write(tmp_path, "a.json", {
            "vars": {"region": "emea", "depth": 1},
            "tables": {"t1": {"format": "parquet", "path": "/a/t1"},
                       "t2": {"format": "parquet", "path": "/a/t2"}},
        })
        b = _write(tmp_path, "b.json", {
            "vars": {"depth": 2},
            "tables": {"t2": {"format": "parquet", "path": "/b/t2"}},
        })
        # getl's 'a.json;b.json' multi-file form
        reg = ConfigRegistry.load(f"{a};{b}")
        assert reg.vars == {"region": "emea", "depth": 2}
        assert reg.content["tables"]["t1"]["path"] == "/a/t1"
        assert reg.content["tables"]["t2"]["path"] == "/b/t2"

    def test_macro_substitution_and_ext_var_override(self, tmp_path):
        c = _write(tmp_path, "c.json", {
            "vars": {"landing": "/data/in", "n": 5},
            "tables": {"raw": {"format": "csv", "path": "${landing}/f.csv",
                               "options": {"header": True}}},
            "managers": {"zone": {"type": "sftp", "host": "h-${landing}"}},
            "limits": {"rows": "${n}"},
        })
        reg = ConfigRegistry.load(c, ext_vars={"landing": "/override"})
        assert reg.content["tables"]["raw"]["path"] == "/override/f.csv"
        assert reg.manager("zone")["host"] == "h-/override"
        # whole-string macro keeps the var's type
        assert reg.content["limits"]["rows"] == 5

    def test_undefined_macro_raises(self, tmp_path):
        c = _write(tmp_path, "c.json", {"tables": {"x": {"path": "${nope}/x"}}})
        with pytest.raises(KeyError, match="nope"):
            ConfigRegistry.load(c)

    def test_unknown_lookups_raise(self, tmp_path):
        reg = ConfigRegistry.load(_write(tmp_path, "e.json", {}))
        with pytest.raises(KeyError, match="unknown connection"):
            reg.connection("nope")
        with pytest.raises(KeyError, match="unknown manager"):
            reg.manager("nope")


class TestResolveAndRegister:
    def test_parquet_csv_lake_tables_register_as_views(self, spark, tmp_path):
        import pandas as pd

        from getl_spark.lake import LakeCatalog, PartitionSpec
        from getl_spark.schema import parse_ddl

        # parquet table
        pq = str(tmp_path / "ev")
        spark.createDataFrame([(1, "a"), (2, "b")], "id bigint, v string").write.parquet(pq)
        # csv table
        csv = tmp_path / "r.csv"
        csv.write_text("id,amt\n1,10\n2,20\n")
        # lake table through a named connection
        wh = str(tmp_path / "wh")
        cat = LakeCatalog(wh)
        t = cat.create_table("dims", parse_ddl("k bigint, name string"), PartitionSpec.none())
        t.append_pandas(pd.DataFrame([{"k": 1, "name": "one"}]), {"epoch": 0})

        cfg = _write(tmp_path, "cfg.json", {
            "vars": {"base": str(tmp_path)},
            "connections": {"wh": {"type": "lake", "warehouse": "${base}/wh"}},
            "tables": {
                "events_cfg": {"format": "parquet", "path": "${base}/ev"},
                "raw_cfg": {"format": "csv", "path": "${base}/r.csv",
                            "options": {"validate_rows": False}},
                "dims_cfg": {"connection": "wh", "table": "dims"},
            },
        })
        reg = ConfigRegistry.load(cfg)
        assert reg.register(spark) == ["dims_cfg", "events_cfg", "raw_cfg"]
        assert spark.sql("SELECT count(*) c FROM events_cfg").collect()[0]["c"] == 2
        assert spark.sql(
            "SELECT sum(amt) s FROM raw_cfg"
        ).collect()[0]["s"] == 30
        assert spark.sql(
            "SELECT name FROM dims_cfg WHERE k = 1"
        ).collect()[0]["name"] == "one"

    def test_script_cli_runs_against_config_tables(self, spark, tmp_path):
        """The operational pairing: `script --config cfg.json` joins a
        config-registered view and writes through the scripter."""
        import subprocess
        import sys

        from conftest import REPO

        pq = str(tmp_path / "sales")
        spark.createDataFrame(
            [("emea", 10), ("emea", 5), ("apac", 7)], "region string, amt int"
        ).write.parquet(pq)
        cfg = _write(tmp_path, "cfg.json", {
            "vars": {"who": "emea"},
            "tables": {"sales_cfg": {"format": "parquet", "path": pq}},
        })
        scr = tmp_path / "job.sql"
        scr.write_text(
            "ECHO region={who};\n"
            "SET SELECT CAST(sum(amt) AS BIGINT) AS total "
            "FROM sales_cfg WHERE region = '{who}';\n"
            "ECHO total={total};\n"
        )
        env = dict(os.environ, PYTHONPATH=REPO)
        out = subprocess.run(
            [sys.executable, "-m", "getl_spark", "script",
             "--file", str(scr), "--config", cfg],
            capture_output=True, text=True, env=env, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        res = json.loads(out.stdout.strip().splitlines()[-1])
        assert res["echoed"] == ["region=emea", "total=15"]

    def test_script_cli_skips_unused_unreachable_tables(self, spark, tmp_path):
        """A shared config may name JDBC sources this job cannot reach;
        registration is on-demand, so a script that never uses them
        still runs."""
        import subprocess
        import sys

        from conftest import REPO

        pq = str(tmp_path / "t")
        spark.createDataFrame([(1,)], "x int").write.parquet(pq)
        cfg = _write(tmp_path, "cfg.json", {
            "connections": {"dead": {"type": "jdbc",
                                     "url": "jdbc:derby://no.such.host:1527/nope"}},
            "tables": {
                "good_cfg": {"format": "parquet", "path": pq},
                "dead_cfg": {"connection": "dead", "table": "accounts"},
            },
        })
        scr = tmp_path / "job.sql"
        scr.write_text("SET SELECT count(*) AS n FROM good_cfg;\nECHO n={n};\n")
        env = dict(os.environ, PYTHONPATH=REPO)
        out = subprocess.run(
            [sys.executable, "-m", "getl_spark", "script",
             "--file", str(scr), "--config", cfg],
            capture_output=True, text=True, env=env, timeout=300,
        )
        assert out.returncode == 0, out.stderr[-2000:]
        assert json.loads(out.stdout.strip().splitlines()[-1])["echoed"] == ["n=1"]


class TestRepository:
    """In-session named-object repository: programmatic registration
    over file config, per-thread stateful managers, clone isolation
    (getl lang/Getl.groovy:491-551 + Dataset cloning semantics)."""

    def test_programmatic_over_file_and_spec_tables(self, spark, tmp_path):
        from getl_spark.config import Repository

        pq = str(tmp_path / "file_t")
        spark.range(3).write.parquet(pq)
        cfg = _write(tmp_path, "r.json", {
            "tables": {"t": {"format": "parquet", "path": pq}},
            "connections": {"wh": {"type": "lake", "warehouse": "/nope"}},
            "managers": {"m": {"type": "local"}},
        })
        repo = Repository(ConfigRegistry.load(cfg))
        # file-config lookups pass through
        assert repo.table(spark, "t").count() == 3
        assert repo.manager_spec("m") == {"type": "local"}
        assert repo.connection("wh")["warehouse"] == "/nope"

        # live DataFrame registration wins over the file table
        repo.register_table("t", spark.range(7).toDF("id"))
        assert repo.table(spark, "t").count() == 7

        # spec-dict registration resolves through a PROGRAMMATIC
        # connection that shadows the file one
        wh = str(tmp_path / "wh")
        from getl_spark.lake import LakeCatalog, PartitionSpec
        from getl_spark.schema import parse_ddl
        cat = LakeCatalog(wh)
        t = cat.create_table("orders", parse_ddl("id bigint"),
                             PartitionSpec.bucket(4, "id"))
        t.append(spark.range(5).toDF("id"))
        repo.register_connection("wh", {"type": "lake", "warehouse": wh})
        repo.register_table("orders", {"connection": "wh", "table": "orders"})
        assert repo.table(spark, "orders").count() == 5
        assert set(repo.table_names()) == {"t", "orders"}

        with pytest.raises(KeyError, match="unknown table"):
            Repository().table(spark, "absent")

    def test_per_thread_managers_and_close(self, tmp_path):
        import threading

        from getl_spark.config import Repository

        repo = Repository()
        repo.register_manager("land", {"type": "arrow-local", "root": str(tmp_path)})
        a1 = repo.manager_for_thread("land")
        a2 = repo.manager_for_thread("land")
        assert a1 is a2  # same thread reuses its instance

        seen = {}

        def grab():
            seen[threading.get_ident()] = repo.manager_for_thread("land")

        th = threading.Thread(target=grab)
        th.start(); th.join()
        (other,) = seen.values()
        assert other is not a1  # never a shared control connection
        repo.close_all()
        assert repo._thread_mgrs == {}

    def test_clone_isolation(self, spark):
        from getl_spark.config import Repository

        parent = Repository()
        parent.register_manager("m", {"type": "local"})
        df = spark.range(2).toDF("id")
        parent.register_table("live", df)
        child = parent.clone()
        child.register_manager("m", {"type": "arrow-local", "root": "/"})
        child.register_table("extra", {"format": "parquet", "path": "/x"})
        # child mutations never leak into the parent
        assert parent.manager_spec("m") == {"type": "local"}
        assert "extra" not in parent.table_names()
        # live DataFrames are SHARED (thread-safe), not copied
        assert child.table(spark, "live") is df

    def test_register_views_over_programmatic_tables(self, spark, tmp_path):
        from getl_spark.config import Repository

        pq = str(tmp_path / "t")
        spark.range(4).write.parquet(pq)
        repo = Repository(ConfigRegistry({"tables": {"filet": {"format": "parquet", "path": pq}}}))
        repo.register_table("livet", spark.range(6).toDF("id"))
        views = repo.register(spark)
        assert sorted(views) == ["filet", "livet"]
        assert spark.sql("SELECT count(*) n FROM livet").collect()[0]["n"] == 6
        assert spark.sql("SELECT count(*) n FROM filet").collect()[0]["n"] == 4
