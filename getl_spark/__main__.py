"""spark-submit entry point.

Cluster deployment (the north-rule run mode):

    zip -r getl_spark.zip getl_spark
    spark-submit --py-files getl_spark.zip -m getl_spark -- \
        tail --events s3://bucket/event_log --warehouse s3://bucket/wh \
        --epoch-size 10000000 --num-buckets 4096 --write-salt 4

or locally:  python -m getl_spark tail --events ... --warehouse ...

Subcommands:
  tail      batch-incremental replay (resumes from _checkpoints)
  stream    Structured Streaming tailer (resumes from Spark checkpoint)
  generate  synthesize a change-event log
  state     print the target table's live row count + snapshot history
  compact   MOR delta folding, tombstone purge, snapshot expiry, orphans
  script    run a getl SQL script against lake tables / config views
  copyfiles operational file copy/move with story exactly-once
  dedup     incremental text near-dedup (MinHash store) + maintenance
  embdedup  incremental embedding near-dedup (LSH store) + maintenance

Every warehouse-facing subcommand accepts --config; --warehouse may
then be a lake connection NAME and --events/--docs/--vectors a table
NAME from the config files (one ConfigRegistry, all entry points).
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def _manager_arg(value, config_paths):
    """--src-manager/--dest-manager: inline JSON spec, or a manager
    NAME resolved from --config's managers section."""
    if not value:
        return None
    if value.lstrip().startswith("{"):
        return json.loads(value)
    from getl_spark.config import ConfigRegistry

    if not config_paths:
        raise SystemExit(
            f"manager {value!r} is a name, but no --config was given"
        )
    return ConfigRegistry.load(*config_paths).manager(value)


def _registry(config_paths):
    """One ConfigRegistry for every entry point (getl's config-driven
    registration in lang/Getl.groovy): ``script`` and ``copyfiles``
    already resolve names through it; ``tail``/``stream``/``compact``/
    ``dedup``/``state`` share the same files via these helpers."""
    if not config_paths:
        return None
    from getl_spark.config import ConfigRegistry

    return ConfigRegistry.load(*config_paths)


def _resolve_warehouse(value, reg):
    """--warehouse may be a filesystem path or, with --config, the
    NAME of a ``{"type": "lake", "warehouse": ...}`` connection."""
    if reg is not None and value in (reg.content.get("connections") or {}):
        conn = reg.connection(value)
        if conn.get("type") != "lake" or not conn.get("warehouse"):
            raise SystemExit(
                f"connection {value!r} is not a lake connection with a "
                "warehouse path"
            )
        return conn["warehouse"]
    return value


def _resolve_input(spark, value, reg, reader):
    """--events/--docs may be a path (handed to ``reader``) or, with
    --config, a table NAME from the config's tables section."""
    if reg is not None and value in reg.table_names():
        return reg.table(spark, value)
    return reader(value)


def _surface_batch_stats(out, store):
    """Label a dedup-CLI ingest with the store's story path: a
    committed-batch replay returns kept=0 by the story no-op contract
    (the original verdicts stay recoverable via rejected_of), which
    would otherwise read as 'everything was a duplicate'."""
    stats = store.last_batch_stats or {}
    if "story_path" in stats:
        out["story_path"] = stats["story_path"]
    if stats.get("healed_tails"):
        out["healed_tails"] = stats["healed_tails"]


def _open_text_store(warehouse):
    """The text dedup store at ``warehouse``: reopened under its OWN
    stored config, or created with library defaults."""
    from getl_spark.dedupstore import DedupStore

    try:
        return DedupStore.open(warehouse)
    except ValueError:
        return DedupStore(warehouse)


def _maintenance_requested(args) -> bool:
    return bool(
        args.compact
        or args.expire_keep_last is not None
        or args.prune_dropped_below is not None
        or args.remove_orphans_older_than is not None
    )


def _ingest_batch(spark, store, args, reg, path, **cols) -> dict:
    """``dedup``/``embdedup`` ingest: one add_batch over the input at
    ``path``, kept rows written to --out when given."""
    batch = _resolve_input(spark, path, reg, lambda p: spark.read.parquet(p))
    n_in = batch.count()
    kept = store.add_batch(
        spark, batch, require_monotonic=not args.allow_unordered, **cols
    )
    if args.out:
        kept.write.mode("overwrite").parquet(args.out)
        # explicit schema: an all-dropped batch writes zero part
        # files and a bare read cannot infer one
        n_kept = spark.read.schema(kept.schema).parquet(args.out).count()
    else:
        n_kept = kept.count()
    out = {"batch_rows": n_in, "kept": n_kept, "dropped": n_in - n_kept}
    _surface_batch_stats(out, store)
    return out


def _finish_store_run(spark, store, args, out, t0) -> None:
    """Maintenance tail shared by ``dedup`` and ``embdedup``: prune
    BEFORE compaction so the rewrite also folds files, then expire and
    sweep orphans; print the result line."""
    if args.prune_dropped_below is not None:
        out["pruned"] = store.prune_dropped(spark, args.prune_dropped_below)
    if args.compact:
        out["compacted"] = store.compact(spark)
    if args.expire_keep_last is not None:
        out["expired"] = store.expire(args.expire_keep_last)
    if args.remove_orphans_older_than is not None:
        out["orphans_removed"] = store.remove_orphans(args.remove_orphans_older_than)
    out.update(corpus_size=store.corpus_size(), sec=round(time.monotonic() - t0, 1))
    print(json.dumps(out))


def main(argv=None):
    p = argparse.ArgumentParser(prog="getl_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    config_help = (
        "JSON config file(s) FILE[;FILE...] (repeatable, deep-merged); "
        "--warehouse may then be a lake connection NAME and "
        "--events/--docs a table NAME from the config"
    )

    tail = sub.add_parser("tail")
    tail.add_argument("--events", required=True)
    tail.add_argument("--warehouse", required=True)
    tail.add_argument("--epoch-size", type=int, default=1_000_000)
    tail.add_argument("--num-buckets", type=int, default=32)
    tail.add_argument("--write-salt", type=int, default=1)
    tail.add_argument("--pipeline", default="tail")
    tail.add_argument(
        "--dedup-store", default=None, metavar="WAREHOUSE",
        help="run content near-dedup as a pre-merge stage against the "
        "DedupStore at this warehouse (created with library defaults "
        "if absent; an existing store reopens under its own stored "
        "config); may be a lake connection name with --config",
    )
    tail.add_argument(
        "--embdedup-store", default=None, metavar="WAREHOUSE",
        help="run EMBEDDING near-dedup as the pre-merge stage against "
        "the EmbDedupStore at this warehouse (events must carry an "
        "'embedding' array column); mutually exclusive with "
        "--dedup-store",
    )
    tail.add_argument(
        "--embdedup-dim", type=int, default=None,
        help="vector dimension — required when --embdedup-store "
        "creates a NEW store (an existing store reopens under its "
        "own stored config)",
    )
    tail.add_argument("--config", action="append", default=[], help=config_help)

    stream = sub.add_parser("stream")
    stream.add_argument("--events", required=True)
    stream.add_argument("--warehouse", required=True)
    stream.add_argument("--checkpoint", required=True)
    stream.add_argument("--num-buckets", type=int, default=32)
    stream.add_argument("--max-files-per-trigger", type=int, default=None)
    stream.add_argument(
        "--dedup-store", default=None, metavar="WAREHOUSE",
        help="pre-merge content near-dedup store (same semantics as "
        "tail --dedup-store)",
    )
    stream.add_argument("--config", action="append", default=[], help=config_help)

    gen = sub.add_parser("generate")
    gen.add_argument("--out", required=True)
    gen.add_argument("--events", type=int, default=1_000_000)
    gen.add_argument("--seed", type=int, default=42)

    state = sub.add_parser("state")
    state.add_argument("--warehouse", required=True)
    state.add_argument("--config", action="append", default=[], help=config_help)

    script = sub.add_parser(
        "script",
        help="run a getl SQL script (SET/ECHO/FOR/IF/LOAD_POINT/"
        "SAVE_POINT mini-language) with lake tables as views",
    )
    script.add_argument("--file", required=True)
    script.add_argument("--warehouse", default=None)
    script.add_argument(
        "--var", action="append", default=[], metavar="NAME=VALUE",
        help="external variable (repeatable)",
    )
    script.add_argument(
        "--config", action="append", default=[], metavar="FILE[;FILE...]",
        help="JSON config file(s) naming vars/connections/tables "
        "(getl ConfigFiles); tables register as views, config vars "
        "merge under --var",
    )

    cpf = sub.add_parser(
        "copyfiles",
        help="operational file copy/move (getl FileCopier): mask-matched "
        "files to one or more destinations, rename/dest templates, "
        "segmented sharding, retries, story-based exactly-once",
    )
    cpf.add_argument("--source", required=True, help="source base directory")
    cpf.add_argument("--mask", required=True, help="file mask, e.g. '{region}/{date}/*.csv'")
    cpf.add_argument("--dest", action="append", required=True, help="destination dir (repeatable)")
    cpf.add_argument("--dest-path-mask", default=None)
    cpf.add_argument("--rename-mask", default=None)
    cpf.add_argument("--segmented-by", default=None, help="comma-separated mask vars")
    cpf.add_argument("--move", action="store_true", help="delete source after all dests succeed")
    cpf.add_argument("--attempts", type=int, default=3)
    cpf.add_argument(
        "--story", default=None,
        help="parquet dir of previous runs' results; copied files are "
        "skipped and this run's successes are appended",
    )
    cpf.add_argument(
        "--src-manager", default=None,
        help='source filesystem manager spec as JSON, e.g. '
        '\'{"type": "sftp", "host": "landing.example", "user": "etl"}\' '
        "(default: local)",
    )
    cpf.add_argument(
        "--dest-manager", default=None,
        help="destination filesystem manager spec as JSON (default: local)",
    )
    cpf.add_argument(
        "--config", action="append", default=[], metavar="FILE[;FILE...]",
        help="JSON config file(s); --src-manager/--dest-manager may then "
        "be a NAME from the config's managers section",
    )

    dd = sub.add_parser(
        "dedup",
        help="incremental near-dedup: band new docs against the standing "
        "MinHash index in the warehouse, append them, emit the kept docs",
    )
    dd.add_argument("--warehouse", required=True)
    dd.add_argument(
        "--docs", default=None,
        help="parquet dir/file of the new batch (omit for a "
        "maintenance-only run with the flags below)",
    )
    dd.add_argument("--id-col", default="doc_id")
    dd.add_argument("--text-col", default="text")
    dd.add_argument("--num-hashes", type=int, default=64)
    dd.add_argument("--bands", type=int, default=16)
    dd.add_argument("--threshold", type=float, default=0.7)
    dd.add_argument("--max-bucket", type=int, default=None)
    dd.add_argument("--out", default=None, help="write kept docs to this parquet dir")
    dd.add_argument(
        "--winnow", action="store_true",
        help="also maintain the winnow (MOSS) fingerprint index — catches "
        "shared boilerplate spans that global-Jaccard banding misses",
    )
    dd.add_argument(
        "--allow-unordered", action="store_true",
        help="skip the monotonic-id guard (batch==incremental equality "
        "is only guaranteed with ingest-ordered ids)",
    )
    dd.add_argument(
        "--compact", action="store_true",
        help="fold small files across the store's tables (one file per "
        "touched bucket accumulates per batch)",
    )
    dd.add_argument(
        "--expire-keep-last", type=int, default=None, metavar="N",
        help="bound snapshot metadata to the last N snapshots per table "
        "(keep at least your deepest crash-replay window)",
    )
    dd.add_argument(
        "--prune-dropped-below", type=int, default=None, metavar="DOC_ID",
        help="reclaim band rows/texts/fingerprints of docs DROPPED with "
        "id < DOC_ID (verdict rows are kept; see DedupStore.prune_dropped "
        "for the documented equality trade)",
    )
    dd.add_argument(
        "--remove-orphans-older-than", type=float, default=None,
        metavar="SECONDS",
        help="delete data files referenced by no snapshot and older than "
        "this (crashed add_batch leftovers)",
    )
    dd.add_argument("--config", action="append", default=[], help=config_help)

    edd = sub.add_parser(
        "embdedup",
        help="incremental EMBEDDING near-dedup: LSH-bucket new vectors "
        "against the standing index in the warehouse, exact-cosine "
        "verify, append, emit kept rows",
    )
    edd.add_argument("--warehouse", required=True)
    edd.add_argument(
        "--vectors", default=None,
        help="parquet dir/file of the new batch (omit for a "
        "maintenance-only run)",
    )
    edd.add_argument("--id-col", default="vec_id")
    edd.add_argument("--vec-col", default="embedding")
    edd.add_argument("--dim", type=int, default=None,
                     help="embedding dimension (required on first ingest)")
    edd.add_argument("--threshold", type=float, default=0.95)
    edd.add_argument("--n-bits", type=int, default=12)
    edd.add_argument("--n-tables", type=int, default=4)
    edd.add_argument("--seed", type=int, default=99)
    edd.add_argument("--max-bucket", type=int, default=1000)
    edd.add_argument("--out", default=None, help="write kept rows to this parquet dir")
    edd.add_argument("--allow-unordered", action="store_true")
    edd.add_argument("--compact", action="store_true")
    edd.add_argument("--expire-keep-last", type=int, default=None, metavar="N")
    edd.add_argument(
        "--prune-dropped-below", type=int, default=None, metavar="VEC_ID",
        help="retention: reclaim bucket rows + vectors of DROPPED vecs with "
        "id < VEC_ID (verdict rows are kept; see EmbDedupStore.prune_dropped "
        "for the documented one-sided equality trade)",
    )
    edd.add_argument("--remove-orphans-older-than", type=float, default=None,
                     metavar="SECONDS")
    edd.add_argument("--config", action="append", default=[], help=config_help)

    comp = sub.add_parser(
        "compact",
        help="MOR maintenance: fold deltas to one row per key; optionally "
        "purge tombstones below a seq horizon (purge compacts first in MOR "
        "mode — required so stale delta rows can't resurrect deleted keys)",
    )
    comp.add_argument("--warehouse", required=True)
    comp.add_argument("--pipeline", default="tail")
    comp.add_argument(
        "--purge-tombstones-below",
        type=int,
        default=None,
        metavar="SEQ",
        help="also physically drop tombstones with _seq below this horizon",
    )
    comp.add_argument(
        "--remove-orphans-older-than",
        type=float,
        default=None,
        metavar="SECONDS",
        help="also delete unreferenced data files older than this many seconds",
    )
    comp.add_argument(
        "--expire-keep-last",
        type=int,
        default=None,
        metavar="N",
        help="also expire all but the last N snapshots (bounds metadata)",
    )
    comp.add_argument("--config", action="append", default=[], help=config_help)

    args = p.parse_args(argv)

    # On a cluster, spark-submit provides the session; standalone we build one.
    from pyspark.sql import SparkSession

    existing = SparkSession.getActiveSession()
    if existing is not None:
        spark = existing
    else:
        from getl_spark.session import get_spark

        spark = get_spark("getl-spark-cli")

    if args.cmd == "generate":
        from getl_spark.events import generate_change_events, write_event_log

        t0 = time.monotonic()
        ev = generate_change_events(spark, args.events, seed=args.seed)
        write_event_log(ev, args.out)
        print(json.dumps({"generated": args.events, "sec": round(time.monotonic() - t0, 1)}))
    elif args.cmd == "tail":
        from getl_spark.events import read_event_log
        from getl_spark.pipeline import CDCPipeline

        reg = _registry(args.config)
        store = None
        if args.dedup_store and args.embdedup_store:
            p.error("--dedup-store and --embdedup-store are mutually exclusive")
        if args.dedup_store:
            store = _open_text_store(_resolve_warehouse(args.dedup_store, reg))
        elif args.embdedup_store:
            from getl_spark.dedupstore import EmbDedupStore

            swh = _resolve_warehouse(args.embdedup_store, reg)
            try:
                store = EmbDedupStore.open(swh)
                # an existing store reopens under its STORED config —
                # fail loudly if an explicit --embdedup-dim contradicts
                # it (the embdedup subcommand raises the same way)
                if (
                    args.embdedup_dim
                    and int(store.cfg["dim"]) != args.embdedup_dim
                ):
                    p.error(
                        f"--embdedup-dim {args.embdedup_dim} does not match "
                        f"the existing store's dim "
                        f"{int(store.cfg['dim'])} at {swh}"
                    )
            except ValueError:
                if not args.embdedup_dim:
                    p.error(
                        "--embdedup-dim is required when --embdedup-store "
                        "creates a new store"
                    )
                store = EmbDedupStore(swh, dim=args.embdedup_dim)
        pipe = CDCPipeline(
            spark,
            _resolve_warehouse(args.warehouse, reg),
            name=args.pipeline,
            num_buckets=args.num_buckets,
            write_salt=args.write_salt,
            dedup_store=store,
        )
        ev = _resolve_input(
            spark, args.events, reg, lambda path: read_event_log(spark, path)
        )
        t0 = time.monotonic()
        results = pipe.replay(ev, args.epoch_size)
        sec = time.monotonic() - t0
        n = sum(r.events for r in results)
        out = {
            "epochs": len(results),
            "events": n,
            "sec": round(sec, 1),
            "events_per_sec": round(n / sec, 1) if sec > 0 else 0,
            "rows": pipe.target.count_rows(),
        }
        if store is not None:
            out["dedup_corpus"] = store.corpus_size()
            out["dedup_rejects"] = store.rejects.count_rows()
        print(json.dumps(out))
    elif args.cmd == "stream":
        from getl_spark.streaming import StreamingTailer

        reg = _registry(args.config)
        events = args.events
        if reg is not None and events in reg.table_names():
            # readStream needs a directory, not a DataFrame — only
            # path-backed config tables can feed the streaming tailer
            spec = reg.content["tables"][events]
            if not spec.get("path"):
                raise SystemExit(
                    f"table {events!r} has no 'path' — stream requires a "
                    "path-backed table"
                )
            events = spec["path"]
        store = None
        if args.dedup_store:
            store = _open_text_store(_resolve_warehouse(args.dedup_store, reg))
        t = StreamingTailer(
            spark,
            _resolve_warehouse(args.warehouse, reg),
            args.checkpoint,
            num_buckets=args.num_buckets,
            max_files_per_trigger=args.max_files_per_trigger,
            dedup_store=store,
        )
        n = t.run_available_now(events)
        out = {"batches": n, "rows": t.pipeline.target.count_rows()}
        if store is not None:
            out["dedup_corpus"] = store.corpus_size()
            out["dedup_rejects"] = store.rejects.count_rows()
        print(json.dumps(out))
    elif args.cmd == "compact":
        from getl_spark.pipeline import CDCPipeline

        pipe = CDCPipeline(
            spark,
            _resolve_warehouse(args.warehouse, _registry(args.config)),
            name=args.pipeline,
        )
        t0 = time.monotonic()
        before = pipe.target.count_rows()
        purged = None
        if args.purge_tombstones_below is not None:
            # MOR purge compacts internally — an explicit compact()
            # first would be a second full-table rewrite. CoW purge is
            # a bucket-pruned delete, so CoW still compacts explicitly.
            if pipe.merge_mode != "mor":
                pipe.compact()
            pipe.purge_tombstones(args.purge_tombstones_below)
            purged = args.purge_tombstones_below
        else:
            pipe.compact()
        expired = orphans = None
        if args.expire_keep_last is not None:
            expired = pipe.target.expire_snapshots(args.expire_keep_last)
        if args.remove_orphans_older_than is not None:
            orphans = pipe.target.remove_orphan_files(args.remove_orphans_older_than)
        pipe.target.refresh()
        print(
            json.dumps(
                {
                    "mode": pipe.merge_mode,
                    "rows_before": before,
                    "rows_after": pipe.target.count_rows(),
                    "purged_below_seq": purged,
                    "expired_files": expired,
                    "orphans_removed": orphans,
                    "sec": round(time.monotonic() - t0, 1),
                }
            )
        )
    elif args.cmd == "script":
        from getl_spark.scripter import SQLScripter

        cat = None
        if args.warehouse:
            from getl_spark.lake import LakeCatalog

            cat = LakeCatalog(args.warehouse)
            cat.register_views(spark)
        bad = [v for v in args.var if "=" not in v]
        if bad:
            p.error(f"--var expects NAME=VALUE, got: {', '.join(bad)}")
        ext = dict(v.split("=", 1) for v in args.var)
        if args.config:
            import re as _re

            from getl_spark.config import ConfigRegistry

            reg = ConfigRegistry.load(*args.config, ext_vars=ext)
            # on-demand registration: only tables the script actually
            # names get materialized — a shared config can list JDBC
            # sources this job can't reach, and building their
            # DataFrames would connect eagerly (schema fetch)
            script_text = open(args.file).read()
            used = [
                n for n in reg.table_names()
                if _re.search(rf"\b{_re.escape(n)}\b", script_text)
            ]
            reg.register(spark, used)
            # config vars are visible to the script; explicit --var wins
            ext = {**{k: str(v) for k, v in reg.vars.items()}, **ext}
        sc = SQLScripter(spark, ext_vars=ext, catalog=cat)
        sc.load_file(args.file)
        sc.run()
        print(json.dumps({"row_count": sc.row_count, "echoed": sc.echoed}))
    elif args.cmd == "dedup":
        from getl_spark.dedupstore import DedupStore

        reg = _registry(args.config)
        wh = _resolve_warehouse(args.warehouse, reg)
        if args.docs is None and not _maintenance_requested(args):
            p.error("dedup: --docs is required unless running maintenance "
                    "(--compact/--expire-keep-last/--prune-dropped-below)")
        t0 = time.monotonic()
        if args.docs is None:
            # maintenance-only: reopen under the store's OWN stored
            # config so a wrong CLI default can't fail the cfg check
            store = DedupStore.open(wh)
        else:
            store = DedupStore(
                wh,
                num_hashes=args.num_hashes,
                bands=args.bands,
                threshold=args.threshold,
                max_bucket=args.max_bucket,
                winnow={"k": 8, "w": 4, "min_shared": 2} if args.winnow else None,
            )
        out: dict = {}
        if args.docs is not None:
            out = _ingest_batch(
                spark, store, args, reg, args.docs,
                text_col=args.text_col, id_col=args.id_col,
            )
        _finish_store_run(spark, store, args, out, t0)
    elif args.cmd == "embdedup":
        from getl_spark.dedupstore import EmbDedupStore

        reg = _registry(args.config)
        wh = _resolve_warehouse(args.warehouse, reg)
        if args.vectors is None and not _maintenance_requested(args):
            p.error("embdedup: --vectors is required unless running "
                    "maintenance (--compact/--expire-keep-last/"
                    "--prune-dropped-below/--remove-orphans-older-than)")
        t0 = time.monotonic()
        if args.vectors is None:
            store = EmbDedupStore.open(wh)
        elif args.dim is None:
            # reopen-for-ingest without repeating the config
            store = EmbDedupStore.open(wh)
        else:
            store = EmbDedupStore(
                wh, dim=args.dim, threshold=args.threshold,
                n_bits=args.n_bits, n_tables=args.n_tables,
                seed=args.seed, max_bucket=args.max_bucket,
            )
        out = {}
        if args.vectors is not None:
            out = _ingest_batch(
                spark, store, args, reg, args.vectors,
                id_col=args.id_col, vec_col=args.vec_col,
            )
        _finish_store_run(spark, store, args, out, t0)
    elif args.cmd == "copyfiles":
        import os as _os

        from pyspark.sql import functions as F

        from getl_spark.filecopy import copy_files

        story_df = None
        if args.story and _os.path.isdir(args.story) and _os.listdir(args.story):
            story_df = spark.read.parquet(args.story)
        t0 = time.monotonic()
        res = copy_files(
            spark,
            args.source,
            args.mask,
            args.dest,
            dest_path_mask=args.dest_path_mask,
            rename_mask=args.rename_mask,
            segmented_by=(
                [s.strip() for s in args.segmented_by.split(",") if s.strip()]
                if args.segmented_by
                else None
            ),
            delete_source=args.move,
            number_attempts=args.attempts,
            story=story_df,
            src_manager=_manager_arg(args.src_manager, args.config),
            dest_manager=_manager_arg(args.dest_manager, args.config),
        )
        ok = res.filter(F.col("ok"))
        n_copies, n_fail = ok.count(), res.filter(~F.col("ok")).count()
        n_files = res.select("filepath").distinct().count()
        if args.story:
            # per-(file,dest) rows: a rerun retries exactly the failed
            # destinations, never re-copies the succeeded ones
            ok.write.mode("append").parquet(args.story)
        print(
            json.dumps(
                {
                    "files": n_files,
                    "copies": n_copies,  # one per (file, destination)
                    "failed": n_fail,
                    "bytes_written": ok.agg(F.sum("bytes")).collect()[0][0] or 0,
                    "sec": round(time.monotonic() - t0, 1),
                }
            )
        )
        if n_fail:
            sys.exit(3)
    elif args.cmd == "state":
        from getl_spark.lake import LakeCatalog

        cat = LakeCatalog(_resolve_warehouse(args.warehouse, _registry(args.config)))
        out = {}
        for name in cat.list_tables():
            t = cat.load_table(name)
            out[name] = {
                "rows": t.count_rows(),
                "snapshots": len(t.meta["snapshots"]),
                "schema_id": t.current_schema_id,
                "properties": t.properties,
            }
        print(json.dumps(out, indent=2))
    return 0


if __name__ == "__main__":
    sys.exit(main())
