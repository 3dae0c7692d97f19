"""Persisted IVF-flat ANN index: build once, probe many.

:func:`getl_spark.functions.simsearch.ivf_topk` re-assigns the whole
corpus to cells on every call — right for a one-shot query, wrong for
a similarity SERVICE over a standing corpus. ``AnnIndex`` materializes
the assignment in a lake table bucketed BY CELL, so a probe batch
reads only the probed cells' buckets (manifest pruning — the scan
never touches the other ~n_centroids-n_probe/n_centroids of the
corpus on disk), and new vectors append with the stored centroids
(no rebuild).

100-TB shape:
- build: one training sample job + one assignment pass + one bucketed
  write (all distributed; centroids are a tiny sidecar JSON);
- probe: cells-for-queries is a driver-size computation on the query
  batch; the corpus side is a bucket-pruned scan + broadcast-query
  re-rank — cost tracks n_probe/n_centroids of the corpus;
- append: assignment with the STORED centroids keeps cells disjoint
  and probes correct for the grown corpus (recall drifts only as the
  data distribution drifts — ``stats()`` quantifies the drift,
  ``rebuild()`` retrains and swaps atomically).

Crash atomicity: centroids live in a per-build sidecar
``<name>.centroids.<build_id>.json``; the TABLE COMMIT of the build
snapshot (which stamps the same ``build_id`` in its summary) is the
single commit point. A crash after the sidecar write but before the
table commit leaves the committed snapshot still pointing at the old
build's sidecar, so probes keep pruning against the centroids the
committed rows were actually assigned under — never a mixed state.
Readers re-sync centroids to the committed build id after every
``refresh()``, so a concurrent rebuild is picked up mid-handle.

Reference note: the reference has no ANN machinery; this is part of
the brief's training-data-pipeline surface (SURVEY "beyond the
reference" rows) built on the same lake primitives as the CDC tables.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from getl_spark.functions.simsearch import (
    _ivf_cells_udf,
    cosine,
    cosine_topk,
    int_centroids,
    train_centroids,
)
from getl_spark.lake import LakeCatalog, PartitionSpec
from getl_spark.schema import parse_ddl


class AnnIndex:
    def __init__(
        self,
        warehouse: str,
        name: str = "_ann_index",
        dim: int | None = None,
        n_centroids: int = 64,
        seed: int = 7,
    ):
        if dim is None:
            raise ValueError("AnnIndex requires dim explicitly")
        self.dim, self.n_centroids, self.seed = int(dim), int(n_centroids), int(seed)
        self.warehouse, self.name = warehouse, name
        self.catalog = LakeCatalog(warehouse)
        self.table = self.catalog.create_table(
            name,
            parse_ddl("cell int, vec_id bigint, embedding array<double>"),
            PartitionSpec.bucket(self.n_centroids, "cell"),
            if_not_exists=True,
        )
        self.centroids: list[list[int]] | None = None
        self.trained: bool = False
        self.build_id: str | None = None
        self.default_n_probe: int | None = None
        self._sync_centroids()

    # -- centroid sidecars -------------------------------------------
    def _sidecar_path(self, build_id: str) -> str:
        return os.path.join(
            self.warehouse, f"{self.name}.centroids.{build_id}.json"
        )

    def _committed_build_id(self) -> str | None:
        """Build id of the newest committed build snapshot (metadata
        only). None for a never-built index."""
        for snap in reversed(self.table.meta["snapshots"]):
            bid = (snap.get("summary") or {}).get("build_id")
            if bid is not None:
                return str(bid)
        return None

    def _sync_centroids(self) -> None:
        """Load the centroids the COMMITTED snapshot was built under.
        No-op when the handle already holds that build."""
        bid = self._committed_build_id()
        if bid is None or bid == self.build_id:
            return  # never built, or the handle already holds it
        path = self._sidecar_path(bid)
        if not os.path.exists(path):
            raise ValueError(
                f"AnnIndex {self.name!r}: committed build {bid} has no "
                f"centroids sidecar at {path} — the sidecar was removed "
                "out-of-band; rebuild the index"
            )
        with open(path) as fh:
            doc = json.load(fh)
        if doc["dim"] != self.dim or doc["n_centroids"] != self.n_centroids:
            raise ValueError(
                f"AnnIndex config mismatch vs stored index: stored "
                f"dim={doc['dim']} n_centroids={doc['n_centroids']}, "
                f"requested dim={self.dim} n_centroids={self.n_centroids}"
            )
        self.centroids = doc["centroids"]
        self.trained = bool(doc.get("trained", False))
        self.build_id = bid
        self.default_n_probe = doc.get("default_n_probe")

    def _update_sidecar(self, **fields) -> None:
        """Atomically rewrite the current build's sidecar with extra
        fields (e.g. a tuned default_n_probe)."""
        path = self._sidecar_path(self.build_id)
        with open(path) as fh:
            doc = json.load(fh)
        doc.update(fields)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(doc, fh)
        os.replace(tmp, path)

    def _gc_sidecars(self) -> None:
        """Drop sidecars of superseded builds (best-effort; the live
        build's file is the one the committed snapshot references)."""
        keep = os.path.basename(self._sidecar_path(self.build_id))
        prefix = f"{self.name}.centroids."
        try:
            for fn in os.listdir(self.warehouse):
                if fn.startswith(prefix) and fn.endswith(".json") and fn != keep:
                    os.remove(os.path.join(self.warehouse, fn))
        except OSError:
            pass

    # -- building ----------------------------------------------------
    def build(
        self,
        spark: SparkSession,
        corpus: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        train: bool = True,
        sample_size: int = 16384,
        train_iters: int = 10,
    ) -> int:
        """(Re)build the index: train/derive centroids, assign every
        corpus vector to its cell, overwrite the table. Returns the
        indexed row count.

        The swap is crash-atomic: the new sidecar is written first
        under a fresh build id, and the table overwrite's commit —
        which stamps that id — is the single point where probes start
        using the new centroids."""
        if train:
            cents = train_centroids(
                corpus, self.n_centroids, id_col, vec_col,
                sample_size=sample_size, iters=train_iters, seed=self.seed,
            )
        else:
            cents = int_centroids(self.dim, self.n_centroids, self.seed)
        build_id = uuid.uuid4().hex[:12]
        path = self._sidecar_path(build_id)
        tmp = path + ".tmp"
        with open(tmp, "w") as fh:
            json.dump(
                {"dim": self.dim, "n_centroids": self.n_centroids,
                 "seed": self.seed, "trained": bool(train),
                 "build_id": build_id, "centroids": cents},
                fh,
            )
        os.replace(tmp, path)
        rows = self._assigned(corpus, id_col, vec_col, cents)
        self.table.overwrite_all(
            rows,
            {"op": "ann_build", "trained": bool(train), "build_id": build_id},
        )
        self.table.refresh()
        self.centroids, self.trained, self.build_id = cents, bool(train), build_id
        self.default_n_probe = None
        n = self.table.count_rows()
        # at-build cell histogram (drift baseline for stats()); written
        # AFTER the commit, so a crash here only costs the baseline —
        # stats() then reports drift as unknown, never wrong
        counts = {
            int(r["cell"]): int(r["n"])
            for r in self.table.read(spark).groupBy("cell").agg(
                F.count("*").alias("n")
            ).collect()
        }
        self._update_sidecar(build_rows=n, build_cell_counts=counts)
        self._gc_sidecars()
        return n

    def rebuild(
        self,
        spark: SparkSession,
        train: bool = True,
        sample_size: int = 16384,
        train_iters: int = 10,
    ) -> int:
        """Retrain on the CURRENT indexed vectors (including appends)
        and atomically swap in the new assignment — the drift answer.
        Probes against the old build keep working until the commit;
        the first probe after it uses the new centroids."""
        self._require_built()
        self.table.refresh()
        corpus = self.table.read(spark).select("vec_id", "embedding")
        return self.build(
            spark, corpus, id_col="vec_id", vec_col="embedding",
            train=train, sample_size=sample_size, train_iters=train_iters,
        )

    def append(
        self,
        spark: SparkSession,
        vectors: DataFrame,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> int:
        """Index new vectors with the STORED centroids (no rebuild);
        returns the number appended."""
        self._require_built()
        rows = self._assigned(vectors, id_col, vec_col, self.centroids)
        n = rows.count()
        self.table.append(rows, {"op": "ann_append", "rows": n})
        return n

    def _assigned(
        self, df: DataFrame, id_col: str, vec_col: str, cents: list[list[int]]
    ) -> DataFrame:
        assign = _ivf_cells_udf(cents, 1)
        return df.select(
            assign(F.col(vec_col))[0].cast("int").alias("cell"),
            F.col(id_col).cast("bigint").alias("vec_id"),
            F.col(vec_col).alias("embedding"),
        )

    def _require_built(self):
        if self.centroids is None:
            raise ValueError(f"AnnIndex {self.name!r} is not built yet")

    # -- probing -----------------------------------------------------
    def _buckets_for_cells(self, spark: SparkSession, cells: list[int]) -> list[int]:
        """cell -> storage bucket via the table's own transform
        (pmod(xxhash64(cell), N)); a tiny driver-size job because
        xxhash64 lives JVM-side."""
        if not cells:
            return []
        cdf = spark.createDataFrame([(int(c),) for c in cells], "cell int")
        rows = cdf.select(
            self.table.partition_spec.bucket_expr().cast("int").alias("b")
        ).distinct().collect()
        return sorted({r["b"] for r in rows})

    def search(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        n_probe: int | None = None,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
    ) -> DataFrame:
        """Top-k per query: (query_id, neighbor_id, score). The corpus
        scan is PRUNED to the buckets holding the probed cells; the
        query side (ids + vectors + probed cells) is broadcast.

        ``n_probe=None`` uses the tuned default from
        :meth:`tune_n_probe` when one is stored, else 4."""
        self.table.refresh()
        self._sync_centroids()
        self._require_built()
        if n_probe is None:
            n_probe = self.default_n_probe or 4
        probe = _ivf_cells_udf(self.centroids, int(n_probe))
        q = queries.select(
            F.col(id_col).alias("query_id"),
            F.col(vec_col).alias("q_vec"),
            probe(F.col(vec_col)).alias("_cells"),
        )
        qcells = q.select("query_id", F.explode("_cells").alias("cell"))
        # the probe batch is the SMALL side: its distinct cell list is
        # metadata-sized (<= n_centroids) and drives manifest pruning
        cells = sorted({r["cell"] for r in qcells.select("cell").distinct().collect()})
        buckets = self._buckets_for_cells(spark, cells)
        corpus = (
            self.table.read(spark, buckets=buckets)
            # hash collisions can co-locate unprobed cells in a kept
            # bucket; the residual filter restores exact cell pruning
            .filter(F.col("cell").isin([int(c) for c in cells]))
        )
        cand = (
            F.broadcast(qcells)
            .join(corpus, "cell")
            .filter(F.col("vec_id") != F.col("query_id"))
            .select("query_id", F.col("vec_id").alias("neighbor_id"), "embedding")
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        qv = F.broadcast(q.select("query_id", "q_vec"))
        scored = cand.join(qv, "query_id").select(
            "query_id",
            "neighbor_id",
            F.round(cosine(F.col("q_vec"), F.col("embedding")), 4).alias("score"),
        )
        from pyspark.sql import Window

        w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("neighbor_id"))
        return (
            scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= int(k))
            .drop("rnk")
        )

    def tune_n_probe(
        self,
        spark: SparkSession,
        queries: DataFrame,
        k: int = 5,
        target_recall: float = 0.95,
        sample: int = 256,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        persist: bool = True,
    ) -> dict:
        """Auto-size ``n_probe`` from a recall target: exact top-k for
        a bounded query sample (ONE brute-force job over the corpus),
        then probe with doubling ``n_probe`` until sampled recall@k
        reaches the target. Stores the winner in the build's sidecar
        as the ``search(n_probe=None)`` default.

        Returns ``{"n_probe", "recall", "trace": [(n_probe, recall),
        ...]}``. The exact pass costs one corpus scan — a tuning
        operation run per build/drift check, not per query batch."""
        self._require_built()
        qs = queries.select(
            F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding")
        ).limit(int(sample)).cache()
        try:
            n_q = qs.count()  # also materializes the cache
            corpus = self.table.read(spark).select("vec_id", "embedding")
            exact = {
                (r["query_id"], r["neighbor_id"])
                for r in cosine_topk(corpus, qs, k=k).collect()
            }
            trace = []
            n_probe, recall = 1, 0.0
            while True:
                got = {
                    (r["query_id"], r["neighbor_id"])
                    for r in self.search(spark, qs, k=k, n_probe=n_probe).collect()
                }
                recall = len(exact & got) / max(len(exact), 1)
                trace.append((n_probe, round(recall, 4)))
                if recall >= target_recall or n_probe >= self.n_centroids:
                    break
                n_probe = min(n_probe * 2, self.n_centroids)
        finally:
            qs.unpersist()
        if persist:
            self.default_n_probe = n_probe
            self._update_sidecar(default_n_probe=n_probe)
        return {"n_probe": n_probe, "recall": recall, "n_queries": n_q,
                "trace": trace}

    # -- maintenance -------------------------------------------------
    def compact(self, spark: SparkSession) -> dict:
        """Small-file compaction for append-heavy indexes: each
        ``append`` adds a file per touched bucket, and probe latency
        tracks files-per-probed-bucket — fold them periodically (the
        lake's binpack rewrite; bucket-local, so untouched cells'
        files are not rewritten)."""
        self.table.refresh()
        return self.table.compact(spark)

    def stats(self, spark: SparkSession) -> dict:
        """Operational shape of the index: rows, occupied cells, data
        files, max files behind any single bucket (the probe-latency
        driver compact() resets), and DRIFT vs build time — appended
        volume and cell-size skew now vs at build. Skew is
        max-cell/mean-cell over occupied cells; a ratio growing past
        its at-build value means appends are piling into few cells and
        a retraining ``rebuild()`` is due."""
        self.table.refresh()
        self._sync_centroids()
        self._require_built()
        files = list(self.table.current_files())
        per_bucket: dict[int, int] = {}
        for f in files:
            b = f.get("bucket")
            per_bucket[b] = per_bucket.get(b, 0) + 1
        cell_rows = {
            int(r["cell"]): int(r["n"])
            for r in self.table.read(spark).groupBy("cell").agg(
                F.count("*").alias("n")
            ).collect()
        }

        def _skew(counts: dict[int, int]) -> float | None:
            if not counts:
                return None
            mean = sum(counts.values()) / len(counts)
            return round(max(counts.values()) / mean, 3) if mean else None

        with open(self._sidecar_path(self.build_id)) as fh:
            doc = json.load(fh)
        build_counts = {
            int(c): int(n)
            for c, n in (doc.get("build_cell_counts") or {}).items()
        }
        rows = self.table.count_rows()
        build_rows = doc.get("build_rows")
        return {
            "rows": rows,
            "cells_occupied": len(cell_rows),
            "n_centroids": self.n_centroids,
            "data_files": len(files),
            "max_files_per_bucket": max(per_bucket.values(), default=0),
            "trained": self.trained,
            "build_id": self.build_id,
            "default_n_probe": self.default_n_probe,
            "rows_at_build": build_rows,
            "appended_since_build": (
                None if build_rows is None else rows - int(build_rows)
            ),
            "cell_skew_now": _skew(cell_rows),
            "cell_skew_at_build": _skew(build_counts) if build_counts else None,
        }
