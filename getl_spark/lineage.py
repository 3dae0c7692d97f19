"""Per-partition lineage + throughput metrics.

Reference parity: getl's row accounting (readRows/writeRows/updateRows,
/root/reference/src/main/groovy/getl/data/Dataset.groovy:877-892) and
ProcessTime rows/sec stats
(/root/reference/src/main/groovy/getl/stat/ProcessTime.groovy:157-175)
— recast as first-class rows in a ``_lineage`` lake table, one row per
(epoch, storage bucket): source offset range, event count, bytes,
apply latency (FIXTURES.md §5).

Perf: the caller builds the rows. :meth:`CDCPipeline.apply_epoch`
derives them (<= num_buckets rows) with one small aggregation over the
per-key rows it already persists for winner selection, so lineage
never re-scans the epoch's events; the table write is a driver-side
pyarrow append (no Spark job).

Idempotence: re-recording an epoch (crash repair) drops that epoch's
rows in the same atomic commit that adds the new ones.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

from getl_spark.lake import LakeCatalog, PartitionSpec
from getl_spark.schema import parse_ddl

LINEAGE_SCHEMA = parse_ddl(
    "epoch bigint, partition_id int, seq_min bigint, seq_max bigint, "
    "event_count bigint, bytes bigint, epoch_latency_ms bigint, "
    "pipeline string"
)


class LineageRecorder:
    def __init__(
        self,
        catalog: LakeCatalog,
        table_name: str = "_lineage",
        legacy_owner: str = "tail",
    ):
        self.table = catalog.create_table(
            table_name, LINEAGE_SCHEMA, PartitionSpec.none(), if_not_exists=True
        )
        # two pipelines sharing one warehouse share this table; without
        # a pipeline column their epoch numbers collide and the repair
        # path deletes each other's rows. Pre-upgrade tables evolve in
        # place (the column is last, so row layout stays compatible) and
        # legacy NULL rows are backfilled to ``legacy_owner`` in the
        # same upgrade — otherwise every pipeline claims them in
        # metrics() and any pipeline's crash repair deletes them. A
        # pre-upgrade warehouse necessarily had ONE writer (epoch
        # numbers would have collided otherwise), so the first pipeline
        # to touch it post-upgrade passes its own name and keeps its
        # metrics history continuous.
        # gate on NULL presence, not column absence: a warehouse
        # upgraded under a revision that added the column WITHOUT
        # backfilling already has NULL legacy rows, and metrics()/crash
        # repair filter on pipeline == name — unbackfilled NULLs would
        # be permanently invisible and never repaired.
        if "pipeline" not in self.table.schema().fieldNames():
            self.table.add_column("pipeline", "string")
        # probe just the one column first: the steady state (no NULLs)
        # must not load the full history on every recorder construction
        probe = self.table.read_pandas(columns=["pipeline"])
        if len(probe) and probe["pipeline"].isna().any():
            existing = self.table.read_pandas()
            existing["pipeline"] = existing["pipeline"].fillna(legacy_owner)
            self.table.overwrite_pandas(
                existing, {"backfill": f"pipeline<-{legacy_owner} (legacy rows)"}
            )
        # pre-round-4 tables called this column apply_latency_ms, but
        # the value has always been the WHOLE-EPOCH apply latency
        # (copied onto every bucket row) — renamed so the name claims
        # exactly what's measured; legacy files read through the
        # rename-aware upgrade path
        if "apply_latency_ms" in self.table.schema().fieldNames():
            self.table.rename_column("apply_latency_ms", "epoch_latency_ms")

    def write(self, pdf: pd.DataFrame, epoch: int, pipeline: str = "tail") -> pd.DataFrame:
        """Persist precomputed lineage rows (idempotent per
        (pipeline, epoch) — another pipeline's identical epoch number
        is NOT a duplicate)."""
        self.table.refresh()
        recorded = {
            (s["summary"].get("pipeline"), int(s["summary"].get("epoch", -1)))
            for s in self.table.meta["snapshots"]
        }
        mine = (pipeline, int(epoch)) in recorded or (None, int(epoch)) in recorded
        if mine:
            # crash repair: atomically replace this pipeline's epoch rows
            # ONLY (legacy NULLs were backfilled at upgrade, so no other
            # pipeline's rows can match here)
            existing = self.table.read_pandas()
            keep = existing[
                ~(
                    (existing["epoch"] == int(epoch))
                    & (existing["pipeline"] == pipeline)
                )
            ]
            merged = pd.concat([keep, pdf], ignore_index=True) if len(pdf) else keep
            self.table.overwrite_pandas(
                merged, {"epoch": int(epoch), "pipeline": pipeline, "repair": True}
            )
        elif len(pdf):
            self.table.append_pandas(pdf, {"epoch": int(epoch), "pipeline": pipeline})
        return pdf

    def read(self, spark: SparkSession) -> DataFrame:
        self.table.refresh()
        return self.table.read(spark)

    def read_pandas(self) -> pd.DataFrame:
        self.table.refresh()
        return self.table.read_pandas()
