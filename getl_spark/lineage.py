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
rows in the same atomic commit that adds the new ones, per
(pipeline, epoch): pipelines sharing a warehouse share the table. A
table missing a ``LINEAGE_SCHEMA`` column (the older layout without
``pipeline``) is refused on open, not migrated: rebuild it.
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
    def __init__(self, catalog: LakeCatalog, table_name: str = "_lineage"):
        self.table = catalog.create_table(
            table_name, LINEAGE_SCHEMA, PartitionSpec.none(), if_not_exists=True
        )
        # metadata-only layout check: without the ``pipeline`` column two
        # pipelines sharing the table would repair each other's rows, so
        # an older layout is refused, not guessed at; a column added
        # after LINEAGE_SCHEMA still passes
        have = set(self.table.schema().fieldNames())
        missing = [c for c in LINEAGE_SCHEMA.fieldNames() if c not in have]
        if missing:
            raise ValueError(
                f"lineage table {table_name!r} has an older layout without "
                f"column(s) {missing}; rebuild it"
            )

    def write(self, pdf: pd.DataFrame, epoch: int, pipeline: str = "tail") -> pd.DataFrame:
        """Persist precomputed lineage rows (idempotent per
        (pipeline, epoch) — another pipeline's identical epoch number
        is NOT a duplicate)."""
        self.table.refresh()
        recorded = {
            (s["summary"].get("pipeline"), int(s["summary"].get("epoch", -1)))
            for s in self.table.meta["snapshots"]
        }
        if (pipeline, int(epoch)) in recorded:
            # crash repair: atomically replace this pipeline's epoch rows only
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
