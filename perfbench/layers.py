"""Per-layer figures of a traced run, computed over its timed epochs.

Every figure is per epoch and reported as the median over the timed
epochs unless its name says otherwise; a layer a workload never runs
reports 0. Which end-to-end metric each one should move, and on which
workload, is mapped in README.md.
"""

from __future__ import annotations

import glob
import os

import stats

MS = "ms"

# name -> unit, in output order
UNITS = {
    "pipeline.self_ms_p50": MS,
    "pipeline.jobs_per_epoch": "count",
    "lake.merge.ms_p50": MS,
    "lake.merge.epoch_share": "ratio",
    "lake.merge.shuffle_bytes_per_epoch": "B",
    "lake.merge.bytes_written_per_epoch": "B",
    "lake.table.append_ms_p50": MS,
    "lake.table.append_epoch_share": "ratio",
    "lake.table.files_added_per_epoch": "count",
    "lake.table.live_files_at_read": "count",
    "lake.table.commits_per_epoch": "count",
    "lake.table.metadata_bytes_per_commit": "B",
    "lake.table.compact_ms": MS,
    "lake.table.expire_ms": MS,
    "lineage.write_ms_p50": MS,
    "checkpoint.save_ms_p50": MS,
    "streaming.trigger_gap_ms_p50": MS,
    "spark.jobs_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "spark.task_ms_per_epoch": MS,
    "spark.gc_ms_per_epoch": MS,
    "spark.slot_busy_ratio": "ratio",
    "driver.ms_per_epoch": MS,
    "process.cpu_s_per_mevent": "s/Mevent",
    "trace.epoch_ms_p50": MS,
}


class WarehouseCommits:
    """Commits and metadata bytes per epoch, counted from ``metadata/`` on disk.

    Registered as an after-epoch hook: each call compares every table's
    ``VERSION`` with the previous call and sums the sizes of the
    ``v<N>.metadata.json`` files written in between.
    """

    def __init__(self, *warehouses: str):
        self.warehouses = warehouses
        self.versions = self._versions()
        self.by_epoch: dict = {}

    def _versions(self) -> dict:
        out = {}
        for wh in self.warehouses:
            for vf in glob.glob(os.path.join(wh, "*", "metadata", "VERSION")):
                with open(vf) as fh:
                    out[os.path.dirname(vf)] = int(fh.read().strip())
        return out

    def __call__(self, span) -> None:
        now = self._versions()
        commits = meta_bytes = 0
        for mdir, v in now.items():
            prev = self.versions.get(mdir, -1)
            commits += v - prev
            for n in range(prev + 1, v + 1):
                p = os.path.join(mdir, f"v{n}.metadata.json")
                if os.path.exists(p):
                    meta_bytes += os.path.getsize(p)
        self.versions = now
        c, b = self.by_epoch.get(span.epoch, (0, 0))
        self.by_epoch[span.epoch] = (c + commits, b + meta_bytes)


def _root(spans, span):
    while span.parent is not None:
        span = spans[span.parent]
    return span


def layer_metrics(
    spans, epochs, jobs, stages, commits: WarehouseCommits, live_files_at_read: int,
    cores: int, cpu_s: float, streaming: bool,
) -> dict:
    """``spans``: every span of the run, indexed by id. ``epochs``: the
    timed apply_epoch spans. ``jobs``/``stages``: from
    :meth:`spans.Tracer.spark_jobs`."""
    timed = {s.id for s in epochs}
    tree: dict = {s.id: [] for s in epochs}  # epoch span id -> its descendants
    for s in spans:
        if s.parent is not None:
            r = _root(spans, s)
            if r.id in timed:
                tree[r.id].append(s)
    group_span = {s.group: s for s in spans if s.group}
    by_group = stats.aggregate_by_group(jobs, stages)
    selfs = stats.self_times(s for s in spans if s.id in timed or _root(spans, s).id in timed)
    jobs_by_root: dict = {}
    for j in jobs:
        sp = group_span.get(j["group"])
        if sp is not None and j["start"] is not None and j["end"] is not None:
            jobs_by_root.setdefault(_root(spans, sp).id, []).append((j["start"], j["end"]))

    def dur_ms(s):
        return (s.end - s.start) * 1000.0

    def per_epoch(fn):
        return [fn(e, tree[e.id]) for e in epochs]

    def named(kids, name):
        return [k for k in kids if k.name == name]

    def ms_of(name):
        return per_epoch(lambda e, kids: sum(dur_ms(k) for k in named(kids, name)))

    def groups_sum(spans_, key):
        return sum(by_group.get(s.group, {}).get(key, 0) for s in spans_)

    epoch_ms = [dur_ms(e) for e in epochs]
    total_ms = sum(epoch_ms)
    merge_ms, append_ms = ms_of("lake.merge"), ms_of("lake.table.append")
    compacts = [dur_ms(k) for e in epochs for k in named(tree[e.id], "lake.table.compact")]
    task_ms = per_epoch(lambda e, kids: groups_sum([e, *kids], "task_ms"))
    gaps = [
        (b.start - a.end - a.attrs.get("hook_s", 0.0)) * 1000.0
        for a, b in zip(epochs, epochs[1:])
    ] if streaming else []
    events = sum(e.attrs["events"] for e in epochs)
    out = {
        "pipeline.self_ms_p50": stats.median(selfs[e.id] * 1000.0 for e in epochs),
        "pipeline.jobs_per_epoch": stats.median(
            by_group.get(e.group, {}).get("jobs", 0) for e in epochs
        ),
        "lake.merge.ms_p50": stats.median(merge_ms),
        "lake.merge.epoch_share": sum(merge_ms) / total_ms,
        "lake.merge.shuffle_bytes_per_epoch": stats.median(per_epoch(
            lambda e, kids: groups_sum(named(kids, "lake.merge"), "shuffle_write_bytes")
        )),
        "lake.merge.bytes_written_per_epoch": stats.median(per_epoch(
            lambda e, kids: groups_sum(named(kids, "lake.merge"), "output_bytes")
        )),
        "lake.table.append_ms_p50": stats.median(append_ms),
        "lake.table.append_epoch_share": sum(append_ms) / total_ms,
        "lake.table.files_added_per_epoch": stats.median(per_epoch(
            lambda e, kids: sum(k.attrs.get("files_added", 0)
                                for k in named(kids, "lake.table.append"))
        )),
        "lake.table.live_files_at_read": live_files_at_read,
        "lake.table.commits_per_epoch": stats.median(
            commits.by_epoch.get(e.epoch, (0, 0))[0] for e in epochs
        ),
        "lake.table.metadata_bytes_per_commit": (
            sum(commits.by_epoch.get(e.epoch, (0, 0))[1] for e in epochs)
            / max(1, sum(commits.by_epoch.get(e.epoch, (0, 0))[0] for e in epochs))
        ),
        "lake.table.compact_ms": stats.median(compacts),
        "lake.table.expire_ms": stats.median(ms_of("lake.table.expire")),
        "lineage.write_ms_p50": stats.median(ms_of("lineage.write")),
        "checkpoint.save_ms_p50": stats.median(ms_of("checkpoint.save")),
        "streaming.trigger_gap_ms_p50": stats.median(gaps),
        "spark.jobs_per_epoch": stats.median(
            per_epoch(lambda e, kids: groups_sum([e, *kids], "jobs"))
        ),
        "spark.tasks_per_epoch": stats.median(
            per_epoch(lambda e, kids: groups_sum([e, *kids], "tasks"))
        ),
        "spark.task_ms_per_epoch": stats.median(task_ms),
        "spark.gc_ms_per_epoch": stats.median(
            per_epoch(lambda e, kids: groups_sum([e, *kids], "gc_ms"))
        ),
        "spark.slot_busy_ratio": sum(task_ms) / (total_ms * cores),
        "driver.ms_per_epoch": stats.median(
            (e.end - e.start - stats.union_length(
                stats.clip(jobs_by_root.get(e.id, []), e.start, e.end)
            )) * 1000.0
            for e in epochs
        ),
        "process.cpu_s_per_mevent": cpu_s / (events / 1e6),
        "trace.epoch_ms_p50": stats.median(epoch_ms),
    }
    return {k: {"value": float(out[k]), "unit": UNITS[k]} for k in UNITS}
