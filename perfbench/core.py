"""What every workload shares: the op record, the closed loop, the
traced-only layer probes and the per-layer metric table."""

from __future__ import annotations

import sys
import time
import traceback
from dataclasses import dataclass
from typing import Any, Callable

import numpy as np

import deltafiles
from spans import NullTracer, Tracer, mean, median


@dataclass
class Op:
    """One call (or fixed group of calls) into the engine.

    ``call`` is timed; ``check`` runs untimed right after it and must
    return True for the op to count as correct."""

    kind: str
    call: Callable[[], Any]
    check: Callable[[Any], bool]


@dataclass
class OpRecord:
    kind: str
    seconds: float
    ok: bool
    phase: str  # "warmup", "loop" or "final"


class Workload:
    """Base class. Subclasses set ``name``, ``kinds`` (op kind -> the
    name of its median latency in the detail record) and implement
    ``build``, ``warmup_ops``, ``rounds``, ``prune_filter`` and
    ``stored_bytes_per_row``."""

    name = ""
    kinds: dict = {}
    builds = 3  # set-up repetitions; setup_s takes their median

    def __init__(self, spark, ddl, work: str, seed: int, tr: Tracer | NullTracer):
        self.spark, self.ddl, self.work, self.seed, self.tr = spark, ddl, work, seed, tr
        self.records: list[OpRecord] = []

    @property
    def table(self) -> str:
        """The Delta table the traced run probes."""
        raise NotImplementedError

    def rng(self, stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, stream])

    def build(self, root: str) -> None:
        raise NotImplementedError

    def warmup_ops(self) -> list[Op]:
        raise NotImplementedError

    def rounds(self):
        """Endless rounds of ops. Every round has the same mix of op
        classes, so a run's throughput does not depend on where the
        deadline falls."""
        raise NotImplementedError

    def final_ops(self) -> list[Op]:
        return []

    def stored_bytes_per_row(self) -> float:
        raise NotImplementedError

    def detail(self) -> dict:
        """Workload-specific named metrics for the detail record."""
        return {}

    def layer_metrics(self) -> dict:
        """Workload-specific per-layer metrics (traced run only)."""
        return {}

    def probe(self) -> None:
        """Traced-only: layer calls the engine never makes on their own,
        run as separate spans beside the op just completed."""
        probe_log(self)

    def end_probes(self) -> None:
        """Traced-only: maintenance calls made once after the loop."""
        with self.tr.span("commit.metadata_only"):
            self.ddl.set_table_properties(self.table, {"perfbench.probe": "end"})
        with self.tr.span("maintenance.checkpoint"):
            self.ddl.create_checkpoint(self.table)
        vacuum(self)

    # -- the closed loop ------------------------------------------------

    def run_op(self, op: Op, phase: str) -> None:
        """Time one op and check its output; an op that raises or fails
        its check is recorded as failed and the loop goes on."""
        op_id = len(self.records)
        ok, dt = False, None
        t0 = time.perf_counter()
        try:
            with self.tr.span(f"op.{op.kind}", op=op_id):
                res = op.call()
            dt = time.perf_counter() - t0
            ok = bool(op.check(res))
            if not ok:
                print(f"perfbench: {op.kind} op {op_id} failed its check", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        if dt is None:
            dt = time.perf_counter() - t0
        self.records.append(OpRecord(op.kind, dt, ok, phase))

    def drive(self, seconds: float) -> None:
        """Run whole rounds until ``seconds`` have passed, then the
        final ops (timed, but outside the loop's throughput)."""
        deadline = time.perf_counter() + seconds
        for ops in self.rounds():
            for op in ops:
                self.run_op(op, "loop")
                if self.tr.enabled:
                    self.probe()
            if time.perf_counter() >= deadline:
                break
        for op in self.final_ops():
            self.run_op(op, "final")


# -- traced-only probes ----------------------------------------------------


def probe_log(wl: Workload) -> None:
    from dask_deltalake_spark.delta.log import DeltaLog
    from dask_deltalake_spark.delta.protocol import prune_by_stats, prune_partitions

    tr = wl.tr
    with tr.span("probe.snapshot_latest"):
        snap = DeltaLog(wl.table).snapshot()
    older = int(wl.rng(900 + len(wl.records)).integers(0, max(1, snap.version)))
    with tr.span("probe.snapshot_timetravel", version=older):
        DeltaLog(wl.table).snapshot(version=older)
    dnf = [wl.prune_filter()]
    with tr.span("probe.prune") as s:
        files = snap.add_actions
        kept = prune_by_stats(prune_partitions(files, dnf), dnf)
    s.attrs.update(files_total=len(files), files_kept=len(kept))


def read(wl: Workload, cls: str, build: Callable, run: Callable):
    """One read, split into plan build (``read_delta``) and execution."""
    with wl.tr.span(f"reader.{cls}"):
        with wl.tr.span(f"reader.build.{cls}"):
            df = build()
        with wl.tr.span(f"reader.exec.{cls}"):
            return run(df)


def probe_reads(wl: Workload, dnf: list, version: int) -> None:
    """Traced-only reads of each class, for workloads whose ops do not
    read: a pruned count, a full count and a time-travel count."""
    ddl, spark, t = wl.ddl, wl.spark, wl.table
    read(wl, "pruned", lambda: ddl.read_delta(t, filter=dnf, spark=spark), lambda df: df.count())
    read(wl, "scan", lambda: ddl.read_delta(t, spark=spark), lambda df: df.count())
    read(wl, "timetravel", lambda: ddl.read_delta(t, version=version, spark=spark), lambda df: df.count())


def vacuum(wl: Workload) -> None:
    """``vacuum(retention_hours=0)`` of the workload's table; traced,
    it also counts the data files it deleted."""
    before = deltafiles.data_files(wl.table) if wl.tr.enabled else 0
    with wl.tr.span("maintenance.vacuum") as s:
        wl.ddl.vacuum(wl.table, retention_hours=0, dry_run=False, spark=wl.spark)
    if s is not None:
        s.attrs["files_deleted"] = before - deltafiles.data_files(wl.table)


# -- per-layer metrics -----------------------------------------------------

LLM_STAGES = ("x10", "x04", "x14", "x27", "x32", "x31")

# name -> unit; every traced run prints all of them (0 where a workload
# never reaches the layer: see perfbench/README.md)
PER_LAYER = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "log.snapshot_latest_s": "s",
    "log.snapshot_timetravel_s": "s",
    "log.commits_since_checkpoint": "count",
    "log.json_bytes_per_commit": "B",
    "prune.s": "s",
    "prune.files_total": "count",
    "prune.files_kept_frac": "frac",
    "reader.build_pruned_s": "s",
    "reader.build_scan_s": "s",
    "reader.build_timetravel_s": "s",
    "reader.exec_pruned_s": "s",
    "reader.exec_scan_s": "s",
    "reader.exec_timetravel_s": "s",
    "reader.jobs_per_read": "count",
    "reader.tasks_per_read": "count",
    "writer.files_per_append": "count",
    "writer.jobs_per_append": "count",
    "writer.tasks_per_append": "count",
    "writer.bytes_per_row": "B/row",
    "commit.metadata_only_s": "s",
    "mutate.files_rewritten": "count",
    "mutate.rows_rewritten_per_row_changed": "ratio",
    "mutate.jobs_per_op": "count",
    "mutate.tasks_per_op": "count",
    "maintenance.optimize_files_in": "count",
    "maintenance.optimize_files_out": "count",
    "maintenance.optimize_bytes_rewritten": "B",
    "maintenance.vacuum_s": "s",
    "maintenance.vacuum_files_deleted": "count",
    "maintenance.checkpoint_s": "s",
    **{f"llmops.{s}_frac": "frac" for s in LLM_STAGES},
    **{f"llmops.{s}_jobs": "count" for s in LLM_STAGES},
    **{f"llmops.{s}_tasks": "count" for s in LLM_STAGES},
    "llmops.kept_frac": "frac",
    "trace.ops_per_s": "1/s",
    "trace.overhead_frac": "frac",
}


def log_stats(table: str) -> dict:
    """Shape of the log as the loop left it (before any end probe)."""
    return {
        "log.commits_since_checkpoint": deltafiles.latest_version(table)
        - max(deltafiles.last_checkpoint(table), 0),
        "log.json_bytes_per_commit": deltafiles.mean_commit_bytes(table),
    }


def layer_metrics(wl: Workload, session_start_s: float, warmup_s: float, log: dict) -> dict:
    tr = wl.tr

    def spans(*names: str) -> list:
        return [s for s in tr.spans if s.name in names]

    def durs(name: str) -> list[float]:
        return [s.dur for s in spans(name)]

    reads = spans("reader.pruned", "reader.scan", "reader.timetravel")
    prunes = spans("probe.prune")
    appends = spans("writer.append")
    timed = [r for r in wl.records if r.phase == "loop"]
    op_time = sum(r.seconds for r in timed)
    m = {
        "session.start_s": session_start_s,
        "session.warmup_s": warmup_s,
        "log.snapshot_latest_s": median(durs("probe.snapshot_latest")),
        "log.snapshot_timetravel_s": median(durs("probe.snapshot_timetravel")),
        **log,
        "prune.s": median(durs("probe.prune")),
        "prune.files_total": median(s.attrs["files_total"] for s in prunes),
        "prune.files_kept_frac": median(
            s.attrs["files_kept"] / max(1, s.attrs["files_total"]) for s in prunes
        ),
        "reader.jobs_per_read": mean(s.jobs for s in reads),
        "reader.tasks_per_read": mean(s.tasks for s in reads),
        "writer.files_per_append": mean(s.attrs["files"] for s in appends),
        "writer.jobs_per_append": mean(s.jobs for s in appends),
        "writer.tasks_per_append": mean(s.tasks for s in appends),
        "commit.metadata_only_s": median(durs("commit.metadata_only")),
        "maintenance.vacuum_s": median(durs("maintenance.vacuum")),
        "maintenance.vacuum_files_deleted": sum(
            s.attrs["files_deleted"] for s in spans("maintenance.vacuum")
        ),
        "maintenance.checkpoint_s": median(durs("maintenance.checkpoint")),
        "trace.ops_per_s": len(timed) / op_time if op_time else 0.0,
        "trace.overhead_frac": tr.overhead_s / op_time if op_time else 0.0,
    }
    for cls in ("pruned", "scan", "timetravel"):
        m[f"reader.build_{cls}_s"] = median(durs(f"reader.build.{cls}"))
        m[f"reader.exec_{cls}_s"] = median(durs(f"reader.exec.{cls}"))
    m.update(wl.layer_metrics())
    return {k: float(m.get(k, 0.0)) for k in PER_LAYER}

