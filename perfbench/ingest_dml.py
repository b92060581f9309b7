"""``ingest_dml``: a write-heavy lifecycle on one ``lineitem`` table
partitioned by ship year.

Keys live in blocks of ``BLOCK`` ids. The table starts with ``LIVE``
blocks; cycle ``c`` appends block ``c``, MERGE-upserts a slice (half
updates of live keys, half new keys in block ``c``), DELETEs block
``c - LIVE`` by key range, UPDATEs one (year, line number) cell and
records a watermark with ``set_table_properties`` (a commit with no
data files), then runs a z-ordered OPTIMIZE. A cycle is one round of
the loop, and a final ``vacuum(retention_hours=0)`` ends the run. The live table size
stays level, so every cycle does the same amount of work.

DuckDB replays the same generated inputs as the model: after every op
the engine's row count must match it, and after the final vacuum the
whole table must match it row for row.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import functions as F

import data
import deltafiles
from check_oracle import compare
from core import Op, Workload, probe_reads, vacuum
from spans import mean

BLOCK = 1_000_000
LIVE = 6  # key blocks live in the table at once
SLICE = 4_000  # rows appended per cycle
MERGE_UPDATES = 1_000
MERGE_INSERTS = 1_000
ZORDER = ["l_partkey", "l_extendedprice"]
_SELECT = (
    "l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
    "l_discount, l_tax, l_returnflag, l_linestatus, CAST(l_shipdate AS {t}) AS l_shipdate, "
    "l_shipyear"
)


class IngestDml(Workload):
    name = "ingest_dml"
    kinds = {
        "append": "append_p50_s",
        "merge": "merge_p50_s",
        "delete": "delete_p50_s",
        "update": "update_p50_s",
        "props": "props_p50_s",
        "optimize": "optimize_p50_s",
        "vacuum": "vacuum_s",
    }

    @property
    def table(self) -> str:
        return self.path

    def build(self, root: str) -> None:
        self.root = root
        self.inputs = os.path.join(root, "inputs")
        os.makedirs(self.inputs)
        self.path = os.path.join(root, "lineitem")
        keys = [b * BLOCK + i for b in range(LIVE) for i in range(SLICE)]
        base = data.write(
            data.lineitem(self.rng(1), keys), os.path.join(self.inputs, "base.parquet")
        )
        self.ddl.to_delta(
            self.spark.read.parquet(base), self.path, partition_by=["l_shipyear"]
        )
        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE TABLE li AS SELECT * FROM read_parquet('{base}')")
        self.rows_submitted = 0
        self.mutations: list[dict] = []  # traced: per-op rewrite accounting
        self.optimizes: list[dict] = []

    def stored_bytes_per_row(self) -> float:
        from dask_deltalake_spark.delta.log import DeltaLog

        snap = DeltaLog(self.path).snapshot()
        return sum(a.size for a in snap.add_actions) / self._model_count()

    # -- ops -------------------------------------------------------------

    def _model_count(self) -> int:
        return self.duck.execute("SELECT count(*) FROM li").fetchone()[0]

    def _count_matches(self, sql_after: str):
        """Check: apply ``sql_after`` to the model, then compare counts."""

        def check(_res) -> bool:
            for stmt in sql_after.split(";"):
                if stmt.strip():
                    self.duck.execute(stmt)
            return self.ddl.read_delta(self.path, spark=self.spark).count() == self._model_count()

        return check

    def _write_input(self, name: str, table) -> str:
        return data.write(table, os.path.join(self.inputs, f"{name}.parquet"))

    def _cycle(self, c: int, timed: bool) -> list[Op]:
        rng = self.rng(1000 + c)
        ddl, spark, path, tr = self.ddl, self.spark, self.path, self.tr
        ops: list[Op] = []

        app = self._write_input(f"append{c}", data.lineitem(rng, [c * BLOCK + i for i in range(SLICE)]))

        def append():
            self.rows_submitted += SLICE if timed else 0
            with tr.span("writer.append") as s:
                ddl.to_delta(spark.read.parquet(app), path, mode="append")
            if s is not None:
                s.attrs["files"] = len(deltafiles.adds(path, deltafiles.latest_version(path)))

        ops.append(Op("append", append, self._count_matches(
            f"INSERT INTO li SELECT * FROM read_parquet('{app}')"
        )))

        live = [b * BLOCK + i for b in range(c - LIVE + 1, c + 1) for i in range(SLICE)]
        upd = rng.choice(live, MERGE_UPDATES, replace=False)
        new = [c * BLOCK + SLICE + i for i in range(MERGE_INSERTS)]
        src = self._write_input(f"merge{c}", data.lineitem(rng, sorted(upd.tolist()) + new))

        def merge():
            self.rows_submitted += MERGE_UPDATES + MERGE_INSERTS if timed else 0
            with tr.span("mutate.merge") as s:
                res = ddl.merge_into(path, spark.read.parquet(src), keys=["l_orderkey"], spark=spark)
            self._rewrite(s, res, MERGE_UPDATES + MERGE_INSERTS)
            return res

        ops.append(Op("merge", merge, self._count_matches(
            f"DELETE FROM li WHERE l_orderkey IN (SELECT l_orderkey FROM read_parquet('{src}'));"
            f"INSERT INTO li SELECT * FROM read_parquet('{src}')"
        )))

        lo, hi = (c - LIVE) * BLOCK, (c - LIVE + 1) * BLOCK
        where = f"l_orderkey >= {lo} AND l_orderkey < {hi}"

        def delete():
            changed = self._matching(where)
            with tr.span("mutate.delete") as s:
                res = ddl.delete_where(
                    path, [("l_orderkey", ">=", lo), ("l_orderkey", "<", hi)], spark=spark
                )
            self._rewrite(s, res, changed)
            return res

        ops.append(Op("delete", delete, self._count_matches(f"DELETE FROM li WHERE {where}")))

        year = int(rng.choice(data.YEARS))
        line = int(rng.integers(1, 8))
        cell = f"l_shipyear = {year} AND l_linenumber = {line}"

        def update():
            changed = self._matching(cell)
            with tr.span("mutate.update") as s:
                res = ddl.update_where(
                    path,
                    [("l_shipyear", "==", year), ("l_linenumber", "==", line)],
                    {"l_returnflag": F.lit("U"), "l_quantity": F.col("l_quantity") + F.lit(1.0)},
                    spark=spark,
                )
            self._rewrite(s, res, changed)
            return res

        ops.append(Op("update", update, self._count_matches(
            f"UPDATE li SET l_returnflag = 'U', l_quantity = l_quantity + 1 WHERE {cell}"
        )))

        def props():
            with tr.span("commit.metadata_only"):
                return ddl.set_table_properties(path, {"perfbench.watermark": str(c)})

        ops.append(Op("props", props, self._count_matches("")))

        def optimize():
            with tr.span("maintenance.optimize") as s:
                res = ddl.optimize(path, zorder_by=ZORDER, spark=spark)
            if s is not None:
                self.optimizes.append({
                    "in": res["numFilesRemoved"],
                    "out": res["numFilesAdded"],
                    "bytes": sum(a["size"] for a in deltafiles.adds(path, res["version"])),
                })
            return res

        ops.append(Op("optimize", optimize, self._count_matches("")))
        return ops

    def _matching(self, where: str) -> int:
        """Traced: model rows an op's predicate matches."""
        if not self.tr.enabled:
            return 0
        return self.duck.execute(f"SELECT count(*) FROM li WHERE {where}").fetchone()[0]

    def _rewrite(self, s, res: dict, changed: int) -> None:
        """Traced: files and rows one copy-on-write op rewrote."""
        if s is None:
            return
        rows = sum(deltafiles.add_rows(a) for a in deltafiles.adds(self.path, res["version"]))
        self.mutations.append({
            "files": res.get("numFilesRewritten", 0),
            "rows_written": rows,
            "changed": changed,
            "jobs": s.jobs,
            "tasks": s.tasks,
        })

    def warmup_ops(self) -> list[Op]:
        """One untimed cycle and one vacuum: every op class runs once
        before timing starts."""
        return self._cycle(LIVE, timed=False) + [
            Op("vacuum", lambda: vacuum(self), self._count_matches(""))
        ]

    def rounds(self):
        self.first_timed_version = deltafiles.latest_version(self.path) + 1
        c = LIVE + 1
        while True:
            yield self._cycle(c, timed=True)
            c += 1

    def final_ops(self) -> list[Op]:
        self.last_timed_version = deltafiles.latest_version(self.path)
        return [Op("vacuum", lambda: vacuum(self), self._content_matches)]

    def _content_matches(self, _res) -> bool:
        got = (
            self.ddl.read_delta(self.path, spark=self.spark)
            .selectExpr(*_SELECT.format(t="STRING").split(", "))
            .toPandas()
        )
        want = self.duck.execute(f"SELECT {_SELECT.format(t='VARCHAR')} FROM li").df()
        issues, _ = compare(self.name, got, want)
        return not issues

    # -- metrics -------------------------------------------------------------

    def _written_bytes_per_row(self) -> float:
        written = deltafiles.added_bytes(
            self.path, self.first_timed_version, self.last_timed_version
        )
        return written / self.rows_submitted

    def detail(self) -> dict:
        return {"written_bytes_per_row": {"value": self._written_bytes_per_row(), "unit": "B/row"}}

    def prune_filter(self) -> list:
        return [("l_shipyear", "==", 1997), ("l_orderkey", "<", (LIVE + 2) * BLOCK)]

    def probe(self) -> None:
        super().probe()
        v = deltafiles.latest_version(self.path)
        # the warm-up vacuum deleted the files of every older version
        probe_reads(self, self.prune_filter(), version=v - 1)

    def end_probes(self) -> None:
        with self.tr.span("maintenance.checkpoint"):
            self.ddl.create_checkpoint(self.path)

    def layer_metrics(self) -> dict:
        mu, opt = self.mutations, self.optimizes
        return {
            "writer.bytes_per_row": self._written_bytes_per_row(),
            "mutate.files_rewritten": mean(m["files"] for m in mu),
            "mutate.rows_rewritten_per_row_changed": sum(m["rows_written"] for m in mu)
            / max(1, sum(m["changed"] for m in mu)),
            "mutate.jobs_per_op": mean(m["jobs"] for m in mu),
            "mutate.tasks_per_op": mean(m["tasks"] for m in mu),
            "maintenance.optimize_files_in": mean(o["in"] for o in opt),
            "maintenance.optimize_files_out": mean(o["out"] for o in opt),
            "maintenance.optimize_bytes_rewritten": mean(o["bytes"] for o in opt),
        }
