"""``read_serve``: a read-only mix over a ``lineitem`` Delta table with
many files and many commits, plus an ``orders`` table to join.

The build writes one range-clustered base commit (``BASE_TASKS`` tasks
x 7 ship years = 168 files, each covering a narrow ``l_orderkey``
range so stats pruning has something to skip) followed by ``APPENDS``
small appends, with ``delta.checkpointInterval`` = 3 so the log holds
auto-checkpoints and a JSON tail. The client then runs shuffled rounds
of three op classes:

- ``pruned``: a ship-year + key-range lookup (partition and stats
  pruning cut the scan to a few files; snapshot cache hit)
- ``scan``: a full-table aggregate, or ``lineitem`` joined to ``orders``
- ``timetravel``: an aggregate at an older version (snapshot cache
  miss by design)

Every result is compared with the value DuckDB computed from the same
generated inputs during set-up.
"""

from __future__ import annotations

import os

import duckdb
from pyspark.sql import functions as F

import data
from check_oracle import compare
from core import Op, Workload, read

ROWS = 120_000
ORDERS = 30_000
BASE_TASKS = 24
APPENDS = 8
APPEND_ROWS = 1_500
KEY_SPAN = 400  # l_orderkey width of one pruned lookup
ROUND = ["pruned"] * 12 + ["scan_agg"] * 2 + ["join"] * 2 + ["timetravel"] * 4


class ReadServe(Workload):
    name = "read_serve"
    kinds = {
        "pruned": "read_pruned_p50_s",
        "scan": "read_scan_p50_s",
        "timetravel": "read_timetravel_p50_s",
    }
    builds = 1  # the build is the slowest set-up step; one per run

    @property
    def table(self) -> str:
        return self.path

    def build(self, root: str) -> None:
        rng = self.rng(1)
        inputs = os.path.join(root, "inputs")
        os.makedirs(inputs)
        self.path = os.path.join(root, "lineitem")
        self.orders_path = os.path.join(root, "orders")
        keys = sorted(rng.integers(0, ORDERS, ROWS).tolist())
        self.files = [data.write(data.lineitem(rng, keys), os.path.join(inputs, "base.parquet"))]
        orders = data.write(data.orders(rng, ORDERS), os.path.join(inputs, "orders.parquet"))
        spark, ddl = self.spark, self.ddl
        ddl.to_delta(
            spark.read.parquet(self.files[0]).repartitionByRange(BASE_TASKS, "l_orderkey"),
            self.path,
            partition_by=["l_shipyear"],
            configuration={"delta.checkpointInterval": "3"},
        )
        for i in range(APPENDS):
            f = data.write(
                data.lineitem(rng, rng.integers(0, ORDERS, APPEND_ROWS)),
                os.path.join(inputs, f"append{i}.parquet"),
            )
            self.files.append(f)
            ddl.to_delta(spark.read.parquet(f).coalesce(1), self.path, mode="append")
        ddl.to_delta(spark.read.parquet(orders).coalesce(1), self.orders_path)
        self.duck = duckdb.connect()
        self.duck.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{orders}')")
        self._instances(self.rng(2))

    def _at(self, version: int | None) -> str:
        files = self.files if version is None else self.files[: version + 1]
        return "read_parquet([" + ", ".join(f"'{f}'" for f in files) + "])"

    def _instances(self, rng) -> None:
        """The fixed pool of query instances and their expected results."""
        ddl, spark, path = self.ddl, self.spark, self.path
        self.pool: dict[str, list] = {k: [] for k in ("pruned", "scan_agg", "join", "timetravel")}
        for _ in range(8):
            year, lo = int(rng.choice(data.YEARS)), int(rng.integers(0, ORDERS - KEY_SPAN))
            dnf = [("l_shipyear", "==", year), ("l_orderkey", ">=", lo), ("l_orderkey", "<", lo + KEY_SPAN)]
            sql = (
                "SELECT count(*) AS n, sum(l_quantity) AS q, min(l_extendedprice) AS lo_price, "
                f"max(l_extendedprice) AS hi_price FROM {self._at(None)} WHERE l_shipyear = {year} "
                f"AND l_orderkey >= {lo} AND l_orderkey < {lo + KEY_SPAN}"
            )
            self.pool["pruned"].append((
                lambda dnf=dnf: ddl.read_delta(path, filter=dnf, spark=spark),
                lambda df: df.agg(
                    F.count("*").alias("n"), F.sum("l_quantity").alias("q"),
                    F.min("l_extendedprice").alias("lo_price"), F.max("l_extendedprice").alias("hi_price"),
                ),
                sql,
            ))
        cents = "CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)"
        for _ in range(2):
            disc = float(rng.integers(2, 9)) / 100
            self.pool["scan_agg"].append((
                lambda: ddl.read_delta(path, spark=spark),
                lambda df, disc=disc: df.filter(F.col("l_discount") <= disc)
                .groupBy("l_returnflag", "l_linestatus")
                .agg(
                    F.count("*").alias("n"), F.sum("l_quantity").alias("q"),
                    F.sum(F.round(F.col("l_extendedprice") * 100).cast("long")).alias("cents"),
                ),
                f"SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS q, {cents} AS cents "
                f"FROM {self._at(None)} WHERE l_discount <= {disc} GROUP BY ALL",
            ))
            prio = str(rng.choice(data.PRIORITY))
            self.pool["join"].append((
                lambda: ddl.read_delta(path, spark=spark).join(
                    ddl.read_delta(self.orders_path, spark=spark), F.col("l_orderkey") == F.col("o_orderkey")
                ),
                lambda df, prio=prio: df.filter(F.col("o_orderpriority") == prio)
                .groupBy("l_shipyear")
                .agg(F.count("*").alias("n"), F.sum("l_quantity").alias("q")),
                f"SELECT l_shipyear, count(*) AS n, sum(l_quantity) AS q FROM {self._at(None)} "
                f"JOIN orders ON l_orderkey = o_orderkey WHERE o_orderpriority = '{prio}' GROUP BY ALL",
            ))
        for v in sorted(rng.choice(range(1, APPENDS), 4, replace=False).tolist()):
            self.pool["timetravel"].append((
                lambda v=v: ddl.read_delta(path, version=v, spark=spark),
                lambda df: df.groupBy("l_shipyear").agg(
                    F.count("*").alias("n"), F.sum("l_quantity").alias("q")
                ),
                f"SELECT l_shipyear, count(*) AS n, sum(l_quantity) AS q FROM {self._at(v)} GROUP BY ALL",
            ))
        self.pool = {
            k: [(b, q, self.duck.execute(sql).df()) for b, q, sql in v] for k, v in self.pool.items()
        }

    def _op(self, kind: str, idx: int) -> Op:
        build, query, want = self.pool[kind][idx % len(self.pool[kind])]
        cls = "scan" if kind in ("scan_agg", "join") else kind
        return Op(
            cls,
            lambda: read(self, cls, build, lambda df: query(df).toPandas()),
            lambda got: not compare(kind, got, want)[0],
        )

    def warmup_ops(self) -> list[Op]:
        return [self._op(k, i) for k in ("pruned", "scan_agg", "join", "timetravel") for i in range(2)]

    def rounds(self):
        seen = {k: 2 for k in self.pool}  # warm-up used instances 0 and 1 of each
        rng = self.rng(3)
        while True:
            ops = []
            for kind in rng.permutation(ROUND):
                ops.append(self._op(kind, seen[kind]))
                seen[kind] += 1
            yield ops

    def stored_bytes_per_row(self) -> float:
        from dask_deltalake_spark.delta.log import DeltaLog

        snap = DeltaLog(self.path).snapshot()
        return sum(a.size for a in snap.add_actions) / (ROWS + APPENDS * APPEND_ROWS)

    def prune_filter(self) -> list:
        return [("l_shipyear", "==", 1997), ("l_orderkey", "<", ORDERS // 10)]
