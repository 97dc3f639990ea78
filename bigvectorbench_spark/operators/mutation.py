"""Mutation (DML) operators — SURVEY.md §2.5 M1-M5.

Reference semantics (base/module.py:63-79, 142-181; runner.py:245-335):
bulk load, then *sequential* single-row insert / update-by-id / delete-by-id
sweeps with per-operation latency measurement (results.py:121-158).

Spark is not an OLTP store; the idiomatic mapping is a **log-structured
table** (exactly what Delta/Iceberg do under MERGE/DELETE, re-implemented
minimally here because the container has plain parquet only):

- the table is a base parquet snapshot plus an ordered op log
  (insert/upsert/delete entries, in the order they were issued);
- the read view resolves each id to its latest op and drops tombstones —
  identical semantics to MERGE INTO;
- ``checkpoint()`` compacts log into base (the analog of OPTIMIZE /
  rewrite), keeping the view cheap.

The log is resolved on the driver.  The invariant that makes this exact:
every op writes a WHOLE row (a column the op does not name is NULL, and a
delete carries only the id), and any log entry beats the base row.  So
the latest op per id, one Python pass over the list, is that id's final
state, whatever the base held.  The read view is then
``base`` left-anti-joined with the (broadcast) touched ids, unioned with the
latest non-delete rows.  Both small relations are built through Arrow
(``tables.arrow_frame``), so they plan as JVM-side local scans.  No
distinct, window or semi-join over base runs, and the untouched bulk of
base streams through unshuffled.  At 100 TB base is partitioned parquet and
the log is tiny relative to it: the broadcast anti-join is the whole cost
of the merge.
"""

from __future__ import annotations

import time
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bigvectorbench_spark.sources.tables import arrow_frame

OP_INSERT = "i"
OP_UPSERT = "u"
OP_DELETE = "d"


class VectorTable:
    """Mutable vector table with reference-compatible DML surface."""

    def __init__(self, spark: SparkSession, base: DataFrame, id_col: str = "id"):
        self.spark = spark
        self.id_col = id_col
        self._base = base
        self._schema = base.schema
        self._log: list[tuple[str, dict]] = []  # (op, whole row), in issue order
        # count and max(id) observed on one scan: one job, where an aggregate
        # runs two under AQE (its exchange's map stage, then the result)
        stats = Observation()
        (base.select(id_col)
         .observe(stats, F.count(F.lit(1)).alias("n"), F.max(id_col).alias("max_id"))
         .write.format("noop").mode("overwrite").save())
        got = stats.get
        self._num_entities = got["n"]
        self._max_id = -1 if got["max_id"] is None else got["max_id"]

    # ------------------------------------------------------------- M1 bulk load
    @classmethod
    def bulk_load(cls, spark: SparkSession, df: DataFrame, path: str,
                  id_col: str = "id") -> tuple["VectorTable", float]:
        """Create the base snapshot (timed, the reference's insert_time —
        runner.py:413-443)."""
        t0 = time.perf_counter()
        df.write.mode("overwrite").parquet(path)
        elapsed = time.perf_counter() - t0
        return cls(spark, spark.read.parquet(path), id_col=id_col), elapsed

    # ---------------------------------------------------------------- op log
    def _append(self, op: str, row: dict) -> float:
        t0 = time.perf_counter()
        self._log.append((op, dict(row)))
        return time.perf_counter() - t0

    def insert(self, values: dict) -> float:
        """M3: append a new row; id assigned = num_entities++ when absent
        (reference assigns id = current row count, base/module.py:142-152)."""
        if self.id_col not in values:
            values = {**values, self.id_col: self._max_id + 1}
        self._max_id = max(self._max_id, values[self.id_col])
        self._num_entities += 1
        return self._append(OP_INSERT, values)

    def update(self, id_value, values: dict) -> float:
        """M4: upsert-by-id (milvus upsert, module.py:488-514)."""
        return self._append(OP_UPSERT, {**values, self.id_col: id_value})

    def delete(self, id_value) -> float:
        """M5: tombstone-by-id (milvus delete, module.py:516-530)."""
        self._num_entities -= 1
        return self._append(OP_DELETE, {self.id_col: id_value})

    @property
    def num_entities(self) -> int:
        return self._num_entities

    # ------------------------------------------------------------------ view
    def snapshot(self) -> DataFrame:
        """Current view = base with the op log merged in; runs no Spark job.

        Every op writes a whole row, so the latest op per id (one pass over
        the log, on the driver) replaces whatever base held for that id:
        base rows whose id the log touched are dropped by a broadcast
        left-anti join, and the latest non-delete rows are unioned in.  A
        base row with a NULL id never matches the join and passes through."""
        if not self._log:
            return self._base
        latest = {row[self.id_col]: (op, row) for op, row in self._log}
        id_schema = StructType([self._schema[self.id_col]])
        touched = arrow_frame(self.spark, [{self.id_col: i} for i in latest], id_schema)
        untouched = self._base.join(F.broadcast(touched), self.id_col, "left_anti")
        live = [row for op, row in latest.values() if op != OP_DELETE]
        return untouched.unionByName(arrow_frame(self.spark, live, self._schema))

    def checkpoint(self, path: str) -> None:
        """Compact log into a new base snapshot (OPTIMIZE analog).  The
        schema is known, so reading the compacted files back infers none."""
        self.snapshot().write.mode("overwrite").parquet(path)
        self._base = self.spark.read.schema(self._schema).parquet(path)
        self._log.clear()


def iud_latency_sweep(
    table: VectorTable,
    test_rows: Sequence[dict],
    *,
    update_ids: Optional[Sequence] = None,
    delete_ids: Optional[Sequence] = None,
    seed: int = 1,
) -> DataFrame:
    """Sequential insert/update/delete latency sweep (runner.py:245-335):
    one insert per test row (fresh id), one update of a random existing id,
    one delete of a sampled id without replacement.  Returns the F9 schema
    (op_id, insert_latency, update_latency, delete_latency) plus the average
    row the reference appends (results.py:153-155)."""
    import random

    rng = random.Random(seed)
    n = len(test_rows)
    existing = [r[table.id_col] for r in
                table.snapshot().select(table.id_col).collect()]
    if update_ids is None:
        update_ids = [rng.choice(existing) for _ in range(n)]
    if delete_ids is None:
        delete_ids = rng.sample(existing, min(n, len(existing)))

    out = []
    for i, row in enumerate(test_rows):
        ins = table.insert(dict(row))
        upd = table.update(update_ids[i], dict(row))
        dele = table.delete(delete_ids[i]) if i < len(delete_ids) else None
        out.append((i, ins, upd, dele))
    df = table.spark.createDataFrame(
        out, "op_id bigint, insert_latency double, update_latency double, delete_latency double"
    )
    avg = df.agg(
        F.lit(-1).cast("bigint").alias("op_id"),
        F.avg("insert_latency").alias("insert_latency"),
        F.avg("update_latency").alias("update_latency"),
        F.avg("delete_latency").alias("delete_latency"),
    )
    return df.unionByName(avg)
