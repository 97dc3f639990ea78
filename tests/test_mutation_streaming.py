"""Log-structured table DML semantics + streaming micro-batch ingest."""

import pytest
from pyspark.sql import functions as F

from bigvectorbench_spark.operators import mutation as mut
from bigvectorbench_spark.streaming import ingest as ing


@pytest.fixture()
def table(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, [float(i), 0.0], i % 3) for i in range(10)],
        "id bigint, vec array<float>, label int",
    )
    t, elapsed = mut.VectorTable.bulk_load(spark, df, str(tmp_path / "base"))
    assert elapsed > 0
    return t


def test_insert_assigns_next_id(table):
    assert table.num_entities == 10
    table.insert({"vec": [99.0, 0.0], "label": 7})
    snap = table.snapshot()
    assert snap.count() == 11
    row = snap.filter("id = 10").collect()[0]
    assert row["label"] == 7
    assert table.num_entities == 11


def test_update_overwrites_row(table):
    table.update(3, {"vec": [100.0, 100.0], "label": 42})
    snap = table.snapshot()
    assert snap.count() == 10
    assert snap.filter("id = 3").collect()[0]["label"] == 42


def test_delete_removes_row(table):
    table.delete(5)
    snap = table.snapshot()
    assert snap.count() == 9
    assert snap.filter("id = 5").count() == 0


def test_mixed_ops_latest_wins(table):
    table.update(2, {"vec": [1.0, 1.0], "label": 11})
    table.delete(2)
    table.insert({"id": 2, "vec": [2.0, 2.0], "label": 22})
    got = table.snapshot().filter("id = 2").collect()
    assert len(got) == 1 and got[0]["label"] == 22


def test_checkpoint_compacts(table, tmp_path):
    table.update(1, {"vec": [5.0, 5.0], "label": 9})
    table.delete(0)
    table.checkpoint(str(tmp_path / "compact"))
    assert table._log == []
    snap = table.snapshot()
    assert snap.count() == 9
    assert snap.filter("id = 1").collect()[0]["label"] == 9


def test_iud_latency_sweep(table):
    rows = [{"vec": [float(i), 1.0], "label": 0} for i in range(5)]
    out = mut.iud_latency_sweep(table, rows).collect()
    assert len(out) == 6  # 5 ops + average row (op_id = -1)
    avg = [r for r in out if r["op_id"] == -1][0]
    assert avg["insert_latency"] > 0


_COLS = ("id", "vec", "label")


class _Replay:
    """Pure-Python replay of the DML surface: the state a snapshot must
    show.  Every op writes a whole row (a column it does not name is NULL);
    base rows with a NULL id are never addressed by an op and persist."""

    def __init__(self, rows):
        self.null_rows = [r for r in rows if r["id"] is None]
        self.rows = {r["id"]: r for r in rows if r["id"] is not None}
        self.max_id = max(self.rows, default=-1)

    def _put(self, values):
        self.rows[values["id"]] = {c: values.get(c) for c in _COLS}

    def insert(self, values):
        if "id" not in values:
            values = {**values, "id": self.max_id + 1}
        self.max_id = max(self.max_id, values["id"])
        self._put(values)

    def update(self, i, values):
        self._put({**values, "id": i})

    def delete(self, i):
        self.rows.pop(i, None)

    def state(self):
        return _sorted(self.null_rows + list(self.rows.values()))


def _sorted(rows):
    return sorted(((r["id"], r["vec"], r["label"]) for r in rows),
                  key=lambda t: (t[0] is not None, t[0] or 0))


def _snapshot_state(table):
    return _sorted(r.asDict() for r in table.snapshot().collect())


def _base_rows():
    rows = [{"id": i, "vec": [float(i), 0.5], "label": i % 3} for i in range(12)]
    return rows + [{"id": None, "vec": [-1.0, -1.0], "label": 9}]


def _dml_table(spark, tmp_path, name="base"):
    df = spark.createDataFrame([tuple(r[c] for c in _COLS) for r in _base_rows()],
                               "id bigint, vec array<float>, label int")
    return mut.VectorTable.bulk_load(spark, df, str(tmp_path / name))[0], _Replay(_base_rows())


def _both(table, replay, op, *args):
    getattr(table, op)(*args)
    getattr(replay, op)(*args)


def test_snapshot_edge_cases_match_replay(spark, tmp_path):
    """The driver-resolved snapshot on the cases the latest-op rule must get
    right, each checked against the replay."""
    table, replay = _dml_table(spark, tmp_path)
    _both(table, replay, "insert", {"id": 3, "vec": [30.0, 3.0], "label": 1})   # over a live base id
    _both(table, replay, "update", 100, {"vec": [1.0, 1.0], "label": 2})      # absent id upserts
    _both(table, replay, "update", 5, {"vec": [5.5, 5.5]})                    # label becomes NULL
    _both(table, replay, "delete", 7)
    _both(table, replay, "insert", {"id": 7, "vec": [7.5, 7.5], "label": 0})  # delete-then-reinsert
    _both(table, replay, "delete", 8)
    _both(table, replay, "insert", {"vec": [2.0, 2.0], "label": 1})           # id = max + 1
    got = _snapshot_state(table)
    assert got == replay.state()
    assert got[0][0] is None                                      # NULL-id base row passes
    assert [r for r in got if r[0] == 12] == [(12, [2.0, 2.0], 1)]  # upserts move no max
    assert [r for r in got if r[0] == 5] == [(5, [5.5, 5.5], None)]

    deletes, replay2 = _dml_table(spark, tmp_path, "base2")
    for i in (0, 4, 4, 11, 500):                                  # a log made only of deletes
        _both(deletes, replay2, "delete", i)
    assert _snapshot_state(deletes) == replay2.state()


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_snapshot_random_ops_match_replay(spark, tmp_path, seed):
    """Seeded insert/update/delete sequences with a checkpoint in the
    middle, compared row for row with the pure-Python replay."""
    import random

    rng = random.Random(seed)
    table, replay = _dml_table(spark, tmp_path)
    for step in range(40):
        if step == 20:
            assert _snapshot_state(table) == replay.state()
            table.checkpoint(str(tmp_path / "ckpt"))
            assert table._log == []
        live = sorted(replay.rows)
        vals = {"vec": [float(rng.randrange(100)), rng.choice([0.5, 1.5])]}
        if rng.random() < 0.8:
            vals["label"] = rng.randrange(5)
        r = rng.random()
        if r < 0.3:
            _both(table, replay, "insert", vals)
        elif r < 0.4:  # explicit id: live, deleted earlier, or fresh
            _both(table, replay, "insert", {**vals, "id": rng.randrange(replay.max_id + 3)})
        elif r < 0.7:
            target = rng.choice(live) if rng.random() < 0.8 else rng.randrange(200, 210)
            _both(table, replay, "update", target, vals)
        else:
            _both(table, replay, "delete", rng.choice(live) if live else 0)
    assert _snapshot_state(table) == replay.state()


def test_read_after_write_job_budget(spark, tmp_path):
    """Spark jobs per call, counted per job group.  The snapshot is built
    on the driver (0 jobs); opening the table is one scan (1 job); a
    filtered kNN read of the snapshot and a checkpoint stay within 4 and 2
    jobs."""
    from bigvectorbench_spark.operators.filter_knn import filtered_knn

    sc = spark.sparkContext

    def jobs(group, fn):
        """(fn's result, Spark jobs it ran)."""
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setJobDescription(None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    df = spark.createDataFrame(
        [(i, [float(i % 17), float(i % 5)], i % 10) for i in range(300)],
        "id bigint, vec array<float>, label int")
    df.write.parquet(str(tmp_path / "base"))
    base = spark.read.parquet(str(tmp_path / "base"))
    queries = spark.createDataFrame(
        [(q, [float(q), 1.0], q) for q in range(4)], "qid bigint, vec array<float>, label int")
    table, n_jobs = jobs("budget-open", lambda: mut.VectorTable(spark, base))
    assert n_jobs == 1
    for i in range(6):
        table.insert({"vec": [1.0, float(i)], "label": i})
        table.update(i * 3, {"vec": [2.0, float(i)], "label": 1})
        table.delete(i * 5 + 1)
    snap, n_jobs = jobs("budget-snapshot", table.snapshot)
    assert n_jobs == 0
    _, n_jobs = jobs("budget-fknn", lambda: filtered_knn(
        snap, queries, k=5, filter_template="label <= {label}",
        query_param_cols=["label"]).collect())
    assert n_jobs <= 4
    _, n_jobs = jobs("budget-checkpoint", lambda: table.checkpoint(str(tmp_path / "ckpt")))
    assert n_jobs <= 2


def test_stream_upsert_and_read(spark, tmp_path):
    src = tmp_path / "src"
    src.mkdir()
    for i, batch in enumerate([[(0, "a"), (1, "b")], [(1, "b2"), (2, "c")]]):
        spark.createDataFrame(batch, "id bigint, val string").coalesce(1).write.mode(
            "append"
        ).json(str(src))
    stream = spark.readStream.schema("id bigint, val string").json(str(src))
    q, times = ing.stream_upsert_to_table(
        stream, str(tmp_path / "table"), str(tmp_path / "ckpt")
    )
    view = ing.read_upsert_table(spark, str(tmp_path / "table"))
    got = {r["id"]: r["val"] for r in view.collect()}
    assert set(got) == {0, 1, 2}
    assert got[1] in ("b", "b2")  # one of the versions won deterministically by seq
    assert len(times) >= 1


def test_windowed_event_counts_batch(spark):
    ev = spark.createDataFrame(
        [("2024-01-01 00:10:00", "click"), ("2024-01-01 00:50:00", "click"),
         ("2024-01-01 01:10:00", "view")],
        "ts_s string, event_type string",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "event_type")
    out = {(str(r["window_start"]), r["event_type"]): r["n_events"]
           for r in ing.windowed_event_counts(ev).collect()}
    assert out[("2024-01-01 00:00:00", "click")] == 2
    assert out[("2024-01-01 01:00:00", "view")] == 1


def test_sessionize_batch(spark):
    ev = spark.createDataFrame(
        [("2024-01-01 00:00:00", 1), ("2024-01-01 00:10:00", 1),
         ("2024-01-01 02:00:00", 1), ("2024-01-01 00:05:00", 2)],
        "ts_s string, user_id bigint",
    ).select(F.col("ts_s").cast("timestamp").alias("ts"), "user_id")
    out = ing.sessionize(ev).orderBy("user_id", "session_start").collect()
    u1 = [r for r in out if r["user_id"] == 1]
    assert len(u1) == 2  # the 2h gap splits sessions
    assert u1[0]["n_events"] == 2
