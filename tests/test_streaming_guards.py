"""The shared streaming fold parts: the state-mark replay guard (driven
directly, no streaming query) and the first write of a partitioned
micro-batch merge."""

from __future__ import annotations

import json

import pytest

from gcp_data_pipeline_fyp_spark.sources.tables import Warehouse
from gcp_data_pipeline_fyp_spark.streaming.ingest import (
    _prior_state,
    _promote_state,
    stream_ingest_available_now,
)


def _checkpoint(path, stream_id):
    """A checkpoint dir holding only the `metadata` file the guards read."""
    path.mkdir()
    (path / "metadata").write_text(json.dumps({"id": stream_id}))
    return str(path)


def test_state_mark_guard(spark, tmp_path):
    wh = Warehouse(spark, str(tmp_path / "wh"))
    ckpt = _checkpoint(tmp_path / "ckpt", "stream-a")
    counts = spark.createDataFrame([("x", 2), ("y", 5)], "k string, n long")

    # no state table yet: nothing to guard, nothing merged
    assert _prior_state(wh, "S", ckpt, 0) == (None, False)

    # promote stamps both mark columns on every row and leaves no staging
    _promote_state(wh, counts, "S", ckpt, 3)
    rows = wh.read("S").collect()
    assert {(r["k"], r["n"]) for r in rows} == {("x", 2), ("y", 5)}
    assert {(r["__stream_id"], r["__last_batch_id"]) for r in rows} == {
        ("stream-a", 3)
    }
    assert not wh.exists("S__staging")

    # same stream: batch ids up to the mark are already merged (skipped);
    # the prior state comes back without its mark columns
    for batch_id, merged in ((2, True), (3, True), (4, False)):
        prior, already_merged = _prior_state(wh, "S", ckpt, batch_id)
        assert already_merged is merged
        assert prior.columns == ["k", "n"]
        assert sorted(map(tuple, prior.collect())) == [("x", 2), ("y", 5)]

    # a state table from another checkpoint lineage raises
    foreign = _checkpoint(tmp_path / "ckpt_b", "stream-b")
    with pytest.raises(ValueError, match="not comparable"):
        _prior_state(wh, "S", foreign, 4)


class _PlanRecordingWarehouse(Warehouse):
    """Records the physical plan of every DataFrame overwritten."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.plans: dict[str, list[str]] = {}

    def overwrite(self, df, table, partition_cols=None):
        plan = df._jdf.queryExecution().executedPlan().toString()
        self.plans.setdefault(table, []).append(plan)
        super().overwrite(df, table, partition_cols=partition_cols)


def test_first_partitioned_write_rebalances_by_partition_col(spark, tmp_path):
    """The write that creates a partitioned table shuffles rows by the
    partition column, as every later partition-scoped merge does, so
    one partition value does not scatter over every write task. Inside
    a stateful stream Spark runs without AQE, so a rebalance hint
    alone would leave the plan without that shuffle."""
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    (in_dir / "b1.csv").write_text(
        "event_id,ts,event_type,value\n"
        "1,2024-01-01 10:00:00,click,1.0\n"
        "2,2024-01-01 11:00:00,view,2.0\n"
        "3,2024-01-01 12:00:00,click,3.0\n"
    )
    wh = _PlanRecordingWarehouse(spark, str(tmp_path / "wh"))
    q = stream_ingest_available_now(
        spark, str(in_dir), "event_id long, ts timestamp, event_type string, "
        "value double", ["event_id"], "ts", wh, "events_p",
        str(tmp_path / "ckpt"), partition_col="event_type",
    )
    q.awaitTermination(120)

    assert "hashpartitioning(event_type#" in wh.plans["events_p"][0]
    assert sorted(
        r["event_id"] for r in wh.read("events_p").collect()
    ) == [1, 2, 3]
    assert {r["event_type"] for r in wh.read("events_p").collect()} == {
        "click", "view"
    }
