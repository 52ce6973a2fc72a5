"""The replay contract every streaming twin stands on
(streaming/jobs.py: _parquet_replay feeds, _drain_runs drains): rows
arrive in ``order_by`` order, ``batch_rows`` rows per micro-batch, with
the columns of the schema DDL, and a drain leaves no checkpoint behind.
Seven rows, so it runs in the default tier — unlike the slow
twin-vs-batch replays in test_streaming.py, which all rely on it."""

from __future__ import annotations

import glob
import tempfile

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from etl_showcase_spark.streaming import jobs

# (id, k, v) in neither id nor k order; k ties are broken by id
ROWS = [
    (3, "b", 1.5),
    (0, "c", 0.5),
    (6, "a", 2.0),
    (1, "b", -1.0),
    (5, "a", 0.0),
    (2, "c", 9.0),
    (4, "a", 3.25),
]


@pytest.fixture
def table(tmp_path):
    path = str(tmp_path / "rows.parquet")
    ids, ks, vs = zip(*ROWS)
    pq.write_table(pa.table({"id": list(ids), "k": list(ks), "v": list(vs)}), path)
    return path


def _drained_batches(spark, path, batch_rows):
    """Every non-empty micro-batch of a full drain, rows in arrival order."""
    feed = jobs._parquet_replay(spark, path, "k string, id long, v double", ["k", "id"], batch_rows)
    batches = []

    def record(bdf, _bid):
        batches.append([tuple(r) for r in bdf.collect()])

    jobs._drain_runs(feed, "replay_contract", "append", lambda w: w.foreachBatch(record))
    return [b for b in batches if b]


def test_replay_emits_sorted_rows_in_batch_rows_chunks(spark, table):
    expected = sorted((k, i, v) for i, k, v in ROWS)  # (k, id) order, DDL columns
    batches = _drained_batches(spark, table, batch_rows=3)
    assert [len(b) for b in batches] == [3, 3, 1]
    assert [r for b in batches for r in b] == expected
    assert [len(b) for b in _drained_batches(spark, table, batch_rows=1)] == [1] * 7


def test_drains_remove_their_checkpoint(spark, table, tmp_path, monkeypatch):
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    feed = jobs._parquet_replay(spark, table, "id long", ["id"], 4)
    assert jobs._drain_replay_union(feed, "ckpt_probe", mode="append").count() == 7
    # complete mode: the last run that consumed input holds the final state
    assert jobs._drain_replay(feed.groupBy().count(), "ckpt_probe").first()[0] == 7
    assert glob.glob(str(tmp_path / "ckpt_probe_log_*"))  # the returned log stays
    assert not glob.glob(str(tmp_path / "ckpt_probe_ckpt_*"))
