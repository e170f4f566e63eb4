"""Incremental materialized rollup over a ``txn.TxnTable``: batch-fold
equals direct aggregate, bucket-pruned state rewrites, replay
idempotence, and the rebucketing guard."""

from __future__ import annotations

from pyspark.sql import functions as F

from terrorblade_spark.operators.rollup import rollup_read, rollup_update
from terrorblade_spark.txn import TxnTable


def _events(spark, lo, hi):
    return spark.range(lo, hi).select(
        (F.col("id") % 17).alias("user_id"),
        (F.col("id") % 5).cast("string").alias("event_type"),
        (F.col("id") % 1000).cast("double").alias("value"),
        F.concat(F.lit("s"), (F.col("id") % 400).cast("string")).alias("session"),
    )


def test_incremental_folds_equal_direct_aggregate(spark, tmp_path):
    state = TxnTable(str(tmp_path / "rollup"))
    batches = [(0, 4_000), (4_000, 7_000), (7_000, 12_000)]
    for lo, hi in batches:
        rollup_update(
            _events(spark, lo, hi),
            state,
            keys=["user_id"],
            sum_cols=["value"],
            min_cols=["value"],
            max_cols=["value"],
            distinct_col="session",
        )

    got = {
        r["user_id"]: r
        for r in rollup_read(spark, state, avg_of=["value"]).collect()
    }
    want = {
        r["user_id"]: r
        for r in _events(spark, 0, 12_000)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("value").alias("sum_value"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
            F.countDistinct("session").alias("nd"),
        )
        .collect()
    }
    assert set(got) == set(want)
    for u, w in want.items():
        g = got[u]
        assert g["n_rows"] == w["n_rows"]
        assert g["sum_value"] == w["sum_value"]
        assert g["min_value"] == w["min_value"]
        assert g["max_value"] == w["max_value"]
        assert g["avg_value"] == w["sum_value"] / w["n_rows"]
        # HLL estimate of <=400 distinct sessions: tight tolerance
        assert abs(g["approx_distinct"] - w["nd"]) / w["nd"] < 0.05


def test_update_rewrites_only_touched_buckets(spark, tmp_path):
    state = TxnTable(str(tmp_path / "state"))
    rollup_update(_events(spark, 0, 5_000), state, keys=["user_id"], n_buckets=16)

    # record each bucket's data files, then fold a batch touching ONE key
    def listing():
        return {
            tuple(e["partition"].items()): e["path"] for e in state.latest().entries
        }

    before = listing()
    one_key = _events(spark, 0, 5_000).where(F.col("user_id") == 3)
    rollup_update(one_key, state, keys=["user_id"], n_buckets=16)
    after = listing()

    assert set(after) == set(before)
    changed = [d for d in before if before[d] != after[d]]
    assert len(changed) == 1  # exactly user 3's bucket was rewritten
    assert len(before) > 1  # the other buckets kept their files


def test_merge_fn_skips_replayed_batches(spark, tmp_path):
    from terrorblade_spark.operators.rollup import rollup_merge_fn

    state = TxnTable(str(tmp_path / "stream_state"))
    batch = _events(spark, 0, 2_000)

    # the exact closure foreachBatch runs, under an at-least-once replay
    merge = rollup_merge_fn(state, keys=["user_id"], writer_id="w1", sum_cols=["value"])
    merge(batch, 0)
    merge(batch, 0)  # replay of the same micro-batch: must be a no-op
    merge(batch, 1)  # a NEW batch id folds in
    row = rollup_read(spark, state).agg(
        F.sum("n_rows").alias("n"), F.sum("sum_value").alias("s")
    ).first()
    assert row["n"] == 4_000
    direct = _events(spark, 0, 2_000).agg(F.sum("value")).first()[0]
    assert row["s"] == 2 * direct


def test_rebucketing_is_refused(spark, tmp_path):
    import pytest

    state = TxnTable(str(tmp_path / "guard"))
    rollup_update(_events(spark, 0, 1_000), state, keys=["user_id"], n_buckets=16)
    versions = state.history()
    # the guard reads the manifest on the driver: no Spark job runs
    sc = spark.sparkContext
    sc.setJobGroup("rollup-rebucket", "rollup-rebucket")
    try:
        with pytest.raises(ValueError, match="n_buckets=16"):
            rollup_update(_events(spark, 0, 1_000), state, keys=["user_id"], n_buckets=8)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("rollup-rebucket") == []
    assert state.history() == versions
