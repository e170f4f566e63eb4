"""Incremental materialized rollups: mergeable partial aggregates
maintained batch-by-batch, without re-scanning history.

The reference recomputes chat/user stats by re-aggregating the whole
table per call (analyze_dialogues.py get_chat_statistics — fine in one
DuckDB file). At 100 TB a daily ingest must NOT re-aggregate the
corpus: it folds the new batch's PARTIAL aggregates into a persisted
state whose size is the group-key cardinality, not the data.

Mergeability is the design contract (same algebra as the HLL sketches
in operators.sketches): every maintained metric is a commutative
monoid — count/sum add, min/max lattice-join, HLL sketches union —
so partials from any batch split merge to the exact (or in HLL's case,
sketch-exact) global answer. avg is DERIVED (sum/count) at read time,
never stored.

State layout is the scale lever: the rollup parquet is hive-partitioned
by a hash bucket of the group keys. An update batch only touches the
buckets its keys hash into, so the read side prunes to touched buckets
(partition pruning) and the write side replaces ONLY those partitions
(dynamic partition overwrite) — update I/O is proportional to the
batch's key spread, not the state size.

Replay contract: ``rollup_update`` is NOT idempotent (merging the same
batch twice double-counts). The streaming writer records applied
batch ids in a marker directory and skips replays — the standard
foreachBatch exactly-once recipe over a non-transactional sink.
"""

from __future__ import annotations

import os
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

BUCKET_COL = "__bucket"


def _partials(
    batch: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    min_cols: Sequence[str],
    max_cols: Sequence[str],
    distinct_col: str | None,
    lg_k: int,
) -> DataFrame:
    aggs = [F.count(F.lit(1)).alias("n_rows")]
    aggs += [F.sum(c).alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.min(c).alias(f"min_{c}") for c in min_cols]
    aggs += [F.max(c).alias(f"max_{c}") for c in max_cols]
    if distinct_col is not None:
        aggs.append(F.hll_sketch_agg(distinct_col, F.lit(lg_k)).alias("hll"))
    return batch.groupBy(*keys).agg(*aggs)


def _merge(
    partials: DataFrame,
    keys: Sequence[str],
    sum_cols: Sequence[str],
    min_cols: Sequence[str],
    max_cols: Sequence[str],
    has_hll: bool,
) -> DataFrame:
    aggs = [F.sum("n_rows").alias("n_rows")]
    aggs += [F.sum(f"sum_{c}").alias(f"sum_{c}") for c in sum_cols]
    aggs += [F.min(f"min_{c}").alias(f"min_{c}") for c in min_cols]
    aggs += [F.max(f"max_{c}").alias(f"max_{c}") for c in max_cols]
    if has_hll:
        aggs.append(F.hll_union_agg("hll").alias("hll"))
    return partials.groupBy(*keys, BUCKET_COL).agg(*aggs)


def rollup_update(
    batch: DataFrame,
    state_path: str,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    distinct_col: str | None = None,
    n_buckets: int = 64,
    lg_k: int = 12,
) -> None:
    """Fold one ingest batch into the persisted rollup state.

    Plan: batch -> partial aggregate (ONE map-side-combined groupBy of
    the batch only) -> tag key-hash bucket -> read existing state FOR
    TOUCHED BUCKETS ONLY (partition-pruned scan) -> merge -> dynamic
    partition overwrite of exactly those buckets.
    """
    from pyspark.errors.exceptions.captured import AnalysisException

    spark = batch.sparkSession
    # the bucket function is part of the state's layout: a different
    # n_buckets re-buckets keys, so an update would miss (and then
    # duplicate) existing rows. Pin it in a sidecar on first write and
    # refuse mismatched updates. The sidecar is a 1-row parquet under
    # an underscore-prefixed dir (ignored by data discovery) so it
    # rides Spark's filesystem layer — S3/HDFS state works, unlike a
    # driver-local marker file.
    meta = f"{state_path}/_meta"
    stored: int | None = None
    had_meta = True
    try:
        stored = int(spark.read.parquet(meta).first()["n_buckets"])
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        had_meta = False
        # migration: state written before the parquet sidecar carried a
        # driver-local text marker — honor it so pre-existing state
        # keeps its rebucketing guard (old states are local-disk only)
        legacy = os.path.join(state_path, "_n_buckets")
        if os.path.exists(legacy):
            stored = int(open(legacy).read().strip())
    if stored is not None and stored != n_buckets:
        raise ValueError(
            f"rollup state at {state_path} was built with n_buckets={stored}; "
            f"got n_buckets={n_buckets} — rebucketing requires a full rebuild"
        )
    part = _partials(batch, keys, sum_cols, min_cols, max_cols, distinct_col, lg_k)
    part = part.withColumn(
        BUCKET_COL, F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    ).persist()
    # the touched-bucket list is <= n_buckets ints — metadata, not data
    touched = [r[0] for r in part.select(BUCKET_COL).distinct().collect()]
    try:
        existing = spark.read.parquet(state_path).where(F.col(BUCKET_COL).isin(touched))
        merged = _merge(
            existing.unionByName(part), keys, sum_cols, min_cols, max_cols, distinct_col is not None
        )
    except AnalysisException as e:
        if "PATH_NOT_FOUND" not in str(e):
            raise
        merged = part
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        merged.write.mode("overwrite").partitionBy(BUCKET_COL).parquet(state_path)
        if not had_meta:
            # also completes the legacy-marker migration to parquet
            spark.createDataFrame([(n_buckets,)], "n_buckets int").coalesce(
                1
            ).write.mode("overwrite").parquet(meta)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)
        part.unpersist()


def rollup_read(
    spark: SparkSession,
    state_path: str,
    avg_of: Sequence[str] = (),
) -> DataFrame:
    """Read the rollup state and derive the non-mergeable metrics:
    avg_x = sum_x / n_rows for each requested column, approx_distinct
    from the HLL sketch if maintained."""
    df = spark.read.parquet(state_path).drop(BUCKET_COL)
    for c in avg_of:
        df = df.withColumn(f"avg_{c}", F.col(f"sum_{c}") / F.col("n_rows"))
    if "hll" in df.columns:
        df = df.withColumn("approx_distinct", F.hll_sketch_estimate("hll")).drop("hll")
    return df


def rollup_update_txn(
    batch: DataFrame,
    table,
    keys: Sequence[str],
    sum_cols: Sequence[str] = (),
    min_cols: Sequence[str] = (),
    max_cols: Sequence[str] = (),
    distinct_col: str | None = None,
    n_buckets: int = 64,
    lg_k: int = 12,
    applied_id: str | None = None,
) -> None:
    """``rollup_update`` over a transactional ``txn.TxnTable``: the
    merged touched-bucket state AND the applied-batch marker commit in
    ONE atomic manifest swap, so a crash anywhere leaves either the old
    state (batch not marked -> replay re-applies cleanly) or the new
    state (batch marked -> replay no-ops). This closes the
    marker-after-write at-least-once window of the plain-parquet recipe
    (``rollup_merge_fn``'s documented crash window).

    Same plan as ``rollup_update``: partial-aggregate the batch, read
    ONLY touched buckets (manifest-level pruning — the untouched
    buckets' scans are never planned), merge, replace those buckets.

    Concurrency: the read+merge is a function of the pinned snapshot
    version, handed to ``replace_partitions``. If another writer
    commits a merge to the table between our read and our commit, the
    commit conflicts and the txn layer re-runs the function against
    the NEW state — both writers' batches land (no lost update).
    Merging from a snapshot read before the commit and re-basing the
    result would silently overwrite the other writer's fold.
    """
    if applied_id is not None and table.applied(applied_id):
        return
    spark = batch.sparkSession
    part = _partials(batch, keys, sum_cols, min_cols, max_cols, distinct_col, lg_k)
    part = part.withColumn(
        BUCKET_COL, F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    ).persist()
    touched = [r[0] for r in part.select(BUCKET_COL).distinct().collect()]
    has_hll = distinct_col is not None

    def merged(version: int) -> DataFrame:
        try:
            existing = table.read(spark, partition_filter=touched, version=version)
        except FileNotFoundError:
            return _merge(part, keys, sum_cols, min_cols, max_cols, has_hll)
        return _merge(
            existing.unionByName(part), keys, sum_cols, min_cols, max_cols, has_hll
        )

    try:
        table.replace_partitions(merged, BUCKET_COL, applied_id=applied_id)
    finally:
        part.unpersist()


def rollup_read_txn(
    spark: SparkSession,
    table,
    avg_of: Sequence[str] = (),
) -> DataFrame:
    """``rollup_read`` against a transactional state table."""
    df = table.read(spark).drop(BUCKET_COL)
    for c in avg_of:
        df = df.withColumn(f"avg_{c}", F.col(f"sum_{c}") / F.col("n_rows"))
    if "hll" in df.columns:
        df = df.withColumn("approx_distinct", F.hll_sketch_estimate("hll")).drop("hll")
    return df


def rollup_merge_fn_txn(table, keys: Sequence[str], writer_id: str = "rollup", **kwargs):
    """foreachBatch closure over the transactional state: exactly-once
    across crashes because the batch id IS part of the state commit.
    ``writer_id`` (Delta txnAppId analog) namespaces the query-local
    batch ids — give each query feeding one state table its own id, and
    a restart with a FRESH checkpoint a new one (else replayed batch
    numbers are mistaken for already-applied)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        rollup_update_txn(
            batch_df, table, keys, applied_id=f"{writer_id}/batch_{batch_id}", **kwargs
        )

    return merge


def rollup_merge_fn(state_path: str, keys: Sequence[str], applied_dir: str | None = None, **kwargs):
    """The foreachBatch closure behind ``rollup_writer`` — exposed so
    tests (and batch backfills) drive the exact code the stream runs.
    ``applied_dir`` holds one marker file per applied batch id; a
    restarted stream replaying a delivered micro-batch skips the merge
    instead of double-counting. Markers are written with driver-local
    file IO — point ``applied_dir`` at storage that survives driver
    replacement (the checkpoint volume) when running beyond one
    machine.

    CRASH WINDOW (known, documented): the marker is written only AFTER
    ``rollup_update`` succeeds, and ``rollup_update`` is not idempotent
    — a crash BETWEEN the state write and the marker write makes the
    replayed batch double-count. This plain-parquet recipe is therefore
    at-least-once across that window; use ``rollup_merge_fn_txn`` (the
    ``txn.TxnTable`` backend, where marker + state are one atomic
    manifest commit) when exactly-once across crashes is required."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        marker = None
        if applied_dir is not None:
            marker = os.path.join(applied_dir, f"batch_{batch_id}")
            if os.path.exists(marker):
                return
        rollup_update(batch_df, state_path, keys, **kwargs)
        if marker is not None:
            os.makedirs(applied_dir, exist_ok=True)
            with open(marker, "w") as fh:
                fh.write("applied")

    return merge


def rollup_writer(
    stream: DataFrame,
    state_path: str,
    keys: Sequence[str],
    applied_dir: str | None = None,
    **kwargs,
):
    """Streaming form: maintain the rollup from a stream via
    foreachBatch (see ``rollup_merge_fn`` for the replay contract)."""
    return stream.writeStream.foreachBatch(
        rollup_merge_fn(state_path, keys, applied_dir, **kwargs)
    )
