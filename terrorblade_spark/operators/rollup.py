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

State layout is the scale lever: the rollup state is a ``txn.TxnTable``
partitioned by a hash bucket of the group keys. An update batch only
touches the buckets its keys hash into, so the read side prunes to
touched buckets (manifest-level pruning) and the write side replaces
ONLY those partitions — update I/O is proportional to the batch's key
spread, not the state size. The bucket column is named after its
modulus (``__bucket_64``), so the bucket count is pinned by the state's
own manifest: an update with another ``n_buckets`` would re-bucket keys
and duplicate them, and is refused on the driver before any Spark job.

Replay contract: merging the same batch twice would double-count, so
an update takes an ``applied_id`` that commits in the same manifest
swap as the merged buckets. A replayed batch finds its id committed
and no-ops; a crash before the commit leaves neither the state nor
the id, so the replay applies cleanly. ``rollup_writer`` derives the
id from the stream's batch id.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# the state's bucket column is this prefix + n_buckets (see module doc)
BUCKET_PREFIX = "__bucket_"


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
    bucket: str,
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
    return partials.groupBy(*keys, bucket).agg(*aggs)


def _check_buckets(table, bucket: str) -> None:
    """Refuse a fold whose bucket column is not the state's. Every
    entry the rollup writes is partitioned by its bucket column, so the
    latest manifest names the state's modulus: a driver-side lookup,
    no Spark job."""
    m = table.latest()
    for c in {c for e in (m.entries if m else []) for c in e["partition"]}:
        if c.startswith(BUCKET_PREFIX) and c != bucket:
            raise ValueError(
                f"rollup state at {table.path} was built with "
                f"n_buckets={c[len(BUCKET_PREFIX):]}; got "
                f"n_buckets={bucket[len(BUCKET_PREFIX):]} — rebucketing "
                "requires a full rebuild"
            )


def rollup_update(
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
    """Fold one ingest batch into the rollup state (a ``txn.TxnTable``).

    Plan: batch -> partial aggregate (ONE map-side-combined groupBy of
    the batch only) -> tag key-hash bucket -> read ONLY the touched
    buckets (manifest-level pruning — the untouched buckets' scans are
    never planned) -> merge -> replace those buckets. The merged
    buckets and ``applied_id`` commit in ONE atomic manifest swap, so a
    crash anywhere leaves either the old state (batch not marked ->
    replay re-applies cleanly) or the new state (batch marked -> replay
    no-ops).

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
    bucket = f"{BUCKET_PREFIX}{n_buckets}"
    _check_buckets(table, bucket)
    spark = batch.sparkSession
    part = _partials(batch, keys, sum_cols, min_cols, max_cols, distinct_col, lg_k)
    part = part.withColumn(
        bucket, F.pmod(F.hash(*[F.col(k) for k in keys]), F.lit(n_buckets))
    ).persist()
    # the touched-bucket list is <= n_buckets ints — metadata, not data
    touched = [r[0] for r in part.select(bucket).distinct().collect()]
    has_hll = distinct_col is not None

    def merged(version: int) -> DataFrame:
        try:
            existing = table.read(spark, partition_filter=touched, version=version)
        except FileNotFoundError:
            return _merge(part, keys, bucket, sum_cols, min_cols, max_cols, has_hll)
        return _merge(
            existing.unionByName(part), keys, bucket, sum_cols, min_cols, max_cols, has_hll
        )

    try:
        table.replace_partitions(merged, bucket, applied_id=applied_id)
    finally:
        part.unpersist()


def rollup_read(
    spark: SparkSession,
    table,
    avg_of: Sequence[str] = (),
) -> DataFrame:
    """Read the rollup state and derive the non-mergeable metrics:
    avg_x = sum_x / n_rows for each requested column, approx_distinct
    from the HLL sketch if maintained."""
    df = table.read(spark)
    df = df.drop(*[c for c in df.columns if c.startswith(BUCKET_PREFIX)])
    for c in avg_of:
        df = df.withColumn(f"avg_{c}", F.col(f"sum_{c}") / F.col("n_rows"))
    if "hll" in df.columns:
        df = df.withColumn("approx_distinct", F.hll_sketch_estimate("hll")).drop("hll")
    return df


def rollup_merge_fn(table, keys: Sequence[str], writer_id: str, **kwargs):
    """The foreachBatch closure behind ``rollup_writer`` — exposed so
    tests (and batch backfills) drive the exact code the stream runs.
    Exactly-once across crashes because the batch id IS part of the
    state commit. ``writer_id`` (Delta txnAppId analog) namespaces the
    query-local batch ids: give each query feeding one state table its
    own id, and a restart with a FRESH checkpoint a new one (else
    replayed batch numbers are mistaken for already-applied)."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        rollup_update(
            batch_df, table, keys, applied_id=f"{writer_id}/batch_{batch_id}", **kwargs
        )

    return merge


def rollup_writer(
    stream: DataFrame,
    table,
    keys: Sequence[str],
    writer_id: str,
    **kwargs,
):
    """Streaming form: maintain the rollup from a stream via
    foreachBatch (see ``rollup_merge_fn`` for the replay contract)."""
    return stream.writeStream.foreachBatch(
        rollup_merge_fn(table, keys, writer_id, **kwargs)
    )
