"""Sketch-based profiling: the 100 TB substitute for exact
countDistinct / percentile.

Exact `countDistinct` shuffles every distinct value; an exact
percentile sorts the column. At corpus scale both are O(data) shuffles
for a number that's only read by a human or a mix-recipe heuristic.
Sketches fix the asymptotics:

- HLL (Datasketches, built into Spark's ``hll_sketch_agg``): a few KB
  per group, map-side combinable, and — the property that matters for
  pipelines — MERGEABLE: per-partition/per-day sketches union into the
  global sketch without touching the data again, so an incremental
  ingest keeps running totals by folding the new batch's sketch in.
- approx percentiles (``percentile_approx``): bounded-error rank
  sketch, same map-side-combine shape.

Estimates are deterministic for a fixed input (no seed), so tests pin
tolerances, not exact values.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def sketch_profile(
    df: DataFrame,
    group_cols: Sequence[str],
    distinct_cols: Sequence[str],
    percentile_col: str | None = None,
    percentiles: Sequence[float] = (0.5, 0.9, 0.99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Per-group profile: approx distinct count per ``distinct_cols``
    plus approx ``percentiles`` of ``percentile_col`` — ONE map-side
    combinable aggregation, no distinct shuffle, no sort."""
    aggs = [
        F.approx_count_distinct(c).alias(f"approx_n_{c}") for c in distinct_cols
    ]
    aggs.append(F.count(F.lit(1)).alias("n_rows"))
    if percentile_col is not None:
        for p in percentiles:
            aggs.append(
                F.percentile_approx(percentile_col, p, accuracy).alias(
                    f"p{str(p).replace('0.', '')}_{percentile_col}"
                )
            )
    return df.groupBy(*group_cols).agg(*aggs)


def hll_partial(
    df: DataFrame, group_cols: Sequence[str], col: str, lg_k: int = 12
) -> DataFrame:
    """Per-group HLL sketches as binary columns — the persistable /
    shippable partial state. At scale these are written alongside each
    ingest batch (a few KB per group) and merged later; the raw data is
    never re-scanned for a distinct count again."""
    return df.groupBy(*group_cols).agg(
        F.hll_sketch_agg(col, F.lit(lg_k)).alias("hll"),
        F.count(F.lit(1)).alias("n_rows"),
    )


def frequent_items(
    df: DataFrame,
    col: str,
    capacity: int = 256,
    k: int | None = None,
    exact_recount: bool = True,
    method: str = "mg",
    sample_fraction: float = 0.01,
    seed: int = 42,
) -> DataFrame:
    """Heavy hitters with bounded memory: candidate generation with
    bounded state, then (by default) an exact recount of the
    candidates only.

    Two candidate generators:

    - ``method="mg"`` (default): per-partition Misra-Gries summaries —
      DETERMINISTIC guarantee (any value with frequency >
      N/(capacity+1) survives), bounded per-task state, but the rows
      cross the Arrow/Python boundary once. The right mode for
      adversarial data or when the guarantee must be certain.
    - ``method="sample"``: exact groupBy over a Bernoulli sample, top
      ``capacity`` sampled values become candidates — all JVM-side
      (measured 6x faster on a 10M-row probe), with a PROBABILISTIC
      guarantee: a value with frequency f is expected
      f * N * sample_fraction times in the sample, so for candidates
      above ~1000/(N*fraction) relative frequency the miss
      probability is negligible (Chernoff); raise ``sample_fraction``
      for rarer targets.

    Why not just ``groupBy(col).count().orderBy(...)``? That shuffles
    one row per DISTINCT value — at 100 TB a high-cardinality column
    (URLs, user agents, shingles) makes the aggregate itself the
    bottleneck, and the job's memory is proportional to the distinct
    count, not to ``k``. Misra-Gries caps per-task state at
    ``capacity`` counters with the classic guarantee: any value with
    frequency > N/(capacity+1) SURVIVES the summary (undercounted by at
    most N_partition/(capacity+1), never overcounted). Summaries merge
    by summation — the merged bound is the sum of per-partition bounds
    — so the only full-data pass is the narrow per-partition scan; the
    shuffle moves ≤ capacity rows per partition.

    The exact recount closes the loop: candidates (≤ capacity values)
    broadcast back as a semi-join filter, and only matching rows reach
    the count aggregate — exact counts for the survivors without ever
    paying the full-cardinality shuffle. Set ``exact_recount=False``
    for one-pass lower-bound estimates (streaming/profiling mode).

    Returns (value, n) sorted by n desc, value asc, limited to ``k``
    if given. ``col`` values are carried as strings (the summary dict
    is type-erased through Arrow).
    """
    import pandas as pd

    source = df.select(F.col(col).cast("string").alias("value")).where(
        F.col("value").isNotNull()
    )

    if method == "sample":
        merged = (
            source.sample(fraction=sample_fraction, seed=seed)
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("n_lower"))
            .orderBy(F.desc("n_lower"), F.asc("value"))
            .limit(capacity)
        )
        # without the recount, raw sample counts must be scaled back to
        # corpus magnitude (1/fraction) — otherwise `n` is silently
        # ~1/fraction too small and discontinuous with the other modes
        return _recount_or_rank(
            source, merged, exact_recount, k, scale=1.0 / sample_fraction
        )
    if method != "mg":
        raise ValueError(f"unknown method {method!r}")

    def mg_partition(batches):
        # vectorized batched Misra-Gries: accumulate per-batch
        # value_counts Series and only merge+trim when the running
        # unique count passes 8x capacity (lazier trimming never hurts
        # the guarantee — each trim's cut times (capacity+1) is bounded
        # by the rows absorbed since the previous trim, so the total
        # decrement stays <= N_partition/(capacity+1)). Per-item Python
        # dict loops were the bottleneck: 3x slower on a 10M-row probe.
        acc: list[pd.Series] = []
        uniques = 0

        def trim(to: int) -> pd.Series:
            merged = pd.concat(acc).groupby(level=0).sum() if len(acc) > 1 else acc[0]
            if len(merged) > to:
                cut = merged.nlargest(to + 1).iloc[-1]
                merged = merged[merged > cut] - cut
            return merged

        for pdf in batches:
            vc = pdf["value"].value_counts()
            acc.append(vc)
            uniques += len(vc)
            if uniques > 8 * capacity:
                acc = [trim(capacity)]
                uniques = len(acc[0])
        if not acc:
            yield pd.DataFrame({"value": [], "n_lower": []})
            return
        final = trim(capacity)
        yield pd.DataFrame(
            {"value": final.index.astype(str), "n_lower": final.to_numpy("int64")}
        )

    summaries = source.mapInPandas(mg_partition, "value string, n_lower long")
    merged = summaries.groupBy("value").agg(F.sum("n_lower").alias("n_lower"))
    return _recount_or_rank(source, merged, exact_recount, k)


def top_k_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    value_col: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k most frequent values per group: one map-side-combined
    count aggregate, then a rank window over the already-aggregated
    (group, value) relation — the window input is the DISTINCT pair
    count, not the raw rows, so the sort is over aggregated data. Ties
    break by value ascending (deterministic).

    For a group whose distinct-value count itself explodes, cap the
    aggregate first with ``frequent_items``' candidates; this operator
    is the exact form for the common case (per-language top tokens,
    per-source top domains).
    """
    from pyspark.sql import Window

    counts = df.groupBy(*group_cols, value_col).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy(*group_cols).orderBy(F.desc("n"), F.asc(value_col))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .orderBy(*group_cols, "rank")
    )


def _recount_or_rank(
    source: DataFrame,
    merged: DataFrame,
    exact_recount: bool,
    k: int | None,
    scale: float = 1.0,
) -> DataFrame:
    if exact_recount:
        out = (
            source.join(F.broadcast(merged.select("value")), "value", "leftsemi")
            .groupBy("value")
            .agg(F.count(F.lit(1)).alias("n"))
        )
    elif scale != 1.0:
        # sampled counts scaled to corpus magnitude (ESTIMATES, not the
        # MG path's lower bounds)
        out = merged.select(
            "value", F.round(F.col("n_lower") * F.lit(scale)).cast("long").alias("n")
        )
    else:
        out = merged.withColumnRenamed("n_lower", "n")
    out = out.orderBy(F.desc("n"), F.asc("value"))
    return out.limit(k) if k is not None else out


def hll_merge(partials: DataFrame, rollup_cols: Sequence[str]) -> DataFrame:
    """Union per-group sketches up to ``rollup_cols`` granularity and
    estimate: the incremental-rollup half of the pair. The union is
    associative and order-independent (estimates stay inside the
    sketch's error envelope regardless of merge tree), so daily
    partials -> monthly -> all-time rollups all read only sketch
    bytes, never the data."""
    return (
        partials.groupBy(*rollup_cols)
        .agg(
            F.hll_union_agg("hll").alias("hll"),
            F.sum("n_rows").alias("n_rows"),
        )
        .withColumn("approx_distinct", F.hll_sketch_estimate("hll"))
    )


# --- count-min sketch --------------------------------------------------------
# The frequency twin of the HLL section above: bounded-state per-key
# COUNT estimation with the same partial/merge/estimate lifecycle.
# Where frequent_items (Misra-Gries) keeps only the top ``capacity``
# keys, count-min answers point queries for ANY key with a one-sided
# error bound: est >= true, and est <= true + (e/width) * N with
# probability 1 - (1/e)^depth. State is depth*width longs per group —
# corpus-size independent, exactly the property that lets per-batch
# sketches persist next to each ingest and fold forward without
# rescanning history (the incremental-rollup shape, operators/rollup.py).
#
# Hashing is md5 arithmetic over (seed, row, key) — the engine-portable
# house hash (functions/exprs.py), so a persisted sketch is stable
# across Spark versions and re-partitionings.


def _cm_bucket(key_col, row_col, width: int, seed: str):
    # 60-bit md5 prefix mod width: independent per sketch row via the
    # (seed, row) salt; nonnegative because the prefix is < 2^60
    return F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(seed + "/"),
                    row_col.cast("string"),
                    F.lit("/"),
                    key_col.cast("string"),
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long") % width


def countmin_partial(
    df: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cm-v1",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Count-min partial state: one (``row``, ``bucket``, ``c``) count
    per touched cell (untouched cells are implicit zeros), optionally
    per ``group_cols``. ONE map-side-combined aggregation over the
    exploded (row x key) relation — depth is a small constant bounded
    fan-out — and the output is at most depth * width rows per group
    regardless of input size.
    """
    if depth < 1 or width < 1:
        raise ValueError(f"depth/width must be >= 1, got {depth}/{width}")
    rows = F.array(*[F.lit(d) for d in range(depth)])
    return (
        df.select(F.col(key_col).alias("__k"), *group_cols)
        .where(F.col("__k").isNotNull())
        .select(*group_cols, "__k", F.explode(rows).alias("row"))
        .select(
            *group_cols,
            "row",
            _cm_bucket(F.col("__k"), F.col("row"), width, seed).alias("bucket"),
        )
        .groupBy(*group_cols, "row", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def countmin_merge(
    partials: Sequence[DataFrame] | DataFrame,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Fold partial sketches into one: cellwise sum on (row, bucket).
    Merging is exact (the sketch of a union IS the cellwise sum), so
    per-batch sketches compose in any order — the mergeability contract
    shared with hll_merge above."""
    if isinstance(partials, DataFrame):
        merged = partials
    else:
        from functools import reduce

        merged = reduce(lambda a, b: a.unionByName(b), partials)
    return merged.groupBy(*group_cols, "row", "bucket").agg(
        F.sum("c").alias("c")
    )


def countmin_estimate(
    sketch: DataFrame,
    keys: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cm-v1",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Point-frequency estimates for ``keys``: min over sketch rows of
    the key's cell count (absent cells are zero). depth/width/seed must
    match the build. Ungrouped, the sketch side is depth*width rows —
    broadcast-sized by construction — so the keys relation never
    shuffles for the join; the only shuffle is the final per-key min.
    With ``group_cols`` the sketch is depth*width rows PER GROUP, which
    a high-cardinality grouping can push past the broadcast limit, so
    the join strategy is left to the optimizer/AQE there."""
    rows = F.array(*[F.lit(d) for d in range(depth)])
    probes = keys.select(*group_cols, key_col).select(
        *group_cols, key_col, F.explode(rows).alias("row")
    ).select(
        *group_cols,
        key_col,
        "row",
        _cm_bucket(F.col(key_col), F.col("row"), width, seed).alias("bucket"),
    )
    sketch_side = F.broadcast(sketch) if not group_cols else sketch
    joined = probes.join(
        sketch_side, [*group_cols, "row", "bucket"], "left"
    ).select(
        *group_cols, key_col, F.coalesce("c", F.lit(0)).alias("c")
    )
    return joined.groupBy(*group_cols, key_col).agg(
        F.min("c").alias("est_count")
    )


def countmin_update_txn(
    table,
    batch: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
    seed: str = "cm-v1",
    group_cols: Sequence[str] = (),
    applied_id: str | None = None,
) -> None:
    """Fold ``batch``'s count-min partial into a transactional sketch
    table (``txn.TxnTable``) — the incremental-ingest shape the sketch
    exists for: per-batch partials land EXACTLY ONCE (the cellwise
    merge and the applied-batch marker are one atomic manifest swap,
    the rollup_update recipe), and the persisted state stays
    depth*width rows per group forever while the raw stream is never
    re-scanned. Readers estimate from any committed snapshot via
    :func:`countmin_estimate` on ``table.read``.

    Concurrency: read+merge is a function of the pinned snapshot
    version, so the txn layer re-runs it after a conflict — a
    concurrent writer's fold is re-merged rather than silently
    overwritten. State is partitioned by sketch ``row`` so the swap is
    a partition replace.
    """
    if applied_id is not None and table.applied(applied_id):
        return
    spark = batch.sparkSession
    partial = countmin_partial(
        batch, key_col, depth=depth, width=width, seed=seed, group_cols=group_cols
    ).persist()

    def merged(version: int) -> DataFrame:
        try:
            existing = table.read(spark, version=version)
        except FileNotFoundError:
            return partial
        return countmin_merge(existing.unionByName(partial), group_cols=group_cols)

    try:
        table.replace_partitions(merged, "row", applied_id=applied_id)
    finally:
        partial.unpersist()


# --- bottom-k quantile sketch -------------------------------------------------
# The quantile twin of the sections above: bounded-state DISTRIBUTION
# estimation with the same partial/merge/estimate lifecycle. Keep the k
# rows whose seeded 60-bit house hash is smallest: bottom-k of a union
# IS the bottom-k of merged bottom-k's, so per-batch partials compose
# in any order (EXACT mergeability, like the HLL/count-min contracts),
# and the surviving rows are a uniform k-sample of everything ever
# folded in. Quantiles of the sample estimate corpus quantiles with the
# DKW bound: P(|rank error| > eps) <= 2 exp(-2 k eps^2) — k=2048 gives
# ~3% rank error at 95% confidence, independent of corpus size.
#
# Exact alternatives for one-shot questions exist (windows.exact_
# quantiles ranks the full corpus); the sketch's value is the
# INCREMENTAL shape: k rows of persisted state per group, folded
# forward per ingest batch, never rescanning history — and the hash is
# the engine-portable md5 house hash, so persisted state is stable
# across engines, Spark versions, and re-partitionings.


def quantile_sketch_partial(
    df: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 2048,
    seed: str = "qsk-v1",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Bottom-k partial: the k (``__h``, value) rows per group with the
    smallest seeded hash of the row identity. ``id_col`` must be unique
    per logical row ACROSS batches (re-folding the same row is then a
    no-op — the sketch is idempotent on replays, not just mergeable).

    Two-stage bottom-k: a first window over (group,
    spark_partition_id) prunes to k rows per input partition per group
    — fully parallel, no single-partition sort even when
    ``group_cols`` is empty — then the exact group window runs on the
    pruned <= k * numPartitions relation. Bottom-k of local bottom-k's
    IS the global bottom-k, so the result is identical to the direct
    form. The window input carries only (group, hash, value) — the
    corpus's other columns never shuffle."""
    from terrorblade_spark.functions.exprs import hash64

    slim = df.select(
        *group_cols,
        hash64(F.col(id_col).cast("string"), salt=seed + "/").alias("__h"),
        F.col(value_col).cast("double").alias("__v"),
    ).where(F.col("__v").isNotNull())
    w_local = Window.partitionBy(*group_cols, "__pid").orderBy("__h")
    pruned = (
        slim.withColumn("__pid", F.spark_partition_id())
        .withColumn("__rn", F.row_number().over(w_local))
        .where(F.col("__rn") <= k)
        .drop("__pid", "__rn")
    )
    w = Window.partitionBy(*group_cols).orderBy("__h")
    return (
        pruned.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def quantile_sketch_merge(
    partials: Sequence[DataFrame] | DataFrame,
    k: int = 2048,
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Fold partials: union, dedup on hash (replayed rows collapse),
    keep the k smallest per group. Associative and commutative, so
    batches fold in any order to the same state."""
    if isinstance(partials, DataFrame):
        merged = partials
    else:
        from functools import reduce

        merged = reduce(lambda a, b: a.unionByName(b), partials)
    w = Window.partitionBy(*group_cols).orderBy("__h")
    return (
        merged.dropDuplicates([*group_cols, "__h"])
        .withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") <= k)
        .drop("__rn")
    )


def quantile_sketch_estimate(
    sketch: DataFrame,
    qs: Sequence[float],
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """Quantile estimates from the sketch's uniform sample: Spark's
    exact ``percentile`` over the <=k retained values per group — the
    buffer the operator family exists to avoid is bounded at k here by
    construction. Output: group cols + one ``p<q>`` column per q."""
    aggs = [
        F.expr(f"percentile(__v, {float(q)!r})").alias(f"p{str(q).replace('.', '_')}")
        for q in qs
    ]
    out = sketch.groupBy(*group_cols).agg(*aggs) if group_cols else sketch.agg(*aggs)
    return out


def quantile_sketch_update_txn(
    table,
    batch: DataFrame,
    value_col: str,
    id_col: str,
    k: int = 2048,
    seed: str = "qsk-v1",
    group_cols: Sequence[str] = (),
    applied_id: str | None = None,
) -> None:
    """Fold ``batch`` into a transactional quantile-sketch table — the
    count-min fold's quantile twin: per-batch partials land EXACTLY
    ONCE (merge + applied-batch marker in one atomic manifest swap),
    persisted state stays <=k rows per group forever, and readers
    estimate from any committed snapshot via
    :func:`quantile_sketch_estimate` on ``table.read``. The read+merge
    is a function of the pinned snapshot version, which the txn layer
    re-runs after a conflict, so concurrent folds re-merge instead of
    silently overwriting."""
    if applied_id is not None and table.applied(applied_id):
        return
    spark = batch.sparkSession
    partial = quantile_sketch_partial(
        batch, value_col, id_col, k=k, seed=seed, group_cols=group_cols
    ).persist()

    def merged(version: int) -> DataFrame:
        try:
            existing = table.read(spark, version=version)
        except FileNotFoundError:
            return partial
        return quantile_sketch_merge(
            existing.unionByName(partial), k=k, group_cols=group_cols
        )

    try:
        table.overwrite(merged, applied_id=applied_id)
    finally:
        partial.unpersist()
