"""Structured Streaming surface (SURVEY §2.12).

The reference's streaming-shaped semantics, as real streams:

- incremental ingest with a per-chat high-watermark ``min_id``
  (parse_telegram_client.py:241-247)  ->  file-source readStream (new
  files are the increment; exactly-once per file);
- idempotent late/duplicate handling via PK INSERT OR IGNORE
  (telegram_database.py:926-928)  ->  ``foreachBatch`` anti-join merge
  into a ``txn.TxnTable`` (``dedup_merge_writer``) or dropDuplicates
  within the watermark;
- gap sessionization (E2)  ->  ``session_window`` aggregation with an
  event-time watermark bounding state.

All builders return unstarted streaming DataFrames/writers so callers
choose trigger + sink; ``run_sessionization_batch`` drives the whole
thing with ``availableNow`` for tests/bench (processes the backlog,
then stops — same plan a 24/7 cluster job would run).

Every stateful sink persists through ``txn.TxnTable`` and commits its
rows together with a ``<writer_id>/batch_<id>`` marker, so a replayed
micro-batch is a no-op (the drift monitor's report is the exception:
a plain parquet append).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from terrorblade_spark.functions.exprs import dec_sum
from terrorblade_spark.tables import _enable_nanos_read, normalize_ts


def stream_events(
    spark: SparkSession, sf_dir: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stream over the events table (schema pinned from the
    batch loader — streams never infer)."""
    # pin the RAW parquet schema (whatever physical type ts arrives as);
    # normalize_ts below makes it TIMESTAMP for watermarks, as in batch
    _enable_nanos_read(spark)
    raw = spark.read.parquet(f"{sf_dir}/events.parquet")
    reader = spark.readStream.schema(raw.schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    # the sf dir holds every table; the file source needs a directory,
    # so glob-filter it down to the events file(s)
    df = reader.option("pathGlobFilter", "events*.parquet").parquet(sf_dir)
    # same normalization as tables.load_table applies to batch reads:
    # INT64-nanos / TIMESTAMP_NTZ / TIMESTAMP all land on TIMESTAMP
    return normalize_ts(df)


def session_aggregate(
    stream: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked session-window rollup: one row per (user, session).
    State is bounded by the watermark — sessions older than it are
    finalized and evicted, which is what makes this run forever."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id", F.session_window("ts", gap).alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            dec_sum(F.col("value"), 6).alias("total_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "total_value",
        )
    )


def dedup_merge_writer(stream: DataFrame, table, keys: list[str], writer_id: str):
    """S5 idempotent sink as a stream: each micro-batch is merged into
    a ``txn.TxnTable`` as INSERT OR IGNORE on ``keys``
    (``merge_upsert``: a null-safe anti-join against the pinned
    snapshot, then an append of only the new rows), and the batch id
    commits with the rows. A target that cannot be read fails the
    stream; only an empty table means "first batch". ``writer_id``:
    see ``txn_append_writer``."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        # WITHIN-batch dedup first: the same key delivered twice in one
        # trigger passes any anti-join against the target (neither copy
        # is there yet) and both would land permanently
        table.merge_upsert(
            batch_df.dropDuplicates(list(keys)),
            list(keys),
            applied_id=f"{writer_id}/batch_{batch_id}",
        )

    return stream.writeStream.foreachBatch(merge)


def use_rocksdb_state(spark: SparkSession, enable: bool = True) -> None:
    """Switch stateful streaming to the RocksDB state store (or back).

    The default HDFSBackedStateStoreProvider keeps every state row on
    the JVM heap — fine for bounded session windows, an OOM for
    large-cardinality stateful ops (per-key dedup indexes, heavy-hitter
    groups over many keys) on a 24/7 stream. RocksDB spills state to
    local disk with incremental checkpointing; it is the production
    choice once state stops fitting in memory. Applies to streams
    STARTED after the call — a restarted stream keeps the provider
    recorded in its checkpoint.
    """
    key = "spark.sql.streaming.stateStore.providerClass"
    if enable:
        spark.conf.set(
            key,
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
        )
    else:
        spark.conf.unset(key)


class _state_partitions:
    """Scope the shuffle-partition conf around a stream start.

    Stateful streams pin their state-store partition count at first
    start; inheriting the batch shuffle default (sized for wide batch
    shuffles) means that many state stores opened per micro-batch.
    Size it to the stateful key cardinality instead — each state store
    has fixed per-task open/commit overhead, so far fewer partitions
    than cores is right until per-key state stops fitting (measured
    3-5x micro-batch latency at 32 -> 8 on the bench backlog). A
    restarted production stream keeps its original count via the
    checkpoint, so this only ever applies to fresh streams.
    """

    def __init__(self, spark: SparkSession, n: int | None):
        self.spark, self.n = spark, n

    def __enter__(self):
        if self.n is not None:
            self.old = self.spark.conf.get("spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions", str(self.n))

    def __exit__(self, *exc):
        if self.n is not None:
            self.spark.conf.set("spark.sql.shuffle.partitions", self.old)


def run_sessionization_batch(
    spark: SparkSession,
    sf_dir: str,
    gap: str = "30 minutes",
    state_partitions: int | None = 8,
) -> DataFrame:
    """TEST/BENCH HARNESS ONLY: drive the streaming session plan over
    the existing backlog with availableNow and return the finalized
    sessions as a DataFrame.

    The complete-mode memory sink accumulates EVERY session on the
    driver — fine for a bounded test backlog, a guaranteed OOM on a
    24/7 production stream. Production deployments must pair
    ``session_aggregate`` with ``dedup_merge_writer`` (an exactly-once
    foreachBatch merge into a ``txn.TxnTable``); tests/test_streaming.py
    asserts that path end-to-end."""
    sessions = session_aggregate(stream_events(spark, sf_dir), gap=gap)
    with _state_partitions(spark, state_partitions):
        q = (
            sessions.writeStream.format("memory")
            .queryName("stream_sessions")
            .outputMode("complete")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table("stream_sessions")


def stateful_session_counts(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    timeout_extra_ms: int = 60_000,
) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user gap sessionization with explicit state — the general form
    for stateful logic ``session_window`` can't express (e.g. breaks on
    author change or semantic distance, E6/E4 in streaming mode).

    State per user: (last_ts_ms, n_sessions, n_events). Each micro-batch
    sorts its rows by event time and continues the running session
    count; the event-time watermark evicts idle users' state (bounded
    memory on a 24/7 cluster). Emits one row per user per batch with
    the running totals; with availableNow over a static backlog the
    final rows equal the batch answer (asserted in tests).
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        import numpy as np
        import pandas as pd

        # timeout invocation: the watermark passed an idle user's
        # timeout — Spark calls with NO data. Evict the state and emit
        # nothing; concatenating the empty iterator would crash the
        # stream at exactly the eviction moment the timeout exists for.
        if state.hasTimedOut:
            state.remove()
            return
        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        batches = [b for b in pdfs if len(b)]
        if not batches:
            return
        rows = pd.concat(batches, ignore_index=True)
        # Vectorized twin of the original per-event loop (round 11,
        # guide §4.2 — the loop paid ~1 Python iteration per EVENT;
        # this pays a few numpy ops per USER-BATCH). The loop's
        # semantics over ts sorted ascending:
        #   - an event with ts <= running last_ts is a late
        #     (within-watermark) arrival folded into the open session:
        #     n_events++ only. last_ts never regresses — a rewound
        #     clock would count the next in-order event as a fresh
        #     session (overcount); folding the late event is the
        #     conservative side.
        #   - otherwise last_ts advances to ts and a session opens iff
        #     the gap exceeds gap_s.
        # In sorted order, last_ts is the running max, so the events
        # that advance it are exactly the FIRST occurrence of each
        # distinct ts strictly greater than the incoming state's
        # last_ts — np.unique of the filtered array. Session opens
        # where consecutive advancing values (seeded with the incoming
        # last_ts) differ by more than the gap. Pure integer
        # arithmetic, identical results (unit-pinned against the loop).
        ts_ms = rows["ts"].to_numpy(dtype="datetime64[ns]").astype(np.int64)
        ts_ms //= 1_000_000
        n_events += len(ts_ms)
        adv = np.unique(ts_ms if last_ts is None else ts_ms[ts_ms > last_ts])
        if len(adv):
            prev = np.empty_like(adv)
            prev[1:] = adv[:-1]
            if last_ts is None:
                # seed so the first event always opens a session (the
                # loop's `last_ts is None` branch)
                prev[0] = adv[0] - gap_s * 1000 - 1
            else:
                prev[0] = last_ts
            n_sessions += int((adv - prev > gap_s * 1000).sum())
            last_ts = int(adv[-1])
        state.update((last_ts, n_sessions, n_events))
        # timeout must be >= the current watermark (the backlog replay
        # advances it far past idle users' last event)
        wm = state.getCurrentWatermarkMs()
        state.setTimeoutTimestamp(max(last_ts + gap_s * 1000, wm) + timeout_extra_ms)
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_sessions": [n_sessions],
                "n_events": [n_events],
            }
        )

    stream = stream_events(spark, sf_dir)
    return (
        stream.withWatermark("ts", "2 hours")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_sessions long, n_events long",
            stateStructType="last_ts long, n_sessions long, n_events long",
            outputMode="update",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def run_stateful_sessions_batch(
    spark: SparkSession,
    sf_dir: str,
    gap_s: int = 1800,
    state_partitions: int | None = 8,
) -> DataFrame:
    """TEST/BENCH HARNESS ONLY (memory sink — see
    run_sessionization_batch): drive the stateful session counter over
    the backlog; return the LAST emitted row per user (the final
    running totals)."""
    out = stateful_session_counts(spark, sf_dir, gap_s)
    with _state_partitions(spark, state_partitions):
        q = (
            out.writeStream.format("memory")
            .queryName("stateful_sessions")
            .outputMode("update")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    from pyspark.sql import Window

    all_rows = spark.table("stateful_sessions")
    # update mode may emit a row per micro-batch per user; keep the one
    # with the highest n_events (totals are monotone)
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (
        all_rows.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .drop("rn")
    )


def stream_stream_attribution(
    lead_stream: DataFrame,
    follow_stream: DataFrame,
    key: str,
    lead_ts: str,
    follow_ts: str,
    within: str = "1 hour",
    watermark: str = "2 hours",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join: each follow-stream row
    pairs with the lead rows it follows within ``within`` on the same
    ``key`` (the classic view->click / impression->conversion
    attribution shape).

    Both sides carry event-time watermarks and the join predicate
    bounds follow time inside [lead, lead + within], which is what
    lets the engine EVICT buffered lead rows once the follow-side
    watermark passes lead_ts + within — bounded state on a 24/7
    stream. An unbounded (no time-bound) stream-stream join would
    buffer both sides forever; Spark rejects outer variants of it for
    exactly that reason.
    """
    lead = lead_stream.withWatermark(lead_ts, watermark)
    follow = follow_stream.withWatermark(follow_ts, watermark)
    cond = (
        (lead[key] == follow[key])
        & (follow[follow_ts] >= lead[lead_ts])
        & (follow[follow_ts] <= lead[lead_ts] + F.expr(f"INTERVAL {within}"))
    )
    return lead.join(follow, cond, how)


def dedup_within_watermark(
    stream: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Engine-native late-duplicate drop: keep the first row per key,
    holding each key's dedup state only until the event-time watermark
    passes it (``dropDuplicatesWithinWatermark``). The in-engine
    counterpart to ``dedup_merge_writer``'s durable anti-join sink:
    use THIS when duplicates arrive close together (retries, at-least-
    once sources) and the sink form when they can reappear arbitrarily
    late (its index is durable; this state is watermark-bounded, which
    is exactly what lets it run forever)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(keys)


def streaming_frequent_items(
    stream: DataFrame,
    col: str,
    capacity: int = 128,
    n_groups: int = 16,
    watermark_col: str | None = None,
    watermark: str = "2 hours",
) -> DataFrame:
    """Bounded-state streaming heavy hitters: the 24/7 form of
    ``operators.sketches.frequent_items``.

    Values hash into ``n_groups`` state keys; each key holds one
    Misra-Gries summary (≤ ``capacity`` counters) updated per
    micro-batch via ``applyInPandasWithState`` — total state is
    n_groups x capacity counters FOREVER, regardless of how many
    distinct values the stream has seen. Each batch emits every
    group's current summary (update mode); the union of the latest
    emissions is the global candidate set with the per-group guarantee
    (any value with frequency > N_group/(capacity+1) survives).

    ``watermark_col`` opts into an event-time watermark when the
    source needs one; the counters themselves are count-based and
    never expire (heavy-hitter state is the product, not a window).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, pdfs, state: GroupState):
        if state.exists:
            values, counts = state.get
            counters = pd.Series(list(counts), index=list(values), dtype="int64")
        else:
            counters = pd.Series(dtype="int64")
        for pdf in pdfs:
            vc = pdf["value"].value_counts()
            counters = pd.concat([counters, vc]).groupby(level=0).sum()
            if len(counters) > capacity:
                cut = counters.nlargest(capacity + 1).iloc[-1]
                counters = counters[counters > cut] - cut
        state.update((list(counters.index), [int(c) for c in counters.to_numpy()]))
        yield pd.DataFrame(
            {
                "group": [key[0]] * len(counters),
                "value": counters.index,
                "n_lower": counters.to_numpy("int64"),
            }
        )

    if watermark_col is not None:
        stream = stream.withWatermark(watermark_col, watermark)
    source = stream.select(F.col(col).cast("string").alias("value")).where(
        F.col("value").isNotNull()
    )
    return (
        source.withColumn("group", F.pmod(F.hash("value"), F.lit(n_groups)))
        .groupBy("group")
        .applyInPandasWithState(
            update,
            outputStructType="group int, value string, n_lower long",
            stateStructType="values array<string>, counts array<long>",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def neardup_dedup_writer(
    stream: DataFrame,
    corpus_table,
    writer_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 16,
    bands: int = 4,
    shingle_n: int = 3,
):
    """Streaming NEAR-dup ingest gate: each micro-batch is MinHash-LSH
    banded and admitted only if no band collides with the corpus's
    band index — the streaming form of ``minhash_lsh_candidates``,
    applied at ingest so near-duplicate content never lands in the
    corpus.

    Admission rule, deterministic and single-pass (no per-batch
    connected-components driver loop):

    - a doc whose any band matches the index is rejected (near-dup of
      already-ingested content, within LSH's probabilistic contract);
    - within the batch, a doc is admitted iff it holds the MINIMUM id
      in EVERY band bucket it occupies — exactly one representative
      per near-dup pair; a chain A~B~C may admit only A (conservative
      toward dedup, the right bias for an ingest gate);
    - docs too short to shingle have no bands: always admitted, never
      indexed (they cannot near-dup-collide).

    The admitted rows land in ``corpus_table`` (a ``txn.TxnTable``)
    with their band keys as a ``band_keys`` column, in ONE commit that
    also carries the batch marker: replay is a no-op, and the band
    index is the corpus's own stored column (as ``content_dedup_writer``
    uses ``content_hash``), so it grows with canonical content and can
    never disagree with the corpus. ``writer_id``: see
    ``txn_append_writer``.
    """
    from pyspark.sql import Window

    from terrorblade_spark.operators.dedup import _minhash_core, lsh_band_keys

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        applied_id = f"{writer_id}/batch_{batch_id}"
        if corpus_table.applied(applied_id):
            return
        spark = batch_df.sparkSession
        try:
            index = corpus_table.read(spark).select(
                F.explode("band_keys").alias("bk")
            ).select("bk.band", "bk.band_hash")
        except FileNotFoundError:
            index = None

        # per-doc band keys; docs too short to shingle have no row
        keyed = (
            _minhash_core(batch_df, id_col, text_col, num_hashes, shingle_n)
            .select(
                F.col(id_col).alias("doc"),
                lsh_band_keys(F.col("signature"), bands, num_hashes // bands).alias(
                    "band_keys"
                ),
            )
            .persist()
        )
        try:
            banded = keyed.select("doc", F.explode("band_keys").alias("bk")).select(
                "doc", "bk.band", "bk.band_hash"
            )
            if index is not None:
                # any band collision with the corpus index -> rejected
                hit = (
                    banded.join(index, ["band", "band_hash"], "leftsemi")
                    .select("doc")
                    .distinct()
                )
                banded = banded.join(hit, "doc", "left_anti")
            # within-batch: admitted iff min id in EVERY occupied bucket
            wmin = Window.partitionBy("band", "band_hash")
            admit_ids = (
                banded.withColumn("min_doc", F.min("doc").over(wmin))
                .groupBy("doc")
                .agg(F.max((F.col("doc") != F.col("min_doc")).cast("int")).alias("beaten"))
                .where(F.col("beaten") == 0)
                .select(F.col("doc").alias(id_col))
            )
            rows = batch_df.join(keyed.withColumnRenamed("doc", id_col), id_col, "left")
            admitted = rows.where(F.col("band_keys").isNull()).unionByName(
                rows.join(admit_ids, id_col, "leftsemi")
            )
            corpus_table.append(admitted, applied_id=applied_id)
        finally:
            # unpersist on failure too: foreachBatch retries would
            # otherwise accumulate pinned datasets
            keyed.unpersist()

    return stream.writeStream.foreachBatch(merge)


def txn_append_writer(stream: DataFrame, table, writer_id: str):
    """Exactly-once streaming append into a ``txn.TxnTable``: the
    micro-batch's rows and its batch-id marker commit in ONE atomic
    manifest swap, so a replayed batch (restart after a crash anywhere
    around the write) is a no-op — the same contract Delta's
    idempotent `txnAppId`/`txnVersion` sink options provide. No read
    of existing data per batch: the replay check is a manifest-side id
    lookup, O(1) vs ``dedup_merge_writer``'s anti-join scan (which
    this sink skips, so it admits keys already in the table).

    ``writer_id`` is the Delta ``txnAppId`` analog and is REQUIRED:
    batch ids alone are query-local, so two queries feeding one table —
    or one query restarted with a fresh checkpoint — would collide at
    ``batch_0`` and silently drop each other's data. Use one stable id
    per (query, checkpoint) pairing; replays within that pairing are
    deduplicated, distinct writers never interfere."""

    def append(batch_df: DataFrame, batch_id: int) -> None:
        table.append(batch_df, applied_id=f"{writer_id}/batch_{batch_id}")

    return stream.writeStream.foreachBatch(append)


def content_dedup_writer(
    stream: DataFrame,
    corpus_table,
    writer_id: str,
    id_col: str = "doc_id",
    text_col: str = "text",
):
    """Streaming corpus ingest with content-level dedup: each
    micro-batch goes through ``operators.dedup.incremental_dedup``
    against the corpus's content hashes, so only never-seen text is
    appended — the streaming form of the batch ingest-dedup operator.

    The admitted rows — WITH their ``content_hash`` column — land in
    one ``txn.TxnTable`` commit that also carries the batch marker:
    replay is a no-op, and the "index" is the corpus table's own
    stored hash column (a column-pruned narrow scan; at 100 TB bucket
    the table by ``content_hash`` so the per-batch anti-join is
    index-side-pruned, with no second write to keep in step).
    ``writer_id`` is the Delta txnAppId analog (see
    ``txn_append_writer``): REQUIRED so distinct queries or a fresh
    checkpoint never collide on query-local batch ids."""
    from terrorblade_spark.operators.dedup import incremental_dedup

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        applied_id = f"{writer_id}/batch_{batch_id}"
        if corpus_table.applied(applied_id):
            return
        spark = batch_df.sparkSession
        try:
            index = corpus_table.read(spark).select("content_hash")
        except FileNotFoundError:
            index = None
        admitted, _ = incremental_dedup(batch_df, index, id_col, text_col)
        corpus_table.append(admitted, applied_id=applied_id)

    return stream.writeStream.foreachBatch(merge)


def semantic_ingest_writer(
    stream: DataFrame,
    state_table,
    centroids: DataFrame,
    writer_id: str,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    assign_probes: int = 2,
    max_exact_group: int | None = 64,
):
    """Streaming form of the incremental SEMANTIC dedup gate
    (operators/dedup.semantic_dedup_incremental), the embedding-space
    sibling of ``content_dedup_writer``: each micro-batch is gated
    against the canonical state accumulated by every PRIOR batch —
    near-duplicates of admitted canonicals (or of an earlier-id row in
    the same batch) are dropped; survivors' probe-cell state rows land
    in ONE atomic ``txn.TxnTable`` commit carrying the batch marker,
    so a replayed batch (restart after a crash anywhere around the
    write) folds exactly once. ``centroids`` is the FIXED coarse
    quantizer (fit once via ivf_build; refit on drift is a rebuild,
    not a fold). ``writer_id``: see ``txn_append_writer`` — REQUIRED
    so distinct queries or a fresh checkpoint never collide on
    query-local batch ids.

    State growth is one row per probe cell per ADMITTED canonical —
    watermark-free by design (semantic dedup has no time horizon; the
    state table is the product, not operator state), the same contract
    as the content-hash corpus table. The exact-duplicate mega-group
    guard (``max_exact_group``) applies per micro-batch: route streams
    with heavy exact duplication through ``content_dedup_writer``
    (or the hash gate) first, per the ordering contract.
    """
    from terrorblade_spark.operators.dedup import semantic_ingest_txn

    def gate(batch_df: DataFrame, batch_id: int) -> None:
        semantic_ingest_txn(
            state_table,
            batch_df,
            centroids,
            threshold=threshold,
            id_col=id_col,
            vec_col=vec_col,
            assign_probes=assign_probes,
            applied_id=f"{writer_id}/batch_{batch_id}",
            max_exact_group=max_exact_group,
        )

    return stream.writeStream.foreachBatch(gate)


def drift_monitor_writer(
    stream: DataFrame,
    reference_lm,
    report_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    js_alert: float = 0.1,
):
    """Streaming corpus drift monitor: every micro-batch fits its own
    ML unigram table and records the Jensen-Shannon divergence against
    the fitted REFERENCE model (operators/lm.compare_corpora — the
    batch form is value-oracled as q90). One summary row per batch
    appends to ``report_path``: (batch_id, n_docs, js_divergence,
    vocabulary overlap counts, drift_alert = js > ``js_alert``) — the
    artifact a crawl-monitoring dashboard tails to catch "this week's
    ingest looks nothing like the corpus" before it trains.

    Scale shape: the reference unigram table is MODEL-sized (top-V)
    and reused across batches; per-batch cost is one token aggregate
    over the batch plus a model-sized full-outer join. The corpus is
    never rescanned, and state (the reference model) is constant-size.
    The per-batch LM's cached relations are unpersisted before the
    batch commits, so a long-running monitor cannot accumulate cache.
    """
    from terrorblade_spark.operators.lm import compare_corpora, fit_ngram_lm

    def monitor(batch_df: DataFrame, batch_id: int) -> None:
        # persist: the count and the LM fit would otherwise each
        # re-read the batch source
        batch_df = batch_df.persist()
        n_docs = batch_df.count()
        if n_docs == 0:
            batch_df.unpersist()
            return
        lm_b = fit_ngram_lm(batch_df, id_col, text_col)
        try:
            summary, _ = compare_corpora(reference_lm, lm_b)
            row = summary.select(
                F.lit(int(batch_id)).cast("long").alias("batch_id"),
                F.lit(int(n_docs)).cast("long").alias("n_docs"),
                "js_divergence",
                "n_tokens_a",
                "n_tokens_b",
                "n_shared",
                (F.col("js_divergence") > F.lit(float(js_alert))).alias("drift_alert"),
            )
            row.write.mode("append").parquet(report_path)
        finally:
            lm_b.unpersist()
            batch_df.unpersist()

    return stream.writeStream.foreachBatch(monitor)
