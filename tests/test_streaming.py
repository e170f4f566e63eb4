"""Streaming pipeline tests: the production foreachBatch sinks — each
commits to a ``txn.TxnTable`` together with its batch marker, so a
replayed micro-batch adds nothing — and the stateful streaming
operators. The memory-sink batch runners are test harnesses and are
exercised via q47/q57's oracle rows instead.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from terrorblade_spark.streaming.pipeline import dedup_merge_writer, stream_events
from terrorblade_spark.tables import load_table
from terrorblade_spark.txn import TxnTable


def _drain(writer, checkpoint: str) -> None:
    q = (
        writer.option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def test_dedup_merge_writer_is_idempotent(spark, sf_dir, tmp_path):
    # replaying the SAME backlog through a fresh checkpoint (and so a
    # new writer id) must add zero rows: the anti-join drops every
    # already-present key
    target = TxnTable(str(tmp_path / "target"))
    for i in range(2):
        _drain(
            dedup_merge_writer(
                stream_events(spark, sf_dir), target, keys=["event_id"], writer_id=f"w{i}"
            ),
            str(tmp_path / f"cp{i}"),
        )
    got = target.read(spark).count()
    want = load_table(spark, sf_dir, "events").count()
    assert got == want


def test_dedup_merge_writer_raises_on_unreadable_target(spark, sf_dir, tmp_path):
    # a target that EXISTS but cannot be read is NOT "first batch":
    # falling through to a blind append would break idempotency, so the
    # writer must propagate the error and fail the stream
    import shutil

    from pyspark.errors.exceptions.captured import StreamingQueryException

    target = TxnTable(str(tmp_path / "broken"))
    target.append(load_table(spark, sf_dir, "events").limit(5))
    # the manifest now names a data directory that is gone
    shutil.rmtree(target.latest().entries[0]["path"])
    versions = target.history()
    writer = dedup_merge_writer(
        stream_events(spark, sf_dir), target, keys=["event_id"], writer_id="w1"
    )
    q = (
        writer.option("checkpointLocation", str(tmp_path / "cp"))
        .trigger(availableNow=True)
        .start()
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    assert target.history() == versions  # nothing was appended


def test_content_dedup_writer_cross_batch_and_restart(spark, tmp_path):
    from terrorblade_spark.streaming.pipeline import content_dedup_writer

    src = tmp_path / "src"
    src.mkdir()
    corpus = TxnTable(str(tmp_path / "corpus"))
    schema = "doc_id long, text string"

    def arrive(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )

    # batch 1: one within-batch dup
    arrive([(1, "alpha"), (2, "alpha"), (3, "beta")], "b1")
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(src) + "/*"
    )
    _drain(content_dedup_writer(stream, corpus, "w0"), str(tmp_path / "cp0"))
    got1 = {(r["doc_id"], r["text"]) for r in corpus.read(spark).collect()}
    assert got1 == {(1, "alpha"), (3, "beta")}

    # batch 2 arrives: one known text, one new
    arrive([(10, "alpha"), (11, "gamma")], "b2")
    _drain(content_dedup_writer(stream, corpus, "w0"), str(tmp_path / "cp0"))
    texts = sorted(r["text"] for r in corpus.read(spark).collect())
    assert texts == ["alpha", "beta", "gamma"]

    # full replay from a fresh checkpoint, under a new writer id so the
    # batch markers do not apply: the content-hash gate admits nothing
    _drain(content_dedup_writer(stream, corpus, "w1"), str(tmp_path / "cp1"))
    assert corpus.read(spark).count() == 3
    assert corpus.read(spark).select("content_hash").distinct().count() == 3


def test_neardup_dedup_writer_cross_batch_and_chains(spark, tmp_path):
    from terrorblade_spark.streaming.pipeline import neardup_dedup_writer

    src = tmp_path / "ndsrc"
    src.mkdir()
    corpus = TxnTable(str(tmp_path / "ndcorpus"))
    schema = "doc_id long, text string"
    base = "the quick brown fox jumps over the lazy dog again and again today"

    def arrive(rows, name):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite").parquet(
            str(src / name)
        )

    def stream():
        return spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
            str(src) + "/*"
        )

    def doc_ids():
        return sorted(r["doc_id"] for r in corpus.read(spark).collect())

    # batch 1: a near-dup pair (1,2), an unrelated doc, a too-short doc
    arrive(
        [
            (1, base),
            (2, base + " extra"),
            (3, "completely unrelated content about spark parquet shuffles and joins"),
            (4, "too short"),
        ],
        "b1",
    )
    _drain(neardup_dedup_writer(stream(), corpus, "w0"), str(tmp_path / "ndcp0"))
    # min-id representative of the near-dup pair + unrelated + unshingleable
    assert doc_ids() == [1, 3, 4]

    # batch 2: near-dup of already-ingested content + genuinely new
    arrive(
        [
            (10, base + " indeed"),
            (11, "fresh new material never seen before in any prior batch at all"),
        ],
        "b2",
    )
    _drain(neardup_dedup_writer(stream(), corpus, "w0"), str(tmp_path / "ndcp0"))
    assert doc_ids() == [1, 3, 4, 11]

    # replay from a fresh checkpoint under a new writer id: the band
    # index rejects everything known
    _drain(neardup_dedup_writer(stream(), corpus, "w1"), str(tmp_path / "ndcp1"))
    # unshingleable docs carry no bands -> re-admitted on full replay
    assert doc_ids() == [1, 3, 4, 4, 11]

    # the band index holds bands for admitted shingleable docs only (3 of them)
    bands = corpus.read(spark).select(F.explode("band_keys")).distinct()
    assert bands.count() <= 3 * 4


def test_rollup_writer_maintains_aggregates_from_stream(spark, sf_dir, tmp_path):
    """End-to-end: the incremental rollup maintained by a real stream
    (availableNow backlog) equals the direct batch aggregate, and a
    restart over the same backlog from a fresh checkpoint, under the
    same writer id, adds nothing (each batch id commits with its fold)."""
    from terrorblade_spark.operators.rollup import rollup_read, rollup_writer

    state = TxnTable(str(tmp_path / "rollup_state"))
    for i in range(2):  # second drain = fresh checkpoint replays backlog
        _drain(
            rollup_writer(
                stream_events(spark, sf_dir),
                state,
                keys=["user_id"],
                writer_id="w1",
                sum_cols=["value"],
            ),
            str(tmp_path / f"cp{i}"),
        )
    got = {
        r["user_id"]: (r["n_rows"], r["sum_value"])
        for r in rollup_read(spark, state).collect()
    }
    want = {
        r["user_id"]: (r["n"], r["s"])
        for r in load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert got == want


def test_streaming_frequent_items_bounded_state(spark, tmp_path):
    """Heavy hitters maintained across micro-batches with fixed-size
    state: hot values survive, counts are exact lower bounds, and the
    per-group summary never exceeds its capacity."""
    from terrorblade_spark.streaming.pipeline import streaming_frequent_items

    src = tmp_path / "fisrc"
    src.mkdir()
    schema = "v string"

    # two files -> two micro-batches with maxFilesPerTrigger=1
    hot = [("hot",)] * 500
    spark.createDataFrame(hot + [(f"a{i}",) for i in range(400)], schema).coalesce(
        1
    ).write.parquet(str(src / "b1"))
    spark.createDataFrame(hot + [(f"b{i}",) for i in range(400)], schema).coalesce(
        1
    ).write.parquet(str(src / "b2"))

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(src) + "/*"
    )
    out = streaming_frequent_items(stream, "v", capacity=32, n_groups=4)
    q = (
        out.writeStream.format("memory")
        .queryName("stream_fi")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ficp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.table("stream_fi").collect()
    # latest emission per (group, value): totals are monotone lower bounds
    latest = {}
    for r in rows:
        latest[(r["group"], r["value"])] = max(
            latest.get((r["group"], r["value"]), 0), r["n_lower"]
        )
    hot_counts = [n for (g, v), n in latest.items() if v == "hot"]
    assert hot_counts, "the hot value must survive both batches"
    # survived with a lower bound <= true 1000 and at least batch-1 floor
    assert max(hot_counts) <= 1000
    assert max(hot_counts) >= 1000 - 2 * (900 // 33)  # MG decrement bound per batch
    # state is bounded: each batch emits its group's summary (<= capacity
    # rows), so across the 2 batches a group shows at most 2x capacity
    # distinct values — far below the ~200 distinct it actually saw
    from collections import Counter

    per_group = Counter(g for (g, v) in latest)
    assert all(n <= 2 * 32 for n in per_group.values())


def test_dedup_within_watermark_drops_near_duplicates(spark, tmp_path):
    from terrorblade_spark.streaming.pipeline import dedup_within_watermark

    src = tmp_path / "wmsrc"
    src.mkdir()
    schema = "event_id long, ts_s string"
    rows = [
        (1, "2024-01-01 00:00:00"),
        (1, "2024-01-01 00:10:00"),  # retry duplicate, within watermark
        (2, "2024-01-01 00:20:00"),
        (2, "2024-01-01 00:20:00"),  # exact duplicate
        (3, "2024-01-01 01:00:00"),
    ]
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / "b1"))
    stream = (
        spark.readStream.schema(schema)
        .parquet(str(src) + "/*")
        .withColumn("ts", F.to_timestamp("ts_s"))
        .drop("ts_s")
    )
    out = dedup_within_watermark(stream, ["event_id"], watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("wm_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wmcp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = sorted(r["event_id"] for r in spark.table("wm_dedup").collect())
    assert got == [1, 2, 3]


def test_stream_stream_attribution_within_window(spark, tmp_path):
    """Interval-join attribution: clicks attach to views they follow
    within the window; late clicks and other users' clicks do not."""
    from terrorblade_spark.streaming.pipeline import stream_stream_attribution

    vsrc, csrc = tmp_path / "views", tmp_path / "clicks"
    vsrc.mkdir(); csrc.mkdir()
    vschema = "user_id long, view_id long, vts_s string"
    cschema = "user_id long, click_id long, cts_s string"
    spark.createDataFrame(
        [
            (1, 100, "2024-01-01 00:00:00"),
            (2, 200, "2024-01-01 00:00:00"),
        ],
        vschema,
    ).coalesce(1).write.parquet(str(vsrc / "b1"))
    spark.createDataFrame(
        [
            (1, 900, "2024-01-01 00:30:00"),  # attributes to view 100
            (1, 901, "2024-01-01 03:00:00"),  # too late (window 1h)
            (3, 902, "2024-01-01 00:10:00"),  # no matching view
        ],
        cschema,
    ).coalesce(1).write.parquet(str(csrc / "b1"))

    views = (
        spark.readStream.schema(vschema).parquet(str(vsrc) + "/*")
        .withColumn("view_ts", F.to_timestamp("vts_s")).drop("vts_s")
    )
    clicks = (
        spark.readStream.schema(cschema).parquet(str(csrc) + "/*")
        .withColumn("click_ts", F.to_timestamp("cts_s")).drop("cts_s")
    )
    joined = stream_stream_attribution(
        views, clicks, key="user_id", lead_ts="view_ts", follow_ts="click_ts", within="1 hour"
    ).select("view_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("attribution")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "atcp"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {(r["view_id"], r["click_id"]) for r in spark.table("attribution").collect()}
    assert got == {(100, 900)}


def test_rocksdb_state_store_equivalence(spark, sf_dir):
    """The session rollup must produce identical results under the
    RocksDB state store (the production backend once state outgrows
    the heap) as under the default HDFS-backed provider."""
    from terrorblade_spark.streaming.pipeline import (
        run_sessionization_batch,
        use_rocksdb_state,
    )

    baseline = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
        for r in run_sessionization_batch(spark, sf_dir).collect()
    }
    use_rocksdb_state(spark)
    try:
        rocks = {
            (r["user_id"], r["session_start"]): (r["n_events"], r["total_value"])
            for r in run_sessionization_batch(spark, sf_dir).collect()
        }
    finally:
        use_rocksdb_state(spark, enable=False)
    assert rocks == baseline


def test_txn_append_writer_exactly_once_across_replay(spark, tmp_path):
    """Restart-replay of a delivered micro-batch must not duplicate:
    rows + batch marker are one atomic commit."""
    import os

    from terrorblade_spark.streaming.pipeline import txn_append_writer

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame([(1, "a")], "id long, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/f0.parquet")
    spark.createDataFrame([(2, "b")], "id long, v string").coalesce(1).write.mode(
        "overwrite"
    ).parquet(f"{src}/f1.parquet")

    t = TxnTable(str(tmp_path / "t"))
    stream = (
        spark.readStream.schema("id long, v string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    # first run: fresh checkpoint, drains both files as two batches
    ckpt = str(tmp_path / "ckpt")
    q = txn_append_writer(stream, t, "w1").option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).start()
    q.awaitTermination(120)
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2]

    # simulate the crash-replay window: re-deliver batch 0 by hand
    batch0 = spark.read.parquet(f"{src}/f0.parquet")
    t.append(batch0, applied_id="w1/batch_0")  # what a restarted sink would do
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2]

    # a genuine restart with the same checkpoint also lands nothing new
    q2 = txn_append_writer(stream, t, "w1").option("checkpointLocation", ckpt).trigger(
        availableNow=True
    ).start()
    q2.awaitTermination(120)
    assert sorted(r["id"] for r in t.read(spark).collect()) == [1, 2]


def test_txn_content_dedup_writer_closes_replay_window(spark, tmp_path):
    """Replaying a batch AND re-sending seen content must both no-op:
    rows + marker are one commit, the hash 'index' is the corpus's own
    stored column."""
    import os

    from terrorblade_spark.streaming.pipeline import content_dedup_writer

    src = str(tmp_path / "src")
    os.makedirs(src)
    spark.createDataFrame(
        [(1, "alpha text"), (2, "beta text"), (3, "alpha text")],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(f"{src}/f0.parquet")
    spark.createDataFrame(
        [(4, "alpha text"), (5, "gamma text")], "doc_id long, text string"
    ).coalesce(1).write.parquet(f"{src}/f1.parquet")

    t = TxnTable(str(tmp_path / "corpus"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = content_dedup_writer(stream, t, "w1").option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    rows = t.read(spark).collect()
    # within-batch dup (3) and cross-batch dup (4) rejected; canonical
    # = smallest id per content
    assert sorted(r["doc_id"] for r in rows) == [1, 2, 5]
    assert all("content_hash" in r.asDict() for r in rows)

    # crash-replay of batch 0: atomic marker makes it a no-op
    b0 = spark.read.parquet(f"{src}/f0.parquet")
    from terrorblade_spark.operators.dedup import incremental_dedup

    admitted, _ = incremental_dedup(b0, t.read(spark).select("content_hash"))
    t.append(admitted, applied_id="w1/batch_0")
    assert sorted(r["doc_id"] for r in t.read(spark).collect()) == [1, 2, 5]


def test_semantic_ingest_writer_gates_across_batches(spark, tmp_path):
    """The semantic ingest gate wired into foreachBatch (VERDICT r6
    task 4): batch 2 REPLAYS batch 1's content (admits nothing — every
    row pairs with its own admitted twin in state), batch 3 carries a
    near-dup twin of a batch-1 canonical (rejected) plus fresh content
    (admitted). Final state matches the one-shot incremental gate run
    on the distinct union."""
    import math
    import os

    from terrorblade_spark.operators.dedup import semantic_dedup_incremental
    from terrorblade_spark.streaming.pipeline import semantic_ingest_writer

    def rot(theta, i, j):
        v = [0.0] * 4
        v[i] = math.cos(theta)
        v[j] = math.sin(theta)
        return v

    vschema = "vec_id long, embedding array<double>"
    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = [(1, rot(0.00, 0, 1)), (2, rot(0.00, 1, 2))]  # two canonicals
    b3 = [(10, rot(0.03, 0, 1)),  # twin of admitted 1 -> rejected
          (11, rot(0.80, 0, 1))]  # fresh direction -> admitted
    spark.createDataFrame(b1, vschema).coalesce(1).write.parquet(f"{src}/f0.parquet")
    spark.createDataFrame(b1, vschema).coalesce(1).write.parquet(f"{src}/f1.parquet")
    spark.createDataFrame(b3, vschema).coalesce(1).write.parquet(f"{src}/f2.parquet")

    cents = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0, 0.0])],
        "list_id int, centroid array<double>",
    )
    t = TxnTable(str(tmp_path / "state"))
    stream = (
        spark.readStream.schema(vschema)
        .option("maxFilesPerTrigger", 1)
        .parquet(f"{src}/*")
    )
    q = semantic_ingest_writer(stream, t, cents, "w1", threshold=0.95).option(
        "checkpointLocation", str(tmp_path / "ckpt")
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)

    state = t.read(spark)
    got_ids = sorted({r["vec_id"] for r in state.collect()})
    assert got_ids == [1, 2, 11]
    # one state row per probe cell per canonical
    assert state.count() == 3 * 2

    # equivalence with the batch-operator run on the distinct union
    union = spark.createDataFrame(b1 + b3, vschema)
    adm, st = semantic_dedup_incremental(union, None, cents, threshold=0.95)
    assert sorted(r["vec_id"] for r in adm.collect()) == got_ids
    assert st.count() == state.count()

    # crash-replay of batch 0 via the txn marker: a no-op
    from terrorblade_spark.operators.dedup import semantic_ingest_txn

    readd = semantic_ingest_txn(
        t, spark.createDataFrame(b1, vschema), cents, applied_id="w1/batch_0"
    )
    assert readd.count() == 0
    assert t.read(spark).count() == 6


_DOCS = (
    "doc_id long, text string",
    [
        [(1, "the quick brown fox jumps over the lazy dog"), (2, "short")],
        [(3, "spark shuffles parquet files between the executors all day")],
    ],
)
_VECS = (
    "vec_id long, embedding array<double>",
    [[(1, [1.0, 0.0, 0.0]), (2, [0.0, 1.0, 0.0])], [(3, [0.0, 0.0, 1.0])]],
)


def _semantic_writer(stream, table, writer_id):
    from terrorblade_spark.streaming.pipeline import semantic_ingest_writer

    cents = stream.sparkSession.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])], "list_id int, centroid array<double>"
    )
    return semantic_ingest_writer(stream, table, cents, writer_id)


def _sinks():
    from terrorblade_spark.operators.rollup import rollup_writer
    from terrorblade_spark.streaming import pipeline as P

    return {
        "txn_append_writer": (_DOCS, P.txn_append_writer),
        "dedup_merge_writer": (_DOCS, lambda s, t, w: P.dedup_merge_writer(s, t, ["doc_id"], w)),
        "content_dedup_writer": (_DOCS, P.content_dedup_writer),
        "neardup_dedup_writer": (_DOCS, P.neardup_dedup_writer),
        "rollup_writer": (_DOCS, lambda s, t, w: rollup_writer(s, t, ["doc_id"], w)),
        "semantic_ingest_writer": (_VECS, _semantic_writer),
    }


@pytest.mark.parametrize("sink", list(_sinks()))
def test_sink_replay_under_same_writer_id_commits_nothing(spark, tmp_path, sink):
    """Every stateful sink is exactly-once: draining the same backlog
    again from a fresh checkpoint, under the same writer id, re-delivers
    batch ids whose markers are already committed — the table's history
    must not grow."""
    (schema, batches), make = _sinks()[sink]
    src = tmp_path / "src"
    for i, rows in enumerate(batches):
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(str(src / f"f{i}"))
    table = TxnTable(str(tmp_path / "t"))
    history = []
    for i in range(2):
        stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
            f"{src}/*"
        )
        _drain(make(stream, table, "w1"), str(tmp_path / f"cp{i}"))
        history.append(table.history())
    assert len(history[0]) == len(batches)  # one commit per micro-batch
    assert history[1] == history[0]


def test_stateful_update_handles_timeout_and_late_events(spark):
    """Review repros: (a) a timed-out state invocation arrives with no
    data — the handler must evict and emit nothing, not crash on an
    empty concat; (b) a late within-watermark event must not rewind
    last_ts and overcount sessions."""
    from types import SimpleNamespace

    import pandas as pd

    from terrorblade_spark.streaming.pipeline import stateful_session_counts

    # drive the update closure directly (the documented test seam)
    fn = stateful_session_counts.__wrapped__ if hasattr(
        stateful_session_counts, "__wrapped__") else None
    # build the closure via the public builder instead
    from terrorblade_spark.streaming import pipeline as P

    captured = {}
    orig = P.stream_events

    class FakeState:
        def __init__(self, exists=False, value=None, timed_out=False):
            self.exists = exists
            self.get = value
            self.hasTimedOut = timed_out
            self.removed = False
            self.updated = None
        def update(self, v):
            self.updated = v
        def remove(self):
            self.removed = True
        def getCurrentWatermarkMs(self):
            return 0
        def setTimeoutTimestamp(self, v):
            self.timeout = v

    def fake_stream_events(spark_, sf_dir_, **kw):
        class FakeStream:
            def withWatermark(self, *a):
                return self
            def groupBy(self, *a):
                return self
            def applyInPandasWithState(self, update, **kw2):
                captured["update"] = update
                return None
        return FakeStream()

    P.stream_events = fake_stream_events
    try:
        P.stateful_session_counts(spark, "/nonexistent", gap_s=1800)
    finally:
        P.stream_events = orig
    update = captured["update"]

    # (a) timeout invocation: empty data, hasTimedOut=True
    st = FakeState(exists=True, value=(1000, 2, 5), timed_out=True)
    assert list(update((7,), iter([]), st)) == []
    assert st.removed

    # (b) late event must not rewind the clock: state at t=T; batch
    # delivers T-1h (late) then T+20min. T+20min is WITHIN the 30-min
    # gap of T -> no new session. The old code rewound last_ts to T-1h
    # and then counted T+20min as a fresh session (overcount).
    t0 = pd.Timestamp("2024-01-01 12:00:00")
    st2 = FakeState(exists=True, value=(int(t0.value // 1_000_000), 1, 1))
    batch = pd.DataFrame({
        "ts": [t0 - pd.Timedelta(hours=1), t0 + pd.Timedelta(minutes=20)],
        "event_id": [10, 11],
    })
    list(update((7,), iter([batch]), st2))
    last_ts, n_sessions, n_events = st2.updated
    assert n_sessions == 1  # still the same session
    assert n_events == 3
    # and a late-only batch must not rewind nor add sessions
    st3 = FakeState(exists=True, value=(int(t0.value // 1_000_000), 1, 1))
    late_only = pd.DataFrame({"ts": [t0 - pd.Timedelta(hours=2)], "event_id": [9]})
    list(update((7,), iter([late_only]), st3))
    assert st3.updated[0] == int(t0.value // 1_000_000)  # last_ts unchanged
    assert st3.updated[1] == 1  # no phantom session


def test_drift_monitor_flags_shifted_batch(spark, tmp_path):
    """Batch 1 = in-distribution docs (low JS vs the reference fit on
    the same corpus); batch 2 = spam-vocabulary docs (high JS). The
    monitor must append one report row per batch and alert only on the
    second."""
    from terrorblade_spark.operators.lm import fit_ngram_lm
    from terrorblade_spark.streaming.pipeline import drift_monitor_writer

    base = [(i, "alpha beta gamma delta epsilon zeta") for i in range(40)]
    spam = [(1000 + i, "buy cheap now click free prize winner") for i in range(40)]
    schema = "doc_id long, text string"
    src = tmp_path / "src"
    spark.createDataFrame(base, schema).coalesce(1).write.parquet(
        str(src / "b0.parquet")
    )
    spark.createDataFrame(spam, schema).coalesce(1).write.parquet(
        str(src / "b1.parquet")
    )
    ref = fit_ngram_lm(spark.createDataFrame(base, schema))
    report = str(tmp_path / "report")

    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(
        str(src) + "/*"
    )
    q = (
        drift_monitor_writer(stream, ref, report, js_alert=0.1)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    ref.unpersist()

    rows = sorted(spark.read.parquet(report).collect(), key=lambda r: r.batch_id)
    assert len(rows) == 2
    assert [r.n_docs for r in rows] == [40, 40]
    in_dist = [r for r in rows if not r.drift_alert]
    drifted = [r for r in rows if r.drift_alert]
    assert len(in_dist) == 1 and len(drifted) == 1
    assert in_dist[0].js_divergence < 1e-9  # same distribution -> JS ~ 0
    assert drifted[0].js_divergence > 0.5  # disjoint vocab -> near ln(2)
    assert drifted[0].n_shared == 0
