"""Transactional table layer: atomic visibility, exactly-once replay,
crash injection (killed between data write and manifest commit), and
the rollup state over the txn backend."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from terrorblade_spark.txn import CommitConflict, Manifest, TxnTable


def _df(spark, rows, schema="k long, v long"):
    return spark.createDataFrame(rows, schema)


def test_append_and_read_roundtrip(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10), (2, 20)]))
    t.append(_df(spark, [(3, 30)]))
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, 10), (2, 20), (3, 30)]
    assert t.latest().version == 2


def test_empty_append_is_noop_commitwise(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    t.append(_df(spark, []))
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1]


def test_overwrite_replaces_snapshot(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10), (2, 20)]))
    t.overwrite(_df(spark, [(9, 90)]))
    assert [(r["k"], r["v"]) for r in t.read(spark).collect()] == [(9, 90)]


def test_applied_id_makes_append_exactly_once(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    batch = _df(spark, [(1, 10)])
    t.append(batch, applied_id="batch_0")
    t.append(batch, applied_id="batch_0")  # replay: must no-op
    assert t.read(spark).count() == 1
    assert t.applied("batch_0") and not t.applied("batch_1")


def test_crash_between_data_write_and_commit_invisible(spark, tmp_path):
    """Kill the writer after the data files land but before the
    manifest commit: readers must still see the old snapshot, and the
    replayed batch must apply exactly once."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]), applied_id="batch_0")

    # simulate the crash: run only the data-write half of append()
    orphan = t._write_data(_df(spark, [(2, 20)]), None)
    assert orphan and os.path.exists(orphan[0]["path"])
    # no commit happened -> the orphaned files are invisible
    assert [r["k"] for r in t.read(spark).collect()] == [1]
    assert t.latest().version == 1
    assert not t.applied("batch_1")

    # the restarted writer replays the batch; state lands exactly once
    t.append(_df(spark, [(2, 20)]), applied_id="batch_1")
    t.append(_df(spark, [(2, 20)]), applied_id="batch_1")
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2]


def test_half_written_manifest_never_visible(spark, tmp_path):
    """A crash mid-manifest-write leaves only a .tmp file — the log
    resolver must ignore it."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    # simulate: partial temp manifest from a dying writer
    with open(os.path.join(t._log, ".tmp.deadbeef"), "w") as fh:
        fh.write('{"version": 99, "entr')  # truncated JSON
    assert t.latest().version == 1
    assert [r["k"] for r in t.read(spark).collect()] == [1]


def test_version_conflict_detected_and_retried(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    # steal version 2 to force the conflict path
    t._commit(Manifest(2, list(t.latest().entries)))
    t.append(_df(spark, [(2, 20)]))  # must retry and land at v3
    assert t.latest().version == 3
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2]


def test_direct_commit_conflict_raises(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    with pytest.raises(CommitConflict):
        t._commit(Manifest(1, []))


def test_merge_upsert_insert_or_ignore_and_replace(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10), (2, 20)]))
    # S5 insert-or-ignore: existing key 2 keeps its old value
    t.merge_upsert(_df(spark, [(2, 99), (3, 30)]), keys=["k"])
    got = dict((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == {1: 10, 2: 20, 3: 30}
    # S6 insert-or-replace on a version column
    t2 = TxnTable(str(tmp_path / "t2"))
    t2.append(_df(spark, [(1, 1), (2, 1)], "k long, ver long"))
    t2.merge_upsert(_df(spark, [(2, 5), (3, 2)], "k long, ver long"), keys=["k"], version_col="ver")
    got2 = dict((r["k"], r["ver"]) for r in t2.read(spark).collect())
    assert got2 == {1: 1, 2: 5, 3: 2}


def test_replace_partitions_touches_only_named_buckets(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    base = _df(spark, [(0, 1, 100), (1, 2, 200), (2, 3, 300)], "b int, k long, v long")
    t.replace_partitions(base, "b")
    # replace bucket 1 only
    t.replace_partitions(_df(spark, [(1, 2, 999)], "b int, k long, v long"), "b")
    got = {(r["b"], r["k"]): r["v"] for r in t.read(spark).collect()}
    assert got == {(0, 1): 100, (1, 2): 999, (2, 3): 300}
    # manifest-level pruning: filtered read only plans the wanted bucket
    pruned = t.read(spark, partition_filter=[2])
    assert [(r["b"], r["k"], r["v"]) for r in pruned.collect()] == [(2, 3, 300)]


def test_compact_bounds_manifest_entries(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    for i in range(5):
        t.append(_df(spark, [(i, i * 10)]), applied_id=f"b{i}")
    assert len(t.latest().entries) == 5
    t.compact(spark)
    m = t.latest()
    assert len(m.entries) == 1
    # applied ids survive compaction (replay safety is durable)
    assert all(t.applied(f"b{i}") for i in range(5))
    assert t.read(spark).count() == 5


def test_rollup_txn_exactly_once_under_crash_replay(spark, tmp_path):
    """The closed crash window: simulate a writer that dies after the
    state write half (data files written, no commit) and a restart that
    replays the same batch — the fold must apply exactly once (a
    marker written after the state would double-count here)."""
    from terrorblade_spark.operators.rollup import rollup_read, rollup_update

    t = TxnTable(str(tmp_path / "state"))
    b0 = _df(spark, [("a", 1), ("b", 2)], "g string, x long")
    rollup_update(b0, t, keys=["g"], sum_cols=["x"], applied_id="batch_0")

    b1 = _df(spark, [("a", 10)], "g string, x long")
    # crash half: data written, commit skipped (manifest untouched)
    t._write_data(b1, None)
    assert not t.applied("batch_1")

    # restart: replay batch 1 twice (delivery + a second replay)
    rollup_update(b1, t, keys=["g"], sum_cols=["x"], applied_id="batch_1")
    rollup_update(b1, t, keys=["g"], sum_cols=["x"], applied_id="batch_1")

    got = {r["g"]: (r["n_rows"], r["sum_x"]) for r in rollup_read(spark, t).collect()}
    assert got == {"a": (2, 11), "b": (1, 2)}


def test_rollup_txn_matches_direct_aggregate(spark, tmp_path):
    from terrorblade_spark.operators.rollup import rollup_read, rollup_update

    t = TxnTable(str(tmp_path / "state"))
    batches = [
        [("a", 1), ("b", 5), ("a", 3)],
        [("c", 7)],
        [("a", 2), ("c", 1)],
    ]
    full = []
    for i, rows in enumerate(batches):
        full.extend(rows)
        rollup_update(
            _df(spark, rows, "g string, x long"), t, keys=["g"],
            sum_cols=["x"], min_cols=["x"], max_cols=["x"], applied_id=f"b{i}",
        )
    direct = {
        r["g"]: (r["n"], r["s"], r["mn"], r["mx"])
        for r in _df(spark, full, "g string, x long")
        .groupBy("g")
        .agg(
            F.count(F.lit(1)).alias("n"), F.sum("x").alias("s"),
            F.min("x").alias("mn"), F.max("x").alias("mx"),
        )
        .collect()
    }
    folded = {
        r["g"]: (r["n_rows"], r["sum_x"], r["min_x"], r["max_x"])
        for r in rollup_read(spark, t).collect()
    }
    assert folded == direct


def test_time_travel_reads_past_snapshots(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    t.overwrite(_df(spark, [(2, 20)]))
    t.append(_df(spark, [(3, 30)]))
    assert t.history() == [1, 2, 3]
    assert [r["k"] for r in t.read(spark, version=1).collect()] == [1]
    assert [r["k"] for r in t.read(spark, version=2).collect()] == [2]
    assert sorted(r["k"] for r in t.read(spark, version=3).collect()) == [2, 3]
    # latest == highest version
    assert sorted(r["k"] for r in t.read(spark).collect()) == [2, 3]


def test_concurrent_writers_all_land(spark, tmp_path):
    """Optimistic concurrency under real contention: 8 threads append
    simultaneously; every batch must land exactly once and the log must
    be a gap-free version chain."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxnTable(str(tmp_path / "t"))
    dfs = [(i, _df(spark, [(i, i * 10)])) for i in range(8)]

    def write(arg):
        i, df = arg
        t.append(df, applied_id=f"w{i}")

    with ThreadPoolExecutor(max_workers=8) as ex:
        list(ex.map(write, dfs))

    rows = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert rows == [(i, i * 10) for i in range(8)]
    assert t.history() == list(range(1, 9))  # gap-free chain
    assert all(t.applied(f"w{i}") for i in range(8))


def test_compact_then_replace_partitions_drops_stale_rows(spark, tmp_path):
    """The round-4 review bug: compact() rewrites a partitioned table
    into one unpartitioned entry; a later replace_partitions must NOT
    keep that entry's rows for the replaced value live (silent
    double-count). The unpartitioned remainder must be split, and the
    replaced bucket must hold exactly the new rows."""
    t = TxnTable(str(tmp_path / "t"))
    t.replace_partitions(
        _df(spark, [(0, 1, 100), (1, 2, 999), (2, 3, 300)], "b int, k long, v long"), "b"
    )
    t.compact(spark)
    t.replace_partitions(_df(spark, [(1, 2, 555)], "b int, k long, v long"), "b")
    got = sorted((r["b"], r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(0, 1, 100), (1, 2, 555), (2, 3, 300)]
    # and the same through an APPEND-created unpartitioned entry
    t2 = TxnTable(str(tmp_path / "t2"))
    t2.append(_df(spark, [(0, 1, 100), (1, 2, 999)], "b int, k long, v long"))
    t2.replace_partitions(_df(spark, [(1, 2, 555)], "b int, k long, v long"), "b")
    got2 = sorted((r["b"], r["v"]) for r in t2.read(spark).collect())
    assert got2 == [(0, 100), (1, 555)]


def test_compact_preserves_single_column_partitioning(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.replace_partitions(
        _df(spark, [(0, 1, 100), (1, 2, 200)], "b int, k long, v long"), "b"
    )
    t.replace_partitions(_df(spark, [(1, 2, 999)], "b int, k long, v long"), "b")
    t.compact(spark)
    m = t.latest()
    # one entry per live partition value, each still prunable
    assert sorted(e["partition"].get("b") for e in m.entries) == ["0", "1"]
    pruned = t.read(spark, partition_filter=[1])
    assert [(r["b"], r["v"]) for r in pruned.collect()] == [(1, 999)]


def test_replace_partitions_without_partition_col_raises(spark, tmp_path):
    """An unpartitioned entry LACKING the partition column cannot be
    split — refusing beats silently keeping its stale rows live."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))  # schema k, v — no 'b'
    with pytest.raises(ValueError, match="unpartitioned entries without"):
        t.replace_partitions(_df(spark, [(1, 2, 555)], "b int, k long, v long"), "b")


def test_replace_partitions_snapshot_fn_reruns_on_conflict(spark, tmp_path):
    """A write given as a function of the pinned snapshot is re-run
    against the new tip when a competing commit lands first: both
    writes count (re-basing the first result would lose one)."""
    sch = "b int, k long, v long"
    t = TxnTable(str(tmp_path / "t"))
    t.replace_partitions(_df(spark, [(1, 2, 10)], sch), "b")
    calls = []

    def add_five(version):
        calls.append(version)
        if len(calls) == 1:  # a competing writer lands v2 mid-merge
            t.replace_partitions(_df(spark, [(1, 2, 110)], sch), "b")
        return t.read(spark, version=version).withColumn("v", F.col("v") + 5)

    t.replace_partitions(add_five, "b")
    assert calls == [1, 2]
    assert t.latest().version == 3
    assert [(r["b"], r["k"], r["v"]) for r in t.read(spark).collect()] == [(1, 2, 115)]


def test_applied_ids_bounded_per_manifest(spark, tmp_path):
    from terrorblade_spark import txn as txn_mod

    old = txn_mod.MAX_APPLIED_IDS
    txn_mod.MAX_APPLIED_IDS = 3
    try:
        t = TxnTable(str(tmp_path / "t"))
        for i in range(5):
            t.append(_df(spark, [(i, i)]), applied_id=f"b{i}")
        m = t.latest()
        assert m.applied_ids == ["b2", "b3", "b4"]  # horizon = last 3
        assert t.applied("b4") and not t.applied("b0")  # aged out of horizon
        assert t.read(spark).count() == 5  # data itself is never dropped
    finally:
        txn_mod.MAX_APPLIED_IDS = old


def test_concurrent_rollup_writers_no_lost_update(spark, tmp_path):
    """The round-4 review lost-update: two writers folding different
    batches into the SAME bucket concurrently — both merges must land
    (the loser re-reads and re-merges instead of overwriting)."""
    from concurrent.futures import ThreadPoolExecutor

    from terrorblade_spark.operators.rollup import rollup_read, rollup_update

    t = TxnTable(str(tmp_path / "state"))
    batches = [
        (f"w{i}", [("a", 1), ("b", i)]) for i in range(6)
    ]  # same keys -> same buckets, maximum contention

    def fold(arg):
        wid, rows = arg
        rollup_update(
            _df(spark, rows, "g string, x long"), t,
            keys=["g"], sum_cols=["x"], applied_id=wid,
        )

    with ThreadPoolExecutor(max_workers=6) as ex:
        list(ex.map(fold, batches))

    got = {r["g"]: (r["n_rows"], r["sum_x"]) for r in rollup_read(spark, t).collect()}
    assert got == {"a": (6, 6), "b": (6, sum(range(6)))}


def test_vacuum_reclaims_orphans_and_old_versions(spark, tmp_path):
    import os

    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    t.append(_df(spark, [(2, 20)]))
    t.overwrite(_df(spark, [(9, 90)]))  # v1/v2 data now superseded
    # a crashed writer's orphan: data written, never committed
    t._write_data(_df(spark, [(7, 70)]), None)
    n_dirs_before = len(os.listdir(os.path.join(t.path, "data")))
    assert n_dirs_before == 4

    stats = t.vacuum(retain_versions=1, min_age_s=0.0)
    assert stats == {"data_dirs": 3, "manifests": 2}
    # the live snapshot is untouched and readable
    assert [(r["k"], r["v"]) for r in t.read(spark).collect()] == [(9, 90)]
    assert t.history() == [3]
    # vacuumed versions are gone (time travel window shrank, cleanly)
    with pytest.raises(FileNotFoundError):
        t.read(spark, version=1)


def test_vacuum_age_guard_spares_fresh_uncommitted_files(spark, tmp_path):
    """An in-flight writer's data (written, not yet committed) must
    survive a vacuum with the age guard on."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    orphan = t._write_data(_df(spark, [(7, 70)]), None)
    stats = t.vacuum(retain_versions=1, min_age_s=3600.0)
    assert stats["data_dirs"] == 0
    assert os.path.exists(orphan[0]["path"])


def test_vacuum_tmp_floor_spares_fresh_tmp_manifest(spark, tmp_path):
    """A live committer's just-written .tmp.* manifest must survive a
    min_age_s=0 vacuum: the tmp reclaim has its own always-positive age
    floor (tmp_age_floor_s, ADVICE r6) so an aggressive maintenance run
    can't fail a commit inside its tmp-write -> atomic-link window."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    tmp = os.path.join(t._log, ".tmp.inflight")
    with open(tmp, "w") as f:
        f.write("{}")
    t.vacuum(retain_versions=1, min_age_s=0.0)  # default floor: spared
    assert os.path.exists(tmp)
    t.vacuum(retain_versions=1, min_age_s=0.0, tmp_age_floor_s=0.0)
    assert not os.path.exists(tmp)


def test_vacuum_keeps_partitioned_entries_of_retained_versions(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.replace_partitions(
        _df(spark, [(0, 1, 100), (1, 2, 200)], "b int, k long, v long"), "b"
    )
    t.replace_partitions(_df(spark, [(1, 2, 999)], "b int, k long, v long"), "b")
    t.vacuum(retain_versions=1, min_age_s=0.0)
    got = sorted((r["b"], r["v"]) for r in t.read(spark).collect())
    assert got == [(0, 100), (1, 999)]
    # partition pruning still works post-vacuum
    assert [r["v"] for r in t.read(spark, partition_filter=[1]).collect()] == [999]


def test_concurrent_merge_upsert_no_lost_or_duplicate_keys(spark, tmp_path):
    """6 writers merge-upserting OVERLAPPING key ranges concurrently:
    insert-or-ignore must converge to the exact key union with no
    duplicates — each loser's retry re-reads and re-merges against the
    new snapshot."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxnTable(str(tmp_path / "t"))
    ranges = [(0, 20), (10, 30), (20, 40), (5, 25), (15, 35), (30, 50)]

    def write(arg):
        i, (lo, hi) = arg
        t.merge_upsert(
            _df(spark, [(k, i) for k in range(lo, hi)]), keys=["k"],
            applied_id=f"w{i}",
        )

    with ThreadPoolExecutor(max_workers=6) as ex:
        list(ex.map(write, enumerate(ranges)))

    rows = t.read(spark).collect()
    keys = sorted(r["k"] for r in rows)
    assert keys == list(range(0, 50))  # union, no loss
    assert len(keys) == len(set(keys))  # no duplicates


def test_merge_insert_or_ignore_appends_only_new_rows(spark, tmp_path):
    """Insert-or-ignore leaves every existing entry in place and adds
    one entry holding exactly the new keys."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10), (2, 20)]))
    t.append(_df(spark, [(3, 30)]))
    before = t.latest().entries
    t.merge_upsert(_df(spark, [(2, 99), (3, 99), (4, 40), (5, 50)]), keys=["k"])
    after = t.latest().entries
    assert after[: len(before)] == before
    assert len(after) == len(before) + 1 and after[-1]["rows"] == 2
    got = sorted((r["k"], r["v"]) for r in t.read(spark).collect())
    assert got == [(1, 10), (2, 20), (3, 30), (4, 40), (5, 50)]


def test_write_runs_input_plan_once(spark, tmp_path):
    """A txn write executes its lazy input once: no separate count()
    pass before the write."""
    from pyspark.sql.types import BooleanType

    seen = spark.sparkContext.accumulator(0)

    def keep(k):
        seen.add(1)
        return True

    keep_udf = F.udf(keep, BooleanType())
    t = TxnTable(str(tmp_path / "t"))
    t.append(spark.range(10).where(keep_udf("id")))
    assert seen.value == 10
    assert t.latest().entries[0]["rows"] == 10


def test_read_of_many_entries_starts_no_job(spark, tmp_path):
    """Entries carry their schema, so planning a read infers nothing;
    and no scan holds more paths than Spark lists without a job."""
    t = TxnTable(str(tmp_path / "t"))
    for i in range(4):
        t.append(_df(spark, [(i, i * 10)]))
    t.append(_df(spark, [(9, 90)]), partition_col="k")
    sc, conf = spark.sparkContext, "spark.sql.sources.parallelPartitionDiscovery.threshold"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "2")
    sc.setJobGroup("txn-read-plan", "txn-read-plan")
    try:
        t.read(spark)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        spark.conf.set(conf, prev)
    assert sc.statusTracker().getJobIdsForGroup("txn-read-plan") == []
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 2, 3, 9]


def test_read_with_additive_schema_evolution(spark, tmp_path):
    """Entries written before a column existed read as typed nulls —
    appends may widen the schema without rewriting history."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]))
    t.append(
        spark.createDataFrame([(2, 20, "fr")], "k long, v long, lang string")
    )
    got = {r["k"]: (r["v"], r["lang"]) for r in t.read(spark).collect()}
    assert got == {1: (10, None), 2: (20, "fr")}


def test_replace_partitions_preserves_null_partition_rows(spark, tmp_path):
    """NULL partition values in unpartitioned entries must survive a
    split (isin() is NULL-valued for NULLs; a bare where() drops them)."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(
        spark.createDataFrame([(0, 1, 100), (None, 2, 200)], "b int, k long, v long")
    )
    t.replace_partitions(_df(spark, [(0, 1, 555)], "b int, k long, v long"), "b")
    got = sorted(
        ((r["b"], r["k"], r["v"]) for r in t.read(spark).collect()),
        key=lambda x: (x[0] is None, x),
    )
    assert got == [(0, 1, 555), (None, 2, 200)]


def test_string_partition_round_trips_through_compact(spark, tmp_path):
    """Partition values carry their declared type in the manifest: a
    string-keyed table compacts without nulling the key (the old
    hard-coded int cast would corrupt it)."""
    t = TxnTable(str(tmp_path / "t"))
    t.replace_partitions(
        spark.createDataFrame([("fr", 1), ("en", 2)], "lang string, k long"), "lang"
    )
    t.replace_partitions(
        spark.createDataFrame([("en", 3)], "lang string, k long"), "lang"
    )
    t.compact(spark)
    got = sorted((r["lang"], r["k"]) for r in t.read(spark).collect())
    assert got == [("en", 3), ("fr", 1)]


def test_overwrite_partitioned_leaves_no_stale_partitions(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"))
    t.overwrite(
        _df(spark, [(0, 1, 1), (1, 2, 2), (2, 3, 3)], "b int, k long, v long"),
        partition_col="b",
    )
    # "retrain" with fewer partitions: b=2 must NOT survive
    t.overwrite(
        _df(spark, [(0, 9, 9), (1, 8, 8)], "b int, k long, v long"), partition_col="b"
    )
    assert sorted(r["b"] for r in t.read(spark).collect()) == [0, 1]
    # and entries are per-partition (pruning works)
    assert all(e["partition"] for e in t.latest().entries)


def test_distinct_writer_ids_do_not_collide_on_batch_numbers(spark, tmp_path):
    """The Delta txnAppId analog: two streaming writers both at batch 0
    must both land (query-local batch ids are only unique per writer)."""
    t = TxnTable(str(tmp_path / "t"))
    t.append(_df(spark, [(1, 10)]), applied_id="writerA/batch_0")
    t.append(_df(spark, [(2, 20)]), applied_id="writerB/batch_0")  # not a replay
    t.append(_df(spark, [(3, 30)]), applied_id="writerA/batch_0")  # replay: no-op
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2]


# --- row-level delete ---------------------------------------------------------


def test_delete_where_rewrites_only_touched_entries(spark, tmp_path):
    """Mixed table (unpartitioned appends + partitioned replace): a
    delete hitting one partition and one append rewrites exactly those
    entries; the untouched entries keep their immutable files (path
    identity), and time travel still reads the pre-delete rows."""
    t = TxnTable(str(tmp_path / "d"))
    sch = "k long, p long, v long"
    # partitioned snapshot: p=1 and p=2 will be hit, p=5 won't
    t.overwrite(
        _df(spark, [(1, 1, 10), (2, 1, 20), (6, 2, 200), (7, 5, 500)], sch),
        partition_col="p",
    )
    t.append(_df(spark, [(3, 1, 30), (4, 1, 40)], sch))  # unpartitioned, no match
    pre_version = t.latest().version
    pre_paths = {e["path"] for e in t.latest().entries}

    res = t.delete_where(spark, "v = 20 OR v = 200")
    assert res["rows_deleted"] == 2 and res["entries_rewritten"] == 2

    vals = sorted(r["v"] for r in t.read(spark).collect())
    assert vals == [10, 30, 40, 500]
    # untouched entries survive by identity (immutable files):
    # the p=5 entry and the unpartitioned append
    post_paths = {e["path"] for e in t.latest().entries}
    assert len(pre_paths & post_paths) == 2
    # and the rewrite preserved partitioned-ness of the rewritten rows
    assert any(
        e["partition"].get("p") == "1" for e in t.latest().entries
    )
    # time travel: pre-delete snapshot still has both deleted rows
    old = sorted(r["v"] for r in t.read(spark, version=pre_version).collect())
    assert old == [10, 20, 30, 40, 200, 500]


def test_delete_mixed_partition_columns_keeps_each_partitioning(spark, tmp_path):
    """A table whose entries are partitioned by DIFFERENT columns
    (appends under p, then under q): a delete touching entries of both
    kinds rewrites each group under ITS OWN partition column — rows
    are never re-homed under another column's partitioning, so
    manifest-level pruning survives the delete."""
    t = TxnTable(str(tmp_path / "mix"))
    sch = "k long, p long, q long, v long"
    t.append(_df(spark, [(1, 1, 7, 10), (2, 2, 7, 20)], sch), partition_col="p")
    t.append(_df(spark, [(3, 9, 3, 30), (4, 9, 4, 40)], sch), partition_col="q")

    res = t.delete_where(spark, "v = 10 OR v = 30")
    assert res["rows_deleted"] == 2
    vals = sorted(r["v"] for r in t.read(spark).collect())
    assert vals == [20, 40]
    # every surviving partitioned entry still carries its original column
    part_cols = {
        next(iter(e["partition"])) for e in t.latest().entries if e["partition"]
    }
    by_col = {}
    for e in t.latest().entries:
        if e["partition"]:
            c = next(iter(e["partition"]))
            by_col.setdefault(c, set()).update(e["partition"].values())
    assert part_cols == {"p", "q"}
    assert by_col["p"] == {"2"} and by_col["q"] == {"4"}


def test_delete_where_null_condition_rows_kept(spark, tmp_path):
    t = TxnTable(str(tmp_path / "n"))
    t.append(
        spark.createDataFrame([(1, 5.0), (2, None), (3, 9.0)], "k long, v double")
    )
    res = t.delete_where(spark, "v > 6")
    assert res["rows_deleted"] == 1
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1, 2]


def test_delete_keys_gdpr_erasure_with_vacuum(spark, tmp_path):
    """delete_keys removes exactly the requested ids; after vacuum the
    pre-delete versions (and their data files) are gone."""
    t = TxnTable(str(tmp_path / "g"))
    t.append(_df(spark, [(i, i * 10) for i in range(8)]))
    keys = spark.createDataFrame([(2,), (5,), (99,)], "k long")
    res = t.delete_keys(spark, keys, "k")
    assert res["rows_deleted"] == 2
    assert sorted(r["k"] for r in t.read(spark).collect()) == [0, 1, 3, 4, 6, 7]
    t.vacuum(retain_versions=1, min_age_s=0)
    with pytest.raises(Exception):
        t.read(spark, version=1)
    # and the live snapshot still reads fine post-vacuum
    assert t.read(spark).count() == 6


def test_delete_where_replay_and_no_match(spark, tmp_path):
    t = TxnTable(str(tmp_path / "r"))
    t.append(_df(spark, [(1, 10), (2, 20)]))
    res = t.delete_where(spark, "k = 2", applied_id="erase-2")
    assert res["rows_deleted"] == 1
    replay = t.delete_where(spark, "k = 2", applied_id="erase-2")
    assert replay["rows_deleted"] == 0 and replay["entries_rewritten"] == 0
    nothing = t.delete_where(spark, "k = 777")
    assert nothing["rows_deleted"] == 0
    assert sorted(r["k"] for r in t.read(spark).collect()) == [1]


def test_delete_concurrent_with_append_lands_consistently(spark, tmp_path):
    """A delete racing an append of NON-matching rows: both commits
    land (the delete re-probes on conflict) and the final state is the
    same under either interleaving."""
    from concurrent.futures import ThreadPoolExecutor

    t = TxnTable(str(tmp_path / "c"))
    t.append(_df(spark, [(i, i) for i in range(10)]))

    def do_delete():
        return t.delete_where(spark, "k < 3")

    def do_append():
        t.append(_df(spark, [(100, 100), (101, 101)]))

    with ThreadPoolExecutor(2) as ex:
        fd = ex.submit(do_delete)
        fa = ex.submit(do_append)
        fa.result()
        res = fd.result()
    assert res["rows_deleted"] == 3
    assert sorted(r["k"] for r in t.read(spark).collect()) == [
        3, 4, 5, 6, 7, 8, 9, 100, 101,
    ]
