"""Crash-atomic, optimistically-concurrent table commits over plain
parquet — a minimal log-structured table format (the Delta/Iceberg
design point, reduced to what the write paths here need).

Why: plain ``df.write.mode("overwrite")`` (and dynamic partition
overwrite, the rollup state's old write path) deletes-then-writes in
place — a crash mid-write leaves the table truncated or a partition
half-rewritten, and two concurrent writers corrupt each other. The
reference gets atomicity from DuckDB's transactional PK inserts
(telegram_database.py:925-928); a distributed engine needs it from the
storage layout instead.

Design (the public Delta-log recipe):

* Data files are IMMUTABLE. Every commit writes fresh parquet under a
  unique ``data/<uuid>/`` directory; nothing is ever modified in place.
* The table state is a MANIFEST: ``_txn/<version>.json`` lists exactly
  the live entries (path + optional partition value + row count +
  schema). A reader resolves the highest committed version and reads
  only the files it names — orphaned data from crashed writers is
  invisible.
* A commit is one atomic filesystem primitive: the manifest is written
  to a temp name, fsynced, then ``os.link``-ed to its final versioned
  name. ``link`` fails with EEXIST if that version was concurrently
  committed — the loser re-reads the log, re-resolves conflicts, and
  retries at the next version (optimistic concurrency). On object
  stores the same protocol rides a conditional PUT (S3
  If-None-Match/ETag) — the manifest layer is the only part that needs
  the primitive, data files never conflict by construction.
* Exactly-once streaming folds: a commit optionally records an
  ``applied_id``. Replaying a delivered micro-batch sees its id in the
  committed chain and skips — the marker and the state change are ONE
  atomic commit, so no crash window separates them (a marker written
  after the state double-applies a batch that crashes in between).
  The rollup state and the streaming ingest sinks commit this way
  (operators/rollup.py, streaming/pipeline.py).

Scale notes: the manifest holds one entry per live data directory (or
per partition subdir), not per row — thousands of entries is a small
JSON document. Each append adds entries, and so does each
insert-or-ignore ``merge_upsert`` (one entry holding only the new
rows; the existing entries are never rewritten), so entries grow with
the number of writes. ``compact()`` is the bound: it rewrites live
data and starts a fresh entry list, itself an atomic commit. Each
entry records the schema of its files, so a read infers nothing and
starts no Spark job, and unpartitioned entries that share a schema
share a scan (up to Spark's parallel-listing threshold of paths). Reads attach each entry's partition value as a
literal column, so partition pruning happens at MANIFEST level
(entries filtered driver-side before any scan is planned) — the same
effect as hive partition pruning without trusting directory-listing
consistency.
"""

from __future__ import annotations

import json
import os
import shutil
import time
import uuid
from dataclasses import dataclass, field
from functools import reduce
from typing import Any, Callable, Union

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_TXN_DIR = "_txn"
_VERSION_WIDTH = 20
# Replay-detection horizon: each manifest carries at most this many
# applied ids (oldest dropped first). Without a cap the list — copied
# forward by every commit — grows O(total batches ever applied) and each
# commit re-serializes all of it. The cap bounds manifest size at the
# cost of a bounded horizon: a replay is detected iff its id is among
# the last MAX_APPLIED_IDS committed. Structured Streaming's foreachBatch
# redelivers only the most recent unacknowledged batch per query, so any
# horizon >= the number of concurrent writer queries is safe; 4096 gives
# four orders of magnitude of headroom. (Delta bounds the same state by
# keeping one txn action per appId; ids here are opaque strings, so an
# ordered tail is the equivalent bound.)
MAX_APPLIED_IDS = 4096

# what a write takes: the rows, or a function of the pinned snapshot
# version that returns them (see the writes section of TxnTable)
Data = Union[DataFrame, Callable[[int], DataFrame]]


def _cap_ids(ids: list[str]) -> list[str]:
    return ids[-MAX_APPLIED_IDS:] if len(ids) > MAX_APPLIED_IDS else ids


class CommitConflict(Exception):
    """Another writer committed this version first; caller must re-read
    the log, re-resolve, and retry."""


@dataclass
class Manifest:
    version: int
    # each entry: {"path": str, "partition": {col: value} | {}, "rows": int,
    #              "schema": StructType JSON, "ptype": str (partitioned only)}
    entries: list[dict[str, Any]]
    applied_ids: list[str] = field(default_factory=list)

    def to_json(self) -> str:
        # each distinct schema is stored once and entries name it by
        # key: every commit lists all live entries, so an inline schema
        # per entry would grow each manifest by a schema per append
        keys: dict[str, str] = {}
        entries = []
        for e in self.entries:
            if "schema" in e:
                s = json.dumps(e["schema"], sort_keys=True)
                e = dict(e, schema=keys.setdefault(s, str(len(keys))))
            entries.append(e)
        return json.dumps(
            {
                "version": self.version,
                "entries": entries,
                "schemas": {k: json.loads(s) for s, k in keys.items()},
                "applied_ids": self.applied_ids,
            },
            sort_keys=True,
        )

    @classmethod
    def from_json(cls, raw: dict[str, Any]) -> Manifest:
        schemas = raw.get("schemas", {})
        entries = [
            dict(e, schema=schemas[e["schema"]]) if "schema" in e else e
            for e in raw["entries"]
        ]
        return cls(raw["version"], entries, raw.get("applied_ids", []))


class TxnTable:
    """A table addressed by its root directory. All methods are safe to
    call concurrently from independent writers; readers never block."""

    def __init__(self, path: str):
        self.path = path
        self._log = os.path.join(path, _TXN_DIR)

    # -- log primitives ------------------------------------------------------

    def _versions(self) -> list[int]:
        try:
            names = os.listdir(self._log)
        except FileNotFoundError:
            return []
        return sorted(
            int(n[: -len(".json")]) for n in names
            if n.endswith(".json") and n[: -len(".json")].isdigit()
        )

    def _read_manifest(self, version: int) -> Manifest:
        with open(os.path.join(self._log, f"{version:0{_VERSION_WIDTH}d}.json")) as fh:
            return Manifest.from_json(json.load(fh))

    def latest(self) -> Manifest | None:
        """Resolve the highest committed manifest (None for an empty or
        nonexistent table). A half-written temp file is never visible:
        only fully-linked ``<version>.json`` names are considered."""
        versions = self._versions()
        if not versions:
            return None
        return self._read_manifest(versions[-1])

    def history(self) -> list[int]:
        """Committed versions, ascending — each is a readable snapshot
        (time travel) until a retention pass deletes its data files."""
        return self._versions()

    def _commit(self, manifest: Manifest) -> None:
        """Atomically publish ``manifest`` as its version. Raises
        CommitConflict if that version already exists (lost the race)."""
        os.makedirs(self._log, exist_ok=True)
        final = os.path.join(self._log, f"{manifest.version:0{_VERSION_WIDTH}d}.json")
        tmp = os.path.join(self._log, f".tmp.{uuid.uuid4().hex}")
        with open(tmp, "w") as fh:
            fh.write(manifest.to_json())
            fh.flush()
            os.fsync(fh.fileno())
        try:
            # link (not rename): EEXIST on a concurrently-taken version
            # is the conflict signal; rename would silently clobber
            os.link(tmp, final)
        except FileExistsError:
            raise CommitConflict(
                f"version {manifest.version} of {self.path} committed concurrently"
            )
        finally:
            os.unlink(tmp)

    def _write_data(
        self, df: DataFrame, partition_col: str | None
    ) -> list[dict[str, Any]]:
        """Write ``df`` to a fresh immutable data directory; return the
        manifest entries describing it. With a partition column the
        directory is split hive-style so each partition value gets its
        own entry (manifest-level pruning).

        The plan runs once: row counts come from the written files'
        parquet footers, not from a separate ``count()`` that would
        execute every lazy input a second time. Each entry records the
        schema of its files so readers skip schema inference."""
        dest = os.path.join(self.path, "data", uuid.uuid4().hex)
        writer = df.write.mode("errorifexists")
        schema = df.schema
        if partition_col is not None:
            ptype = dict(df.dtypes)[partition_col]
            writer = writer.partitionBy(partition_col)
            schema = StructType([f for f in schema if f.name != partition_col])
        writer.parquet(dest)
        layout = [(dest, {"partition": {}})]
        if partition_col is not None:
            # the partition column's declared type: readers reattach
            # with THIS cast, so a string-keyed table round-trips (a
            # hard-coded int cast would null it)
            layout = [
                (os.path.join(dest, name),
                 {"partition": dict([name.split("=", 1)]), "ptype": ptype})
                for name in sorted(os.listdir(dest)) if "=" in name
            ]
        entries = []
        for path, entry in layout:
            rows = sum(
                pq.read_metadata(os.path.join(path, n)).num_rows
                for n in os.listdir(path) if n.endswith(".parquet")
            )
            if rows:
                entries.append(
                    dict(entry, path=path, rows=rows, schema=schema.jsonValue())
                )
        if not entries:
            shutil.rmtree(dest)  # nothing to publish; never referenced
        return entries

    # -- reads ---------------------------------------------------------------

    def read(
        self,
        spark: SparkSession,
        partition_filter: Any | None = None,
        partition_type: str = "int",
        version: int | None = None,
    ) -> DataFrame:
        """Read the current snapshot — or, with ``version``, any past
        committed snapshot (time travel: data files are immutable and
        manifests name exactly the files live at that version; version
        0 is the empty table before the first commit).
        ``partition_filter`` (a set of partition values, compared as
        strings) prunes entries at the manifest — the pruned scans are
        never planned at all."""
        if version is None:
            m = self.latest()
        else:
            m = self._read_manifest(version) if version else None
        entries = m.entries if m else []
        if partition_filter is not None:
            wanted = {str(v) for v in partition_filter}
            entries = [
                e for e in entries
                if not e["partition"] or set(e["partition"].values()) & wanted
            ]
        if not entries:
            raise FileNotFoundError(f"txn table {self.path} is empty")
        return self._scan(spark, entries, partition_type)

    def _scan(
        self,
        spark: SparkSession,
        entries: list[dict[str, Any]],
        partition_type: str = "int",
    ) -> DataFrame:
        """``entries`` as one DataFrame. Unpartitioned entries that
        record the same schema share a scan; every other entry is its
        own scan. A scan takes at most the parallel-listing threshold
        of paths: above it, Spark lists the paths with a job."""
        groups: dict[str, list[dict[str, Any]]] = {}
        for i, e in enumerate(entries):
            shared = "schema" in e and not e["partition"]
            key = json.dumps(e["schema"], sort_keys=True) if shared else f"#{i}"
            groups.setdefault(key, []).append(e)
        n = int(spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold"))
        parts = [
            self._entry_df(spark, g[i : i + n], partition_type)
            for g in groups.values()
            for i in range(0, len(g), n)
        ]
        # allowMissingColumns = additive schema evolution: entries
        # written before a column existed read it as typed nulls (the
        # Delta mergeSchema read behavior); renames/drops/type changes
        # remain the caller's migration problem, as everywhere
        return reduce(
            lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
        )

    def _entry_df(
        self,
        spark: SparkSession,
        group: list[dict[str, Any]],
        partition_type: str = "int",
    ) -> DataFrame:
        """One scan over manifest entries that share a layout. It reads
        with the schema the writer recorded, so no inference job runs
        (entries predating that field infer it). partitionBy strips the
        partition column from the data files, so reattach it from the
        entry with the type the WRITER recorded (fallback: the caller's
        hint, for manifests predating the ptype field)."""
        e = group[0]
        reader = spark.read
        if "schema" in e:
            reader = reader.schema(StructType.fromJson(e["schema"]))
        part_df = reader.parquet(*(g["path"] for g in group))
        for col, raw in e["partition"].items():
            cast_to = e.get("ptype", partition_type)
            val = None if raw == "__HIVE_DEFAULT_PARTITION__" else raw
            part_df = part_df.withColumn(col, F.lit(val).cast(cast_to))
        return part_df

    def applied(self, applied_id: str) -> bool:
        """True iff a committed manifest recorded ``applied_id`` —
        the exactly-once replay check for streaming folds."""
        m = self.latest()
        return m is not None and applied_id in m.applied_ids

    # -- writes --------------------------------------------------------------
    #
    # ``append``, ``overwrite`` and ``replace_partitions`` take either a
    # DataFrame or a function of the pinned snapshot version (0 = empty
    # table) that returns one. Use a function when the data depends on
    # the table itself (read-merge-write): on a conflict it is re-run
    # against the new tip, so a competing commit is merged, not lost.

    def _retrying_commit(
        self, build, applied_id: str | None = None, max_attempts: int = 12
    ) -> Manifest | None:
        """The one optimistic-concurrency loop. Each attempt pins the
        latest manifest; ``build(base)`` returns the next snapshot's
        entries (or None to commit nothing), which commit at base+1
        together with ``applied_id``. On conflict the log is re-read
        and ``build`` re-runs against the new tip. A replay whose
        ``applied_id`` is already committed stops before ``build``.
        Returns the committed manifest, or None if nothing committed."""
        for attempt in range(max_attempts):
            base = self.latest()
            ids = list(base.applied_ids) if base else []
            if applied_id is not None and applied_id in ids:
                return None
            entries = build(base)
            if entries is None:
                return None
            if applied_id is not None:
                ids.append(applied_id)
            nxt = Manifest((base.version + 1) if base else 1, entries, _cap_ids(ids))
            try:
                self._commit(nxt)
                return nxt
            except CommitConflict:
                time.sleep(min(0.05 * (2**attempt), 1.0))
        raise CommitConflict(f"gave up after {max_attempts} attempts on {self.path}")

    def _new_entries(self, data: Data, partition_col: str | None):
        """``base -> entries`` for one write inside the commit loop. A
        DataFrame is written on the first attempt only; a conflict
        re-bases the same entries onto the new tip. A function is
        re-run against each attempt's pinned version and written
        again, because its output depends on the snapshot it read."""
        if not isinstance(data, DataFrame):
            return lambda base: self._write_data(
                data(base.version if base else 0), partition_col
            )
        written: list[list[dict[str, Any]]] = []

        def once(base: Manifest | None) -> list[dict[str, Any]]:
            if not written:
                written.append(self._write_data(data, partition_col))
            return written[0]

        return once

    def append(
        self,
        data: Data,
        applied_id: str | None = None,
        partition_col: str | None = None,
    ) -> None:
        """Atomically append ``data``'s rows (new files + manifest
        swap). With ``applied_id``, the append is exactly-once: a
        replay whose id is already committed is a no-op. With
        ``partition_col`` the new files land hive-split with
        per-partition manifest entries — appends into a partitioned
        table keep manifest-level pruning (an unpartitioned entry would
        be scanned by every filtered read until the next compact)."""
        new = self._new_entries(data, partition_col)
        self._retrying_commit(
            lambda base: (list(base.entries) if base else []) + new(base), applied_id
        )

    def overwrite(
        self,
        data: Data,
        applied_id: str | None = None,
        partition_col: str | None = None,
    ) -> None:
        """Atomically replace the whole table contents. With
        ``partition_col`` the new snapshot lands hive-split with
        per-partition entries — the full-rebuild form for partitioned
        tables (unlike ``replace_partitions``, values absent from
        the data do NOT survive: an index retrain with fewer partitions
        leaves no stale ones)."""
        self._retrying_commit(self._new_entries(data, partition_col), applied_id)

    def replace_partitions(
        self,
        data: Data,
        partition_col: str,
        applied_id: str | None = None,
    ) -> None:
        """Atomically replace exactly the partitions present in
        ``data`` (dynamic partition overwrite with a crash-safe swap):
        entries for untouched partition values survive unchanged; the
        touched values' old entries are dropped and the new files take
        over — all in one manifest commit.

        Entries written WITHOUT partitioning (``append``/``overwrite``,
        or a ``compact`` of a mixed snapshot) may hold live rows for the
        touched values too, so they are SPLIT, not kept: their rows for
        untouched values are rewritten as per-partition entries and
        their rows for touched values are dropped — still one atomic
        commit. Requires the unpartitioned data to actually contain
        ``partition_col`` (raises ValueError otherwise — refusing is
        better than silently leaving stale rows live). Partition values
        are compared as their hive directory strings, which is exact for
        the int/simple-string keys used here."""
        new = self._new_entries(data, partition_col)

        def build(base: Manifest | None) -> list[dict[str, Any]]:
            new_entries = new(base)
            touched = {v for e in new_entries for v in e["partition"].values()}
            old = base.entries if base else []
            kept = [
                e for e in old
                if e["partition"] and not (set(e["partition"].values()) & touched)
            ]
            unpart = [e for e in old if not e["partition"]]
            split_entries: list[dict[str, Any]] = []
            if unpart and touched:
                stale = self._scan(SparkSession.active(), unpart)
                if partition_col not in stale.columns:
                    raise ValueError(
                        f"txn table {self.path} has unpartitioned entries without "
                        f"column {partition_col!r}; cannot replace partitions safely"
                    )
                # NULL partition values: isin() is NULL-valued for NULL
                # rows, and a bare where() would silently DROP them.
                # Keep NULL rows unless the replacement explicitly
                # targets the hive default partition.
                keep = ~F.col(partition_col).cast("string").isin(sorted(touched))
                null_kept = "__HIVE_DEFAULT_PARTITION__" not in touched
                remainder = stale.where(F.coalesce(keep, F.lit(null_kept)))
                split_entries = self._write_data(remainder, partition_col)
            elif unpart:
                kept = unpart + kept
            return kept + split_entries + new_entries

        self._retrying_commit(build, applied_id)

    def merge_upsert(
        self,
        new_rows: DataFrame,
        keys: list[str],
        version_col: str | None = None,
        applied_id: str | None = None,
    ) -> None:
        """MERGE: insert-or-ignore on ``keys`` (version_col=None — the
        S5 idempotent append) or insert-or-replace keeping the highest
        ``version_col`` per key (S6 upsert).

        Insert-or-ignore appends only the rows whose key is not in the
        pinned snapshot (an anti-join): existing entries stay untouched,
        so each merge adds at most one entry and writes only new rows.
        Insert-or-replace overwrites the snapshot with the merged plan.
        Either way the merge is a function of the pinned version, so a
        concurrent commit makes the merge re-run against the new
        snapshot rather than silently clobbering it."""
        from terrorblade_spark.operators.relational import (
            anti_join_new,
            upsert_latest,
        )

        spark = new_rows.sparkSession

        def merged(version: int) -> DataFrame:
            try:
                existing = self.read(spark, version=version)
            except FileNotFoundError:
                return new_rows
            if version_col is None:
                return anti_join_new(new_rows, existing, keys)
            return upsert_latest(new_rows, existing, keys, version_col)

        if version_col is None:
            self.append(merged, applied_id)
        else:
            self.overwrite(merged, applied_id)

    def delete_where(
        self,
        spark: SparkSession,
        condition: Any,
        applied_id: str | None = None,
    ) -> dict[str, int]:
        """Row-level DELETE (the Delta ``DELETE WHERE`` shape): remove
        every row matching ``condition`` (SQL string or Column) in one
        atomic manifest swap. Rows where the condition is NULL are KEPT
        (SQL three-valued semantics). Only entries that actually
        contain matches are rewritten — discovered by ONE probe scan
        over the snapshot (parquet footer stats prune it); untouched
        entries keep their immutable files, so a targeted delete from a
        large table rewrites only the hit partitions.

        Deleted rows remain readable via time travel until
        :func:`vacuum` drops the pre-delete versions — for
        right-to-be-forgotten erasure, follow with
        ``vacuum(retain_versions=1, min_age_s=0)`` once no reader needs
        the history."""
        cond = F.expr(condition) if isinstance(condition, str) else condition
        return self._delete(
            spark,
            lambda df: df.where(cond),
            lambda df: df.where(~F.coalesce(cond, F.lit(False))),
            applied_id,
        )

    def delete_keys(
        self,
        spark: SparkSession,
        keys: DataFrame,
        key_col: str,
        applied_id: str | None = None,
    ) -> dict[str, int]:
        """Row-level delete by key relation (the GDPR erasure shape:
        the key list is a DataFrame, not a literal): semi-join probe,
        anti-join rewrite — same atomic swap and touched-entries-only
        rewrite as :func:`delete_where`."""
        ks = keys.select(key_col).distinct()
        return self._delete(
            spark,
            lambda df: df.join(ks, key_col, "leftsemi"),
            lambda df: df.join(ks, key_col, "leftanti"),
            applied_id,
        )

    def _delete(
        self,
        spark: SparkSession,
        matches,
        keeps,
        applied_id: str | None,
    ) -> dict[str, int]:
        """Shared delete engine. Each attempt probes and rewrites
        against ONE pinned snapshot — a concurrent append of rows that
        would also match is re-probed on the retry rather than silently
        surviving."""
        stats: dict[str, int] = {}

        def build(base: Manifest | None) -> list[dict[str, Any]] | None:
            stats.clear()
            if base is None or not base.entries:
                return None
            parts = [
                self._entry_df(spark, [e]).withColumn("__entry", F.lit(i))
                for i, e in enumerate(base.entries)
            ]
            snap = reduce(
                lambda a, b: a.unionByName(b, allowMissingColumns=True), parts
            )
            hits = {
                r["__entry"]: r["n"]
                for r in matches(snap)
                .groupBy("__entry")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
            stats.update(
                rows_deleted=sum(hits.values()),
                entries_rewritten=len(hits),
                entries_kept=len(base.entries) - len(hits),
            )
            if not hits:
                # nothing to rewrite; commit only to record the applied id
                return None if applied_id is None else list(base.entries)
            t_unpart = [i for i in hits if not base.entries[i]["partition"]]
            t_part = [i for i in hits if base.entries[i]["partition"]]
            new_entries: list[dict[str, Any]] = []
            if t_unpart:
                df = keeps(snap.where(F.col("__entry").isin(t_unpart))).drop("__entry")
                new_entries += self._write_data(df, None)
            if t_part:
                # group touched entries by their partition column: a
                # table mixing partition columns across entries must
                # not re-home one column's rows under another's
                # partitioning (that would break manifest pruning)
                by_pcol: dict[str, list[int]] = {}
                for i in t_part:
                    pc = next(iter(base.entries[i]["partition"]))
                    by_pcol.setdefault(pc, []).append(i)
                for pc, idxs in sorted(by_pcol.items()):
                    df = keeps(snap.where(F.col("__entry").isin(idxs))).drop("__entry")
                    new_entries += self._write_data(df, pc)
            kept = [e for i, e in enumerate(base.entries) if i not in hits]
            return kept + new_entries

        committed = self._retrying_commit(build, applied_id)
        if committed is None and applied_id is not None:
            stats.clear()  # a replay deletes nothing, whatever an earlier attempt probed
        return {"rows_deleted": 0, "entries_rewritten": 0, "entries_kept": 0} | stats

    def compact(self, spark: SparkSession) -> None:
        """Rewrite the live snapshot into one fresh data directory and
        commit a minimal manifest — bounds manifest growth after many
        incremental commits. A table whose live entries are all
        partitioned by the same single column keeps that partitioning
        (one entry per value, so manifest-level pruning and
        ``replace_partitions`` stay cheap after a compact); mixed or
        unpartitioned snapshots compact to one unpartitioned entry,
        which ``replace_partitions`` splits safely if later touched.
        Readers mid-flight keep their pinned snapshot (old files are
        not deleted here; vacuuming orphans is a separate retention
        decision, as in every log-structured format)."""
        m = self.latest()
        if m is None or len(m.entries) <= 1:
            return
        part_keys = {tuple(sorted(e["partition"])) for e in m.entries}
        keep_col = None
        if len(part_keys) == 1:
            only = next(iter(part_keys))
            if len(only) == 1:
                keep_col = only[0]
        snap = self.read(spark)
        new_entries = self._write_data(snap, keep_col)

        def build(base: Manifest | None) -> list[dict[str, Any]] | None:
            if base is not None and base.version != m.version:
                return None  # someone committed since; skip this cycle
            return new_entries

        self._retrying_commit(build)

    def vacuum(
        self,
        retain_versions: int = 1,
        min_age_s: float = 7 * 24 * 3600.0,
        tmp_age_floor_s: float = 60.0,
    ) -> dict[str, int]:
        """Reclaim storage: delete data directories referenced by NO
        retained manifest, and manifests older than the retention
        window. Returns {"data_dirs": n, "manifests": n} deleted.

        Retention contract (the Delta VACUUM trade-off): the newest
        ``retain_versions`` manifests stay readable (time travel
        shrinks to that window); anything a retained manifest
        references is never touched. ``min_age_s`` additionally spares
        YOUNG unreferenced directories — an in-flight writer has
        already written its data files but not yet committed its
        manifest, and deleting under it would fail its commit's
        durability; the default 7-day guard makes that race practically
        impossible (pass 0 only in tests). Orphan ``.tmp.*`` manifests
        are reclaimed under ``max(min_age_s, tmp_age_floor_s)`` — the
        separate always-positive floor keeps a min_age_s=0 maintenance
        run from unlinking a live committer's tmp file mid-commit;
        ``tmp_age_floor_s`` must exceed worst-case commit latency. Deletion is driver-side
        filesystem IO over the table root — O(live data dirs), no
        Spark job; on object stores this is the same LIST + DELETE
        sweep every log-structured format runs."""
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        versions = self._versions()
        if not versions:
            return {"data_dirs": 0, "manifests": 0}
        retained = versions[-retain_versions:]
        live_roots: set[str] = set()
        for v in retained:
            for e in self._read_manifest(v).entries:
                # entries point at data/<uuid> or data/<uuid>/<col>=v;
                # the vacuum unit is the top-level uuid directory
                rel = os.path.relpath(e["path"], os.path.join(self.path, "data"))
                live_roots.add(rel.split(os.sep)[0])
        deleted_dirs = 0
        data_root = os.path.join(self.path, "data")
        now = time.time()
        for name in sorted(os.listdir(data_root)) if os.path.isdir(data_root) else []:
            full = os.path.join(data_root, name)
            if name in live_roots or not os.path.isdir(full):
                continue
            if now - os.path.getmtime(full) < min_age_s:
                continue  # possibly an uncommitted writer's fresh files
            shutil.rmtree(full)
            deleted_dirs += 1
        deleted_manifests = 0
        for v in versions:
            if v not in retained:
                os.unlink(os.path.join(self._log, f"{v:0{_VERSION_WIDTH}d}.json"))
                deleted_manifests += 1
        # a writer killed inside _commit (tmp manifest written, link not
        # taken) leaves an orphan .tmp.* file; readers ignore them, but
        # reclaim the stale ones. The age guard here has its OWN floor
        # (``tmp_age_floor_s``), independent of min_age_s: callers pass
        # min_age_s=0 in tests/offline maintenance, but unlinking a LIVE
        # committer's tmp file inside its tmp-write -> atomic-link
        # window would fail that commit (retryable, not corrupting) —
        # the 60 s default exceeds any plausible commit latency while
        # still reclaiming genuinely dead files
        tmp_age_floor = max(min_age_s, tmp_age_floor_s)
        for name in sorted(os.listdir(self._log)) if os.path.isdir(self._log) else []:
            if not name.startswith(".tmp."):
                continue
            full = os.path.join(self._log, name)
            try:
                if now - os.path.getmtime(full) >= tmp_age_floor:
                    os.unlink(full)
            except FileNotFoundError:
                pass  # a live committer's finally-unlink won the race
        return {"data_dirs": deleted_dirs, "manifests": deleted_manifests}
