"""One workload in one process: set up, run the timed phase, report.

Started by ``run.py``, never by hand. Every event (set-up finished, an
operation started, an operation's outcome, the per-layer numbers) is
written as one JSON line to the file descriptor given by ``--events-fd``
and flushed at once, so an operation that kills the process or the JVM
still leaves the outcomes of the operations before it.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from spans import Tracer, jvm_stats  # noqa: E402

KEYS = ["chat_id", "message_id"]

# Sizes per workload. ``toy`` sizes exist for the smoke test only.
SIZES = {
    "ingest": dict(regular=3, msgs=1000, heavy=8000, warmup=300),
    "serve": dict(regular=1, msgs=3000),
}
TOY_SIZES = {
    "ingest": dict(regular=2, msgs=300, heavy=0, warmup=50),
    "serve": dict(regular=1, msgs=600),
}


class Events:
    """Writes one JSON line per event to the parent's pipe, flushed at
    once so the parent sees it even if this process dies next."""

    def __init__(self, fd: int):
        self._fh = os.fdopen(fd, "w", buffering=1)

    def __call__(self, event: str, **fields) -> None:
        self._fh.write(json.dumps(dict(fields, ev=event)) + "\n")
        self._fh.flush()


def _describe(e: Exception) -> str:
    """One line naming an exception. A py4j error whose JVM has died
    cannot render its message, so fall back to the type alone."""
    try:
        msg = str(e)
    except Exception:  # noqa: BLE001 - see above
        msg = "(message unavailable: the JVM is gone)"
    return f"{type(e).__name__}: {msg.strip().splitlines()[0][:300] if msg.strip() else ''}"


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
    return total


def _rows(table) -> int:
    """Rows of the table's latest manifest, read from the manifest."""
    m = table.latest()
    return sum(e["rows"] for e in m.entries) if m else 0


def _live_bytes(table) -> int:
    """Bytes of the files the table's latest manifest names."""
    m = table.latest()
    return sum(_dir_bytes(e["path"]) for e in m.entries) if m else 0


class Ingestor:
    """The four ingest calls for one export, persisted through ``txn``
    into three tables under ``root``."""

    def __init__(self, spark, tracer: Tracer, root: str):
        from terrorblade_spark.txn import TxnTable

        self.spark, self.tracer = spark, tracer
        self.tables = {n: TxnTable(os.path.join(root, n))
                       for n in ("messages", "embeddings", "clusters")}
        self.counts = {"txn.rows_offered": 0, "txn.rows_inserted": 0,
                       "txn.bytes_written": 0, "txn.new_bytes": 0.0,
                       "sources.msgs_out": 0, "embed.rows": 0,
                       "semantic.rows": 0, "semantic.clustered": 0, "semantic.groups_out": 0}

    def _materialize(self, df):
        """Traced run only: finish the layer's lazy output inside its
        span, so the next layer's span holds only its own work."""
        if not self.tracer.enabled:
            return df, None
        df = df.persist()
        return df, df.count()

    def _merge(self, name: str, df, applied_id: str, offered: int | None) -> None:
        table = self.tables[name]
        with self.tracer.span("txn.merge_upsert"):
            if not self.tracer.enabled:
                table.merge_upsert(df, KEYS, applied_id=applied_id)
                return
            rows0 = _rows(table)
            bytes0 = _dir_bytes(table.path) if os.path.isdir(table.path) else 0
            table.merge_upsert(df, KEYS, applied_id=applied_id)
        rows1 = _rows(table)
        inserted = rows1 - rows0
        c = self.counts
        c["txn.rows_offered"] += offered or 0
        c["txn.rows_inserted"] += inserted
        c["txn.bytes_written"] += _dir_bytes(table.path) - bytes0
        c["txn.new_bytes"] += inserted * _live_bytes(table) / max(rows1, 1)

    def ingest(self, ex: gen.Export) -> None:
        from pyspark.sql import functions as F

        from terrorblade_spark.api import TerrorbladeSpark
        from terrorblade_spark.functions.embed import embed_text

        tr, cached = self.tracer, []
        try:
            with tr.span("sources.from_telegram_export"):
                tb = TerrorbladeSpark.from_telegram_export(self.spark, ex.path)
                tb.messages, n_msgs = self._materialize(tb.messages)
            cached.append(tb.messages)
            if n_msgs is not None:
                self.counts["sources.msgs_out"] += n_msgs
            self._merge("messages", tb.messages, ex.name, n_msgs)
            with tr.span("embed.embed_text"):
                emb = tb.messages.select(
                    "message_id", "chat_id", embed_text()(F.col("text")).alias("embeddings"))
                emb, n_emb = self._materialize(emb)
            cached.append(emb)
            self.counts["embed.rows"] += n_emb or 0
            self._merge("embeddings", emb, ex.name, n_emb)
            with tr.span("semantic.compute_clusters"):
                tb.compute_clusters()
                clusters, n_cl = self._materialize(tb.clusters)
            cached.append(clusters)
            if n_cl is not None:
                row = clusters.agg(
                    F.count("group_id").alias("clustered"),
                    F.countDistinct("chat_id", "group_id").alias("groups")).first()
                self.counts["semantic.rows"] += n_cl
                self.counts["semantic.clustered"] += row["clustered"]
                self.counts["semantic.groups_out"] += row["groups"]
            self._merge("clusters", clusters, ex.name, n_cl)
        finally:
            for df in cached:
                if df is not None and tr.enabled:
                    df.unpersist()

    def rows(self, name: str) -> int:
        return _rows(self.tables[name])

    def replay_is_noop(self, ex: gen.Export) -> bool:
        """Merging an export again under its applied id commits nothing."""
        from terrorblade_spark.api import TerrorbladeSpark

        tb = TerrorbladeSpark.from_telegram_export(self.spark, ex.path)
        before = [t.latest().version for t in self.tables.values()]
        for t in self.tables.values():
            t.merge_upsert(tb.messages, KEYS, applied_id=ex.name)
        return before == [t.latest().version for t in self.tables.values()]


# --- workloads -------------------------------------------------------------


def run_ingest(spark, tracer, ev, args, sizes) -> dict:
    exports = gen.telegram_exports(
        os.path.join(args.work, "exports"), args.seed, sizes["regular"], sizes["msgs"],
        reexport=True, heavy_chat=sizes["heavy"])
    # one small export through the same calls into throw-away tables, so
    # the timed exports run on a JIT-warm JVM
    warm = gen.telegram_exports(os.path.join(args.work, "warmup"), args.seed + 1,
                                1, sizes["warmup"], reexport=False, heavy_chat=0)
    ev("phase", name="gen")
    Ingestor(spark, Tracer(spark, False), os.path.join(args.work, "warmup")).ingest(warm[0])
    ev("phase", name="warm")
    ing = Ingestor(spark, tracer, os.path.join(args.work, "tables"))
    ev("setup_done")
    landed: set[tuple[int, int]] = set()
    for i, ex in enumerate(exports):
        tracer.op = i
        ev("op_start", id=i, kind=ex.name)
        t0 = time.perf_counter()
        try:
            ing.ingest(ex)
        except Exception as e:  # noqa: BLE001 - an operation's failure is a result
            ev("op", id=i, kind=ex.name, ok=False, ms=1e3 * (time.perf_counter() - t0),
               error=_describe(e))
            continue
        ms = 1e3 * (time.perf_counter() - t0)
        landed |= ex.keys
        got = {n: ing.rows(n) for n in ing.tables}
        wrong = [f"{n} has {r} rows, expected {len(landed)}" for n, r in got.items()
                 if r != len(landed)]
        if not ing.replay_is_noop(ex):
            wrong.append("replaying the applied id committed a new version")
        ev("op", id=i, kind=ex.name, ok=not wrong, wrong=bool(wrong), ms=ms,
           error="; ".join(wrong))
        if tracer.enabled:
            ev("jvm", **jvm_stats(spark))
    ev("timed_done")
    c = ing.counts
    busy = {}
    for layer, span in (("sources", "sources.from_telegram_export"), ("txn", "txn.merge_upsert"),
                        ("embed", "embed.embed_text"), ("semantic", "semantic.compute_clusters")):
        spans = [s for s in tracer.by_name(span) if s.op is not None]
        busy[f"{layer}.busy_s"] = sum(s.seconds for s in spans)
        busy[f"{layer}.jobs"] = sum(s.jobs for s in spans)
    return busy | {
        "sources.msgs_out": c["sources.msgs_out"],
        "txn.rows_offered": c["txn.rows_offered"],
        "txn.rows_inserted": c["txn.rows_inserted"],
        "txn.bytes_written": c["txn.bytes_written"],
        "txn.write_amp": c["txn.bytes_written"] / max(c["txn.new_bytes"], 1.0),
        "embed.rows": c["embed.rows"],
        "semantic.groups_out": c["semantic.groups_out"],
        "semantic.clustered_ratio": c["semantic.clustered"] / max(c["semantic.rows"], 1),
    }


class ServeSession:
    """A seeded analyst session against ``ToolDispatcher``: searches,
    a drill-down into a returned cluster, and one random large cluster
    per round. Each timed call's result is checked against the corpus."""

    def __init__(self, tracer, tb, exports, corpus, rng):
        from terrorblade_spark.serving import ToolDispatcher

        self.tracer, self.tb, self.d = tracer, tb, ToolDispatcher(tb)
        self.corpus = corpus  # (chat_id, message_id) -> group_id or None
        self.sizes: dict[tuple[int, int], int] = {}
        for key, g in corpus.items():
            if g is not None:
                self.sizes[(key[0], g)] = self.sizes.get((key[0], g), 0) + 1
        self.verbatim = [(k, t) for ex in exports for k, t in sorted(ex.texts.items())]
        self.words = sorted({w for _, t in self.verbatim for w in t.split()})
        self.rng = rng
        self.rounds = 0
        self.plan_ms: list[float] = []

    def script(self) -> list[tuple[str, dict | None, object]]:
        """One round of calls: (tool, kwargs, expectation). A
        ``get_cluster`` names the earlier search whose hit it opens."""
        key, text = self.verbatim[int(self.rng.integers(0, len(self.verbatim)))]
        kw = " ".join(self.rng.choice(self.words, 3))
        self.rounds += 1
        return [
            ("vector_search", dict(query=text, top_k=10), key),
            ("get_cluster", None, "vector_search"),
            ("cluster_search", dict(query=kw, top_k=50, max_clusters=10), None),
            ("get_cluster", None, "cluster_search"),
            ("text_search", dict(query=text, top_k=10), key),
            ("hybrid_search", dict(query=kw, top_k=10), None),
            ("random_large_cluster", dict(min_size=5, seed=f"r{self.rounds}"), None),
        ]

    def _drill(self, rows: list[dict]) -> tuple[int, int]:
        """The cluster an analyst opens next: the first clustered hit of
        the earlier search, else the largest cluster."""
        for r in rows:
            if r.get("group_id") is not None:
                return r["chat_id"], r["group_id"]
        return max(self.sizes, key=lambda k: (self.sizes[k], k))

    def round(self, ev=None, op: int = 0) -> int:
        """Run one round. Without ``ev`` the calls are set-up calls:
        untimed and unchecked. Returns the next operation id."""
        prev: dict[str, list[dict]] = {}
        for tool, kwargs, expect in self.script():
            if tool == "get_cluster":
                chat_id, group_id = self._drill(prev.get(expect, []))
                kwargs, expect = dict(chat_id=chat_id, group_id=group_id), None
            if ev is None:
                out = self.d.call(tool, **kwargs)
            else:
                self.tracer.op = op
                ev("op_start", id=op, kind=tool)
                t0 = time.perf_counter()
                try:
                    with self.tracer.span(f"serving.{tool}"):
                        out = self.d.call(tool, **kwargs)
                except Exception as e:  # noqa: BLE001 - a failed call is a result
                    ev("op", id=op, kind=tool, ok=False, ms=1e3 * (time.perf_counter() - t0),
                       error=_describe(e))
                    op += 1
                    continue
                ms = 1e3 * (time.perf_counter() - t0)
                bad = self.check(tool, kwargs, expect, out)
                ev("op", id=op, kind=tool, ok=not bad, wrong=bool(bad), ms=ms,
                   error="; ".join(bad))
                if self.tracer.enabled:
                    self.plan_ms.append(_plan_ms(self.tb, tool, kwargs))
                op += 1
            prev[tool] = out["results"] if tool == "vector_search" else out
        return op

    def check(self, tool: str, kwargs: dict, expect, out) -> list[str]:
        bad: list[str] = []
        rows = out["results"] if tool == "vector_search" else out
        score = {"vector_search": "cosine_sim", "cluster_search": "best_similarity",
                 "text_search": "score", "hybrid_search": "rrf_score"}.get(tool)
        k = kwargs.get("max_clusters", kwargs.get("top_k"))
        if k is not None and len(rows) > k:
            bad.append(f"{len(rows)} rows > k={k}")
        if score is not None:
            s = [r[score] for r in rows]
            if any(a < b for a, b in zip(s, s[1:])):
                bad.append("not ordered by score")
        if tool == "cluster_search":
            if any((r["chat_id"], r["group_id"]) not in self.sizes for r in rows):
                bad.append("names a cluster not in the corpus")
        elif any((r["chat_id"], r["message_id"]) not in self.corpus for r in rows):
            bad.append("names a message not in the corpus")
        if tool == "vector_search":
            if out["stats"]["n_messages"] != len(self.corpus):
                bad.append("stats.n_messages is not the corpus size")
            if expect is not None and rows:
                top = rows[0]["cosine_sim"]
                firsts = {(r["chat_id"], r["message_id"]) for r in rows
                          if r["cosine_sim"] >= top - 1e-6}
                if expect not in firsts:
                    bad.append("verbatim message does not rank first")
        if tool == "text_search" and expect is not None:
            if expect not in {(r["chat_id"], r["message_id"]) for r in rows}:
                bad.append("verbatim message missing from the top k")
        if tool in ("get_cluster", "random_large_cluster"):
            ids = {(r["chat_id"], r["group_id"] if tool == "random_large_cluster"
                    else kwargs["group_id"]) for r in rows}
            if len(ids) != 1 or len(rows) != self.sizes.get(next(iter(ids)), -1):
                bad.append("cluster rows do not match the corpus cluster")
            elif tool == "random_large_cluster" and len(rows) < kwargs["min_size"]:
                bad.append("cluster smaller than min_size")
            dates = [r["date"] for r in rows]
            if dates != sorted(dates):
                bad.append("cluster not ordered by date")
        return bad


def _plan_ms(tb, tool: str, kwargs: dict) -> float:
    """Traced run only: time to build (not run) the facade plan a tool
    executes."""
    t0 = time.perf_counter()
    if tool in ("vector_search", "cluster_search"):
        tb.cluster_search(kwargs["query"], k=kwargs["top_k"])
    elif tool == "text_search":
        tb.text_search(kwargs["query"], k=kwargs["top_k"])
    elif tool == "hybrid_search":
        tb.hybrid_search(kwargs["query"], k=kwargs["top_k"])
    elif tool == "get_cluster":
        tb.get_cluster(kwargs["chat_id"], kwargs["group_id"])
    else:
        tb.get_random_large_cluster(min_size=kwargs["min_size"], seed=kwargs["seed"])
    return 1e3 * (time.perf_counter() - t0)


def run_serve(spark, tracer, ev, args, sizes) -> dict:
    import numpy as np

    from terrorblade_spark.api import TerrorbladeSpark

    exports = gen.telegram_exports(
        os.path.join(args.work, "exports"), args.seed, sizes["regular"], sizes["msgs"],
        reexport=False, heavy_chat=0)
    ev("phase", name="gen")
    ing = Ingestor(spark, tracer, os.path.join(args.work, "tables"))
    for ex in exports:
        ing.ingest(ex)
    ev("phase", name="land")
    t = ing.tables
    with tracer.span("txn.read"):
        t0 = time.perf_counter()
        messages = t["messages"].read(spark)
        embeddings = t["embeddings"].read(spark)
        clusters = t["clusters"].read(spark)
        read_s = time.perf_counter() - t0
    corpus = {(r[0], r[1]): r[2] for r in
              clusters.select("chat_id", "message_id", "group_id").collect()}
    expected = set().union(*(ex.keys for ex in exports))
    if set(corpus) != expected:
        raise RuntimeError(f"corpus has {len(corpus)} messages, expected {len(expected)}")
    tb = TerrorbladeSpark(spark, messages, embeddings=embeddings, clusters=clusters)
    session = ServeSession(tracer, tb, exports, corpus, np.random.default_rng(args.seed))
    ev("phase", name="read")
    session.round()  # one untimed call per tool
    ev("phase", name="warm")
    ev("setup_done")
    t_end = time.perf_counter() + args.seconds
    op = 0
    while time.perf_counter() < t_end:  # whole rounds only: the call mix is fixed
        op = session.round(ev, op)
    ev("timed_done")
    out = {"txn.read_s": read_s,
           "api.plan_ms": statistics.median(session.plan_ms) if session.plan_ms else 0.0}
    for tool in ("vector_search", "cluster_search", "get_cluster", "text_search",
                 "hybrid_search", "random_large_cluster"):
        spans = [s for s in tracer.by_name(f"serving.{tool}") if s.op is not None]
        if spans:
            out[f"serving.{tool}.p50_ms"] = 1e3 * statistics.median(s.seconds for s in spans)
            out[f"serving.{tool}.jobs"] = statistics.median(s.jobs for s in spans)
    return out


WORKLOADS = {"ingest": run_ingest, "serve": run_serve}


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), required=True)
    p.add_argument("--work", required=True)
    p.add_argument("--out", required=True)
    p.add_argument("--events-fd", type=int, required=True)
    p.add_argument("--toy", action="store_true")
    args = p.parse_args()
    ev = Events(args.events_fd)

    t0 = time.perf_counter()
    from terrorblade_spark.session import get_spark

    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    ev("layer", name="session.start_s", value=time.perf_counter() - t0)
    tracer = Tracer(spark, bool(args.trace))
    sizes = (TOY_SIZES if args.toy else SIZES)[args.workload]
    try:
        layers = WORKLOADS[args.workload](spark, tracer, ev, args, sizes)
        if tracer.enabled:
            tracer.write(os.path.join(args.out, f"spans_{args.workload}_{args.seed}.json"))
            try:
                ev("jvm", **jvm_stats(spark))
            except Exception:  # noqa: BLE001 - the last op may have killed the JVM
                pass
        for k, v in layers.items():
            ev("layer", name=k, value=v)
    except Exception:  # noqa: BLE001 - reported to the parent, which decides
        ev("crash", error=traceback.format_exc()[-2000:])
        return 1
    finally:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 - the JVM may already be gone
            pass
    ev("done")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
