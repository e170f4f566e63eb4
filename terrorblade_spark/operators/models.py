"""Model persistence: fitted artifacts (n-gram LM tables, BM25 index
relations, IVF centroids, PQ codebooks) are all plain DataFrames, so
persistence is parquet + a small JSON sidecar for scalar params (the
IVF index, which also takes incremental appends, commits its vectors
and centroids through ``txn.TxnTable``). Fit once on the corpus
snapshot, score every ingest batch from the saved model — refitting
per batch is both wasted compute and a moving target for
comparability.
"""

from __future__ import annotations

import json

from pyspark.sql import SparkSession

from terrorblade_spark.operators.lm import NgramLM
from terrorblade_spark.operators.search import Bm25Index

_META = "meta"


def _write_meta(spark: SparkSession, path: str, meta: dict) -> None:
    # the sidecar rides Spark's filesystem layer as a 1-row parquet, so
    # models save/load identically on local disk, S3, or HDFS — driver-
    # local os.* calls would strand the metadata on one machine
    spark.createDataFrame([(json.dumps(meta),)], "meta_json string").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/{_META}")


def _read_meta(spark: SparkSession, path: str) -> dict:
    return json.loads(spark.read.parquet(f"{path}/{_META}").first()["meta_json"])


def save_lm(lm: NgramLM, path: str) -> None:
    lm.unigrams.write.mode("overwrite").parquet(f"{path}/unigrams")
    lm.bigrams.write.mode("overwrite").parquet(f"{path}/bigrams")
    _write_meta(lm.unigrams.sparkSession, path, {"kind": "ngram_lm", "oov_logp": lm.oov_logp})


def load_lm(spark: SparkSession, path: str) -> NgramLM:
    meta = _read_meta(spark, path)
    if meta.get("kind") != "ngram_lm":
        raise ValueError(f"{path} holds {meta.get('kind')!r}, not an ngram_lm")
    return NgramLM(
        unigrams=spark.read.parquet(f"{path}/unigrams").persist(),
        bigrams=spark.read.parquet(f"{path}/bigrams").persist(),
        oov_logp=float(meta["oov_logp"]),
    )


def save_bm25(index: Bm25Index, path: str) -> None:
    """Postings land partitioned by a term hash bucket so a query's
    handful of terms prunes to a few files (the at-rest form of the
    query-term semi-join)."""
    from pyspark.sql import functions as F

    from terrorblade_spark.operators.search import TERM_BUCKETS

    (
        index.postings.withColumn("term_bucket", F.pmod(F.hash("term"), F.lit(TERM_BUCKETS)))
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(f"{path}/postings")
    )
    index.doclen.write.mode("overwrite").parquet(f"{path}/doclen")
    index.stats.write.mode("overwrite").parquet(f"{path}/stats")
    _write_meta(index.postings.sparkSession, path, {"kind": "bm25"})


def load_bm25(spark: SparkSession, path: str) -> Bm25Index:
    """Load for SERVING: postings keep their ``term_bucket`` partition
    column and are NOT cached — ``bm25_topk`` turns a query's terms
    into a literal bucket filter (static partition pruning), so each
    query reads only its terms' files. Caching the postings up front
    would materialize the WHOLE index on the first query (measured
    7.5 s vs 0.5 s at sf0.1) and defeat the at-rest layout. doclen and
    stats are small per-doc/1-row relations joined by every query —
    those stay persisted."""
    meta = _read_meta(spark, path)
    if meta.get("kind") != "bm25":
        raise ValueError(f"{path} holds {meta.get('kind')!r}, not a bm25 index")
    return Bm25Index(
        postings=spark.read.parquet(f"{path}/postings"),
        doclen=spark.read.parquet(f"{path}/doclen").persist(),
        stats=spark.read.parquet(f"{path}/stats").persist(),
    )


def save_ivfpq(encoded, centroids, codebooks, path: str, m: int) -> None:
    """Persist a residual IVF-PQ index (``ivfpq_build`` output). The
    encoded relation lands PARTITIONED BY list_id, so a serving query's
    nprobe probe is static file pruning; centroids and codebooks are
    model-sized. ``m`` rides the sidecar — the searcher needs it and it
    is a property of the index, not the query."""
    encoded.write.mode("overwrite").partitionBy("list_id").parquet(
        f"{path}/encoded"
    )
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    codebooks.write.mode("overwrite").parquet(f"{path}/codebooks")
    _write_meta(encoded.sparkSession, path, {"kind": "ivfpq", "m": m})


def load_ivfpq(spark: SparkSession, path: str):
    """Load for serving: ``(encoded, centroids, codebooks, m)`` ready
    for ``ivfpq_topk(..., residual=True)``. The encoded relation is NOT
    cached (the probe's list_id filter prunes its partitioned files per
    query — caching would materialize the whole index up front, the
    load_bm25 lesson); centroids/codebooks are model-sized and reused
    by every query, so they persist."""
    meta = _read_meta(spark, path)
    if meta.get("kind") != "ivfpq":
        raise ValueError(f"{path} holds {meta.get('kind')!r}, not an ivfpq index")
    return (
        spark.read.parquet(f"{path}/encoded"),
        spark.read.parquet(f"{path}/centroids").persist(),
        spark.read.parquet(f"{path}/codebooks").persist(),
        int(meta["m"]),
    )


# -- IVF index: atomic persistence + incremental appends ---------------------
# New vectors arrive continuously, and re-clustering the corpus per
# batch is absurd — production IVF systems (the FAISS add-after-train
# model) keep the trained coarse quantizer FIXED and route new vectors
# to their nearest existing list, rebuilding centroids only on
# scheduled retrains when drift accumulates.


def save_ivf(assigned, centroids, path: str) -> None:
    """Persist an IVF index (``ivf_build`` output) transactionally:
    vectors in a TxnTable partitioned by list_id — the at-rest form of
    ``ivf_topk``'s nprobe semi-join (manifest-level pruning, so a query
    reads only its probed lists' files) with atomic visibility —
    centroids in their own TxnTable snapshot. A retrain at the same
    path is a FULL overwrite — lists absent from the new quantizer
    (n_lists shrank) leave no stale vectors behind, which a dynamic
    partition replace would."""
    from terrorblade_spark.txn import TxnTable

    TxnTable(f"{path}/assigned").overwrite(assigned, partition_col="list_id")
    TxnTable(f"{path}/centroids").overwrite(centroids)
    _write_meta(assigned.sparkSession, path, {"kind": "ivf"})


def load_ivf(spark: SparkSession, path: str):
    """Load an IVF index as ``(assigned, centroids)`` for ``ivf_topk``
    / ``ivf_knn_join`` with ``list_col='list_id'``; centroids are tiny
    and persisted for reuse across queries."""
    from terrorblade_spark.txn import TxnTable

    meta = _read_meta(spark, path)
    if meta.get("kind") != "ivf":
        raise ValueError(f"{path} holds {meta.get('kind')!r}, not an ivf index")
    return (
        TxnTable(f"{path}/assigned").read(spark, partition_type="int"),
        TxnTable(f"{path}/centroids").read(spark).persist(),
    )


def ivf_append_txn(
    spark: SparkSession,
    path: str,
    new_vectors,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    applied_id: str | None = None,
) -> None:
    """Incrementally add vectors to an index persisted by ``save_ivf``:
    assign each to its nearest TRAINED centroid (squared-L2, the
    k-means metric — broadcast centroids, narrow (id, list, dist)
    pipeline, payloads never multiply), then append ONLY the touched
    list partitions in one atomic, exactly-once commit. Queries running
    concurrently keep their pinned snapshot; the next query sees the
    new vectors. Centroids are NOT moved — the FAISS add contract;
    re-run ivf_build when drift warrants a retrain."""
    from pyspark.sql import functions as F

    from terrorblade_spark.txn import TxnTable

    t = TxnTable(f"{path}/assigned")
    if applied_id is not None and t.applied(applied_id):
        return
    from terrorblade_spark.operators.vector import _sq_l2

    cents = TxnTable(f"{path}/centroids").read(spark)
    d2 = _sq_l2(F.col(vec_col), F.col("centroid"))
    best = (
        new_vectors.select(id_col, vec_col)
        .crossJoin(F.broadcast(cents))
        .select(id_col, F.struct(d2.alias("d"), F.col("list_id").alias("l")).alias("s"))
        .groupBy(id_col)
        .agg(F.min("s").alias("s"))
        .select(id_col, F.col("s.l").alias("list_id"))
    )
    assigned = new_vectors.join(best, id_col)
    t.append(assigned, applied_id=applied_id, partition_col="list_id")


def save_pca(spark: SparkSession, model, path: str) -> None:
    """Persist a fitted PCAModel: components as a tiny parquet relation
    (idx, eigenvalue, component), scalars + mean in the meta sidecar.
    The whole artifact is k x d doubles — model-sized, never
    corpus-sized — but it rides the same filesystem layer as the big
    indexes so one model store serves local disk or object storage."""
    from terrorblade_spark.operators.pca import PCAModel

    assert isinstance(model, PCAModel)
    rows = [
        (i, model.eigenvalues[i], list(model.components[i])) for i in range(model.k)
    ]
    spark.createDataFrame(
        rows, "idx int, eigenvalue double, component array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/components")
    _write_meta(
        spark,
        path,
        {
            "kind": "pca",
            "mean": list(model.mean),
            "n": model.n,
            "total_variance": model.total_variance,
        },
    )


def load_pca(spark: SparkSession, path: str):
    from terrorblade_spark.operators.pca import PCAModel

    meta = _read_meta(spark, path)
    if meta.get("kind") != "pca":
        raise ValueError(f"{path} holds {meta.get('kind')!r}, not a pca model")
    rows = sorted(spark.read.parquet(f"{path}/components").collect(), key=lambda r: r.idx)
    return PCAModel(
        mean=tuple(float(v) for v in meta["mean"]),
        components=tuple(tuple(float(v) for v in r.component) for r in rows),
        eigenvalues=tuple(float(r.eigenvalue) for r in rows),
        n=int(meta["n"]),
        total_variance=float(meta["total_variance"]),
    )
