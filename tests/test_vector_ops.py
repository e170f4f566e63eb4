"""Unit tests for vector operators: known-geometry vectors, zero
vectors, LSH determinism, ANN-vs-exact agreement on clustered data.
"""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from terrorblade_spark.operators.vector import (
    ann_lsh_topk,
    cosine,
    cosine_topk,
    dot,
    knn_join,
    norm,
    sign_lsh_bucket,
)


def _vecs(spark, vectors):
    return spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in enumerate(vectors)],
        "vec_id long, embedding array<double>",
    )


def test_dot_norm_cosine_known_values(spark):
    df = _vecs(spark, [[1, 0, 0], [0, 1, 0], [1, 1, 0], [3, 4, 0]])
    got = df.select(
        "vec_id",
        dot(F.col("embedding"), F.col("embedding")).alias("sq"),
        norm(F.col("embedding")).alias("n"),
    ).collect()
    by_id = {r["vec_id"]: r for r in got}
    assert by_id[0]["sq"] == 1.0 and by_id[0]["n"] == 1.0
    assert by_id[3]["sq"] == 25.0 and by_id[3]["n"] == 5.0

    a = df.where(F.col("vec_id") == 0).select(F.col("embedding").alias("a"))
    pairs = (
        df.crossJoin(F.broadcast(a))
        .select("vec_id", cosine(F.col("embedding"), F.col("a")).alias("c"))
        .collect()
    )
    cos = {r["vec_id"]: r["c"] for r in pairs}
    assert cos[0] == 1.0
    assert cos[1] == 0.0
    assert abs(cos[2] - 1 / math.sqrt(2)) < 1e-12


def test_cosine_zero_vector_null(spark):
    df = _vecs(spark, [[0, 0, 0], [1, 0, 0]])
    q = df.where(F.col("vec_id") == 1).select(F.col("embedding").alias("q"))
    rows = (
        df.crossJoin(F.broadcast(q))
        .select("vec_id", cosine(F.col("embedding"), F.col("q")).alias("c"))
        .collect()
    )
    by_id = {r["vec_id"]: r["c"] for r in rows}
    assert by_id[0] is None  # zero norm -> null, not NaN/div0
    assert by_id[1] == 1.0


def test_cosine_topk_ordering_and_tiebreak(spark):
    df = _vecs(spark, [[1, 0], [1, 0.001], [0, 1], [1, 0], [-1, 0]])
    q = df.where(F.col("vec_id") == 0).select("embedding")
    rows = cosine_topk(df, q, k=3).collect()
    # ids 0 and 3 are identical vectors (sim 1.0) -> id tiebreak
    assert [r["vec_id"] for r in rows] == [0, 3, 1]


def test_cosine_topk_threshold(spark):
    df = _vecs(spark, [[1, 0], [0, 1], [-1, 0]])
    q = df.where(F.col("vec_id") == 0).select("embedding")
    rows = cosine_topk(df, q, k=10, threshold=0.5).collect()
    assert [r["vec_id"] for r in rows] == [0]


def test_knn_join_excludes_self(spark):
    df = _vecs(spark, [[1, 0], [0.9, 0.1], [0, 1], [-1, 0]])
    rows = knn_join(df.where(F.col("vec_id") < 2), df, k=2).collect()
    for r in rows:
        assert r["neighbor_id"] != r["query_id"]
    q0 = sorted([r["neighbor_id"] for r in rows if r["query_id"] == 0])
    assert 1 in q0  # nearest to [1,0] is [0.9,0.1]


def test_sign_lsh_deterministic_and_in_range(spark):
    df = _vecs(spark, [[1, 0, 0, 0], [1, 0, 0, 0], [-1, 0, 0, 0]])
    rows = df.select(
        "vec_id", sign_lsh_bucket(F.col("embedding"), planes=4, dims=4).alias("b")
    ).collect()
    by_id = {r["vec_id"]: r["b"] for r in rows}
    assert by_id[0] == by_id[1]  # identical vectors, identical bucket
    assert 0 <= by_id[0] < 16
    rows2 = df.select(
        "vec_id", sign_lsh_bucket(F.col("embedding"), planes=4, dims=4).alias("b")
    ).collect()
    assert {r["vec_id"]: r["b"] for r in rows2} == by_id  # no RNG: stable


def test_plane_sign_matches_engine_md5(spark):
    # _plane_sign is a driver-side twin of the engine md5-parity
    # expression the planes were originally built from; if the engine's
    # md5/conv semantics ever changed, LSH buckets would silently
    # diverge from the DuckDB oracle's _duck_lsh_signs replay. Evaluate
    # the ORIGINAL Spark expression for a grid of (salt, p, d) and
    # compare. One collect for the whole grid.
    from terrorblade_spark.operators.vector import _plane_sign

    cases = [
        (salt, p, d)
        for salt in ("p", "q52", "x:y")
        for p in range(8)
        for d in (0, 1, 7, 31, 63)
    ]
    exprs = [
        F.when(
            F.conv(F.substring(F.md5(F.lit(f"{salt}:{p}:{d}")), 1, 15), 16, 10)
            .cast("long")
            .bitwiseAND(F.lit(1))
            == 1,
            F.lit(1.0),
        )
        .otherwise(F.lit(-1.0))
        .alias(f"c{i}")
        for i, (salt, p, d) in enumerate(cases)
    ]
    row = spark.range(1).select(*exprs).collect()[0]
    for i, (salt, p, d) in enumerate(cases):
        assert row[f"c{i}"] == _plane_sign(salt, p, d), (salt, p, d)


def test_ann_lsh_recall_properties(spark):
    # LSH is approximate: identical vectors ALWAYS share a bucket (so
    # the query itself ranks first with sim 1.0), candidates are scored
    # with true cosine (descending), and the search is deterministic.
    # Exact equality with brute force is NOT guaranteed — near-identical
    # vectors can straddle a hyperplane.
    import random

    rnd = random.Random(7)
    cluster = [[1.0 + rnd.uniform(-0.01, 0.01) for _ in range(8)] for _ in range(5)]
    noise = [[rnd.uniform(-1, 1) * 0.1 - 5 for _ in range(8)] for _ in range(20)]
    df = _vecs(spark, cluster + noise)
    q = df.where(F.col("vec_id") == 0)
    run1 = ann_lsh_topk(df, q, k=3, planes=4, dims=8).collect()
    run2 = ann_lsh_topk(df, q, k=3, planes=4, dims=8).collect()
    assert [(r["vec_id"], r["cosine_sim"]) for r in run1] == [
        (r["vec_id"], r["cosine_sim"]) for r in run2
    ]  # deterministic (no RNG)
    assert run1[0]["vec_id"] == 0
    assert abs(run1[0]["cosine_sim"] - 1.0) < 1e-12
    sims = [r["cosine_sim"] for r in run1]
    assert sims == sorted(sims, reverse=True)
    assert len(run1) <= 3


def test_ivf_centroids_exact(spark):
    from terrorblade_spark.operators.vector import ivf_centroids

    df = spark.createDataFrame(
        [
            (1, 0, [1.0, 0.0]),
            (2, 0, [3.0, 2.0]),
            (3, 1, [0.0, 4.0]),
        ],
        "vec_id long, label int, embedding array<float>",
    )
    cents = {r["label"]: r["centroid"] for r in ivf_centroids(df).collect()}
    assert cents[0] == [2.0, 1.0]
    assert cents[1] == [0.0, 4.0]


def test_ivf_topk_probes_nearest_lists(spark):
    from terrorblade_spark.operators.vector import ivf_topk

    # two tight clusters; nprobe=1 must search ONLY the query's cluster
    import random

    rnd = random.Random(3)
    near = [(i, 0, [1.0 + rnd.uniform(-0.01, 0.01), 0.0]) for i in range(10)]
    far = [(100 + i, 1, [-1.0 + rnd.uniform(-0.01, 0.01), 0.0]) for i in range(10)]
    df = spark.createDataFrame(
        near + far, "vec_id long, label int, embedding array<float>"
    )
    q = df.where(F.col("vec_id") == 0)
    hits = ivf_topk(df, q, k=5, nprobe=1).collect()
    assert len(hits) == 5
    assert all(r["vec_id"] < 100 for r in hits)  # never probed list 1
    assert hits[0]["vec_id"] == 0 and abs(hits[0]["cosine_sim"] - 1.0) < 1e-12


def test_ivf_matches_exact_when_probing_all(spark):
    from terrorblade_spark.operators.vector import cosine_topk, ivf_topk

    import random

    rnd = random.Random(9)
    rows = [
        (i, i % 3, [rnd.uniform(-1, 1) for _ in range(6)]) for i in range(30)
    ]
    df = spark.createDataFrame(rows, "vec_id long, label int, embedding array<float>")
    q = df.where(F.col("vec_id") == 0)
    exact = [(r["vec_id"], r["cosine_sim"]) for r in cosine_topk(df, q, k=10).collect()]
    ivf_all = [
        (r["vec_id"], r["cosine_sim"]) for r in ivf_topk(df, q, k=10, nprobe=3).collect()
    ]
    assert ivf_all == exact  # nprobe = all lists -> exact search


def test_ivf_build_learned_lists(spark, sf_dir):
    from terrorblade_spark.operators.vector import cosine_topk, ivf_build, ivf_topk
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    n = emb.count()
    assigned, cents = ivf_build(emb, n_lists=4, seed=7)
    assigned = assigned.persist()
    # every vector gets exactly one valid list
    assert assigned.count() == n
    lists = {r["list_id"] for r in assigned.select("list_id").distinct().collect()}
    assert lists <= set(range(4)) and len(lists) >= 2
    # centroids: one per non-empty list, right dimensionality
    crows = cents.collect()
    dim = len(emb.select("embedding").first()["embedding"])
    assert all(len(r["centroid"]) == dim for r in crows)
    # deterministic rebuild
    again, _ = ivf_build(emb, n_lists=4, seed=7)
    a = {r["vec_id"]: r["list_id"] for r in assigned.collect()}
    b = {r["vec_id"]: r["list_id"] for r in again.collect()}
    assert a == b
    # identical vectors co-locate: the query's own row is always found
    # when probing all lists, and ivf top-k == exact top-k at nprobe=4/4
    query = emb.orderBy("vec_id").limit(1).select("embedding")
    exact = [r["vec_id"] for r in cosine_topk(emb, query, 10).collect()]
    approx = [
        r["vec_id"]
        for r in ivf_topk(assigned, query, 10, nprobe=4, list_col="list_id").collect()
    ]
    assert approx == exact


def test_vector_ops_robust_to_embedding_element_type(spark, tmp_path):
    # the embeddings fixture has shipped float32 lists; if a future
    # round ships float64 (or a caller supplies them), every fold must
    # behave identically — same guard class as the events.ts test
    import pyarrow as pa
    import pyarrow.parquet as pq

    vecs = [[1.0, 0.0, 0.5], [0.0, 1.0, 0.5], [1.0, 1.0, 0.0]]
    for elem_type, name in [(pa.float32(), "f32"), (pa.float64(), "f64")]:
        table = pa.table(
            {
                "vec_id": pa.array([0, 1, 2], pa.int64()),
                "embedding": pa.array(vecs, pa.list_(elem_type)),
            }
        )
        path = str(tmp_path / f"emb_{name}.parquet")
        pq.write_table(table, path)
        df = spark.read.parquet(path)
        q = df.where(F.col("vec_id") == 0).select("embedding")
        from terrorblade_spark.operators.vector import cosine_topk

        got = cosine_topk(df, q, k=3, vec_col="embedding").collect()
        assert [r["vec_id"] for r in got] == [0, 2, 1]
        assert abs(got[0]["cosine_sim"] - 1.0) < 1e-6


def test_pq_encode_decode_geometry(spark):
    # two tight clusters in each 2-d subspace: codes must separate them
    from terrorblade_spark.operators.vector import pq_build, pq_encode

    vecs = []
    for i in range(20):
        base = [10.0, 10.0, -10.0, -10.0] if i % 2 == 0 else [-10.0, -10.0, 10.0, 10.0]
        vecs.append([b + (i % 5) * 0.01 for b in base])
    df = _vecs(spark, vecs)
    cb = pq_build(df, m=2, n_codes=2, max_iter=10)
    assert cb.count() == 4  # 2 subspaces x 2 codes
    enc = pq_encode(df, cb, m=2)
    rows = {r["vec_id"]: r["codes"] for r in enc.collect()}
    assert all(len(c) == 2 for c in rows.values())
    assert all(all(0 <= x < 2 for x in c) for c in rows.values())
    # every even row shares codes with every even row, differs from odd
    assert rows[0] == rows[2] and rows[1] == rows[3]
    assert rows[0] != rows[1]
    # deterministic rebuild -> identical codes
    cb2 = pq_build(df, m=2, n_codes=2, max_iter=10)
    enc2 = {r["vec_id"]: r["codes"] for r in pq_encode(df, cb2, m=2).collect()}
    assert rows == enc2


def test_pq_adc_recall_vs_exact(spark, sf_dir):
    # ADC top-k on the real embeddings fixture must land most of the
    # exact squared-L2 top-k (and beat a random baseline by far)
    from terrorblade_spark.operators.vector import (
        _sq_l2,
        pq_adc_topk,
        pq_build,
        pq_encode,
    )
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    # 4-d subspaces (m=16 over 64 dims): measured sweet spot on this
    # fixture — recall@10-in-50 of 0.5/0.9/1.0 at m=8,nc=16 / m=8,nc=64
    # / m=16,nc=16; still a 16x compression over float32
    k, m, n_codes = 10, 16, 16
    cb = pq_build(emb, m=m, n_codes=n_codes)
    enc = pq_encode(emb, cb, m=m).persist()
    qrow = emb.orderBy("vec_id").first()
    qvec = [float(x) for x in qrow["embedding"]]

    exact = [
        r["vec_id"]
        for r in emb.select(
            "vec_id",
            _sq_l2(F.col("embedding").cast("array<double>"), F.array(*[F.lit(v) for v in qvec])).alias("d"),
        )
        .orderBy(F.asc("d"), F.col("vec_id"))
        .limit(k)
        .collect()
    ]
    # the operational contract is shortlist-then-rerank: ADC proposes a
    # 5k candidate pool, exact distance re-ranks it — so the gate is
    # "how much of the exact top-k the shortlist captures"
    shortlist = [r["vec_id"] for r in pq_adc_topk(enc, cb, qvec, 5 * k, m=m).collect()]
    recall = len(set(exact) & set(shortlist)) / k
    n = emb.count()
    assert recall >= 0.7, f"ADC shortlist recall@{k} {recall} too low"
    assert recall > 3 * (5 * k / n)  # far above the random-pick baseline
    # the query's own (distance-0) row must always survive quantization
    assert qrow["vec_id"] in shortlist


def test_ivf_save_load_roundtrip(spark, sf_dir, tmp_path):
    from terrorblade_spark.operators.models import load_ivf, save_ivf
    from terrorblade_spark.operators.vector import ivf_build, ivf_topk
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, centroids = ivf_build(emb, n_lists=4, max_iter=5)
    path = str(tmp_path / "ivf_model")
    save_ivf(assigned, centroids, path)

    la, lc = load_ivf(spark, path)
    q = emb.limit(1).select("embedding")
    a = [
        (r["vec_id"], r["cosine_sim"])
        for r in ivf_topk(assigned, q, k=5, nprobe=2, list_col="list_id").collect()
    ]
    b = [
        (r["vec_id"], r["cosine_sim"])
        for r in ivf_topk(la, q, k=5, nprobe=2, list_col="list_id").collect()
    ]
    assert a == b
    # centroid table round-trips exactly
    assert sorted(map(tuple, centroids.collect())) == sorted(map(tuple, lc.collect()))
    lc.unpersist()


def test_ivfpq_topk_composed_pipeline(spark, sf_dir):
    """IVF-PQ composition: probe -> ADC shortlist -> exact re-rank.
    With nprobe = all lists and an unbounded shortlist the result must
    EQUAL exact cosine top-k (the approximation comes only from the
    pruning knobs); with tight knobs recall must stay high."""
    from terrorblade_spark.operators.vector import (
        cosine_topk,
        ivf_build,
        ivfpq_topk,
        pq_build,
        pq_encode,
    )
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    n = emb.count()
    k, m = 10, 16
    assigned, cents = ivf_build(emb, n_lists=4, seed=7)
    cb = pq_build(emb, m=m, n_codes=16)
    enc = pq_encode(assigned, cb, m=m).persist()
    qrow = emb.orderBy("vec_id").first()
    qvec = [float(x) for x in qrow["embedding"]]
    q = emb.where(F.col("vec_id") == qrow["vec_id"]).select("vec_id", "embedding")

    exact = [(r["vec_id"], r["cosine_sim"]) for r in cosine_topk(emb, q, k).collect()]

    # all lists + full shortlist -> identical to exact search
    full = [
        (r["vec_id"], r["cosine_sim"])
        for r in ivfpq_topk(enc, cents, cb, qvec, k, m=m, nprobe=4, shortlist=n).collect()
    ]
    assert full == exact

    # operational knobs: nprobe=2 of 4 lists, default shortlist (4k).
    # The fixture's embeddings are weakly clustered, so the IVF probe
    # loses more here than on natural corpora (measured 0.6 at 50%
    # probed); the ≥0.9-recall gate on well-clustered data is the
    # 1M-vector harness (tools/ann_recall_probe.py, COVERAGE.md) —
    # this unit asserts the composition beats random by a wide margin.
    approx = {r["vec_id"] for r in ivfpq_topk(enc, cents, cb, qvec, k, m=m, nprobe=2).collect()}
    recall = len(approx & {v for v, _ in exact}) / k
    assert recall >= 0.5, f"ivfpq recall@{k} {recall}"
    assert recall > 3 * (k / n)  # far above random
    # the query's own vector always survives the composed pruning
    assert qrow["vec_id"] in approx


def test_ivfpq_residual_build_and_search(spark, sf_dir):
    """Residual IVF-PQ (ivfpq_build + residual=True search): within-
    cell discrimination must hold at a small shortlist, where raw-mode
    codes measurably cannot (the FAISS-residual design point)."""
    from terrorblade_spark.operators.vector import cosine_topk, ivfpq_build, ivfpq_topk
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    n = emb.count()
    k, m = 10, 16
    enc, cents, cb = ivfpq_build(emb, n_lists=4, m=m, n_codes=16, seed=7)
    enc = enc.persist()
    assert enc.count() == n  # every vector encoded exactly once
    row = enc.first()
    assert len(row["codes"]) == m and row["embedding"] is not None

    qrow = emb.orderBy("vec_id").first()
    qvec = [float(x) for x in qrow["embedding"]]
    q = emb.where(F.col("vec_id") == qrow["vec_id"]).select("vec_id", "embedding")
    exact = {r["vec_id"] for r in cosine_topk(emb, q, k).collect()}

    got = {
        r["vec_id"]
        for r in ivfpq_topk(
            enc, cents, cb, qvec, k, m=m, nprobe=4, shortlist=n, residual=True
        ).collect()
    }
    # all lists + full shortlist -> the re-rank recovers exact top-k
    assert got == exact
    # operational knobs: small shortlist, half the lists
    approx = {
        r["vec_id"]
        for r in ivfpq_topk(
            enc, cents, cb, qvec, k, m=m, nprobe=2, residual=True
        ).collect()
    }
    assert qrow["vec_id"] in approx
    assert len(approx & exact) / k >= 0.5


def test_ivfpq_server_identical_to_topk(spark, sf_dir):
    """ivfpq_server holds the model resident (centroids + codebooks
    collected once, zero per-query model jobs) and must return
    BIT-IDENTICAL rows to per-query ivfpq_topk(residual=True) for the
    same knobs — both run _ivfpq_query_resident."""
    from terrorblade_spark.operators.vector import (
        ivfpq_build,
        ivfpq_server,
        ivfpq_topk,
    )
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    k, m = 10, 16
    enc, cents, cb = ivfpq_build(emb, n_lists=4, m=m, n_codes=16, seed=7)
    enc = enc.persist()
    enc.count()
    serve = ivfpq_server(enc, cents, cb, m=m, nprobe=2)
    for vid in [r["vec_id"] for r in emb.orderBy("vec_id").limit(3).collect()]:
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == vid).first()["embedding"]
        ]
        one_shot = [
            (r["vec_id"], round(r["cosine_sim"], 9))
            for r in ivfpq_topk(
                enc, cents, cb, qvec, k, m=m, nprobe=2, residual=True
            ).collect()
        ]
        served = [
            (r["vec_id"], round(r["cosine_sim"], 9))
            for r in serve(qvec, k).collect()
        ]
        assert served == one_shot, vid


def test_ivfpq_save_load_roundtrip_serving(spark, sf_dir, tmp_path):
    """Persisted IVF-PQ: save, load, and serve — results identical to
    the in-memory index, and the loaded search reads only probed
    lists' files (partition filter visible in the scan)."""
    from terrorblade_spark.operators.models import load_ivfpq, save_ivfpq
    from terrorblade_spark.operators.vector import ivfpq_build, ivfpq_topk
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    m = 16
    enc, cents, cb = ivfpq_build(emb, n_lists=4, m=m, n_codes=16, seed=7)
    path = str(tmp_path / "ivfpq")
    save_ivfpq(enc, cents, cb, path, m=m)

    enc2, cents2, cb2, m2 = load_ivfpq(spark, path)
    assert m2 == m
    qrow = emb.orderBy("vec_id").first()
    qvec = [float(x) for x in qrow["embedding"]]
    mem = [
        (r["vec_id"], r["cosine_sim"])
        for r in ivfpq_topk(enc, cents, cb, qvec, 10, m=m, nprobe=2, residual=True).collect()
    ]
    disk = [
        (r["vec_id"], r["cosine_sim"])
        for r in ivfpq_topk(enc2, cents2, cb2, qvec, 10, m=m2, nprobe=2, residual=True).collect()
    ]
    assert disk == mem
    # kind check refuses a mismatched load
    import pytest as _pytest

    from terrorblade_spark.operators.models import load_ivf

    with _pytest.raises(ValueError):
        load_ivf(spark, path)


def test_ivf_knn_join_matches_brute_at_full_probe(spark, sf_dir):
    """Batch ANN join: probing ALL lists must reproduce the brute-force
    knn_join exactly; partial probes stay high-recall and never return
    self-matches or more than k rows per query."""
    from terrorblade_spark.operators.vector import ivf_build, ivf_knn_join, knn_join
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    queries = emb.orderBy("vec_id").limit(8)
    assigned, cents = ivf_build(emb, n_lists=4, seed=7)
    assigned = assigned.persist()

    brute = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in knn_join(queries, emb, k=5).collect()
    }
    full = {
        (r["query_id"], r["rank"]): r["neighbor_id"]
        for r in ivf_knn_join(queries, assigned, cents, k=5, nprobe=4).collect()
    }
    assert full == brute

    part = ivf_knn_join(queries, assigned, cents, k=5, nprobe=2).collect()
    per_q = {}
    for r in part:
        assert r["neighbor_id"] != r["query_id"]
        per_q.setdefault(r["query_id"], []).append(r["rank"])
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in per_q.values())
    assert all(len(v) <= 5 for v in per_q.values())
    # partial probe still finds most of the true neighbors
    hits = sum(1 for key, nid in full.items() if any(
        r["query_id"] == key[0] and r["neighbor_id"] == nid for r in part
    ))
    assert hits / len(full) >= 0.5


def test_ivf_txn_incremental_append_serves_new_vectors(spark, sf_dir, tmp_path):
    """The index lifecycle: build -> persist (txn) -> append a new
    batch (assigned to trained lists, exactly-once) -> a query finds
    the new vector; old results unchanged; pruning preserved
    (per-partition manifest entries, no unpartitioned blob)."""
    from terrorblade_spark.operators.models import ivf_append_txn, load_ivf, save_ivf
    from terrorblade_spark.operators.vector import ivf_build, ivf_knn_join
    from terrorblade_spark.tables import load_table
    from terrorblade_spark.txn import TxnTable

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    assigned, cents = ivf_build(emb, n_lists=4, max_iter=5)
    path = str(tmp_path / "ivf")
    save_ivf(assigned, cents, path)

    a0, c0 = load_ivf(spark, path)
    n0 = a0.count()

    # the new batch: an exact copy of an existing vector under a new id
    # -> it must become that vector's top neighbor
    probe = emb.limit(1).collect()[0]
    new = spark.createDataFrame(
        [(9_000_001, probe["embedding"])], "vec_id long, embedding array<float>"
    )
    ivf_append_txn(spark, path, new, applied_id="batch_1")
    ivf_append_txn(spark, path, new, applied_id="batch_1")  # replay no-ops

    a1, c1 = load_ivf(spark, path)
    assert a1.count() == n0 + 1
    q = spark.createDataFrame(
        [(int(probe["vec_id"]), probe["embedding"])],
        "vec_id long, embedding array<float>",
    )
    top = ivf_knn_join(q, a1, c1, k=3, nprobe=2).collect()
    assert top[0]["neighbor_id"] == 9_000_001  # the appended twin wins
    assert abs(top[0]["cosine_sim"] - 1.0) < 1e-6

    # pruning preserved: every manifest entry is per-partition
    m = TxnTable(f"{path}/assigned").latest()
    assert all(e["partition"] for e in m.entries)


def test_sign_lsh_bucket_short_vectors_not_all_zero(spark):
    """Review repro: vectors shorter than dims null-poisoned the fold
    and ALL landed in bucket 0 (silent full scan)."""
    from terrorblade_spark.operators.vector import sign_lsh_bucket

    rows = [(i, [float((i * 7 + j) % 13) - 6.0 for j in range(32)]) for i in range(64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    buckets = [
        r["b"] for r in df.select(
            sign_lsh_bucket(F.col("embedding"), planes=8, dims=64).alias("b")
        ).collect()
    ]
    assert len(set(buckets)) > 4  # spread, not all-zero collapse


def test_pq_encode_requires_codebooks_not_corpus_scan(spark):
    import pytest

    from terrorblade_spark.operators.vector import pq_encode

    empty_cb = spark.createDataFrame(
        [], "sub_id int, code_id int, centroid array<double>"
    )
    vecs = spark.createDataFrame([(1, [0.0, 1.0])], "vec_id long, embedding array<float>")
    with pytest.raises(ValueError, match="non-empty codebooks"):
        pq_encode(vecs, empty_cb, m=1)


def test_ivfpq_local_server_matches_topk(spark, sf_dir):
    """ivfpq_local_server (driver-resident numpy serving tier) must
    return the same ids and cosines (to 1e-9 — numpy pairwise vs JVM
    sequential float64 summation) as ivfpq_topk(residual=True) at the
    same knobs: same coarse probe (tie -> lower list_id), same ADC
    shortlist (tie -> lower id), same exact re-rank over the same
    stored float values."""
    from terrorblade_spark.operators.vector import (
        ivfpq_build,
        ivfpq_local_server,
        ivfpq_topk,
    )
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    k, m = 10, 16
    enc, cents, cb = ivfpq_build(emb, n_lists=4, m=m, n_codes=16, seed=7)
    enc = enc.persist()
    n = enc.count()
    serve = ivfpq_local_server(enc, cents, cb, m=m, nprobe=2)
    assert serve.index.nbytes() > 0
    for vid in [r["vec_id"] for r in emb.orderBy("vec_id").limit(3).collect()]:
        qvec = [
            float(x)
            for x in emb.where(F.col("vec_id") == vid).first()["embedding"]
        ]
        one_shot = [
            (r["vec_id"], round(r["cosine_sim"], 9))
            for r in ivfpq_topk(
                enc, cents, cb, qvec, k, m=m, nprobe=2, residual=True
            ).collect()
        ]
        served_df = [
            (r["vec_id"], round(r["cosine_sim"], 9))
            for r in serve(qvec, k).collect()
        ]
        served_rows = [
            (i, round(c, 9)) for i, c in serve.index.query_rows(qvec, k, nprobe=2)
        ]
        assert served_df == one_shot, vid
        assert served_rows == one_shot, vid
    # k past the probed population: returns what the probe reached
    qvec = [float(x) for x in emb.orderBy("vec_id").first()["embedding"]]
    big = serve.index.query_rows(qvec, int(n) + 50, nprobe=1, shortlist=10)
    assert 0 < len(big) <= 10


def test_ivfpq_local_index_size_guard(spark, sf_dir):
    """The builder must refuse (fast, pre-collect) when the resident
    arrays would exceed max_bytes — the 100 TB contract is shard-by-
    list-range, never an unbounded driver collect."""
    import pytest

    from terrorblade_spark.operators.vector import ivfpq_build, ivfpq_local_index
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    enc, cents, cb = ivfpq_build(emb, n_lists=4, m=16, n_codes=16, seed=7)
    with pytest.raises(ValueError, match="shard by"):
        ivfpq_local_index(enc, cents, cb, m=16, max_bytes=100)


def test_ivfpq_local_index_preserves_double(spark, sf_dir):
    """array<double> embeddings must reach the local tier's re-rank at
    full width (float64 shards), matching ivfpq_topk's exact re-rank
    of the source column — no silent float32 truncation."""
    import numpy as np

    from terrorblade_spark.operators.vector import (
        ivfpq_build,
        ivfpq_local_server,
        ivfpq_topk,
    )
    from terrorblade_spark.tables import load_table

    emb = (
        load_table(spark, sf_dir, "embeddings")
        .withColumn(
            "embedding",
            # double values that are NOT float32-representable: a
            # truncating pack would shift every cosine
            F.transform("embedding", lambda x: x.cast("double") + F.lit(1e-9)),
        )
        .persist()
    )
    k, m = 10, 16
    enc, cents, cb = ivfpq_build(emb, n_lists=4, m=m, n_codes=16, seed=7)
    enc = enc.persist()
    serve = ivfpq_local_server(enc, cents, cb, m=m, nprobe=2)
    assert serve.index.vecs.dtype == np.float64
    for vid in [r["vec_id"] for r in emb.orderBy("vec_id").limit(2).collect()]:
        qvec = [
            float(x) for x in emb.where(F.col("vec_id") == vid).first()["embedding"]
        ]
        one_shot = [
            (r["vec_id"], round(r["cosine_sim"], 9))
            for r in ivfpq_topk(
                enc, cents, cb, qvec, k, m=m, nprobe=2, residual=True
            ).collect()
        ]
        served = [
            (i, round(c, 9)) for i, c in serve.index.query_rows(qvec, k, nprobe=2)
        ]
        assert served == one_shot, vid
    emb.unpersist()
    enc.unpersist()


def test_ivfpq_local_index_degenerate_inputs(spark, sf_dir):
    """Empty model relations refuse with explicit errors (not numpy
    max()/concatenate tracebacks); an empty encoded relation builds an
    empty index that answers [] — no mapInPandas round-trip."""
    import pytest

    from terrorblade_spark.operators.vector import ivfpq_build, ivfpq_local_index
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    enc, cents, cb = ivfpq_build(emb, n_lists=4, m=16, n_codes=16, seed=7)
    empty_cents = spark.createDataFrame([], "list_id int, centroid array<double>")
    empty_cb = spark.createDataFrame(
        [], "sub_id int, code_id int, centroid array<double>"
    )
    with pytest.raises(ValueError, match="non-empty centroids"):
        ivfpq_local_index(enc, empty_cents, cb, m=16)
    with pytest.raises(ValueError, match="non-empty codebooks"):
        ivfpq_local_index(enc, cents, empty_cb, m=16)
    idx = ivfpq_local_index(enc.where(F.col("vec_id") < 0), cents, cb, m=16)
    assert idx.nbytes() == 0
    qvec = [1.0] * len(emb.first()["embedding"])
    assert idx.query_rows(qvec, 5) == []


def test_local_index_zero_norm_centroid_probes_last():
    """A zero-norm centroid must sort BELOW every real centroid in the
    coarse probe (the distributed _cos scores it -inf; unit-zeroing
    alone would score it 0.0 and out-probe a negatively-correlated
    real list)."""
    import numpy as np

    from terrorblade_spark.operators.vector import LocalIVFPQIndex

    # two rows: row id 1 in list 0 (zero-norm centroid), id 2 in list 1
    idx = LocalIVFPQIndex(
        ids=np.array([1, 2], dtype=np.int64),
        lists=np.array([0, 1], dtype=np.int32),
        codes=np.zeros((2, 1), dtype=np.uint8),
        vecs=np.array([[1.0, 0.0], [0.0, 1.0]], dtype=np.float32),
        cent_ids=np.array([0, 1], dtype=np.int64),
        cents=np.array([[0.0, 0.0], [0.0, 1.0]], dtype=np.float64),
        cb=np.zeros((1, 1, 2), dtype=np.float64),
    )
    # query anti-aligned with list 1's centroid: real centroid scores
    # -1.0, zero-norm must still lose (-inf), so nprobe=1 probes list 1
    got = idx.query_rows([0.0, -1.0], k=1, nprobe=1)
    assert [i for i, _ in got] == [2]


def test_ivfpq_local_shards_fleet_union(spark, sf_dir, tmp_path):
    """The fleet shape the class docstring promises: build shards once,
    load two disjoint list-id ranges into two index instances, route
    via the global coarse probe, merge the nodes' shortlists under the
    single-box (adc asc, id asc) cut — the union must re-rank to the
    single-box answer exactly."""
    import numpy as np

    from terrorblade_spark.operators.vector import (
        ivfpq_build,
        ivfpq_local_index,
        ivfpq_local_index_from_shards,
    )
    from terrorblade_spark.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").persist()
    k, m, nprobe, short_n = 10, 16, 4, 64
    enc, cents, cb = ivfpq_build(emb, n_lists=4, m=m, n_codes=16, seed=7)
    enc = enc.persist()
    shard_dir = str(tmp_path / "shards")
    box = ivfpq_local_index(enc, cents, cb, m=m, shard_path=shard_dir)
    node_a = ivfpq_local_index_from_shards(shard_dir, cents, cb, m=m, list_range=(0, 2))
    node_b = ivfpq_local_index_from_shards(shard_dir, cents, cb, m=m, list_range=(2, 4))
    assert len(node_a.ids) + len(node_b.ids) == len(box.ids)
    assert set(np.unique(node_a.lists)) <= {0, 1}
    assert set(np.unique(node_b.lists)) <= {2, 3}
    for vid in [r["vec_id"] for r in emb.orderBy("vec_id").limit(3).collect()]:
        qvec = [
            float(x) for x in emb.where(F.col("vec_id") == vid).first()["embedding"]
        ]
        q = np.asarray(qvec, dtype=np.float64)
        qn = float(np.linalg.norm(q))
        # router: ONE global probe set from the replicated quantizer
        probe = box._probe_lists(q, qn, nprobe)
        ids_l, adc_l, cos_l = [], [], []
        for node in (node_a, node_b):
            i_, a_, c_ = node.shortlist_rows(qvec, nprobe, short_n, probe_lids=probe)
            ids_l.append(i_)
            adc_l.append(a_)
            cos_l.append(c_)
        ids = np.concatenate(ids_l)
        adc = np.concatenate(adc_l)
        cos = np.concatenate(cos_l)
        # re-apply the single-box shortlist rule over the union
        if len(ids) > short_n:
            cut = np.lexsort((ids, adc))[:short_n]
            ids, cos = ids[cut], cos[cut]
        top = np.lexsort((ids, -cos))[:k]
        fleet = [(int(ids[i]), round(float(cos[i]), 12)) for i in top]
        single = [(i, round(c, 12)) for i, c in box.query_rows(qvec, k, nprobe=nprobe, shortlist=short_n)]
        assert fleet == single, vid
    emb.unpersist()
    enc.unpersist()
