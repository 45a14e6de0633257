"""Product quantization: trainer determinism, encode/ADC correctness,
and recall of the trained path on clustered data."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from astro_sdk_spark.functions.pq import pq_encode, pq_topk, train_pq


@pytest.fixture(scope="module")
def clustered(spark):
    """400 vectors in 8 tight clusters (dim 16) + their ids."""
    rng = random.Random(11)
    centers = [[rng.uniform(-1, 1) for _ in range(16)] for _ in range(8)]
    rows = []
    for i in range(400):
        c = centers[i % 8]
        rows.append((i, [x + rng.gauss(0, 0.05) for x in c]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_train_pq_shapes_and_determinism(clustered):
    cb1 = train_pq(clustered, m=4, k=8, iters=3)
    cb2 = train_pq(clustered, m=4, k=8, iters=3)
    assert len(cb1) == 4 and len(cb1[0]) == 8 and len(cb1[0][0]) == 4
    assert cb1 == cb2


def test_train_pq_validates_divisibility(clustered):
    with pytest.raises(ValueError, match="not divisible"):
        train_pq(clustered, m=5, k=8, iters=1)


def test_pq_encode_codes_in_range(clustered):
    cb = train_pq(clustered, m=4, k=8, iters=2)
    codes = pq_encode(clustered, cb)
    assert codes.columns == ["vec_id", "pq_code"]
    rows = codes.collect()
    assert len(rows) == 400
    for r in rows:
        assert len(r.pq_code) == 4
        assert all(0 <= c < 8 for c in r.pq_code)


def test_pq_topk_finds_query_cluster(clustered):
    # Quantization collapses each tight cluster to (nearly) one code word
    # per subspace, so ADC cannot order WITHIN a cluster (ties broken by
    # vec_id) — the contract PQ can honor here is cluster-level: every
    # returned neighbor belongs to the query's cluster.
    cb = train_pq(clustered, m=4, k=8, iters=5)
    codes = pq_encode(clustered, cb)
    queries = clustered.filter(F.col("vec_id") < 4)
    got = pq_topk(codes, cb, queries, k=10)
    by_q: dict[int, list[int]] = {}
    for r in got.orderBy("query_id", "rank").collect():
        by_q.setdefault(r.query_id, []).append(r.vec_id)
    assert set(by_q) == {0, 1, 2, 3}
    total, same_cluster = 0, 0
    for qid, ids in by_q.items():
        assert len(ids) == 10
        same_cluster += sum(1 for vid in ids if vid % 8 == qid % 8)
        total += 10
    assert same_cluster / total >= 0.9, f"cluster accuracy {same_cluster/total:.2f}"


def test_pq_topk_rank_contract(clustered):
    cb = train_pq(clustered, m=4, k=8, iters=2)
    codes = pq_encode(clustered, cb)
    out = pq_topk(codes, cb, clustered.filter(F.col("vec_id") == 0), k=5)
    rows = out.orderBy("rank").collect()
    assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
    # adist non-decreasing with rank; self should be rank 1 (dist ~0)
    dists = [r.adist for r in rows]
    assert dists == sorted(dists)
    assert rows[0].vec_id == 0


def test_pq_topk_empty_queries_raises(spark, clustered):
    """An empty query batch is a ValueError on every PQ top-k entry point
    — raised on the collected batch, before any numpy stacking."""
    from astro_sdk_spark.functions.ann_index import (
        ann_index_topk,
        build_ann_index,
        drop_ann_index,
    )
    from astro_sdk_spark.functions.pq import ivfpq_topk

    cb = train_pq(clustered, m=4, k=8, iters=1)
    codes = pq_encode(clustered, cb)
    empty = clustered.filter(F.col("vec_id") < 0)
    cents = clustered.filter(F.col("vec_id") < 8)
    with pytest.raises(ValueError, match="queries is empty"):
        pq_topk(codes, cb, empty)
    with pytest.raises(ValueError, match="queries is empty"):
        ivfpq_topk(empty, clustered, cents, cb, nprobe=2)
    drop_ann_index(spark, "t_pq_empty_q")
    try:
        build_ann_index(spark, clustered, "t_pq_empty_q", cents, codebooks=cb)
        with pytest.raises(ValueError, match="queries is empty"):
            ann_index_topk(spark, empty, "t_pq_empty_q", nprobe=2)
    finally:
        drop_ann_index(spark, "t_pq_empty_q")


def test_codebook_shape_validation(clustered):
    with pytest.raises(ValueError, match="codebooks"):
        pq_encode(clustered, [[1.0, 2.0]])


def test_ivfpq_topk_scans_only_probed_lists(spark):
    """IVFADC composition: results agree with a full pq_topk scan for
    every (query, candidate) pair whose list was probed, and candidates
    in unprobed lists never appear."""
    import numpy as np

    from astro_sdk_spark.functions.pq import ivfpq_topk, pq_topk, pq_encode
    from astro_sdk_spark.functions.similarity import nearest_centroids

    rng = np.random.RandomState(7)
    dim, n = 8, 60
    vecs = [(i, rng.randn(dim).astype(float).tolist()) for i in range(n)]
    emb = spark.createDataFrame(vecs, "vec_id long, embedding array<double>")
    cents = emb.filter("vec_id < 6")
    queries = emb.filter("vec_id < 3")
    # m=2 subspaces, 4 codewords from the first 4 vectors
    cw = [v for _, v in vecs[:4]]
    codebooks = [
        [[cwv[s * 4 + t] for t in range(4)] for cwv in cw] for s in range(2)
    ]

    out = ivfpq_topk(
        queries, emb, cents, codebooks, nprobe=2, k=5
    ).collect()
    assert out, "ivfpq returned nothing"

    # every returned candidate must live in one of its query's probed lists
    probes = {}
    for r in nearest_centroids(
        queries.selectExpr("vec_id as _qid", "embedding"),
        cents, id_col="_qid", vec_col="embedding", n=2,
    ).collect():
        probes.setdefault(r._qid, set()).add(r.cent_id)
    assigned = {
        r.vec_id: r.cent_id
        for r in nearest_centroids(emb, cents, n=1).collect()
    }
    for r in out:
        assert assigned[r.vec_id] in probes[r.query_id], (
            r.query_id, r.vec_id, assigned[r.vec_id], probes[r.query_id])

    # ADC distances agree with the unrestricted pq_topk scan
    codes = pq_encode(emb, codebooks)
    full = {
        (r.query_id, r.vec_id): r.adist
        for r in pq_topk(codes, codebooks, queries, k=60).collect()
    }
    for r in out:
        assert full[(r.query_id, r.vec_id)] == r.adist


def test_driver_probe_equals_nearest_centroids(spark):
    """The driver-side probe that ivfpq_scan_lists and ann_index_topk use
    picks exactly the rows nearest_centroids(..., n=nprobe) emits, in the
    same nearest-first order — including a tie: two centroids whose
    cosines differ below the rounding quantum, where the lower cent_id
    must win although the higher one is nearer unrounded."""
    import numpy as np

    from astro_sdk_spark.functions.similarity import (
        _nearest_centroid_ids,
        nearest_centroids,
    )

    rng = np.random.RandomState(5)
    dim, nprobe = 8, 3
    # centroids 0-2, 4, 6, 7 point away from e0; 9 = e0; 5 and 3 both
    # at cosine 0.6 to e0 once rounded, 5 a hair nearer before rounding
    e = np.eye(dim)
    cents = {i: (-e[0] + 0.3 * rng.randn(dim)).tolist() for i in (0, 1, 2, 4, 6, 7)}
    cents[9] = e[0].tolist()
    cents[5] = (0.6 * e[0] + 0.8 * e[1]).tolist()
    cents[3] = (0.6 * e[0] + 0.8 * e[1] + 1e-6 * e[2]).tolist()
    # the higher id first in input order, so only the sort gives 3 first
    cent_df = spark.createDataFrame(
        sorted(cents.items(), reverse=True), "vec_id long, embedding array<double>"
    )
    queries = [(100, e[0].tolist())] + [
        (200 + i, rng.randn(dim).tolist()) for i in range(40)
    ]
    qdf = spark.createDataFrame(
        queries, "vec_id long, embedding array<double>"
    ).repartition(3)

    got = _nearest_centroid_ids(
        [v for _, v in queries], cent_df.collect(), nprobe
    )
    assert got.shape == (len(queries), nprobe)
    assert got[0].tolist() == [9, 3, 5]
    want: dict = {}
    for r in nearest_centroids(qdf, cent_df, n=nprobe).collect():
        want.setdefault(r.vec_id, []).append(r.cent_id)
    assert want == {qid: ids.tolist() for (qid, _), ids in zip(queries, got)}


def test_pq_topk_exact_tie_lower_id_wins(spark):
    """Two candidates with identical codes have identical ADC distance;
    the (adist, vec_id) contract must keep the LOWER id at the k
    boundary — the local argpartition must not drop it arbitrarily."""
    import numpy as np

    from astro_sdk_spark.functions.pq import pq_encode, pq_topk

    rng = np.random.RandomState(3)
    dim = 8
    base = [(i, rng.randn(dim).tolist()) for i in range(4)]
    twin = base[2][1][:]  # vec 9 is an exact copy of vec 2
    emb = spark.createDataFrame(
        base + [(9, twin)], "vec_id long, embedding array<double>"
    ).repartition(4)  # spread candidates so locals see partial views
    cw = [v for _, v in base]
    codebooks = [[[c[s * 4 + t] for t in range(4)] for c in cw] for s in range(2)]
    codes = pq_encode(emb, codebooks)
    queries = emb.filter("vec_id = 0")

    out = pq_topk(codes, codebooks, queries, k=3).collect()
    by_rank = {r.rank: r for r in out}
    assert len(by_rank) == 3
    tied = [r for r in out if r.vec_id in (2, 9)]
    if len(tied) == 2:
        a, b = sorted(tied, key=lambda r: r.rank)
        assert a.vec_id == 2 and b.vec_id == 9  # lower id ranks first
    else:
        # only one of the twins fits in k → it must be the lower id
        assert tied and tied[0].vec_id == 2


def test_local_topk_caps_identical_distance_flood():
    """Adversarial flood: n copies of one vector share one code and one
    exact ADC distance. The old kth+tol rule emitted the WHOLE partition;
    _local_topk must keep exactly the `top` smallest ids."""
    import numpy as np

    from astro_sdk_spark.functions.pq import _local_topk

    n, top = 5000, 10
    d = np.full(n, 3.14159)
    ids = np.arange(n)[::-1].copy()  # descending, so id order != position
    idx = _local_topk(d, ids, top, tol=1e-4)
    assert len(idx) == top
    assert sorted(ids[idx].tolist()) == list(range(top))


def test_local_topk_never_drops_within_quantum_candidates():
    """Rows within one rounding quantum of the k-th distance can still win
    the global (rounded, id) rank and must survive local selection."""
    import numpy as np

    from astro_sdk_spark.functions.pq import _local_topk

    # top=2: d=1.0 (kept), d=1.00003 (kept: within quantum of 2nd),
    # d=1.00009 (within quantum of the 2nd-best → must be kept),
    # d=2.0 (provably dominated by 2 rows → dropped)
    d = np.array([1.0, 1.00003, 1.00009, 2.0])
    ids = np.array([7, 8, 9, 10])
    idx = _local_topk(d, ids, 2, tol=1e-4)
    kept = sorted(ids[idx].tolist())
    assert kept == [7, 8, 9]


def test_local_topk_exact_when_tol_zero():
    import numpy as np

    from astro_sdk_spark.functions.pq import _local_topk

    rng = np.random.RandomState(0)
    d = rng.rand(100)
    ids = rng.permutation(100)
    idx = _local_topk(d, ids, 5, tol=0.0)
    assert len(idx) == 5
    want = sorted(range(100), key=lambda i: (d[i], ids[i]))[:5]
    assert sorted(idx.tolist()) == sorted(want)


def test_pq_topk_string_ids(spark):
    """Schema is derived from input dtypes (advice fix): string id
    columns survive the Arrow boundary instead of null-casting."""
    import numpy as np

    from astro_sdk_spark.functions.pq import pq_encode, pq_topk

    rng = np.random.RandomState(5)
    dim = 8
    rows = [(f"doc-{i:03d}", rng.randn(dim).tolist()) for i in range(20)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    cw = [v for _, v in rows[:4]]
    codebooks = [[[c[s * 4 + t] for t in range(4)] for c in cw] for s in range(2)]
    codes = pq_encode(emb, codebooks)
    assert dict(codes.dtypes)["vec_id"] == "string"
    out = pq_topk(codes, codebooks, emb.filter("vec_id = 'doc-000'"), k=3)
    got = out.orderBy("rank").collect()
    assert [r.rank for r in got] == [1, 2, 3]
    assert got[0].vec_id == "doc-000"
    assert all(isinstance(r.vec_id, str) for r in got)


def test_ivfpq_topk_string_ids(spark):
    import numpy as np

    from astro_sdk_spark.functions.pq import ivfpq_topk

    rng = np.random.RandomState(6)
    dim = 8
    rows = [(f"v{i:02d}", rng.randn(dim).tolist()) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    cw = [v for _, v in rows[:4]]
    codebooks = [[[c[s * 4 + t] for t in range(4)] for c in cw] for s in range(2)]
    out = ivfpq_topk(
        emb.filter("vec_id < 'v03'"), emb, emb.filter("vec_id < 'v06'"),
        codebooks, nprobe=2, k=5,
    ).collect()
    assert out
    assert all(isinstance(r.vec_id, str) and isinstance(r.query_id, str) for r in out)


def test_train_pq_seed_ids_explicit(clustered):
    """seed_ids seeds from those exact vectors in ascending-id order —
    the engine-agnostic seeding an external oracle replicates."""
    import numpy as np

    ids = [0, 7, 14, 21, 28, 35, 42, 49]
    cb = train_pq(clustered, m=4, k=8, iters=0, seed_ids=ids)
    seeds = {
        r.vec_id: r.embedding
        for r in clustered.filter(F.col("vec_id").isin(ids)).collect()
    }
    for pos, vid in enumerate(sorted(ids)):
        full = np.concatenate([np.asarray(cb[s][pos]) for s in range(4)])
        assert np.allclose(full, np.asarray(seeds[vid]))


def test_train_pq_seed_ids_wrong_count_raises(clustered):
    with pytest.raises(ValueError, match="exactly k=8"):
        train_pq(clustered, m=4, k=8, iters=1, seed_ids=[0, 1])


def test_train_pq_round_digits_tie_goes_to_lowest_code(spark):
    """With round_digits set, two codewords equidistant (after rounding)
    from every vector must both-assign to the LOWER code index — the mean
    then moves codeword 0 and leaves codeword 1 at its seed."""
    # vectors at ±1 on one axis; seeds at the two vectors themselves:
    # each vector is distance 0 from one seed and 4 from the other, so
    # cells split cleanly; the engineered midpoint vector 2 ties both
    # seeds at distance 1 and must land in cell 0.
    rows = [(0, [1.0, 0.0]), (1, [-1.0, 0.0]), (2, [0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cb = train_pq(
        df, m=1, k=2, iters=1, seed_ids=[0, 1], round_digits=4
    )
    # cell 0 got vectors {0, 2} -> mean (0.5, 0); cell 1 got {1} -> (-1, 0)
    assert cb[0][0] == [0.5, 0.0]
    assert cb[0][1] == [-1.0, 0.0]
