"""Embedding similarity search — brute-force cosine top-k + LSH-bucketed ANN.

No reference counterpart (astro-sdk delegates all compute to the warehouse);
these are the LLM-data-pipeline extensions required alongside SURVEY §2.

Scale design:
- Cosine math uses Spark *higher-order functions* (``zip_with`` +
  ``aggregate``) — evaluated JVM-side inside whole-stage codegen, no Python
  in the hot path.
- ``cosine_topk`` broadcasts the (small) query set against the (huge)
  candidate set, so the only wide op is the final per-query top-k, done with
  a window over ``query_id`` — shuffle size = |queries| × |candidates kept|.
- ``lsh_bucket_join`` is the scale path: random-hyperplane signatures
  (SimHash for real vectors) from one Arrow-batched numpy matmul per
  batch, candidates compared only within matching bands — turns O(Q×N)
  into O(Q×N/2^bits) per band.
- Banded signatures come from ONE scan with a posexplode over the per-band
  signature array — not a union of per-band scans.
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from astro_sdk_spark.functions._cache import track


def _dot(a, b):
    # cast operands to double BEFORE multiplying: on array<float> columns
    # Spark would otherwise compute float32 products (then promote), a
    # ~1e-8 relative divergence from any all-double engine — enough to
    # flip a round(x, 4) boundary. With double products and this strict
    # left fold, the result is bit-identical to DuckDB's double math.
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine_similarity_col(a, b):
    """Cosine similarity between two array<float> columns — pure built-ins."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 10,
    round_digits: int | None = None,
) -> DataFrame:
    """Brute-force cosine top-k: every query scored against every candidate.

    Returns (query_id, cand_id, cosine, rank). The query side is broadcast —
    keep it small (this is the exact baseline; use lsh_bucket_join at scale).
    Rank is deterministic: ties broken by candidate id.
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    )
    c = candidates.select(
        F.col(id_col).alias("cand_id"), F.col(vec_col).alias("_cvec")
    )
    scored = c.join(F.broadcast(q), F.col("query_id") != F.col("cand_id")).select(
        "query_id",
        "cand_id",
        cosine_similarity_col(F.col("_qvec"), F.col("_cvec")).alias("cosine"),
    )
    if round_digits is not None:
        scored = scored.withColumn("cosine", F.round("cosine", round_digits))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def random_hyperplanes(dim: int, bits: int, seed: int = 42) -> list[list[float]]:
    rng = random.Random(seed)
    return [[rng.gauss(0.0, 1.0) for _ in range(dim)] for _ in range(bits)]


def banded_signatures(
    df: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 12,
    bands: int = 4,
    seed: int = 42,
) -> DataFrame:
    """(id, vec, band, sig) — one row per (vector, band), from a single scan:
    the per-band signature array is computed once per row and posexploded.

    Hyperplane signatures are a dense matmul — batch_vectors (n×dim) @
    planes.T (dim×bits·bands) → signs → bit-pack. That is BLAS territory,
    so it runs as an Arrow-batched pandas_udf over numpy (the one place
    Python beats Catalyst expressions: higher-order-function dot products
    are interpreted per element, the matmul is vectorized ~100×)."""
    import numpy as np
    import pandas as pd

    flat = random_hyperplanes(dim, bits * bands, seed)
    planes_t = np.array(flat, dtype=np.float64).T  # dim × (bits·bands)
    weights = np.array([1 << i for i in range(bits)], dtype=np.int64)
    n_bands = bands

    def _sigs_fn(v):
        if len(v) == 0:
            return pd.Series([], dtype=object)
        mat = np.stack([np.asarray(x, dtype=np.float64) for x in v])
        bitmat = (mat @ planes_t) >= 0  # n × bits·bands
        sigs = bitmat.reshape(len(mat), n_bands, -1).astype(np.int64) @ weights
        return pd.Series(list(sigs))

    # annotations set explicitly: `from __future__ import annotations`
    # stringifies inline hints, which pandas_udf cannot resolve
    _sigs_fn.__annotations__ = {"v": pd.Series, "return": pd.Series}
    sig_arr = F.pandas_udf(_sigs_fn, "array<long>")(F.col(vec_col))
    return df.select(
        F.col(id_col),
        F.col(vec_col),
        F.posexplode(sig_arr).alias("band", "sig"),
    )


def lsh_bucket_join(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 12,
    bands: int = 4,
    k: int = 10,
    seed: int = 42,
    round_digits: int | None = None,
    bucket_cap: int | None = None,
) -> DataFrame:
    """ANN: compare query/candidate pairs only when they share an LSH bucket
    in at least one band, then exact-rescore the survivors. At 100 TB the
    bucket join shuffles on (band, signature) — uniformly distributed keys,
    no skew — instead of exploding the cross product. ``bucket_cap`` drops
    candidate-side mega-buckets (dense clusters of near-identical vectors)
    before the join."""
    qb = banded_signatures(queries, dim, id_col, vec_col, bits, bands, seed).select(
        F.col(id_col).alias("q_id"), F.col(vec_col).alias("_qvec"), "band", "sig"
    )
    cb = banded_signatures(candidates, dim, id_col, vec_col, bits, bands, seed).select(
        F.col(id_col).alias("c_id"), F.col(vec_col).alias("_cvec"), "band", "sig"
    )
    if bucket_cap is not None:
        w = Window.partitionBy("band", "sig")
        cb = (
            cb.withColumn("_bsz", F.count(F.lit(1)).over(w))
            .filter(F.col("_bsz") <= bucket_cap)
            .drop("_bsz")
        )
    pairs = (
        qb.join(cb, on=["band", "sig"])
        .filter(F.col("q_id") != F.col("c_id"))
        .select("q_id", "c_id", "_qvec", "_cvec")
        .dropDuplicates(["q_id", "c_id"])
    )
    scored = pairs.select(
        F.col("q_id").alias("query_id"),
        F.col("c_id").alias("cand_id"),
        cosine_similarity_col(F.col("_qvec"), F.col("_cvec")).alias("cosine"),
    )
    if round_digits is not None:
        scored = scored.withColumn("cosine", F.round("cosine", round_digits))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _centroid_matrix(rows):
    """``(cent_ids, cmat)`` from collected ``(cent_id, vec)`` rows: ids in
    ascending order (the order the ranking's id tiebreak relies on) and
    the matching L2-normalised float64 matrix."""
    import numpy as np

    rows = sorted(rows, key=lambda r: r[0])
    cmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in rows])
    return (
        np.array([r[0] for r in rows]),
        cmat / np.linalg.norm(cmat, axis=1, keepdims=True),
    )


def _nearest_rows(vecs, cmat, n: int, round_digits: int):
    """Row positions in ``cmat`` of each vector's ``n`` nearest centroids.

    The one assignment kernel: the executor sides of
    :func:`nearest_centroids` and :func:`_ivf_lists` and the driver-side
    probe of :func:`_nearest_centroid_ids` all call it, so a probe picked
    on the driver is bit-identical to the same vector's executor
    assignment.
    ``vecs`` must be non-empty."""
    import numpy as np

    vm = np.stack([np.asarray(x, dtype=np.float64) for x in vecs])
    vm = vm / np.linalg.norm(vm, axis=1, keepdims=True)
    sims = np.round(vm @ cmat.T, round_digits)
    # stable argsort of -sims: equal rounded cosines keep
    # ascending centroid order — exactly ORDER BY sim DESC, id
    return np.argsort(-sims, axis=1, kind="stable")[:, :n]


def _nearest_centroid_ids(vecs, cent_rows, n: int, round_digits: int = 4):
    """Driver-side :func:`nearest_centroids` for a collected, non-empty
    batch of vectors (e.g. a top-k request's queries) against collected
    ``(cent_id, vec)`` rows: a ``len(vecs) × min(n, |centroids|)`` array
    of centroid ids, nearest first, row ``i`` for ``vecs[i]`` — the same
    ids, in the same order, that ``nearest_centroids(..., n=n)`` emits
    for that vector, with no Spark job."""
    cent_ids, cmat = _centroid_matrix(cent_rows)
    return cent_ids[_nearest_rows(vecs, cmat, n, round_digits)]


def nearest_centroids(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n: int = 1,
    cent_id_col: str = "vec_id",
    cent_vec_col: str = "embedding",
    round_digits: int = 4,
) -> DataFrame:
    """``(id_col, cent_id)`` — each vector's ``n`` nearest centroids by
    cosine, rounded to ``round_digits`` before ranking, ties broken on
    ascending centroid id (the determinism contract every oracle here
    replicates).

    This is THE inner loop of centroid-based indexing (IVF build +
    probe, SemDeDup clustering): dense matrix × small-matrix. It
    collects the centroid set to the driver (contractually small — same
    device as PQ codebooks) and runs an Arrow-batched numpy matmul per
    partition: one BLAS call replaces |df|·k interpreted
    higher-order-function cosines (~100× on dim-64 data)."""
    import pandas as pd

    cent_ids, cmat = _centroid_matrix(
        centroids.select(cent_id_col, cent_vec_col).collect()
    )
    cent_type = dict(centroids.dtypes)[cent_id_col]
    spark = df.sparkSession
    id_type = dict(df.dtypes)[id_col]
    out_schema = f"{id_col} {id_type}, cent_id {cent_type}"
    b_cids = spark.sparkContext.broadcast(cent_ids)
    b_cmat = spark.sparkContext.broadcast(cmat)
    top_n = n

    def _assign(batches):
        cm = b_cmat.value
        cid = b_cids.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            order = _nearest_rows(pdf[vec_col], cm, top_n, round_digits)
            ids = pdf[id_col].to_numpy().repeat(order.shape[1])
            yield pd.DataFrame({id_col: ids, "cent_id": cid[order].ravel()})

    return df.select(id_col, vec_col).mapInPandas(_assign, out_schema)


def _ivf_lists(
    df: DataFrame,
    cent_rows,
    cent_type: str,
    id_col: str,
    vec_col: str,
    round_digits: int,
    codebooks=None,
    encode_round_digits: int | None = None,
) -> DataFrame:
    """Inverted-list rows of ``df`` in ONE Arrow pass: ``(cent_id,
    id_col, vec_col)`` for a flat index, or ``(cent_id, id_col,
    pq_code)`` when ``codebooks`` (``[m][k][dsub]``) are given.

    Each vector's nearest centroid (:func:`_nearest_rows`, n=1) and its
    payload come out of the same batch, so no self-join on the id puts
    them back together (a duplicated id stays one row per input row).
    Codes come from pq.py's ``_pq_codes``, the kernel ``pq_encode``
    runs, with ``encode_round_digits`` as its ``round_digits``."""
    import numpy as np
    import pandas as pd

    from astro_sdk_spark.functions.pq import _check_codebooks, _pq_codes

    cent_ids, cmat = _centroid_matrix(cent_rows)
    types = dict(df.dtypes)
    if codebooks is None:
        cb, out_col, out_type = None, vec_col, types[vec_col]
    else:
        _check_codebooks(codebooks)
        cb = np.asarray(codebooks, dtype=np.float64)
        out_col, out_type = "pq_code", "array<int>"
    b = df.sparkSession.sparkContext.broadcast((cent_ids, cmat, cb))
    erd = encode_round_digits

    def _lists(batches):
        cid, cm, cbl = b.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vecs = pdf[vec_col]
            out = pd.DataFrame({
                "cent_id": cid[_nearest_rows(vecs, cm, 1, round_digits)[:, 0]],
                id_col: pdf[id_col].to_numpy(),
            })
            out[out_col] = (
                vecs.to_numpy() if cbl is None else _pq_codes(vecs, cbl, erd)
            )
            yield out

    return df.select(id_col, vec_col).mapInPandas(
        _lists,
        f"cent_id {cent_type}, {id_col} {types[id_col]}, {out_col} {out_type}",
    )


def ivf_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    k: int = 10,
    round_digits: int | None = 4,
) -> DataFrame:
    """IVF-flat ANN: an inverted-file index with cosine assignment.

    - Every candidate is assigned to its nearest centroid (one broadcast
      of the small centroid set against the huge candidate table — no
      shuffle; at 100 TB this is the build pass you materialize once).
    - Each query probes its ``nprobe`` nearest centroids and exact-scores
      only the candidates in those lists: work drops from O(Q·N) to
      O(Q·N·nprobe/n_centroids) for balanced lists.
    - ``centroids`` is caller-supplied (id_col, vec_col) — k-means
      training, a coreset, or any deterministic sample; keeping selection
      outside makes the operator deterministic and engine-checkable.

    Ranking determinism: cosines are rounded before every rank and ties
    break on ids, so the result is reproducible across engines."""
    def _nearest(df: DataFrame, side_id: str, n: int) -> DataFrame:
        return nearest_centroids(
            df, centroids, id_col=side_id, vec_col=vec_col, n=n,
            cent_id_col=id_col, cent_vec_col=vec_col,
        )

    cand = candidates.select(F.col(id_col).alias("cand_id"), F.col(vec_col))
    assigned = _nearest(cand.select("cand_id", vec_col), "cand_id", 1)
    lists = cand.join(assigned, on="cand_id")

    qdf = queries.select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec"))
    probes = _nearest(
        queries.select(F.col(id_col).alias("query_id"), F.col(vec_col)),
        "query_id",
        nprobe,
    )
    pairs = (
        probes.join(lists, on="cent_id")
        .join(F.broadcast(qdf), on="query_id")
        .filter(F.col("query_id") != F.col("cand_id"))
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        cosine_similarity_col(F.col("_qvec"), F.col(vec_col)).alias("cosine"),
    )
    if round_digits is not None:
        scored = scored.withColumn("cosine", F.round("cosine", round_digits))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.dropDuplicates(["query_id", "cand_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def train_centroids(
    df: DataFrame,
    k: int,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    seed_ids: list | None = None,
) -> DataFrame:
    """Spherical k-means (Lloyd's) trainer producing an ``ivf_topk``
    centroid set — makes the IVF path self-contained instead of
    caller-supplied-only.

    Scale shape (the same Arrow machinery as ``banded_signatures``):
    - seeding is deterministic and order-independent: the k vectors with
      the smallest ``xxhash64(id, seed)`` (a hash-derived sample, no
      ``rand()``); or, when ``seed_ids`` is given, the vectors with those
      ids in ascending id order — an engine-agnostic seeding that an
      external oracle can replicate exactly (the hash path is
      Spark-specific);
    - each iteration is ONE ``mapInPandas`` pass: per partition, a numpy
      matmul assigns every vector to its nearest centroid (cosine) and
      emits k partial (count, sum) rows — the per-partition combine means
      only ``n_partitions × k`` tiny rows ever reach the driver, never the
      vectors themselves;
    - the driver merges partials, renormalizes, and rebroadcasts —
      O(k·dim) per round, the irreducible cost of iterative convergence
      (same argument as ``near_dup_clusters``).

    Empty clusters keep their previous centroid. Returns a ``(id_col,
    vec_col)`` DataFrame with ids ``0..k-1``, ready for ``ivf_topk``.
    """
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    vecs = df.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if seed_ids is not None:
        if len(seed_ids) != k:
            raise ValueError(f"seed_ids must have exactly k={k} ids, got {len(seed_ids)}")
        seeds = (
            vecs.filter(F.col("_id").isin(list(seed_ids)))
            .orderBy("_id")
            .select("_v")
            .collect()
        )
    else:
        seeds = (
            vecs.withColumn("_h", F.xxhash64(F.col("_id").cast("string"), F.lit(seed)))
            .orderBy("_h", "_id")
            .limit(k)
            .select("_v")
            .collect()
        )
    if len(seeds) < k:
        raise ValueError(f"need at least k={k} vectors, got {len(seeds)}")
    cents = np.stack([np.asarray(r._v, dtype=np.float64) for r in seeds])
    cents = cents / np.maximum(np.linalg.norm(cents, axis=1, keepdims=True), 1e-12)

    only_vecs = vecs.select("_v")
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cents)

        def _partials(batches):
            cl = bc.value
            n_cent, dim_ = cl.shape
            sums = np.zeros((n_cent, dim_))
            counts = np.zeros(n_cent, dtype=np.int64)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = np.stack([np.asarray(x, dtype=np.float64) for x in pdf["_v"]])
                norms = np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
                # Round cosines BEFORE argmax — the same determinism
                # contract as ``nearest_centroids``: numpy matmul (pairwise
                # summation) and an external oracle's sequential list_sum
                # can differ at ~1e-16, which would flip near-tied
                # assignments nondeterministically. argmax takes the FIRST
                # max, i.e. the lowest centroid id on rounded ties —
                # exactly ORDER BY sim DESC, cent_id.
                sims = np.round((mat / norms) @ cl.T, 4)
                cids = sims.argmax(axis=1)
                for c in np.unique(cids):
                    mask = cids == c
                    sums[c] += mat[mask].sum(axis=0)
                    counts[c] += int(mask.sum())
            yield pd.DataFrame(
                {
                    "cid": np.arange(n_cent, dtype=np.int64),
                    "n": counts,
                    "s": [row.tolist() for row in sums],
                }
            )

        partials = only_vecs.mapInPandas(
            _partials, "cid long, n long, s array<double>"
        ).collect()  # n_partitions × k rows — bounded, never the data
        bc.unpersist()
        sums = np.zeros_like(cents)
        counts = np.zeros(k, dtype=np.int64)
        for row in partials:
            sums[row.cid] += np.asarray(row.s)
            counts[row.cid] += row.n
        nonempty = counts > 0
        new_cents = cents.copy()
        means = sums[nonempty] / counts[nonempty, None]
        new_cents[nonempty] = means / np.maximum(
            np.linalg.norm(means, axis=1, keepdims=True), 1e-12
        )
        if np.allclose(new_cents, cents, atol=1e-9):
            cents = new_cents
            break
        cents = new_cents

    return spark.createDataFrame(
        [(int(i), [float(x) for x in cents[i]]) for i in range(k)],
        f"{id_col} long, {vec_col} array<double>",
    )


def ann_recall(
    queries: DataFrame,
    candidates: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    bands: int = 4,
    k: int = 10,
    seed: int = 42,
) -> DataFrame:
    """Recall@k of the LSH path against the exact brute-force baseline, per
    query: |LSH∩exact| / |exact|. The measurement the ANN path is judged by."""
    # both top-k sets are tiny (|queries|·k rows) and referenced multiple
    # times below — persist so the scoring subtrees run once each
    exact = track(
        cosine_topk(queries, candidates, id_col, vec_col, k, round_digits=4).select(
            "query_id", "cand_id"
        )
    )
    approx = track(
        lsh_bucket_join(
            queries, candidates, dim, id_col, vec_col, bits, bands, k, seed, round_digits=4
        ).select("query_id", F.col("cand_id").alias("_ac"))
    )
    hits = exact.join(
        approx,
        (exact.query_id == approx.query_id) & (exact.cand_id == approx._ac),
        "left_semi",
    )
    n_exact = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_exact"))
    n_hit = hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit"))
    return (
        n_exact.join(n_hit, on="query_id", how="left")
        .select(
            "query_id",
            F.round(
                F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact"), 4
            ).alias("recall"),
        )
    )
