"""Product quantization (PQ) for memory-bounded ANN at corpus scale.

No reference counterpart (similarity-search extension, same family as
``functions/similarity.py``). PQ splits each dim-``d`` vector into ``m``
subvectors and replaces every subvector with the id of its nearest
codeword from a per-subspace codebook of ``k`` entries — a ``d``-float
vector becomes ``m`` small ints (32-128× compression), which is what makes
a 100 TB embedding corpus searchable: the code table fits in executor
memory, the raw vectors stay on disk. Queries scan codes with a
precomputed per-query distance table (ADC — asymmetric distance
computation): dist(q, x) ≈ Σ_s T[s][code_s(x)], one table lookup per
subspace instead of a d-dim arithmetic pass. Jégou, Douze & Schmid,
"Product Quantization for Nearest Neighbor Search" (TPAMI 2011); compose
with ``similarity.ivf_topk``'s coarse lists for IVF-PQ (IVFADC).

Scale shapes:
- ``train_pq``: one ``mapInPandas`` pass per Lloyd iteration covering ALL
  ``m`` subspaces at once; partitions emit ``m × k`` partial (count, sum)
  rows — the vectors never reach the driver (same contract as
  ``similarity.train_centroids``).
- ``pq_encode``: one Arrow-batched numpy pass; codes are the only output.
- ``pq_topk``: distance tables are driver-computed (``q × m × k`` floats,
  tiny) and broadcast; each partition emits only its LOCAL top-k per
  query, so the global sort sees ``partitions × queries × k`` rows, never
  the corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _as_matrix(col):
    import numpy as np

    return np.stack([np.asarray(v, dtype=np.float64) for v in col])


def _check_codebooks(codebooks) -> tuple[int, int, int]:
    import numpy as np

    cb = np.asarray(codebooks, dtype=np.float64)
    if cb.ndim != 3:
        raise ValueError(
            f"codebooks must be (m, k, dsub)-shaped, got {cb.shape}"
        )
    return cb.shape


def _local_topk(d, ids, top: int, tol: float):
    """Bounded, tie-safe local top-k for ADC scans.

    Returns positions (into ``d``/``ids``) of every row that could still
    win the GLOBAL ``(rounded adist, id)`` rank — a row is dropped only
    when at least ``top`` rows *provably* precede it in that order:
    either their distance is smaller by MORE than one rounding quantum
    ``tol`` (then the rounded values differ no matter how the engine
    rounds), or their distance is bit-identical and their id is smaller
    (id order is engine-independent). This keeps the old slack rule's
    safety (a candidate inside the quantum of the k-th distance is never
    dropped) while capping the adversarial identical-vector flood: n
    copies of one vector share one code and one EXACT distance, so only
    the ``top`` smallest ids survive instead of the whole partition. The
    residual unbounded case — many DISTINCT distances inside a single
    quantum — cannot be pruned without replicating the engine's exact
    decimal rounding and is the same documented trade as ``bucket_cap``.
    """
    import numpy as np
    import pandas as pd

    n = len(d)
    if n <= top:
        return np.arange(n)
    sdf = (
        pd.DataFrame({"_d": d, "_i": ids, "_p": np.arange(n)})
        .sort_values(["_d", "_i"], kind="stable")
    )
    ds = sdf["_d"].to_numpy()
    pos = np.arange(n)
    # rows with the SAME distance and a smaller id: offset inside the
    # equal-distance run
    dom_eq = pos - np.searchsorted(ds, ds, side="left")
    # rows smaller by more than one quantum (strict: boundary-equal rows
    # could still round together, so they don't count as dominators)
    dom_lt = np.searchsorted(ds, ds - tol, side="left")
    keep = (dom_lt + dom_eq) < top
    return sdf["_p"].to_numpy()[keep]


def train_pq(
    df: DataFrame,
    m: int = 8,
    k: int = 256,
    iters: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    seed_ids: list | None = None,
    round_digits: int | None = None,
) -> list[list[list[float]]]:
    """Train PQ codebooks: an independent L2 k-means per subspace, all
    ``m`` subspaces advanced in the SAME ``mapInPandas`` pass per
    iteration. Returns plain nested lists (m × k × d/m) — small enough to
    inline/broadcast, deliberately not a DataFrame.

    Seeding is deterministic and order-independent: the ``k`` vectors
    with the smallest ``xxhash64(id, seed)`` provide the initial
    codewords for every subspace; or, when ``seed_ids`` is given, the
    vectors with those ids in ascending id order — the engine-agnostic
    seeding an external oracle can replicate exactly (the
    ``train_centroids`` pattern). Empty cells keep their codeword.

    ``round_digits``: when set, cell assignment ranks on the FULL squared
    L2 distance (‖x‖² included) ROUNDED to that many digits, ties → lowest
    codeword index — the same cross-engine determinism contract as
    ``train_centroids``/``nearest_centroids`` (numpy's pairwise-summed
    matmul and an oracle's sequential ``list_sum`` can differ at ~1e-16,
    flipping near-tied cells). Default None keeps the fast path: unrounded
    ``‖c‖² − 2x·c`` (the row-constant ‖x‖² dropped before argmin)."""
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
    seed_mat = _as_matrix([r._v for r in seeds])
    dim = seed_mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    # cb[s] : (k, dsub)
    cb = np.stack([seed_mat[:, s * dsub:(s + 1) * dsub] for s in range(m)])

    only_vecs = vecs.select("_v")
    rd = round_digits
    for _ in range(iters):
        bc = spark.sparkContext.broadcast(cb)

        def _partials(batches):
            cbl = bc.value
            m_, k_, dsub_ = cbl.shape
            sums = np.zeros((m_, k_, dsub_))
            counts = np.zeros((m_, k_), dtype=np.int64)
            cb_sq = (cbl ** 2).sum(axis=2)  # (m, k)
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                mat = _as_matrix(pdf["_v"])          # (n, d)
                xs = mat.reshape(len(mat), m_, dsub_)  # (n, m, dsub)
                for s in range(m_):
                    # ||x-c||² = ||x||² - 2x·c + ||c||²; ||x||² constant
                    # per row, irrelevant to the argmin
                    d2 = cb_sq[s] - 2.0 * (xs[:, s, :] @ cbl[s].T)  # (n, k)
                    if rd is not None:
                        # determinism contract: rank on the FULL distance
                        # rounded (argmin takes the first/lowest index on
                        # rounded ties — ORDER BY round(dist), code_id)
                        d2 = np.round(
                            d2 + (xs[:, s, :] ** 2).sum(axis=1)[:, None], rd
                        )
                    cid = d2.argmin(axis=1)
                    for c in np.unique(cid):
                        mask = cid == c
                        sums[s, c] += xs[mask, s, :].sum(axis=0)
                        counts[s, c] += int(mask.sum())
            rows = []
            for s in range(m_):
                for c in range(k_):
                    rows.append((s, c, int(counts[s, c]), sums[s, c].tolist()))
            yield pd.DataFrame(rows, columns=["sub", "cid", "n", "s"])

        partials = only_vecs.mapInPandas(
            _partials, "sub long, cid long, n long, s array<double>"
        ).collect()  # n_partitions × m × k rows — bounded, never the data
        bc.unpersist()
        sums = np.zeros_like(cb)
        counts = np.zeros((m, k), dtype=np.int64)
        for row in partials:
            sums[row.sub, row.cid] += np.asarray(row.s)
            counts[row.sub, row.cid] += row.n
        new_cb = cb.copy()
        for s in range(m):
            ne = counts[s] > 0
            new_cb[s, ne] = sums[s, ne] / counts[s, ne, None]
        if np.allclose(new_cb, cb, atol=1e-9):
            cb = new_cb
            break
        cb = new_cb
    return [[list(map(float, cw)) for cw in sub] for sub in cb]


def _pq_codes(vecs, cb, round_digits: int | None) -> list:
    """PQ codes of a non-empty batch of vectors against the ``(m, k,
    dsub)`` float64 codebook array ``cb``: one ``list[int]`` of ``m``
    codeword indices per vector. The one encode kernel: :func:`pq_encode`
    and the fused list pass (similarity.py:_ivf_lists) both call it, so
    an index's stored codes are bit-identical to ``pq_encode``'s."""
    import numpy as np

    m, _, dsub = cb.shape
    mat = _as_matrix(vecs)
    xs = mat.reshape(len(mat), m, dsub)
    cb_sq = (cb ** 2).sum(axis=2)
    codes = np.empty((len(mat), m), dtype=np.int64)
    for s in range(m):
        d2 = cb_sq[s] - 2.0 * (xs[:, s, :] @ cb[s].T)
        if round_digits is not None:
            d2 = np.round(
                d2 + (xs[:, s, :] ** 2).sum(axis=1)[:, None], round_digits
            )
        codes[:, s] = d2.argmin(axis=1)
    return [c.tolist() for c in codes]


def pq_encode(
    df: DataFrame,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    round_digits: int | None = None,
) -> DataFrame:
    """Encode vectors into PQ codes: ``(id_col, code_col array<int>)``.

    One Arrow-batched numpy pass; per subspace the argmin is a
    (batch × k) matmul. Ties go to the smallest codeword index (numpy
    argmin), mirroring the SQL oracle's (dist, code) ordering.

    ``round_digits``: when set, the argmin ranks on the FULL squared L2
    distance rounded to that many digits — required whenever the
    codebooks were TRAINED (two engines' trained codewords differ at
    ~1e-15, so near-tied unrounded cells would flip; exact inlined
    codebooks don't need it)."""
    import numpy as np
    import pandas as pd

    _check_codebooks(codebooks)
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(
        np.asarray(codebooks, dtype=np.float64)
    )
    rd = round_digits

    def _encode(batches):
        cbl = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield pd.DataFrame(
                {"_id": pdf["_id"].values, "_code": _pq_codes(pdf["_v"], cbl, rd)}
            )

    id_type = dict(df.dtypes)[id_col]
    out = df.select(
        F.col(id_col).alias("_id"), F.col(vec_col).alias("_v")
    ).mapInPandas(_encode, f"_id {id_type}, _code array<int>")
    return out.select(F.col("_id").alias(id_col), F.col("_code").alias(code_col))


def pq_topk(
    codes: DataFrame,
    codebooks,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    code_col: str = "pq_code",
    round_digits: int | None = 4,
) -> DataFrame:
    """ADC top-k over PQ codes → ``(query_id, vec_id, adist, rank)``.

    The per-query distance tables (m × k floats each) are computed on the
    driver from the collected query set (queries are the contractually
    small side, same as ``cosine_topk``) and broadcast. Each partition
    scans its codes with table lookups and keeps only its local top-k per
    query, so the final exact rank runs over ``partitions × |q| × k``
    rows. ``adist`` is the ADC approximation of squared L2 distance,
    rounded before ranking (rank-on-rounded, vec_id tiebreak) so results
    are engine-stable."""
    import numpy as np
    import pandas as pd

    m, kc, dsub = _check_codebooks(codebooks)
    cb = np.asarray(codebooks, dtype=np.float64)
    qrows = queries.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    ).collect()
    if not qrows:
        raise ValueError("queries is empty")
    qids = [r._qid for r in qrows]
    qmat = _as_matrix([r._qv for r in qrows]).reshape(len(qrows), m, dsub)
    # tables[q, s, j] = ||q_s - c_sj||²
    tables = ((qmat[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)

    spark = codes.sparkSession
    bc = spark.sparkContext.broadcast((qids, tables))
    local_k = k
    # local selection: tie-safe AND bounded — see _local_topk. tol is one
    # rounding quantum: candidates within it of the k-th distance can
    # still win the global (rounded adist, id) rank and must survive.
    tol = 10.0 ** -round_digits if round_digits is not None else 0.0

    def _scan(batches):
        qids_l, tables_l = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            code_mat = np.stack([np.asarray(c) for c in pdf["_code"]])  # (n, m)
            ids = pdf["_id"].values
            out_q, out_id, out_d = [], [], []
            for qi, qid in enumerate(qids_l):
                # gather: per subspace, look up this query's distance to
                # each row's codeword, then sum over subspaces
                d = np.zeros(len(code_mat))
                for s in range(tables_l.shape[1]):
                    d += tables_l[qi, s, code_mat[:, s]]
                idx = _local_topk(d, ids, min(local_k, len(d)), tol)
                out_q += [qid] * len(idx)
                out_id += ids[idx].tolist()
                out_d += d[idx].tolist()
            yield pd.DataFrame({"_qid": out_q, "_id": out_id, "_d": out_d})

    # derive id dtypes from the inputs (nearest_centroids pattern) so
    # string / non-long id columns pass through instead of null-casting
    qtype = dict(queries.dtypes)[id_col]
    ctype = dict(codes.dtypes)[id_col]
    scanned = codes.select(
        F.col(id_col).alias("_id"), F.col(code_col).alias("_code")
    ).mapInPandas(_scan, f"_qid {qtype}, _id {ctype}, _d double")

    adist = F.round("_d", round_digits) if round_digits is not None else F.col("_d")
    ranked = scanned.select(
        F.col("_qid").alias("query_id"),
        F.col("_id").alias(id_col),
        adist.alias("adist"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy("adist", id_col)
        ),
    )
    return ranked.filter(F.col("rank") <= k)


def ivfpq_topk(
    queries: DataFrame,
    candidates: DataFrame,
    centroids: DataFrame,
    codebooks,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    encode_round_digits: int | None = None,
) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011 §V): coarse inverted lists from
    cosine-nearest centroid assignment + PQ codes inside the lists; each
    query ADC-scans ONLY the codes in its ``nprobe`` probed lists.

    This is the 100 TB ANN shape: the corpus is stored once as
    (cent_id, pq_code) — a few bytes per vector — and a query touches
    ``nprobe/n_centroids`` of it with table lookups instead of float math.
    The probe map (|q| × nprobe pairs) and per-query distance tables are
    computed on the driver from the contractually small query side,
    collected once, and broadcast;
    candidates are pruned to the union of probed lists BEFORE the scan
    (at scale, lists are partition-pruned by ``cent_id``), then each
    partition emits its local top-k per query.

    Returns ``(query_id, vec_id, adist, rank)`` — same contract as
    :func:`pq_topk` (self-matches kept; ADC distance of a vector to its
    own code is nonzero by construction). The lists come from ONE Arrow
    pass that assigns and encodes each candidate (pq_encode's kernel, so
    the codes are pq_encode's); ``encode_round_digits`` is its
    ``round_digits`` — set it when ``codebooks`` came from
    :func:`train_pq` (see the encode determinism note on pq_encode)."""
    from astro_sdk_spark.functions.similarity import _ivf_lists

    # one centroid collect serves the list pass and the query probe
    cents = centroids.select(id_col, vec_col)
    cent_rows = cents.collect()
    lists = _ivf_lists(
        candidates, cent_rows, dict(cents.dtypes)[id_col], id_col, vec_col,
        round_digits=4, codebooks=codebooks,
        encode_round_digits=encode_round_digits,
    )
    return ivfpq_scan_lists(
        queries, lists, None, codebooks, nprobe=nprobe, k=k,
        id_col=id_col, vec_col=vec_col, round_digits=round_digits,
        _cents_rows=cent_rows,
    )


def ivfpq_scan_lists(
    queries: DataFrame,
    lists: DataFrame,
    centroids: DataFrame | None,
    codebooks,
    nprobe: int = 4,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_digits: int | None = 4,
    code_col: str = "pq_code",
    cent_col: str = "cent_id",
    cent_id_col: str | None = None,
    cent_vec_col: str | None = None,
    _cents_rows: list | None = None,
) -> DataFrame:
    """The IVFADC scan of :func:`ivfpq_topk` over PRE-BUILT inverted
    lists — ``lists`` carries ``(id_col, code_col, cent_col)`` rows, e.g.
    read back from a persisted index (functions/ann_index.py) instead of
    encoded inline. The query batch is collected once; its probe map and
    distance tables are computed from those rows on the driver (the probe
    with ``nearest_centroids``' own kernel and default rounding, so probes
    match an in-query assignment bit for bit); the lists scan is pruned
    to the union of probed cells BEFORE the Arrow boundary (a static
    partition filter when the lists table is partitioned by cell).
    ``round_digits`` rounds ``adist`` only. A caller already holding the
    collected ``(cent_id, vec)`` rows passes them as ``_cents_rows`` and
    ``centroids=None`` (ann_index_topk's quantizer cache); ``codebooks``
    may be the ``(m, k, dsub)`` ndarray itself."""
    import numpy as np
    import pandas as pd

    from astro_sdk_spark.functions.similarity import _nearest_centroid_ids

    m, kc, dsub = _check_codebooks(codebooks)
    cb = np.asarray(codebooks, dtype=np.float64)
    cent_id_col = cent_id_col or id_col
    cent_vec_col = cent_vec_col or vec_col

    qrows = queries.select(
        F.col(id_col).alias("_qid"), F.col(vec_col).alias("_qv")
    ).collect()
    if not qrows:
        raise ValueError("queries is empty")
    qids = [r._qid for r in qrows]
    qvecs = [r._qv for r in qrows]
    probes = _nearest_centroid_ids(
        qvecs,
        _cents_rows
        if _cents_rows is not None
        else centroids.select(cent_id_col, cent_vec_col).collect(),
        nprobe,
    )
    probe_map: dict = {}
    for qid, cells in zip(qids, probes.tolist()):
        probe_map.setdefault(qid, set()).update(cells)
    qmat = _as_matrix(qvecs).reshape(len(qrows), m, dsub)
    tables = ((qmat[:, :, None, :] - cb[None, :, :, :]) ** 2).sum(axis=3)

    all_probed = sorted({c for s in probe_map.values() for c in s})
    pruned = lists.filter(F.col(cent_col).isin(all_probed))

    spark = lists.sparkSession
    bc = spark.sparkContext.broadcast((qids, tables, probe_map))
    local_k = k
    # same tie-safe bounded local selection as pq_topk (see _local_topk)
    tol = 10.0 ** -round_digits if round_digits is not None else 0.0

    def _scan(batches):
        qids_l, tables_l, probes_l = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            code_mat = np.stack([np.asarray(c) for c in pdf["_code"]])
            ids = pdf["_id"].values
            cents = pdf["_cent"].values
            out_q, out_id, out_d = [], [], []
            for qi, qid in enumerate(qids_l):
                mask = np.isin(cents, list(probes_l.get(qid, ())))
                if not mask.any():
                    continue
                sub_codes = code_mat[mask]
                sub_ids = ids[mask]
                d = np.zeros(len(sub_codes))
                for s in range(tables_l.shape[1]):
                    d += tables_l[qi, s, sub_codes[:, s]]
                idx = _local_topk(d, sub_ids, min(local_k, len(d)), tol)
                out_q += [qid] * len(idx)
                out_id += sub_ids[idx].tolist()
                out_d += d[idx].tolist()
            yield pd.DataFrame({"_qid": out_q, "_id": out_id, "_d": out_d})

    # derive id dtypes from the inputs (nearest_centroids pattern) so
    # string / non-long id columns pass through instead of null-casting
    qtype = dict(queries.dtypes)[id_col]
    ctype = dict(lists.dtypes)[id_col]
    scanned = pruned.select(
        F.col(id_col).alias("_id"),
        F.col(code_col).alias("_code"),
        F.col(cent_col).alias("_cent"),
    ).mapInPandas(_scan, f"_qid {qtype}, _id {ctype}, _d double")

    adist = F.round("_d", round_digits) if round_digits is not None else F.col("_d")
    ranked = scanned.select(
        F.col("_qid").alias("query_id"),
        F.col("_id").alias(id_col),
        adist.alias("adist"),
    ).withColumn(
        "rank",
        F.row_number().over(
            Window.partitionBy("query_id").orderBy("adist", id_col)
        ),
    )
    return ranked.filter(F.col("rank") <= k)
