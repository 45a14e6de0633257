"""Persisted IVF ANN index: centroids + inverted lists as managed tables.

The in-query IVF family (similarity.py:ivf_topk, pq.py:ivfpq_topk) rebuilds
its index structures inside every query — fine for one-shot analytics,
wrong for a similarity SERVICE over a 100 TB corpus, where the expensive
candidate-assignment pass should be paid once, persisted, and extended
incrementally as new vectors arrive (the reference's closest analogue is
its reusable-table workflow around load/merge, e.g.
``python-sdk/src/astro/sql/operators/load_file.py:64-118``; the signature
store in functions/dedup.py:incremental near-dup is this repo's own
precedent).

Layout (all plain managed parquet tables — readable by any engine):

- ``{name}__centroids``: ``(cent_id, vec)`` — the (contractually small)
  coarse quantizer, broadcast at query/add time.
- ``{name}__lists``: PARTITIONED BY ``cent_id`` — the inverted lists. At
  scale this is THE big table; the directory-per-centroid layout means a
  query that probes ``nprobe`` of ``n_centroids`` lists reads exactly
  that fraction of the table's FILES (static partition pruning on the
  IN-filter the probe set produces — asserted by the pruning payoff
  test), not just that fraction of its rows. Row payload depends on the
  index kind: ``(cand_id, vec)`` for a flat index (exact cosine rescoring
  inside probed lists), ``(cand_id, pq_code)`` for a PQ index — a few
  BYTES per vector, the IVFADC shape that makes a 100 TB corpus scannable
  as table lookups.
- ``{name}__codebooks``: ``(s, j, vec)`` PQ codeword table (pq kind only;
  contractually small — m × k rows, collected + broadcast at query time).
- ``{name}__meta``: APPEND-ONLY generation log of build parameters, one
  row per generation; readers take the row with the highest
  ``generation`` and bind every scan (centroids, lists, codebooks) to
  that one atomically-committed value. Geometry is checked on every
  add/query so an index built under one geometry can't silently serve
  another (same discipline as streaming/store.py's param columns).

Retrain concurrency contract (ann_index_retrain): new-generation rows
are APPENDED to the live tables (invisible — readers filter on the old
meta generation), and go-live is ONE parquet append of the new meta row.
A read racing a retrain therefore returns the consistent old answer or
the consistent new answer — never empty, never an error, never a
cross-generation mix, because all three scans derive their generation
from the same single meta row.

Caches (_read_meta, _quantizer): each process keeps, per index name,
the live meta row and the quantizer (centroid rows, PQ codebooks) of its
generation, keyed on the meta table's file listing. Parquet files are
immutable and every build, retrain go-live or rebuild adds or replaces a
meta file, so the key changes exactly when the row can; a rebuild, a
rewritten meta table or the same name in another database or warehouse
changes it too. Centroid and codebook rows of a generation are
append-only and never rewritten. The listing comes from the session's
file index with no Spark job, so a warm request or micro-batch reads no
meta, centroid or codebook rows, and sees a meta file another session
added exactly when a plain read of the table would (after a
``refreshTable``). drop_ann_index evicts the entry.

Determinism contract: assignment/probing/rescoring round before every
rank and break ties on ascending id — identical to ivf_topk / ivfpq_topk,
so an incrementally-built index answers queries bit-for-bit like a
one-shot build (gated by q_ann_persist / q_annpq_persist's oracles).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from astro_sdk_spark.functions.similarity import (
    _ivf_lists,
    _nearest_centroid_ids,
    cosine_similarity_col,
)

__all__ = [
    "build_ann_index",
    "ann_index_add",
    "ann_index_topk",
    "ann_index_stats",
    "ann_index_compact",
    "ann_index_retrain",
    "drop_ann_index",
]

_ROUND_DIGITS = 4

# index names become managed-table identifiers AND warehouse directory
# names (drop_ann_index scrubs the derived locations), so they must be
# bare identifiers — validated BEFORE any SQL interpolation or
# filesystem operation (a hyphen/space/quote would otherwise break the
# DROP statement, and a crafted name could point the scrub elsewhere)
_IDENT = re.compile(r"^[A-Za-z_][A-Za-z0-9_]*$")

# index name -> (meta files, meta row, (centroid rows, cent_id type,
# codebooks) or None): at most one entry per name, see _read_meta and
# _quantizer
_INDEXES: dict = {}


def _check_name(name: str) -> None:
    if not isinstance(name, str) or not _IDENT.match(name):
        raise ValueError(
            f"ANN index name {name!r} must be a bare SQL identifier "
            f"([A-Za-z_][A-Za-z0-9_]*): it names managed tables and "
            f"their warehouse directories"
        )


def _tables(name: str) -> tuple[str, str, str, str]:
    return (
        f"{name}__centroids",
        f"{name}__lists",
        f"{name}__meta",
        f"{name}__codebooks",
    )


def _read_meta(spark: SparkSession, name: str) -> dict:
    """Live build parameters: the HIGHEST-generation meta row.

    The meta table is an append-only generation log (one row per
    build/retrain); taking max(generation) is what makes retrain's
    go-live a single parquet append — a reader sees the old max or the
    new max, never a half-committed state. Pre-generation indexes
    (written before the gen columns existed) read as generation 0.

    Served from the per-process cache while the meta table's sorted
    file listing (``inputFiles()``: the session's file index, no Spark
    job) is the one the row was read under; ``_files`` carries that
    listing, the identity _quantizer keys on. The returned dict is
    shared with the cache: read it, do not mutate it."""
    meta_t = _tables(name)[2]
    if not spark.catalog.tableExists(meta_t):
        raise ValueError(f"ANN index {name!r} does not exist (no {meta_t})")
    t = spark.table(meta_t)
    files = tuple(sorted(t.inputFiles()))
    hit = _INDEXES.get(name)
    if hit is not None and hit[0] == files:
        return hit[1]
    row = (
        t.orderBy(F.desc("generation")).head()
        if "generation" in t.columns
        else t.head()
    )
    if row is None:
        raise ValueError(f"ANN index {name!r} has an empty meta table")
    meta = row.asDict()
    meta.setdefault("generation", 0)
    meta["_files"] = files
    _INDEXES[name] = (files, meta, None)
    return meta


def _live(df: DataFrame, gen: int) -> DataFrame:
    """Rows visible under generation ``gen``. Tables written before the
    generation columns existed (round ≤11 layout) have no ``gen`` column:
    all their rows belong to generation 0, and generations > 0 cannot
    exist in them — so the filter degrades gracefully instead of failing
    with an unresolved-column AnalysisException on legacy indexes."""
    if "gen" in df.columns:
        return df.filter(F.col("gen") == F.lit(int(gen)))
    return df if int(gen) == 0 else df.filter(F.lit(False))


def _read_centroids(spark: SparkSession, name: str, meta: dict):
    """``(rows, cent_id type)`` of the generation ``meta`` names: one
    collect of the contractually small centroid set, checked against
    meta's geometry (a hand-deleted generation fails loudly here)."""
    g = int(meta["generation"])
    cent = _live(spark.table(_tables(name)[0]), g).select("cent_id", "vec")
    rows = cent.collect()
    c_n = len(rows)
    c_d = max((len(r.vec) for r in rows), default=None)
    if c_n == 0 or c_d != meta["dim"]:
        raise ValueError(
            f"ANN index {name!r}: generation {g} centroids are "
            f"inconsistent with meta ({c_n} rows, dim {c_d} vs "
            f"meta dim {meta['dim']}) — the index is corrupt; rebuild "
            f"with build_ann_index"
        )
    return rows, cent.schema["cent_id"].dataType


def _quantizer(spark: SparkSession, name: str, meta: dict):
    """``(centroid rows, cent_id type, codebooks)`` of the generation
    ``meta`` names; ``codebooks`` is an ``(m, k, dsub)`` ndarray for a PQ
    index, else None.

    Served from the per-process cache entry of ``meta["_files"]``, the
    meta table's file listing ``meta`` was read under (see _read_meta).
    Within a generation, centroid and codebook rows are append-only and
    never rewritten (compaction touches only the lists), so an entry
    cannot go stale while its meta row is live. Output file names carry
    the writing job's UUID, so a drop and rebuild under the same name
    (which restarts at generation 0), a rewritten meta table, the same
    name in another database or warehouse, and a retrain's new meta row
    all change the key. Both scans bind to ``meta``'s generation, the
    same row that binds the lists scan, so no cross-generation mix is
    constructible.

    The geometry guards run on every fill, before anything is stored:
    a corrupt generation fails on its first read in a process. Rows
    deleted by hand AFTER a fill are not re-detected. At most one entry
    per index name, replaced whole by one dict assignment (safe from a
    stream's foreachBatch thread); drop_ann_index evicts it. A ``meta``
    without ``_files`` (not read back from the table) is never stored."""
    files = meta.get("_files")
    hit = _INDEXES.get(name)
    if hit is not None and hit[0] == files and hit[2] is not None:
        return hit[2]
    gen = int(meta["generation"])
    cent_rows, cent_type = _read_centroids(spark, name, meta)
    codebooks = None
    if meta["kind"] == "pq":
        import numpy as np

        rows = _live(spark.table(_tables(name)[3]), gen).collect()
        m, k = meta["pq_m"], meta["pq_k"]
        if len(rows) == m * k:
            codebooks = np.full((m, k, len(rows[0].vec)), np.nan)
            for r in rows:
                codebooks[r.s, r.j] = r.vec
        if len(rows) != m * k or np.isnan(codebooks).any():
            raise ValueError(
                f"ANN index {name!r}: codebook table holds {len(rows)} "
                f"rows for generation {gen}, expected m×k = {m}×{k} "
                f"distinct (s, j) cells — the index is corrupt (a retrain "
                f"that crashed mid-append never commits a meta row, so "
                f"this should be unreachable; rebuild with build_ann_index)"
            )
    entry = (cent_rows, cent_type, codebooks)
    if files is not None:
        _INDEXES[name] = (files, meta, entry)
    return entry


def _one_slice(spark: SparkSession, rows: list):
    """A 1-slice RDD for a tiny local row set. ``createDataFrame(list)``
    parallelizes into defaultParallelism (~#cores) slices, so writing a
    1-row meta table pays ~30 task commits (and 30 near-empty files —
    guide §6 small-files on the write side); an explicit single slice
    writes one file with one commit. (``coalesce(1)`` is NOT equivalent:
    measured 6-8 s per tiny write on local[32] — the coalesced task's
    scheduling stalls — vs 0.4 s for a 1-slice parallelize.)"""
    return spark.sparkContext.parallelize(rows, 1)


def _write_centroids(
    spark: SparkSession,
    centroids: DataFrame,
    cent_t: str,
    id_col: str,
    vec_col: str,
    gen: int,
    append: bool = False,
) -> None:
    cent = centroids.select(
        F.col(id_col).alias("cent_id"),
        F.col(vec_col).alias("vec"),
        F.lit(int(gen)).alias("gen"),
    )
    w = cent.write.format("parquet")
    (w.mode("append") if append else w).saveAsTable(cent_t)


def _write_codebooks(
    spark: SparkSession,
    codebooks,
    cb_t: str,
    gen: int,
    append: bool = False,
) -> None:
    pq_m, pq_k = len(codebooks), len(codebooks[0])
    df = spark.createDataFrame(
        _one_slice(
            spark,
            [
                (s, j, [float(x) for x in codebooks[s][j]], int(gen))
                for s in range(pq_m)
                for j in range(pq_k)
            ],
        ),
        "s int, j int, vec array<double>, gen int",
    )
    w = df.write.format("parquet")
    (w.mode("append") if append else w).saveAsTable(cb_t)


def _write_meta_row(
    spark: SparkSession, meta_t: str, meta: dict, append: bool = False
) -> None:
    df = spark.createDataFrame(
        _one_slice(
            spark,
            [
                (
                    int(meta["n_centroids"]), int(meta["dim"]),
                    int(meta["round_digits"]), meta["metric"], meta["kind"],
                    int(meta["pq_m"]), int(meta["pq_k"]),
                    int(meta["encode_round_digits"]), int(meta["generation"]),
                )
            ],
        ),
        "n_centroids int, dim int, round_digits int, metric string, "
        "kind string, pq_m int, pq_k int, encode_round_digits int, "
        "generation int",
    )
    w = df.write.format("parquet")
    (w.mode("append") if append else w).saveAsTable(meta_t)


def build_ann_index(
    spark: SparkSession,
    corpus: DataFrame,
    name: str,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    codebooks=None,
    encode_round_digits: int | None = None,
) -> None:
    """Create the index tables and assign ``corpus`` to its lists.

    ``centroids`` is caller-supplied — train_centroids output, a coreset,
    or a deterministic sample — keeping the quantizer choice outside the
    storage layer (same contract as ivf_topk). One broadcast-assign pass
    over the corpus, no shuffle: each vector's list and payload come out
    of the same Arrow batch; the lists table write is the only one that
    scales with the corpus.

    With ``codebooks`` (``[m][k][dsub]``, e.g. from train_pq), the lists
    store PQ CODES instead of raw vectors — the IVFADC layout — and
    queries answer through the ADC scan (ivfpq_topk's contract). The
    codes are pq_encode's (same kernel), with ``encode_round_digits`` as
    its ``round_digits``; set it when the codebooks were trained (see
    the determinism note there)."""
    _check_name(name)
    cent_t, lists_t, meta_t, cb_t = _tables(name)
    drop_ann_index(spark, name)
    # every table row is stamped with the index GENERATION (bumped by
    # ann_index_retrain): readers bind every scan to the single
    # max-generation meta row, so a read racing a retrain can never mix
    # quantizer generations — see the module docstring.
    #
    # Job overlap (guide §2.6): build's tiny jobs are independent of each
    # other except through VALUES already in driver memory — the codebook
    # write touches only cb_t, the meta write needs only crow, and the
    # assignment needs cent_t plus the meta/codebook VALUES (threaded
    # through as arguments, so it never reads back the tables this very
    # call just wrote). Submitting the independent writes from driver
    # threads lets their task sets back-fill each other's scheduling
    # gaps; each job's own correctness is untouched (different target
    # tables, no shared state). Exceptions propagate via .result().
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        cb_fut = (
            pool.submit(_write_codebooks, spark, codebooks, cb_t, 0)
            if codebooks is not None
            else None
        )
        _write_centroids(spark, centroids, cent_t, id_col, vec_col, gen=0)
        # count + dim in ONE job (they were two): same scan, half the
        # driver round-trips
        crow = spark.table(cent_t).agg(
            F.count(F.lit(1)).alias("n"), F.max(F.size("vec")).alias("d")
        ).head()
        meta = {
            "n_centroids": crow.n,
            "dim": crow.d,
            "round_digits": _ROUND_DIGITS,
            "metric": "cosine",
            "kind": "flat" if codebooks is None else "pq",
            "pq_m": len(codebooks) if codebooks is not None else 0,
            "pq_k": len(codebooks[0]) if codebooks is not None else 0,
            "encode_round_digits": (
                -1 if encode_round_digits is None else encode_round_digits
            ),
            "generation": 0,
        }
        meta_fut = pool.submit(_write_meta_row, spark, meta_t, meta)
        # the assignment encodes against the in-memory codebook VALUES,
        # so it runs concurrently with both metadata writes
        _append_assigned(
            spark, corpus, name, id_col, vec_col, first=True,
            meta=meta, codebooks=codebooks,
        )
        meta_fut.result()
        if cb_fut is not None:
            cb_fut.result()


def ann_index_add(
    spark: SparkSession,
    batch: DataFrame,
    name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dedupe: bool = True,
) -> None:
    """Incrementally index new vectors: assign (and for a PQ index,
    encode) against the STORED centroids/codebooks — the corpus lists are
    never rescanned. With ``dedupe`` (default), ids already in the live
    generation are skipped whatever their vector, making re-adds
    idempotent — the dedupe reads only the lists table's id column
    (column-pruned scan), against the batch's ids broadcast when the
    planner sees a small batch.

    The meta row and the stored quantizer come from the per-process cache
    (see _read_meta, _quantizer): after the first add or top-k of a
    generation in this process, an add reads no meta, centroid or
    codebook rows and runs 4 Spark jobs (the batch-id broadcast, the
    lists id scan, the batch side of the anti-join, and the write of the
    one assign+encode pass)."""
    _check_name(name)
    meta = _read_meta(spark, name)  # existence + geometry check
    _append_assigned(spark, batch, name, id_col, vec_col, dedupe=dedupe, meta=meta)


def _append_assigned(
    spark: SparkSession,
    df: DataFrame,
    name: str,
    id_col: str,
    vec_col: str,
    first: bool = False,
    dedupe: bool = True,
    meta: dict | None = None,
    codebooks=None,
) -> None:
    # ``codebooks``: the in-memory [m][k][dsub] values when the caller
    # (build, retrain) is writing them beside this call — only the
    # centroids are read back; every other add takes the cached quantizer
    _, lists_t, _, _ = _tables(name)
    if meta is None:
        meta = _read_meta(spark, name)
    if codebooks is None:
        cent_rows, cent_type, codebooks = _quantizer(spark, name, meta)
    else:
        cent_rows, cent_type = _read_centroids(spark, name, meta)
    # geometry guard folded INTO the assignment job (no per-batch extra
    # Spark action — this runs per micro-batch on an unbounded stream),
    # and row-level: EVERY vector is checked, so a mixed-dimension batch
    # whose first row happens to match can't poison the lists
    dim_err = F.concat(
        F.lit(
            f"ANN_DIM_MISMATCH: index {name!r} holds dim-{meta['dim']} "
            f"vectors; got dim-"
        ),
        F.size(F.col(vec_col)).cast("string"),
    )
    guarded_vec = F.when(
        F.size(F.col(vec_col)) == F.lit(int(meta["dim"])), F.col(vec_col)
    ).otherwise(F.raise_error(dim_err))
    vecs = df.select(
        F.col(id_col).alias("cand_id"), guarded_vec.alias("vec")
    )
    gen = int(meta["generation"])
    lists_exists = spark.catalog.tableExists(lists_t)
    lists = spark.table(lists_t) if lists_exists else None
    # legacy (pre-generation) layout has no gen column anywhere; its
    # rows are implicitly generation 0 and appends must not introduce
    # the column mid-table (schema mismatch) — _live handles the reads
    legacy = lists_exists and "gen" not in lists.columns
    if not first and dedupe and lists_exists:
        # dedupe against the CURRENT generation only: rows a stale
        # stream appended under a pre-retrain generation are invisible
        # to queries (see ann_index_topk) and must not block the same
        # ids from being re-added under the live quantizer. The ids of
        # the batch already in the lists come from a semi-join whose
        # build side is the (small) batch, so size-based planning
        # broadcasts the batch and scans the lists' id column map-side
        # instead of shuffling it; only those few ids meet the batch
        # again in the anti-join. No hint: a large batch keeps a
        # sort-merge plan.
        batch_ids = df.select(F.col(id_col).alias("cand_id"))
        present = (
            _live(lists, gen)
            .select("cand_id")
            .join(batch_ids, "cand_id", "left_semi")
        )
        vecs = vecs.join(present, "cand_id", "left_anti")
    # the quantizer is bound to the caller's meta generation: during a
    # retrain the centroid table legitimately holds two generations, and
    # a stale writer must keep assigning against the quantizer its meta
    # row describes (those rows stay self-consistent and invisible), not
    # against a mixed set. Assignment and payload (PQ code or vector)
    # come out of ONE Arrow pass.
    enc_rd = meta["encode_round_digits"]
    out = _ivf_lists(
        vecs,
        cent_rows,
        cent_type.simpleString(),
        id_col="cand_id",
        vec_col="vec",
        round_digits=meta["round_digits"],
        codebooks=codebooks if meta["kind"] == "pq" else None,
        encode_round_digits=None if enc_rd < 0 else enc_rd,
    )
    if not legacy:
        out = out.withColumn("gen", F.lit(gen))
    # directory-per-centroid layout: probing nprobe lists then reads
    # exactly nprobe/n_centroids of the table's FILES (static pruning)
    writer = out.write.format("parquet").partitionBy("cent_id")
    try:
        if first and not lists_exists:
            writer.saveAsTable(lists_t)
        else:
            writer.mode("append").saveAsTable(lists_t)
    except Exception as e:  # noqa: BLE001
        # the in-flight guard raises lazily inside the write job —
        # translate back into the call-time ValueError contract
        if "ANN_DIM_MISMATCH" in str(e):
            raise ValueError(
                f"ANN index {name!r} holds dim-{meta['dim']} vectors; the "
                f"batch contains a different dimension (see cause)"
            ) from e
        raise


def ann_index_topk(
    spark: SparkSession,
    queries: DataFrame,
    name: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nprobe: int = 4,
    k: int = 10,
) -> DataFrame:
    """Top-k search against the persisted index. Each query probes its
    ``nprobe`` nearest stored centroids and scans only those lists — the
    probe set becomes a static partition filter on the lists table, so
    work AND I/O are O(Q · N · nprobe / n_centroids); the queries side
    broadcasts (a query batch is small next to a 100 TB corpus).

    Output matches the in-query operator of the same kind exactly:
    flat → ``(query_id, cand_id, cosine, rank)`` (ivf_topk's contract,
    self-matches excluded); pq → ``(query_id, vec_id, adist, rank)``
    (ivfpq_topk's ADC contract, self-matches kept).

    Spark jobs per call, its result collect included: queries and the
    lists scan (2 for pq, 4 for flat) on a warm call; the first call of
    a generation in a process also reads the meta row and collects the
    centroids and (pq) the codebooks into the per-process cache (see
    _read_meta, _quantizer), so cold is pq 6 / flat 7 and warm pq 3 /
    flat 5."""
    _check_name(name)
    lists_t = _tables(name)[1]
    meta = _read_meta(spark, name)
    digits = meta["round_digits"]
    g = int(meta["generation"])
    # Generation binding (retrain-concurrency contract): the single
    # max-generation meta row — committed by ONE parquet append at
    # retrain go-live — pins the centroid, lists, and codebook scans to
    # the same generation. A read racing a retrain therefore returns
    # the consistent OLD answer or the consistent NEW answer; empty
    # results, errors, and cross-generation mixes (neighbors ranked
    # under one generation's centroids against another's lists/
    # codebooks) are unreachable by construction. The geometry guards of
    # the quantizer fill catch external corruption (a hand-deleted
    # generation), not mid-commit states. The probe is picked on the
    # driver from the query batch, collected once, against the cached
    # centroid rows: no centroid DataFrame is built on a warm call.
    cent_rows, cent_type, codebooks = _quantizer(spark, name, meta)
    if meta["kind"] == "pq":
        from astro_sdk_spark.functions.pq import ivfpq_scan_lists

        lists = _live(spark.table(lists_t), g).select(
            F.col("cand_id").alias(id_col), "pq_code", "cent_id"
        )
        return ivfpq_scan_lists(
            queries.select(id_col, vec_col),
            lists,
            None,
            codebooks,
            nprobe=nprobe,
            k=k,
            id_col=id_col,
            vec_col=vec_col,
            round_digits=digits,
            cent_id_col="cent_id",
            cent_vec_col="vec",
            _cents_rows=cent_rows,
        )
    qrows = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("_qvec")
    ).collect()
    cells = (
        _nearest_centroid_ids(
            [r._qvec for r in qrows], cent_rows, nprobe, digits
        ).tolist()
        if qrows
        else []
    )
    # the probe relation, one row per (query, probed list), built on the
    # driver: |queries| × nprobe rows — the same tiny-side device as the PQ
    # codebooks. Its list ids are also pushed as a STATIC partition filter,
    # so the lists scan opens only the probed directories, no
    # dynamic-pruning luck required. An empty batch probes nothing and
    # answers with no rows.
    probe_rows = [
        (r.query_id, r._qvec, c) for r, cs in zip(qrows, cells) for c in cs
    ]
    probes = spark.createDataFrame(
        probe_rows,
        T.StructType([
            T.StructField("query_id", queries.schema[id_col].dataType),
            T.StructField("_qvec", queries.schema[vec_col].dataType),
            T.StructField("cent_id", cent_type),
        ]),
    )
    lists = _live(spark.table(lists_t), g).filter(
        F.col("cent_id").isin(sorted({c for _, _, c in probe_rows}))
    )
    pairs = lists.join(F.broadcast(probes), "cent_id").filter(
        F.col("query_id") != F.col("cand_id")
    )
    scored = pairs.select(
        "query_id",
        "cand_id",
        F.round(
            cosine_similarity_col(F.col("_qvec"), F.col("vec")), digits
        ).alias("cosine"),
    )
    # bounded pre-rank (pq.py:_local_topk's device for the flat path):
    # without it the global window sorts the FULL probed-list volume
    # (~N·nprobe/n_centroids rows per query — unbounded at 10⁹-vector
    # lists); after it the sort sees ≤ batches×k rows per query
    scored = _flat_local_topk(scored, k)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("cand_id"))
    return (
        scored.dropDuplicates(["query_id", "cand_id"])
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def _flat_local_topk(scored: DataFrame, k: int) -> DataFrame:
    """Per-Arrow-batch bounded pre-selection for the flat probe scan.

    ``scored.cosine`` is ALREADY rounded, so the global ranking key
    ``(cosine desc, cand_id asc)`` is a total order computable locally —
    keeping the top ``k`` rows per (batch, query) in exactly that order
    is a lossless filter: every global top-k row survives some local
    top-k (unlike the PQ path, no rounding-quantum slack is needed
    because rounding happened upstream). Duplicate ``cand_id`` rows
    (possible only under ``dedupe=False`` re-adds) collapse locally to
    their best-scoring copy so copies can't crowd distinct candidates
    out of the k slots; the global ``dropDuplicates`` still runs after.

    Batch granularity (Arrow batches subdivide partitions) only makes
    the filter KEEP more rows — correctness never depends on it."""
    try:
        import numpy as np  # noqa: F401
        import pandas as pd  # noqa: F401
    except ImportError:  # pragma: no cover - numpy/pandas are baked in
        return scored

    def _sel(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(
                ["query_id", "cosine", "cand_id"],
                ascending=[True, False, True],
                kind="stable",
            )
            pdf = pdf.drop_duplicates(["query_id", "cand_id"], keep="first")
            pdf["_r"] = pdf.groupby("query_id").cumcount()
            yield pdf[pdf["_r"] < k].drop(columns=["_r"])

    return scored.mapInPandas(_sel, scored.schema)


def drop_ann_index(spark: SparkSession, name: str) -> None:
    """Drop the index tables, including orphaned warehouse locations a
    previous session left behind (the derived ``__centroids``/``__lists``
    /``__meta``/``__codebooks`` names are operator-owned)."""
    from astro_sdk_spark.engine import drop_managed_table

    _check_name(name)
    _INDEXES.pop(name, None)
    for t in _tables(name):
        drop_managed_table(spark, t)


def ann_index_stats(
    spark: SparkSession, name: str, live_only: bool = True
) -> DataFrame:
    """Per-list health report — the input to every maintenance decision.

    ``(cent_id, rows, files, frac, imbalance)``: row count and parquet
    FILE count per inverted list, the list's fraction of the corpus, and
    its row count relative to the mean list (skew_report's shape applied
    to the index layout). Read it for two failure modes the layout
    invites at scale: ``files`` growth (streaming ingest appends ≥1 file
    per touched list per micro-batch — thousands of batches erode the
    probe locality the directory layout buys; fix = ann_index_compact)
    and ``imbalance`` (a hot centroid owning a large corpus fraction
    makes every probe that hits it scan that fraction; fix =
    ann_index_retrain with better centroids).

    One column-pruned scan of the lists table: a partial-aggregatable
    groupBy(cent_id), output bounded by n_centroids (contractually
    small — the same bound that lets the quantizer broadcast).

    Scoped to the LIVE generation (the rows queries can actually see):
    stale-generation rows — appended by a pre-retrain stream, or an
    abandoned generation from a crashed retrain — must not drive
    maintenance decisions (a retrain-on-imbalance triggered by rows no
    query reads would be pure waste). ``live_only=False`` widens the
    scan to every row on disk, the input for deciding whether a
    stale-purging compact (ann_index_compact's default) is due."""
    _check_name(name)
    meta = _read_meta(spark, name)
    lists_t = _tables(name)[1]
    scan = spark.table(lists_t)
    if live_only:
        scan = _live(scan, meta["generation"])
    # input_file_name() is non-deterministic to Catalyst, so it must be
    # materialized in a projection BEFORE the aggregate references it
    per_list = (
        scan
        .select("cent_id", F.input_file_name().alias("_f"))
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("_f").alias("files"),
        )
    )
    totals = per_list.agg(
        F.sum("rows").alias("_total"), F.avg("rows").alias("_mean")
    )
    return (
        per_list.join(F.broadcast(totals))
        .select(
            "cent_id",
            "rows",
            "files",
            F.round(F.col("rows") / F.col("_total"), 6).alias("frac"),
            F.round(F.col("rows") / F.col("_mean"), 4).alias("imbalance"),
        )
        .orderBy(F.desc("rows"), F.asc("cent_id"))
    )


def ann_index_compact(
    spark: SparkSession,
    name: str,
    target_file_mb: int = 128,
    min_files: int = 2,
    drop_stale_generations: bool = True,
) -> dict:
    """Rewrite fragmented inverted lists into right-sized files.

    Streaming maintenance (stream_ann_index_ingest) appends one file per
    touched ``cent_id`` directory per micro-batch; after N batches a
    probe that should read one right-sized file per list opens N small
    ones. This op finds every list holding ≥ ``min_files`` files (one
    bounded stats scan) and rewrites EACH through
    ``engine.compact_table``'s per-partition dynamic INSERT OVERWRITE —
    Spark's commit protocol swaps one partition directory at a time, so
    concurrent readers never see a partial list and untouched lists'
    files are not rewritten. Candidate discovery is driver-side but
    bounded by n_centroids (the quantizer-broadcast contract).

    ``drop_stale_generations`` (default) also purges rows no query can
    see — generations older than the live meta row (pre-retrain stream
    appends, abandoned crashed-retrain generations): every partition
    holding any stale row is rewritten keeping live rows only, and
    partitions that became ALL-stale (lists of a superseded quantizer)
    are truncated. This is THE stale-space reclaim path — retrain itself
    never deletes, so a reader racing it keeps a complete old
    generation to finish against; run compact from a maintenance window
    instead. Stale purging changes no visible answer (stale rows were
    already invisible to ann_index_topk's generation binding).

    Query answers are BYTE-IDENTICAL before/after (file layout is not
    part of the ranking contract — pinned by the payoff test). Returns
    ``{"lists_compacted", "files_before", "files_after",
    "stale_rows_dropped"}``."""
    _check_name(name)
    meta = _read_meta(spark, name)
    gen = int(meta["generation"])
    lists_t = _tables(name)[1]
    has_gen = "gen" in spark.table(lists_t).columns
    # one bounded scan over ALL rows: per-list file count + live/stale
    # row split (stats' live_only view would hide the stale partitions
    # this call is responsible for purging)
    live_flag = (
        (F.col("gen") == F.lit(gen)).cast("long") if has_gen else F.lit(1)
    )
    per_list = (
        spark.table(lists_t)
        .select("cent_id", F.input_file_name().alias("_f"),
                live_flag.alias("_live"))
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("_live").alias("live_rows"),
            F.countDistinct("_f").alias("files"),
        )
        .collect()
    )
    files_before = sum(r.files for r in per_list)
    purge_stale = drop_stale_generations and has_gen
    frag = [
        r
        for r in per_list
        if r.files >= min_files or (purge_stale and r.live_rows < r.rows)
    ]
    from astro_sdk_spark.engine import SparkEngine
    from astro_sdk_spark.table import Table

    eng = SparkEngine(spark)
    tbl = Table(name=lists_t)
    stale_dropped = 0
    for r in frag:
        if purge_stale and r.live_rows == 0:
            # every row of this list belongs to a dead generation: the
            # dynamic-overwrite path would write nothing (and leave the
            # old files), so truncate the partition directly
            spark.sql(
                f"ALTER TABLE {lists_t} DROP IF EXISTS "
                f"PARTITION (cent_id = {int(r.cent_id)})"
            )
            stale_dropped += r.rows
            continue
        eng.compact_table(
            tbl,
            target_file_mb=target_file_mb,
            partitions={"cent_id": r.cent_id},
            row_filter=(F.col("gen") == F.lit(gen)) if purge_stale else None,
        )
        if purge_stale:
            stale_dropped += r.rows - r.live_rows
    files_after = (
        spark.table(lists_t)
        .select(F.input_file_name())
        .distinct()
        .count()
    )
    return {
        "lists_compacted": len(frag),
        "files_before": files_before,
        "files_after": files_after,
        "stale_rows_dropped": stale_dropped,
    }


def ann_index_retrain(
    spark: SparkSession,
    name: str,
    centroids: DataFrame,
    corpus: DataFrame | None = None,
    codebooks=None,
    encode_round_digits: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    _on_step=None,
) -> None:
    """Re-bucket the index under fresh ``centroids`` (and, for a PQ
    index, fresh ``codebooks``) when the vector distribution has drifted
    off the stored quantizer (diagnosed via ann_index_stats imbalance).

    A flat index re-reads its own lists as the corpus — the stored rows
    ARE the raw vectors. A PQ index stores CODES only (the IVFADC point:
    bytes per vector), so the original vectors are unrecoverable from
    the index and the caller must pass ``corpus`` (and fresh codebooks
    trained on it) — refusing loudly beats silently re-encoding lossy
    reconstructions.

    Single-commit go-live: the new generation's rows are APPENDED to the
    live tables — centroids, then codebooks, then the re-bucketed lists
    — all invisible to readers, whose scans are bound to the old meta
    row's generation. The commit point is ONE parquet append of the new
    meta row: a read racing the whole retrain returns the consistent
    old answer (it resolved the old max-generation meta row — every old
    table row is still on disk, untouched) or the consistent new answer
    (all new rows were committed before the meta row existed). Never
    empty, never an error, never a cross-generation mix — pinned by the
    probe-at-every-step test. A retrain that CRASHES anywhere before
    the meta append leaves only invisible orphan rows (the next retrain
    allocates a fresh generation above them; ann_index_compact purges
    them); old-generation rows are likewise left for compact to
    reclaim, so a reader mid-flight at go-live still finishes against a
    complete old generation.

    A stream_ann_index_ingest stream wired BEFORE the retrain keeps
    appending under the old generation: those rows are invisible to
    queries and don't block re-adding the same ids — restart the stream
    (or let its maintenance tick adopt the new meta) after retraining.

    ``_on_step`` is a test seam: called with a label after each append
    so the never-empty/never-error contract can be probed at every
    internal boundary."""
    _check_name(name)
    meta = _read_meta(spark, name)
    cent_t, lists_t, meta_t, cb_t = _tables(name)
    step = _on_step or (lambda label: None)
    if "gen" not in spark.table(lists_t).columns:
        raise ValueError(
            f"ANN index {name!r} uses the pre-generation on-disk layout "
            f"(no 'gen' column): in-place retraining needs generation "
            f"stamps — rebuild once with build_ann_index, then retrain"
        )
    if corpus is None:
        if meta["kind"] == "pq":
            raise ValueError(
                f"ANN index {name!r} is PQ-coded: its lists hold codes, "
                f"not vectors, so retraining needs the original corpus — "
                f"pass corpus= (and codebooks trained on it)"
            )
        # current generation only, one row per id: stale-generation rows
        # (appended by a stream still holding pre-retrain meta) were
        # assigned under a DIFFERENT quantizer and are invisible to
        # queries; an id present in both generations must not enter the
        # rebuild twice
        corpus = (
            _live(spark.table(lists_t), meta["generation"])
            .select(F.col("cand_id").alias(id_col), F.col("vec").alias(vec_col))
            .dropDuplicates([id_col])
        )
    if meta["kind"] == "pq" and codebooks is None:
        raise ValueError(
            f"ANN index {name!r} is PQ-coded: pass codebooks= trained "
            f"against the new centroids' residual space (train_pq)"
        )
    # Allocate the new generation ABOVE any orphan rows a crashed
    # retrain left behind (data-table generations that never got a meta
    # row): reusing such a number would mix orphaned rows into this
    # rebuild. One column-pruned bounded aggregate per table.
    g_floor = int(meta["generation"])
    for t in (cent_t, lists_t, cb_t):
        if spark.catalog.tableExists(t) and "gen" in spark.table(t).columns:
            row = spark.table(t).agg(F.max("gen").alias("g")).head()
            if row.g is not None:
                g_floor = max(g_floor, int(row.g))
    g_new = g_floor + 1

    # 1. new quantizer (invisible: readers filter gen == old meta gen)
    _write_centroids(
        spark, centroids, cent_t, id_col, vec_col, gen=g_new, append=True
    )
    step("centroids")
    new_meta = {
        "n_centroids": _live(spark.table(cent_t), g_new).count(),
        "dim": meta["dim"],
        "round_digits": meta["round_digits"],
        "metric": meta["metric"],
        "kind": "flat" if codebooks is None else "pq",
        "pq_m": len(codebooks) if codebooks is not None else 0,
        "pq_k": len(codebooks[0]) if codebooks is not None else 0,
        "encode_round_digits": (
            -1 if encode_round_digits is None else encode_round_digits
        ),
        "generation": g_new,
    }
    # 2. new codebooks (invisible for the same reason)
    if codebooks is not None:
        _write_codebooks(spark, codebooks, cb_t, gen=g_new, append=True)
        step("codebooks")
    # 3. re-bucketed lists under the new quantizer (invisible). The
    # corpus was resolved ABOVE against the old generation, so a flat
    # index's self-read never sees its own new rows.
    _append_assigned(
        spark, corpus, name, id_col, vec_col, dedupe=False, meta=new_meta,
        codebooks=codebooks,
    )
    step("lists")
    # 4. THE commit point: one appended meta row makes g_new the
    # max-generation row every subsequent _read_meta resolves.
    _write_meta_row(spark, meta_t, new_meta, append=True)
    step("meta")
