"""The three closed-loop workloads, composed from the library's public calls.

Each workload is one client issuing its next operation only after the
previous one returned. Every timed operation materializes its output to
the workload's real sink (a managed table, an exported file, the client
that collects answers), never through ``count()``.

A workload object has ``generate()`` and ``setup()`` (counted in
``setup_s``), ``step(i)`` (one timed unit of work; returns rows consumed,
input bytes and its time), and ``check()`` (output checks run after
timing; returns the number of failed checks). Calls into the library go
through ``rec.span(layer, fn)``. ``requests`` collects the latency of each
unit a user waits on, ``commits`` each landing-to-commit time. These three
timings are steal-net (``noise.Watch``).
"""

from __future__ import annotations

import hashlib
import os
import shutil

import numpy as np

import gen
import noise

LAYER_OF = {
    "load_file": "operators", "merge": "operators", "append": "operators",
    "run_transform": "operators", "check_table": "operators",
    "check_column": "operators", "publish_table": "operators",
    "export_to_file": "operators",
}


def output_hash(digests: list[str]) -> str:
    """One hash over the per-step output digests: equal across commits
    whenever every step produced the same outputs."""
    return hashlib.sha256("".join(digests).encode()).hexdigest()


def _digest(rows) -> str:
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(tuple(r)).encode())
    return h.hexdigest()


class Workload:
    name = ""
    warm_steps = 1
    # timed steps every run makes, whatever --seconds says, so every run
    # measures the same work and its output hash covers the same steps; at
    # least two cycles, since a traced run leaves the first untraced
    steps = 2
    cycle = 1  # steps in one repeating unit of the workload's schedule

    def __init__(self, spark, rec, seed: int, work_dir: str):
        self.spark = spark
        self.rec = rec
        self.seed = seed
        self.dir = work_dir
        self.land = os.path.join(work_dir, "landing")
        self.out = os.path.join(work_dir, "out")
        os.makedirs(self.land, exist_ok=True)
        os.makedirs(self.out, exist_ok=True)
        from astro_sdk_spark import SparkEngine

        self.eng = SparkEngine(spark)
        self.digests: list[str] = []  # one per step, for cross-commit comparison
        self.requests: list[float] = []  # seconds per unit a user waits on
        self.commits: list[float] = []  # landing -> commit seconds
        self.failures: list[str] = []
        self.stage_paths: list[str] = []

    def warmup(self) -> int:
        """Untimed steps that pay JIT and codegen; returns the next step."""
        for i in range(self.warm_steps):
            self.step(i)
        return self.warm_steps

    def ratios(self) -> dict:
        """Useful-outcome ratios the workload counts itself."""
        return {}

    def call(self, fn, *args, **kw):
        name = fn.__name__
        with self.rec.span(LAYER_OF.get(name, "functions"), name):
            return fn(*args, **kw)

    def stage(self, layer: str, name: str, build):
        """One span around building a lazy stage and writing its output to a
        parquet stage shard; the next stage reads the shard, so each span
        holds exactly its own stage's work."""
        path = os.path.join(self.out, "stages", f"{len(self.stage_paths):02d}_{name}")
        with self.rec.span(layer, name):
            build().write.mode("overwrite").parquet(path)
        self.stage_paths.append(path)
        return self.spark.read.parquet(path)


# ---------------------------------------------------------------- ELT

REPORT_SQL = """
SELECT o_orderpriority AS priority, o_orderstatus AS status,
       count(DISTINCT o_orderkey) AS n_orders,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS revenue_cc
FROM {{ orders }} JOIN {{ lineitem }} ON o_orderkey = l_orderkey
GROUP BY o_orderpriority, o_orderstatus
"""
REPORT_ORDER = "ORDER BY priority, status"


class EltNightly(Workload):
    """Nightly increments: load -> merge(update) -> append -> CTAS report ->
    checks -> audited publish -> export, plus a small monitoring sketch."""

    name = "elt_nightly"
    steps = 4

    def generate(self):
        self.base = gen.elt_base(self.seed, self.land)

    def setup(self):
        from astro_sdk_spark import File, Table, load_file

        self.orders, self.lineitem = Table(name="orders"), Table(name="lineitem")
        self.call(load_file, File(self.base["orders"]), self.orders, engine=self.eng)
        self.call(load_file, File(self.base["lineitem"]), self.lineitem, engine=self.eng)
        self.orders_schema = self.spark.table(self.orders.qualified_name).schema
        self.nights: list[dict] = []

    def step(self, i: int):
        from astro_sdk_spark import (File, Table, append, check_column, check_table,
                                     export_to_file, load_file, merge)
        from astro_sdk_spark.functions.quantiles import (quantile_sketch_build,
                                                         quantile_sketch_query)
        from astro_sdk_spark.operators.publish import publish_table
        from astro_sdk_spark.operators.transform import run_transform

        inc = gen.elt_night(self.seed, i, self.land)
        self.nights.append(inc)
        watch = noise.Watch()
        # the NDJSON feed carries its timestamps as text: the staging table
        # takes the target's schema, then the parquet updates append to it
        stg_o = Table(name="stg_orders", columns=self.orders_schema)
        stg_l = Table(name="stg_lineitem")
        self.call(load_file, File(inc["inserts"]), stg_o, engine=self.eng)
        self.call(load_file, File(inc["updates"]), stg_o, if_exists="append",
                  engine=self.eng)
        self.call(load_file, File(inc["lineitem"]), stg_l, engine=self.eng)
        self.call(merge, stg_o, self.orders, columns=None,
                  target_conflict_columns=["o_orderkey"], if_conflicts="update",
                  engine=self.eng)
        self.call(append, stg_l, self.lineitem, engine=self.eng)
        self.commits.append(watch.net())
        stage = self.call(run_transform, REPORT_SQL,
                          parameters={"orders": self.orders, "lineitem": self.lineitem},
                          output_table=Table(name="rpt_stage"), engine=self.eng)
        self.call(check_table, self.orders,
                  {"keys_positive": {"check_statement": "o_orderkey >= 0"}},
                  engine=self.eng)
        self.call(check_column, stg_o,
                  {"o_orderkey": {"null_check": {"equal_to": 0}},
                   "o_totalprice": {"min": {"geq_to": 0}}}, engine=self.eng)
        self.call(publish_table, self.spark.table(stage.qualified_name), "rpt_revenue",
                  table_checks={"not_empty": {"check_statement": "COUNT(*) > 0"}},
                  column_checks={"revenue_cc": {"min": {"geq_to": 0}}},
                  spark=self.spark)
        out = os.path.join(self.out, f"revenue_{i:03d}.parquet")
        self.call(export_to_file, Table(name="rpt_revenue"), File(out),
                  if_exists="replace", engine=self.eng)
        with self.rec.span("functions", "quantile_sketch"):
            sketch = quantile_sketch_build(self.spark.table(stg_l.qualified_name),
                                           "l_extendedprice", width=1000, by=["l_returnflag"])
            quantile_sketch_query(sketch, [0.5, 0.95], width=1000,
                                  by=["l_returnflag"]).collect()
        busy = watch.net()
        self.requests.append(busy)
        self.report = [tuple(r) for r in self.spark.sql(
            f"SELECT * FROM rpt_revenue {REPORT_ORDER}").collect()]
        self.digests.append(_digest(self.report))
        return inc["rows"], inc["bytes"], busy

    def check(self) -> int:
        """Replay base + every landed increment in DuckDB; the merged target
        and the published report must match it exactly."""
        import duckdb

        con = duckdb.connect()
        con.execute(f"CREATE TABLE orders AS SELECT * FROM read_parquet('{self.base['orders']}')")
        con.execute(f"CREATE TABLE lineitem AS SELECT * FROM read_parquet('{self.base['lineitem']}')")
        for inc in self.nights:
            src = (f"(SELECT * FROM read_parquet('{inc['updates']}') UNION ALL BY NAME "
                   f"SELECT * FROM read_json('{inc['inserts']}', format='newline_delimited'))")
            con.execute(f"""CREATE OR REPLACE TEMP TABLE inc AS SELECT
                CAST(o_orderkey AS BIGINT) o_orderkey, CAST(o_custkey AS BIGINT) o_custkey,
                CAST(o_orderstatus AS VARCHAR) o_orderstatus,
                CAST(o_totalprice AS DOUBLE) o_totalprice,
                CAST(o_orderdate AS TIMESTAMP) o_orderdate,
                CAST(o_orderpriority AS VARCHAR) o_orderpriority FROM {src}""")
            con.execute("DELETE FROM orders WHERE o_orderkey IN (SELECT o_orderkey FROM inc)")
            con.execute("INSERT INTO orders SELECT * FROM inc")
            con.execute(f"INSERT INTO lineitem SELECT * FROM read_csv('{inc['lineitem']}', "
                        "header=true, columns={" + ", ".join(
                            f"'{c}': '{t}'" for c, t in _LINEITEM_TYPES) + "})")
        want_report = [tuple(r) for r in con.execute(
            REPORT_SQL.replace("{{ orders }}", "orders").replace("{{ lineitem }}", "lineitem")
            .replace("GROUP BY o_orderpriority, o_orderstatus",
                     "GROUP BY o_orderpriority, o_orderstatus " + REPORT_ORDER)).fetchall()]
        cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
        want = con.execute(f"SELECT {cols} FROM orders ORDER BY o_orderkey").arrow()
        con.close()
        got = self.spark.sql(f"SELECT {cols} FROM orders ORDER BY o_orderkey").toArrow()
        failed, self.n_checks = 0, 2
        if got.num_rows != want.num_rows or not all(
                g.equals(w) for g, w in zip(got.columns, want.columns)):
            self.failures.append(f"merged orders differ from DuckDB ({got.num_rows} vs "
                                 f"{want.num_rows} rows)")
            failed += 1
        if self.report != want_report:
            self.failures.append("published report differs from DuckDB")
            failed += 1
        return failed


_LINEITEM_TYPES = (
    ("l_orderkey", "BIGINT"), ("l_partkey", "BIGINT"), ("l_suppkey", "BIGINT"),
    ("l_linenumber", "INTEGER"), ("l_quantity", "DOUBLE"), ("l_extendedprice", "DOUBLE"),
    ("l_discount", "DOUBLE"), ("l_tax", "DOUBLE"), ("l_returnflag", "VARCHAR"),
    ("l_linestatus", "VARCHAR"), ("l_shipdate", "TIMESTAMP"))


# ------------------------------------------------------------- corpus

SEQ_LEN = 512
QUALITY_MIN = 0.5
WARM_DOCS = 100  # the warm-up shard: compiles every stage at a fraction of the work


class CorpusCurate(Workload):
    """One curation pass per crawl shard: HTML strip -> normalize ->
    language + quality gate -> dedup -> decontaminate -> PII redaction ->
    leakage-safe split -> packing; survivors and packs export as parquet."""

    name = "corpus_curate"

    def generate(self):
        pass  # each pass generates its own shard

    def setup(self):
        self.n_docs = gen.CORPUS_DOCS
        self.stage_counts: list[list[int]] = []
        self.invariant_failures = 0

    def step(self, i: int):
        from pyspark.sql import functions as F

        from astro_sdk_spark import File, export_to_file, load_file
        from astro_sdk_spark.functions import (dedup_corpus, normalize_text, pack_greedy,
                                               quality_score, redact_pii, strip_html)
        from astro_sdk_spark.functions.cleaning import decontaminate
        from astro_sdk_spark.functions.sampling import leakage_safe_split
        from astro_sdk_spark.functions.text import lang_id, token_count

        shard = gen.corpus_shard(self.seed, i, self.land, self.n_docs)
        watch = noise.Watch()
        st = self.stage
        docs = st("operators", "load_file",
                  lambda: load_file(File(shard["documents"]), engine=self.eng))
        bench = st("operators", "load_file",
                   lambda: load_file(File(shard["benchmark"]), engine=self.eng))
        text = st("functions", "strip_html", lambda: strip_html(docs).select(
            "doc_id", F.col("plain_text").alias("text")))
        text = st("functions", "normalize_text", lambda: normalize_text(text).select(
            "doc_id", F.col("norm_text").alias("text")))
        labeled = st("functions", "lang_id",
                     lambda: text.withColumn("lang", lang_id(F.col("text"))))
        kept = st("functions", "quality_score", lambda: labeled.join(
            quality_score(text).select("doc_id", "quality_score"), "doc_id")
            .filter(F.col("quality_score") >= QUALITY_MIN).select("doc_id", "text", "lang"))
        deduped = st("functions", "dedup_corpus",
                     lambda: kept.join(dedup_corpus(kept), "doc_id", "left_semi"))
        clean = st("functions", "decontaminate",
                   lambda: decontaminate(deduped, bench, mode="drop"))
        redacted = st("functions", "redact_pii", lambda: redact_pii(clean).select(
            "doc_id", F.col("text_redacted").alias("text"), "n_pii")
            .join(clean.select("doc_id", "lang"), "doc_id"))
        final = st("functions", "leakage_safe_split", lambda: redacted.join(
            leakage_safe_split(redacted).select("doc_id", "split"), "doc_id")
            .filter(F.col("split") != "dropped"))
        packed = st("functions", "pack_greedy", lambda: pack_greedy(
            final.filter(F.col("split") == "train")
            .withColumn("n_tokens", token_count(F.col("text"))),
            "doc_id", "n_tokens", budget=SEQ_LEN, n_buckets=8))
        self.call(export_to_file, final, File(os.path.join(self.out, f"final_{i:03d}.parquet")),
                  if_exists="replace", engine=self.eng)
        self.call(export_to_file, packed, File(os.path.join(self.out, f"packed_{i:03d}.parquet")),
                  if_exists="replace", engine=self.eng)
        busy = watch.net()
        self.requests.append(busy)
        self.commits.append(busy)
        self._check_pass(docs, kept, deduped, clean, final, packed)
        for path in self.stage_paths:
            shutil.rmtree(path)
        self.stage_paths = []
        return shard["rows"], shard["bytes"], busy

    def warmup(self) -> int:
        self.n_docs = WARM_DOCS
        try:
            return super().warmup()
        finally:
            self.n_docs = gen.CORPUS_DOCS

    def _check_pass(self, docs, kept, deduped, clean, final, packed):
        """Survivors are input ids, no exact-duplicate text survives dedup,
        every pack fits ``SEQ_LEN`` and stage counts never grow."""
        from pyspark.sql import functions as F

        in_ids = {r.doc_id for r in docs.select("doc_id").collect()}
        fin = final.select("doc_id", "split").orderBy("doc_id").collect()
        dd = deduped.select("text").collect()
        counts = [len(in_ids), kept.count(), len(dd), clean.count(), len(fin)]
        packs = packed.groupBy("pack_id").agg(F.sum("n_tokens").alias("t"),
                                              F.count("*").alias("n")).collect()
        ok = (all(r.doc_id in in_ids for r in fin)
              and len({r.text for r in dd}) == len(dd)
              and all(p.t <= SEQ_LEN or p.n == 1 for p in packs)
              and all(a >= b for a, b in zip(counts, counts[1:])) and counts[-1] > 0)
        if not ok:
            self.failures.append(f"curation invariants broken, stage counts {counts}")
            self.invariant_failures += 1
        self.stage_counts.append(counts)
        self.digests.append(_digest([tuple(r) for r in fin]))

    def ratios(self) -> dict:
        kept = sum(c[1] for c in self.stage_counts)
        return {"functions.dedup_corpus.rows_out_per_in":
                sum(c[2] for c in self.stage_counts) / kept if kept else 0.0}

    def check(self) -> int:
        self.n_checks = len(self.stage_counts)
        return self.invariant_failures


# --------------------------------------------------------- ANN serving

NPROBE, TOPK = 2, 10
N_CENT, PQ_M, PQ_K = 8, 8, 256
INGEST_EVERY = 2  # requests per micro-batch; a step cycle of the workload
# the compaction follows this many micro-batches: at step 4, in the second
# of the four timed cycles, which a traced run traces (run.py traces the
# second and third); top-k slows as each micro-batch adds a file to every
# list it touches, until then
COMPACT_AT = 3
RECALL_FLOOR = 0.25


class AnnServing(Workload):
    """A persisted PQ index serving a closed loop of top-k requests, with
    streamed micro-batch appends and one compaction interleaved."""

    name = "ann_serving"
    index = "bench_ann"
    warm_steps = INGEST_EVERY  # one cycle: a micro-batch and plain requests
    steps = 4 * INGEST_EVERY
    cycle = INGEST_EVERY

    def generate(self):
        self.corpus_info = gen.ann_corpus(self.seed, self.land)
        self.centers = np.load(os.path.join(self.land, "centers.npy"))
        self.corpus_vecs = _read_vectors([self.corpus_info["embeddings"]])[1]

    def setup(self):
        from pyspark.sql import functions as F

        from astro_sdk_spark import File, load_file
        from astro_sdk_spark.functions.ann_index import build_ann_index

        info = self.corpus_info
        corpus = self.call(load_file, File(info["embeddings"]), engine=self.eng)
        self.schema = corpus.schema
        # deterministic sample quantizers: coarse centroids and per-subspace
        # PQ codewords are spread-out corpus items
        cents = corpus.filter(F.col("vec_id") % (gen.REPLICAS * 97) == 0).orderBy(
            "vec_id").limit(N_CENT)
        step = len(self.corpus_vecs) // PQ_K
        dsub = gen.DIM // PQ_M
        codebooks = [[self.corpus_vecs[j * step, s * dsub:(s + 1) * dsub].tolist()
                      for j in range(PQ_K)] for s in range(PQ_M)]
        self.call(build_ann_index, self.spark, corpus, self.index, centroids=cents,
                  codebooks=codebooks)
        self.indexed = [info["embeddings"]]
        self.n_indexed = info["rows"]
        self.stream_src = os.path.join(self.dir, "stream_src")
        self.ckpt = os.path.join(self.dir, "stream_ckpt")
        os.makedirs(self.stream_src, exist_ok=True)
        self.batches = 0
        self.compacted = False
        self.answers: list[tuple] = []  # (queries, hits, vectors indexed) per request

    def _queries(self, request: int):
        q = gen.ann_queries(self.seed, request, self.corpus_vecs)
        ids = 10_000_000 + request * gen.QUERY_BATCH + np.arange(len(q))
        return self.spark.createDataFrame(
            [(int(i), v.tolist()) for i, v in zip(ids, q)], self.schema), q

    def topk(self, qdf, q):
        from astro_sdk_spark.functions.ann_index import ann_index_topk

        watch = noise.Watch()
        with self.rec.span("functions", "ann_index_topk") as sp:
            hits = sorted(tuple(r) for r in ann_index_topk(
                self.spark, qdf, self.index, nprobe=NPROBE, k=TOPK).collect())
            sp.rows_out = len(hits)
        self.requests.append(watch.net())
        self.answers.append((q, hits, self.n_indexed))
        return hits

    def ingest(self):
        from astro_sdk_spark.streaming.ops import stream_ann_index_ingest

        b = gen.ann_ingest_batch(self.seed, self.batches, self.stream_src, self.centers)
        watch = noise.Watch()
        with self.rec.span("streaming", "stream_ann_index_ingest") as sp:
            q = stream_ann_index_ingest(
                self.spark.readStream.schema(self.schema).parquet(self.stream_src),
                self.index, self.ckpt)
            done = q.awaitTermination(120)
            self.rec.attach_group(sp, str(q.runId))
            if not done or q.exception() is not None:
                q.stop()
                raise RuntimeError(f"micro-batch {self.batches} did not commit: {q.exception()}")
            # the stream commits from its own cloned session; this serving
            # session's cached file listing of the index tables goes stale
            # until refreshed (top-k then misses the new vectors)
            for t in self.spark.catalog.listTables():
                if t.name.startswith(f"{self.index}__"):
                    self.spark.catalog.refreshTable(t.name)
        self.commits.append(watch.net())
        self.indexed.append(b["path"])
        self.n_indexed += b["rows"]
        self.batches += 1
        return b["rows"], b["bytes"]

    def step(self, i: int):
        """Request ``i``; every ``INGEST_EVERY``-th first lands a micro-batch.
        After the ``COMPACT_AT``-th micro-batch the index is compacted and
        the request asked again: its answer must not move."""
        watch = noise.Watch()
        rows, nbytes = gen.QUERY_BATCH, 0
        if i % INGEST_EVERY == 0:
            r, nbytes = self.ingest()
            rows += r
        qdf, q = self._queries(i)
        hits = self.topk(qdf, q)
        if self.batches == COMPACT_AT and not self.compacted:
            self._compact(hits, qdf, q)
            rows += gen.QUERY_BATCH
        self.digests.append(_digest(hits))
        return rows, nbytes, watch.net()

    def _compact(self, before, qdf, q):
        from astro_sdk_spark.functions.ann_index import ann_index_compact

        self.call(ann_index_compact, self.spark, self.index, min_files=2)
        self.compacted = True
        if self.topk(qdf, q) != before:
            self.failures.append("top-k answers changed across compaction")

    def recall(self) -> float:
        """Mean recall@TOPK of every answer against exact search over the
        vectors indexed when it was asked."""
        ids, vecs = _read_vectors(self.indexed)
        scores = []
        for q, hits, n in self.answers:
            d = ((q[:, None, :].astype(np.float64) - vecs[None, :n, :]) ** 2).sum(-1)
            exact = [set(ids[np.argsort(row, kind="stable")[:TOPK]]) for row in d]
            qids = sorted({h[0] for h in hits})
            got = {qid: {h[1] for h in hits if h[0] == qid} for qid in qids}
            scores += [len(got[qid] & e) / TOPK for qid, e in zip(qids, exact)]
        return float(np.mean(scores))

    def check(self) -> int:
        self.n_checks = 2
        failed = len(self.failures)
        self.recall_at_k = self.recall()
        if self.recall_at_k < RECALL_FLOOR:
            self.failures.append(f"recall@{TOPK} {self.recall_at_k:.3f} below floor {RECALL_FLOOR}")
            failed += 1
        return failed


def _read_vectors(paths) -> tuple[np.ndarray, np.ndarray]:
    import pyarrow.parquet as pq

    tables = [pq.read_table(p) for p in paths]
    ids = np.concatenate([t["vec_id"].to_numpy() for t in tables])
    vecs = np.concatenate([np.stack(t["embedding"].to_numpy(zero_copy_only=False))
                           for t in tables]).astype(np.float64)
    return ids, vecs


WORKLOADS = {w.name: w for w in (EltNightly, CorpusCurate, AnnServing)}

