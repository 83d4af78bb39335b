"""The benchmark's workloads.

Each workload is a closed loop with one client in one process: the next
pass starts when the previous one has returned. A pass is the workload's
unit of work:

* ``etl_reference`` / ``dedup_corpus``: one pass over a list of registry
  queries, in a seeded order, each forced with the ``noop`` sink;
* ``serve_hybrid``: one batch of 8 hybrid queries, collected;
* ``ingest_churn``: append → reload and serve → delete → reload and serve.

Before the first pass a user pays ``build`` (the store workloads build
their stores) and ``open`` (the store workloads load them); ``prepare``
makes the benchmark's own driver-side material, untimed; ``check``
compares outputs with an independent reference after the timed passes.
"""

from __future__ import annotations

import functools
import os
import statistics
import warnings

import numpy as np

import checks
import gen

ETL_QUERIES = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q_outer_join_order_counts", "q_running_customer_spend",
    "q_events_user_sessions", "q_asof_join", "q_concat_schema_coercion",
    "q_concat_with_keys", "q_grouped_apply_spend_share",
)
DEDUP_QUERIES = (
    "q_dedup_minhash", "q_dedup_clusters", "q_ngram_jaccard_pairs",
    "q_fuzzy_name_pairs", "q_self_dedup_corpus", "q_llm_data_pipeline",
    "q_semdedup_kmeans",
)
#: The cheapest dedup-family query of ``operators.dedup`` and of
#: ``operators.corpus``. ``etl_reference`` runs them among the reference
#: surface's queries, so these layers are measured by a workload in the gate;
#: ``operators.semantic`` (``q_semdedup_kmeans``, about 8 s a pass) is
#: measured by ``dedup_corpus`` only.
DEDUP_LAYER_QUERIES = ("q_ngram_jaccard_pairs", "q_self_dedup_corpus")

#: Serving parameters shared by the two store workloads (DIM: the churn
#: workload's hash_embed width). RETRIEVER_TOPK and N_PROBE are
#: ``q_hybrid_retrieval``'s.
DIM, N_LISTS, N_PROBE, RETRIEVER_TOPK, TOPK, BATCH = 32, 8, 2, 10, 10, 8
#: Terms per query: ``q_hybrid_retrieval``'s two queries carry 2 and 3.
QUERY_TERMS = (2, 3)
#: Churn: chunking, new documents per append, chunks deleted per delete.
CHUNK_TOKENS, CHUNK_OVERLAP, NEW_DOCS, DELETES, COMPACT_EVERY = 32, 8, 20, 12, 2
#: Serve: batches after the first that count as warm-up, not steady state.
WARM_BATCHES = 2


class Ctx:
    """What a workload needs: the session, inputs, paths, tracer and the
    run's operation and failure tally."""

    def __init__(self, spark, data_dir, work_dir, seed, tracer):
        self.spark = spark
        self.data_dir = data_dir
        self.work_dir = work_dir
        self.seed = seed
        self.tracer = tracer
        self.attempted = 0
        self.problems: list[str] = []

    def rng(self, *key) -> np.random.Generator:
        return np.random.default_rng([self.seed, *key])

    def fail(self, what: str, exc: "BaseException | str") -> None:
        msg = exc if isinstance(exc, str) else f"{type(exc).__name__}: {exc}"
        self.problems.append(f"{what}: {msg}"[:400])


class Traffic:
    """Seeded query batches drawn from the corpus: terms sampled by their
    share of the corpus's tokens (:func:`gen.term_weights`), so batches hit
    postings as often as the corpus holds them; the embedding is the
    midpoint of two stored vectors with the same ``group`` (a stored vector
    plus noise as wide as its own cluster's spread), or a stored vector as
    it is, as in ``q_hybrid_retrieval``, when no groups are given."""

    def __init__(self, texts, vectors: dict, groups: "dict | None" = None):
        self.words, self.p = gen.term_weights(texts)
        self.vectors = vectors
        self.ids = sorted(vectors)
        group = groups or {i: i for i in self.ids}
        members: dict = {}
        for i in self.ids:
            members.setdefault(group[i], []).append(i)
        self.partners = {i: members[group[i]] for i in self.ids}

    def batch(self, rng, first_qid: int) -> list[tuple]:
        rows = []
        for j in range(BATCH):
            a = self.ids[rng.integers(len(self.ids))]
            b = self.partners[a][rng.integers(len(self.partners[a]))]
            vec = (np.asarray(self.vectors[a], dtype=float)
                   + np.asarray(self.vectors[b], dtype=float)) / 2
            n_terms = int(rng.choice(QUERY_TERMS))
            terms = rng.choice(len(self.words), size=n_terms, replace=False,
                               p=self.p)
            rows.append((first_qid + j, [self.words[t] for t in terms],
                         [float(x) for x in vec]))
        return rows


def _query_df(spark, rows):
    from ons_utils_spark.functions.localrel import local_rows_df

    return local_rows_df(spark, rows, "query_id bigint, terms array<string>, "
                                      "embedding array<double>")


def _served_ok(rows, n_queries: int, live: "set | None") -> "str | None":
    """Shape check of one collected hybrid batch: every query answered with
    ranks 1..k (k ≤ TOPK), from live ids only."""
    by_q: dict = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    if len(by_q) != n_queries:
        return f"{len(by_q)} of {n_queries} queries answered"
    for q, rs in by_q.items():
        if sorted(r["rank"] for r in rs) != list(range(1, len(rs) + 1)) \
                or len(rs) > TOPK:
            return f"query {q}: ranks {sorted(r['rank'] for r in rs)}"
    if live is not None:
        dead = {r["id"] for r in rows} - live
        if dead:
            return f"served {len(dead)} ids not in the live set"
    return None


def tail(samples: "list[float]") -> tuple:
    """The highest of a few percentiles with at least ten samples beyond it
    → ``(percentile, value, samples beyond)``; ``(None, max, 0)`` when there
    are too few samples for any."""
    for pct in (99.9, 99, 95, 90, 75, 50):
        value = float(np.percentile(samples, pct))
        beyond = sum(x > value for x in samples)
        if beyond >= 10:
            return pct, value, beyond
    return None, max(samples), 0


class Registry:
    """A pass over registry queries, each forced with the noop sink.

    ``pass_s`` is, per query, the lower median of its times after the first
    pass, summed over the queries: a burst of host load that slows one
    query in one pass moves one sample, not the figure, and the second
    pass, still warming the JIT, counts only where it is the faster one."""

    min_passes = 3

    def __init__(self, queries, checks_per_run: int):
        self.queries = queries
        self.checks_per_run = checks_per_run
        self.query_s: dict[str, list[float]] = {q: [] for q in queries}

    def build(self, ctx) -> None:
        pass

    def open(self, ctx) -> None:
        pass

    def prepare(self, ctx) -> None:
        pass

    def run_pass(self, ctx, k: int) -> float:
        import time

        from ons_utils_spark.plans.queries import QUERIES

        tr = ctx.tracer
        start = time.perf_counter()
        for q in ctx.rng(2, k).permutation(self.queries):
            ctx.attempted += 1
            t0 = time.perf_counter()
            try:
                with tr.span(q, op_id=k, codegen=True):
                    with tr.span("plan"):
                        df = QUERIES[q].spark(ctx.spark, ctx.data_dir)
                    with tr.span("action"):
                        df.write.format("noop").mode("overwrite").save()
            except Exception as exc:  # noqa: BLE001 — counted, run goes on
                ctx.fail(q, exc)
            self.query_s[q].append(time.perf_counter() - t0)
            ctx.spark.catalog.clearCache()
        return time.perf_counter() - start

    def after_pass(self, ctx, k: int) -> None:
        pass

    def steady_s(self) -> float:
        return sum(statistics.median_low(v[1:])
                   for v in self.query_s.values())

    def check(self, ctx) -> None:
        """Compare a seeded subset of the queries with their DuckDB oracle
        (every query is in some seed's subset)."""
        from ons_utils_spark.plans.queries import QUERIES

        con = checks.oracle_connection(ctx.data_dir)
        picked = ctx.rng(3).permutation(self.queries)[:self.checks_per_run]
        for q in sorted(picked):
            try:
                bad = checks.check_query(ctx.spark, con, QUERIES[q], ctx.data_dir)
            except Exception as exc:  # noqa: BLE001
                bad = f"{type(exc).__name__}: {exc}"
            if bad:
                ctx.fail(f"{q} vs oracle", bad)
        con.close()

    def report(self) -> dict:
        return {"query_first_s": {q: round(v[0], 4)
                                  for q, v in self.query_s.items() if v},
                "query_steady_s": {q: round(statistics.median_low(v[1:]), 4)
                                   for q, v in self.query_s.items() if v[1:]},
                "query_s": {q: [round(x, 4) for x in v]
                            for q, v in self.query_s.items()}}


def _documents(ctx):
    from ons_utils_spark.sources.tables import load_table

    return load_table(ctx.spark, ctx.data_dir, "documents").select(
        "doc_id", "text")


class ServeHybrid:
    """Repeated batches against one loaded BM25 + IVF×PQ pair, built as
    ``q_hybrid_retrieval`` builds it: BM25 over ``documents``, IVF×PQ over
    the 64-d ``embeddings``.

    The first batch is ``first_pass_s``; the next ``WARM_BATCHES`` still
    run about 15% slower while the JIT compiles, and are left out of the
    steady figures (``pass_s``, ``query_p50_s``, the tail)."""

    min_passes = 1 + WARM_BATCHES + 3

    def __init__(self):
        self.batch_s: list[float] = []
        self.batches: list[tuple] = []

    def build(self, ctx) -> None:
        from ons_utils_spark.operators import pq as P
        from ons_utils_spark.operators import text as T
        from ons_utils_spark.sources.tables import load_table

        self.bm25 = os.path.join(ctx.work_dir, "serve", "bm25")
        self.ann = os.path.join(ctx.work_dir, "serve", "ann")
        T.bm25_index_append(_documents(ctx), "doc_id", "text", self.bm25)
        coded, coarse, cbs = P.ivf_pq_build(
            load_table(ctx.spark, ctx.data_dir, "embeddings"), "vec_id",
            "embedding", dim=64, n_lists=N_LISTS, m=4, k=16, coarse_iter=2,
            n_iter=1)
        P.save_ivf_pq_table(coded, P.make_ivf_pq_index(coarse, cbs), self.ann)

    def open(self, ctx) -> None:
        from ons_utils_spark.operators import retrieval as R

        with warnings.catch_warnings(record=True) as caught, \
                ctx.tracer.span("retrieval.load_hybrid_stores"):
            warnings.simplefilter("always")
            self.stores = R.load_hybrid_stores(ctx.spark, self.bm25, self.ann)
        for w in caught:
            if "skew" in str(w.message):
                ctx.fail("load_hybrid_stores", f"warned: {w.message}")

    def prepare(self, ctx) -> None:
        """Driver-side query material (not timed)."""
        import pyarrow.parquet as pq

        emb = pq.read_table(f"{ctx.data_dir}/embeddings.parquet").to_pydict()
        docs = pq.read_table(f"{ctx.data_dir}/documents.parquet")
        self.traffic = Traffic(docs.column("text").to_pylist(),
                               dict(zip(emb["vec_id"], emb["embedding"])),
                               dict(zip(emb["vec_id"], emb["label"])))
        self.docs = _documents(ctx)

    def run_pass(self, ctx, k: int) -> "float | None":
        import time

        from ons_utils_spark.operators import retrieval as R

        ctx.attempted += 1
        t0 = time.perf_counter()
        rows_in = self.traffic.batch(ctx.rng(4, k), k * BATCH)
        try:
            queries = _query_df(ctx.spark, rows_in)
            with ctx.tracer.span("retrieval.hybrid_batch_topk", op_id=k):
                with ctx.tracer.span("plan"):
                    fused = R.hybrid_batch_topk(
                        *self.stores, queries, retriever_topk=RETRIEVER_TOPK,
                        n_probe=N_PROBE, topk=TOPK)
                with ctx.tracer.span("action"):
                    out = fused.collect()
        except Exception as exc:  # noqa: BLE001
            ctx.fail(f"batch {k}", exc)
            return None
        self.batch_s.append(time.perf_counter() - t0)
        self.batches.append((rows_in, out))
        bad = _served_ok(out, BATCH, None)
        if bad:
            ctx.fail(f"batch {k}", bad)
        return self.batch_s[-1]

    def after_pass(self, ctx, k: int) -> None:
        pass

    def steady(self) -> "list[float]":
        return self.batch_s[1 + WARM_BATCHES:]

    def steady_s(self) -> float:
        return statistics.median(self.steady())

    def check(self, ctx) -> None:
        """Last batch, served after all the others from the same loaded
        stores: its rows equal an RRF fusion, computed here, of non-indexed
        BM25 over the corpus (``bm25_batch_topk``) and per-query IVF×PQ
        answers (``ivf_pq_query``)."""
        from pyspark.sql import DataFrame
        from pyspark.sql import functions as F

        from ons_utils_spark.operators import pq as P
        from ons_utils_spark.operators import text as T

        if not self.batches:
            return
        rows_in, served = self.batches[-1]
        q = _query_df(ctx.spark, rows_in).select("query_id", "terms")
        _, _, coded, index = self.stores
        try:
            lexical = T.bm25_batch_topk(self.docs, "doc_id", "text", q,
                                        topk=RETRIEVER_TOPK).collect()
            per_query = [
                P.ivf_pq_query(coded, index, vec, n_probe=N_PROBE,
                               topk=RETRIEVER_TOPK)
                .select(F.lit(qid).alias("query_id"), "id", "adc_dist")
                for qid, _, vec in rows_in]
            ann = [tuple(r) for r in functools.reduce(
                DataFrame.unionByName, per_query).collect()]
            want = checks.rrf_reference(
                [[(r["query_id"], r["id"], -r["bm25"]) for r in lexical], ann],
                topk=TOPK)
            bad = checks.rows_differ(
                [(r["query_id"], r["id"], r["rrf"], r["rank"]) for r in served],
                want)
        except Exception as exc:  # noqa: BLE001
            bad = f"{type(exc).__name__}: {exc}"
        if bad:
            ctx.fail("served batch vs RRF of BM25 and per-query IVF×PQ", bad)

    def report(self) -> dict:
        steady = self.steady()
        if not steady:
            return {}
        pct, tail_s, n_beyond = tail(steady)
        return {"query_p50_s": round(float(np.median(steady)), 4),
                "query_tail_s": round(tail_s, 4), "query_tail_pct": pct,
                "query_tail_samples_beyond": n_beyond,
                "query_samples": len(steady),
                "queries_per_s": round(BATCH * len(steady) / sum(steady), 4)}


class IngestChurn:
    """Writes beside reads on an incremental BM25 index + IVF×SQ table,
    checked against a driver-side model of the live ids after every write."""

    min_passes = 2

    def __init__(self):
        self.cycle_s: list[float] = []
        self.times: dict[str, list[float]] = {
            "append": [], "delete": [], "compact": [], "read_after_write": []}
        self.batch_id = 0
        self.store_bytes: dict[str, int] = {"written": 0, "rewritten": 0}

    def build(self, ctx) -> None:
        from ons_utils_spark.operators import similarity as S
        from ons_utils_spark.operators import text as T

        self.bm25 = os.path.join(ctx.work_dir, "churn", "bm25")
        self.ann = os.path.join(ctx.work_dir, "churn", "ann")
        chunks = self._chunk_embed(_documents(ctx))
        T.bm25_index_append(chunks.select("vec_id", "chunk_text"), "vec_id",
                            "chunk_text", self.bm25)
        coded, coarse, vmin, vmax = S.ivf_sq_build(
            chunks.select("vec_id", "embedding"), dim=DIM, n_lists=N_LISTS,
            coarse_iter=2)
        S.save_sq_table(coded, S.make_sq_index(coarse, vmin, vmax), self.ann)

    def open(self, ctx) -> None:
        from ons_utils_spark.operators import retrieval as R

        with ctx.tracer.span("retrieval.load_hybrid_stores"):
            self.stores = R.load_hybrid_stores(ctx.spark, self.bm25, self.ann)

    @staticmethod
    def _chunk_embed(docs):
        from pyspark.sql import functions as F

        from ons_utils_spark.operators import text as T

        chunks = T.chunk_documents(docs, "doc_id", "text",
                                   chunk_tokens=CHUNK_TOKENS,
                                   overlap=CHUNK_OVERLAP).select(
            (F.col("id") * 1000 + F.col("chunk_id")).alias("vec_id"),
            "chunk_text")
        return T.hash_embed(chunks, "chunk_text", dim=DIM).localCheckpoint(
            eager=True)

    def _remember(self, chunks) -> None:
        for r in chunks.collect():
            self.live[r["vec_id"]] = (len(r["chunk_text"].encode()),
                                      list(r["embedding"]))

    def prepare(self, ctx) -> None:
        """The live-id model starts as the base corpus's chunks."""
        import pyarrow.parquet as pq

        self.texts = pq.read_table(f"{ctx.data_dir}/documents.parquet") \
            .column("text").to_pylist()
        self.live: dict[int, tuple] = {}
        self._remember(self._chunk_embed(_documents(ctx)))
        self.next_doc = int(ctx.spark.read.parquet(
            f"{ctx.data_dir}/documents.parquet").agg({"doc_id": "max"})
            .collect()[0][0]) + 1
        self.check_live(ctx, "setup")

    # -- timed steps ---------------------------------------------------
    def _timed(self, ctx, kind: str, k: int, steps) -> bool:
        import time

        from tracing import walk_bytes

        ctx.attempted += 1
        before = walk_bytes(os.path.dirname(self.bm25)) \
            if ctx.tracer.enabled else None
        t0 = time.perf_counter()
        try:
            for name, fn in steps:
                with ctx.tracer.span(name, op_id=k):
                    fn()
        except Exception as exc:  # noqa: BLE001
            ctx.fail(f"{kind} {k}", exc)
            return False
        self.times[kind].append(time.perf_counter() - t0)
        if before is not None:
            after = walk_bytes(os.path.dirname(self.bm25))
            self.store_bytes["written"] += sum(
                s for p, s in after.items() if before.get(p) != s)
            self.store_bytes["rewritten"] += sum(
                s for p, s in before.items() if p not in after)
        return True

    def _read(self, ctx, k: int) -> None:
        from ons_utils_spark.operators import retrieval as R

        traffic = Traffic(self.texts, {i: v[1] for i, v in self.live.items()})
        rows_in = traffic.batch(ctx.rng(5, k, self.batch_id), k * BATCH)
        out = []

        def load():
            with warnings.catch_warnings():
                # The delete's stats partition runs one batch ahead of the
                # ANN table until the next append: legal skew, expected.
                warnings.filterwarnings("ignore", "hybrid store skew")
                self.stores = R.load_hybrid_stores(ctx.spark, self.bm25,
                                                   self.ann)

        def serve():
            with ctx.tracer.span("plan"):
                fused = R.hybrid_batch_topk(
                    *self.stores, _query_df(ctx.spark, rows_in),
                    retriever_topk=RETRIEVER_TOPK, n_probe=N_PROBE, topk=TOPK)
            with ctx.tracer.span("action"):
                out.extend(fused.collect())

        if self._timed(ctx, "read_after_write", k,
                       [("retrieval.load_hybrid_stores", load),
                        ("retrieval.hybrid_batch_topk", serve)]):
            bad = _served_ok(out, BATCH, set(self.live))
            if bad:
                ctx.fail(f"read after write {k}", bad)
            self.check_live(ctx, f"pass {k}", self.stores)

    def run_pass(self, ctx, k: int) -> float:
        """One cycle; returns the seconds spent in timed steps (the checks
        between them are not timed)."""
        from ons_utils_spark.operators import similarity as S
        from ons_utils_spark.operators import text as T

        n0 = {kind: len(v) for kind, v in self.times.items()}
        ids, texts = gen.new_documents(ctx.seed, k, NEW_DOCS, self.next_doc,
                                       self.texts)
        self.next_doc += len(ids)
        self.batch_id += 1
        b = self.batch_id
        new = {}

        def chunk_embed():
            docs = ctx.spark.createDataFrame(
                list(zip(ids.tolist(), texts)), "doc_id bigint, text string")
            new["chunks"] = self._chunk_embed(docs)

        if self._timed(ctx, "append", k, [
            ("text.chunk_documents-hash_embed", chunk_embed),
            ("text.bm25_index_append", lambda: T.bm25_index_append(
                new["chunks"].select("vec_id", "chunk_text"), "vec_id",
                "chunk_text", self.bm25, batch_id=b)),
            ("similarity.ivf_sq_table_append", lambda: S.ivf_sq_table_append(
                new["chunks"].select("vec_id", "embedding"), self.ann,
                batch_id=b)),
        ]):
            self._remember(new["chunks"])
        self._read(ctx, k)

        self.batch_id += 1
        b = self.batch_id
        live = sorted(self.live)
        dead = sorted(int(x) for x in ctx.rng(6, k).choice(
            live, size=min(DELETES, len(live) - 1), replace=False))
        if self._timed(ctx, "delete", k, [
            ("text.bm25_index_delete",
             lambda: T.bm25_index_delete(ctx.spark, self.bm25, dead, b)),
            ("similarity.ivf_sq_table_delete",
             lambda: S.ivf_sq_table_delete(ctx.spark, self.ann, dead, b)),
        ]):
            for i in dead:
                self.live.pop(i)
        self._read(ctx, k)
        self.cycle_s.append(sum(v[-1] for kind, v in self.times.items()
                                if len(v) > n0[kind]))
        return self.cycle_s[-1]

    def after_pass(self, ctx, k: int) -> None:
        """Vacuum + compact every few passes (timed on their own)."""
        from ons_utils_spark.operators import similarity as S
        from ons_utils_spark.operators import text as T

        if k % COMPACT_EVERY != COMPACT_EVERY - 1:
            return
        if self._timed(ctx, "compact", k, [
            ("text.bm25_index_vacuum",
             lambda: T.bm25_index_vacuum(ctx.spark, self.bm25)),
            ("similarity.ivf_sq_table_compact",
             lambda: S.ivf_sq_table_compact(ctx.spark, self.ann)),
        ]):
            self.check_live(ctx, f"compact {k}")

    # -- checks --------------------------------------------------------
    def check_live(self, ctx, when: str, stores=None) -> None:
        """Both loaded stores must hold exactly the model's live ids."""
        from ons_utils_spark.operators import retrieval as R

        try:
            if stores is None:
                with warnings.catch_warnings():
                    warnings.filterwarnings("ignore", "hybrid store skew")
                    stores = R.load_hybrid_stores(ctx.spark, self.bm25,
                                                  self.ann)
            postings, _, coded, _ = stores
            lex = {r[0] for r in postings.select("id").distinct().collect()}
            ann = {r[0] for r in coded.select("id").collect()}
        except Exception as exc:  # noqa: BLE001
            ctx.fail(f"live ids after {when}", exc)
            return
        want = set(self.live)
        for name, got in (("bm25", lex), ("ivf_sq", ann)):
            if got != want:
                ctx.fail(f"live ids after {when}",
                         f"{name}: {len(got - want)} extra, "
                         f"{len(want - got)} missing")

    def steady_s(self) -> float:
        return statistics.median(self.cycle_s[1:])

    def check(self, ctx) -> None:
        pass

    def bytes_per_live_byte(self) -> float:
        from tracing import walk_bytes

        on_disk = sum(walk_bytes(os.path.dirname(self.bm25)).values())
        live = sum(t + 8 * len(v) for t, v in self.live.values())
        return on_disk / live

    def report(self) -> dict:
        out = {f"{kind}_p50_s": round(float(np.median(v)), 4)
               for kind, v in self.times.items() if v}
        out["bytes_per_live_byte"] = round(self.bytes_per_live_byte(), 4)
        out["live_ids"] = len(self.live)
        return out


WORKLOADS = {
    "etl_reference": lambda: Registry(ETL_QUERIES + DEDUP_LAYER_QUERIES,
                                      checks_per_run=3),
    "dedup_corpus": lambda: Registry(DEDUP_QUERIES, checks_per_run=2),
    "serve_hybrid": ServeHybrid,
    "ingest_churn": IngestChurn,
}
