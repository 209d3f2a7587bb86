"""The online Q&A query (reference §3.3, ``/askQuestion``).

Reference flow (``fastapi-backend/fastapiservice/QA_using_pinecone.py:31-65``):
embed the question (M2) → Pinecone top-k=2 query with title ``$in``
filter (T1) → '\n'-join the match texts, build the prompt
``f"{context} \n\n Question: {q}"`` (F14) → chat completion (M3).

Spark-first: one DataFrame expression — partition-pruned scan (title
filter) → cosine score → TakeOrderedAndProject limit k — and ONE
bounded collect of its ≤k rows; the context is the '\n'-join of their
texts in (score desc, id asc) order, assembled on the driver (the
same order ``ask_batch`` assembles in Spark). The answer model is injected
(``answer_fn``); the default is a deterministic extractive stub so the
whole path runs offline. Production wires
:class:`~..functions.answering.OpenAIShapedAnswerer` — the ready-made
``/v1/chat/completions`` adapter (reference chat shape, temperature 0,
429/5xx backoff, loud failure) — as ``answer_fn``.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.embedding import HashingEmbedder
from ..operators.topk import topk_cosine

__all__ = ["QAPipeline", "assemble_context"]

DEFAULT_TOP_K = 2  # QA_using_pinecone.py:31


def assemble_context(texts: Sequence[str], question: str) -> str:
    """F14 (QA_using_pinecone.py:45-50): the match texts, already in
    rank order, '\n'-joined, then the prompt template. NULL texts are
    skipped (``concat_ws`` semantics, as ``ask_batch`` assembles)."""
    context = "\n".join(t for t in texts if t is not None)
    return f"{context} \n\n Question: {question}"


def _extractive_answer(prompt: str) -> str:
    """Deterministic stand-in for the chat model (M3): returns the first
    context line — "answers using the provided context only" taken
    literally. Production injects a real LLM call here."""
    first_line = prompt.split("\n", 1)[0].strip()
    return first_line or "I don't know."


class QAPipeline:
    """ask(question, form_titles) over a VectorIndex.

    ``ann_index`` (a :class:`~..operators.index_sync.SyncedIvfpqIndex`
    built over the same primary) switches :meth:`search` to the
    accelerated serving path: probe-pruned ADC shortlist + exact
    cosine re-rank — the reference's Pinecone query shape, including
    the ``$in`` title predicate, with the staleness contract applied
    per ``ann_policy`` ('error' fails fast after an un-refreshed
    upsert, 'refresh' catches the index up first, 'serve' reads the
    indexed snapshot explicitly)."""

    def __init__(
        self,
        index,
        embedder=None,
        answer_fn: Callable[[str], str] = _extractive_answer,
        top_k: int = DEFAULT_TOP_K,
        ann_index=None,
        ann_policy: str = "error",
        ann_nprobe: int = 4,
        text_index=None,
        reranker=None,
    ):
        self.index = index
        self.embedder = embedder or HashingEmbedder(dim=64)
        self.answer_fn = answer_fn
        self.top_k = top_k
        self.ann_index = ann_index
        self.ann_policy = ann_policy
        self.ann_nprobe = ann_nprobe
        self.text_index = text_index
        self.reranker = reranker

    def search(
        self,
        question: str,
        form_titles: Sequence[str] | None = None,
        k: int | None = None,
    ) -> DataFrame:
        """T1 with P5 predicate: filter titles BEFORE scoring."""
        qvec = self.embedder.embed_one(question)
        dim = self.index.dimension()
        if dim is not None and dim != len(qvec):
            # zip_with over mismatched lengths yields null scores — fail
            # loudly instead (S11 dimension check, query side)
            raise ValueError(
                f"embedder dim {len(qvec)} != index dim {dim}"
            )
        if self.ann_index is not None:
            # accelerated path: ADC shortlist from the synced codes
            # table, exact-cosine re-rank (so returned scores/columns
            # are identical in kind to the exact path's)
            return self.ann_index.search(
                qvec,
                k or self.top_k,
                nprobe=self.ann_nprobe,
                rerank=True,
                titles=list(form_titles) if form_titles else None,
                on_stale=self.ann_policy,
            )
        filter_expr = (
            F.col("title").isin(list(form_titles)) if form_titles else None
        )
        return topk_cosine(
            self.index.read(), qvec, k or self.top_k, filter_expr=filter_expr
        )

    def search_diverse(
        self,
        question: str,
        form_titles: Sequence[str] | None = None,
        *,
        candidates: int = 50,
        lam: float = 0.7,
        k: int | None = None,
    ) -> DataFrame:
        """Diversity-aware retrieval (engine-added; the reference
        returns raw top-k): cosine shortlist of ``candidates`` — the
        accelerated ANN path when an index is wired — then MMR
        re-ranking (``operators/rerank.py``) down to k, so the answer
        context isn't k near-duplicates of the best chunk. Returns
        (id, title, text, score) in selection order with score = the
        MMR objective; the shortlist stays bounded, so the greedy is
        O(k·candidates) at any index size."""
        from ..operators.rerank import mmr_pairs, mmr_rerank
        from ..runtime import register_materialized

        k = k or self.top_k
        short = self.search(question, form_titles, k=candidates)
        if "vector" not in short.columns:
            short = short.join(
                self.index.read().select("id", "vector"), "id", "left"
            )
        short = short.localCheckpoint(eager=False)  # pool + pairs + join
        register_materialized(short)
        pool = short.select(
            F.lit(0).alias("query_id"),
            F.col("id").alias("doc_id"),
            F.round("score", 6).alias("rel"),
            "vector",
        )
        sel = mmr_rerank(
            pool, mmr_pairs(pool), k=k, lam=lam, id_col="doc_id"
        )
        return (
            sel.join(
                short.select("id", "title", "text"),
                sel["doc_id"] == F.col("id"),
            )
            .select("id", "title", "text", F.col("mmr").alias("score"), "step")
            .orderBy("step")
        )

    def search_diverse_batch(
        self,
        questions: DataFrame,
        *,
        q_col: str = "question",
        candidates: int = 50,
        lam: float = 0.7,
        max_queries: int = 10_000,
    ) -> DataFrame:
        """Diverse retrieval for MANY questions: ONE probed-cell batch
        ANN scan (``search_batch`` with exact re-rank) produces every
        question's shortlist, vectors join back from the primary
        (shortlist-bounded rows), and the cogrouped MMR greedy re-ranks
        every pool concurrently — the batch sibling of
        :meth:`search_diverse`, same per-question semantics. Returns
        ``(qid, question, id, title, text, score, step)``, ``top_k``
        rows per question in selection order. Requires ``ann_index``
        (the batch path IS the index)."""
        from ..operators.rerank import mmr_pairs, mmr_rerank
        from ..runtime import register_materialized

        if self.ann_index is None:
            raise ValueError("search_diverse_batch needs ann_index")
        spark = questions.sparkSession
        rows = questions.select(q_col).limit(max_queries + 1).collect()
        if len(rows) > max_queries:
            raise ValueError(f"batch exceeds max_queries={max_queries}")
        qs = [r[q_col] for r in rows]
        qdf_vecs = spark.createDataFrame(
            [
                (i, [float(v) for v in self.embedder.embed_one(q)])
                for i, q in enumerate(qs)
            ],
            "qid long, qvec array<double>",
        )
        short = self.ann_index.search_batch(
            qdf_vecs,
            candidates,
            nprobe=self.ann_nprobe,
            rerank=True,
            on_stale=self.ann_policy,
            max_queries=max_queries,
        )
        short = short.join(
            self.index.read().select("id", "vector"), "id", "left"
        ).localCheckpoint(eager=False)  # pool + pairs + final join
        register_materialized(short)
        pool = short.select(
            F.col("qid").alias("query_id"),
            F.col("id").alias("doc_id"),
            F.round("score", 6).alias("rel"),
            "vector",
        )
        sel = mmr_rerank(
            pool, mmr_pairs(pool), k=self.top_k, lam=lam, id_col="doc_id"
        )
        qdf_names = spark.createDataFrame(
            list(enumerate(qs)), "qid long, question string"
        )
        return (
            sel.join(
                short.select("qid", "id", "title", "text"),
                (sel["query_id"] == F.col("qid"))
                & (sel["doc_id"] == F.col("id")),
            )
            .join(qdf_names, "qid")
            .select(
                "qid",
                "question",
                "id",
                "title",
                "text",
                F.col("mmr").alias("score"),
                "step",
            )
            .orderBy("qid", "step")
        )

    def search_reranked(
        self,
        question: str,
        form_titles: Sequence[str] | None = None,
        *,
        candidates: int = 50,
        k: int | None = None,
    ) -> list[dict]:
        """Cross-encoder re-ranking of the cosine shortlist through the
        injected ``reranker`` (see
        :class:`~..functions.reranking.RerankShapedClient`) — one
        bounded HTTP call per question, like the answer path; never a
        per-row hop. Returns ``[{"id", "title", "text", "score"}, ...]``
        in re-ranked order (score = the endpoint's relevance), length
        ≤ k. A missing reranker is a wiring error, surfaced loudly."""
        if self.reranker is None:
            raise ValueError("search_reranked needs a reranker wired")
        k = k or self.top_k
        rows = (
            self.search(question, form_titles, k=candidates)
            .select("id", "title", "text", "score")
            .orderBy(F.desc("score"), F.asc("id"))
            .collect()
        )
        ranked = self.reranker(
            question, [r["text"] for r in rows], top_n=k
        )
        return [
            {
                "id": rows[i]["id"],
                "title": rows[i]["title"],
                "text": rows[i]["text"],
                "score": s,
            }
            for i, s in ranked
        ]

    def search_hybrid(
        self,
        question: str,
        form_titles: Sequence[str] | None = None,
        *,
        candidates: int = 50,
        k0: int = 60,
    ) -> DataFrame:
        """Hybrid keyword+vector retrieval (engine-added; the reference
        is vector-only): BM25 over the question's terms and cosine over
        its embedding each produce a ``candidates``-bounded rank list,
        fused with reciprocal-rank fusion. Rank windows only ever see
        the bounded shortlists, so the plan holds at any index size."""
        from ..operators.text_search import bm25_scores, rank_by, rrf_fuse

        base = self.index.read()
        if form_titles:
            base = base.filter(F.col("title").isin(list(form_titles)))
        terms = [t for t in question.lower().split() if t]
        if self.text_index is not None:
            # index-served lexical ranker: postings pruned to the query
            # terms' buckets (the persisted-index sibling of the
            # in-plan scorer; scores are the same Okapi form). Title
            # filtering is the reference's ``$in`` predicate
            # (QA_using_pinecone.py:41), applied inside the index read
            # with per-title stats, so filtered scores match the
            # in-plan ranker on the same subset.
            bm_scored = self.text_index.bm25(
                terms,
                titles=list(form_titles) if form_titles else None,
                on_stale=self.ann_policy,
            )
        else:
            bm_scored = bm25_scores(base, terms, id_col="id", text_col="text")
        bm = rank_by(
            bm_scored.orderBy(F.desc("score"), F.asc("id")).limit(candidates),
            [F.desc("score"), F.asc("id")],
        ).select("id", "rank")
        vec = rank_by(
            self.search(question, form_titles, k=candidates),
            [F.desc("score"), F.asc("id")],
        ).select("id", "rank")
        fused = (
            rrf_fuse(bm, vec, id_col="id", k0=k0)
            .orderBy(F.desc("rrf"), F.asc("id"))
            .limit(self.top_k)
        )
        return fused.join(
            base.select("id", "title", "text"), "id", "left"
        ).select(
            "id", "title", "text", F.col("rrf").alias("score")
        ).orderBy(F.desc("score"), F.asc("id"))

    def search_hybrid_batch(
        self,
        questions: DataFrame,
        *,
        q_col: str = "question",
        candidates: int = 50,
        k0: int = 60,
        max_queries: int = 10_000,
    ) -> DataFrame:
        """Hybrid retrieval for MANY questions over the batch serving
        paths: ONE postings scan (``bm25_batch``) + ONE probed-cell
        codes scan (``search_batch``), fused per question with
        reciprocal-rank fusion — per-question results equal a loop of
        :meth:`search_hybrid` exactly (pytest-pinned). Requires both
        ``text_index`` and ``ann_index`` (the batch paths ARE those
        indexes; the in-plan scorers have no batch form). Returns
        ``(qid, question, id, title, text, score)``, ``top_k`` rows
        per question."""
        from pyspark.sql.window import Window

        if self.text_index is None or self.ann_index is None:
            raise ValueError(
                "search_hybrid_batch needs both text_index and ann_index"
            )
        spark = questions.sparkSession
        rows = questions.select(q_col).limit(max_queries + 1).collect()
        if len(rows) > max_queries:
            raise ValueError(f"batch exceeds max_queries={max_queries}")
        qs = [r[q_col] for r in rows]
        qdf_terms = spark.createDataFrame(
            [(i, [t for t in q.lower().split() if t]) for i, q in enumerate(qs)],
            "qid long, terms array<string>",
        )
        # float64 end-to-end: the single-query path scores against the
        # full-precision embedding; a float32 qvec could flip near-tie
        # ranks and break the batch==loop contract by construction
        qdf_vecs = spark.createDataFrame(
            [(i, [float(v) for v in self.embedder.embed_one(q)]) for i, q in enumerate(qs)],
            "qid long, qvec array<double>",
        )
        wq = Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
        bm = (
            self.text_index.bm25_batch(qdf_terms, on_stale=self.ann_policy)
            .withColumn("rank", F.row_number().over(wq))
            .filter(F.col("rank") <= candidates)
            .select("qid", "id", "rank")
        )
        vec = (
            self.ann_index.search_batch(
                qdf_vecs,
                candidates,
                nprobe=self.ann_nprobe,
                rerank=True,
                on_stale=self.ann_policy,
            )
            .withColumn("rank", F.row_number().over(wq))
            .select("qid", "id", "rank")
        )
        # reuse the single-path fusion (one RRF implementation): fuse
        # on a packed (qid, id) struct key, then unpack
        from ..operators.text_search import rrf_fuse

        key = F.struct("qid", "id").alias("__key")
        fused = rrf_fuse(
            bm.select(key, "rank"),
            vec.select(key, "rank"),
            id_col="__key",
            k0=k0,
        ).select(
            F.col("__key.qid").alias("qid"),
            F.col("__key.id").alias("id"),
            "rrf",
        )
        wf = Window.partitionBy("qid").orderBy(F.desc("rrf"), F.asc("id"))
        top = (
            fused.withColumn("__rn", F.row_number().over(wf))
            .filter(F.col("__rn") <= self.top_k)
            .drop("__rn")
        )
        qnames = spark.createDataFrame(
            list(enumerate(qs)), f"qid long, {q_col} string"
        )
        base = self.index.read().select("id", "title", "text")
        return (
            top.join(F.broadcast(qnames), "qid")
            .join(base, "id", "left")
            .select(
                "qid", q_col, "id", "title", "text", F.col("rrf").alias("score")
            )
            .orderBy("qid", F.desc("score"), F.asc("id"))
        )

    def ask_batch(self, questions: DataFrame, *, q_col: str = "question") -> DataFrame:
        """M3's batch variant (SURVEY §2.8): answer MANY questions in one
        job — embed all questions (Arrow batches), broadcast k-NN join
        against the index, per-question ordered context assembly, and a
        mapInPandas answer stage. Output: (qid, question, answer).
        """
        from pyspark.sql.window import Window

        from ..functions.embedding import embed_column
        from ..operators.topk import knn_join

        answer_fn = self.answer_fn
        q = embed_column(
            questions.select(
                F.monotonically_increasing_id().alias("qid"), F.col(q_col)
            ),
            q_col,
            self.embedder,
            out_col="qvec",
        ).select("qid", q_col, F.col("qvec").alias("embedding"))
        if self.ann_index is not None:
            # accelerated batch path: ONE scan of the union of all
            # questions' probed cells (ivfpq_topk_batch), exact
            # pinned-snapshot re-rank — per-question jobs would rescan
            # the codes table per query
            hits = self.ann_index.search_batch(
                q.select("qid", F.col("embedding").alias("qvec")),
                self.top_k,
                nprobe=self.ann_nprobe,
                rerank=True,
                on_stale=self.ann_policy,
            )
        else:
            hits = knn_join(
                q.select("qid", "embedding"),
                self.index.read(),
                self.top_k,
                q_id_col="qid",
                i_vec_col="vector",
                tiebreak=("id",),
            )
        ctx = (
            hits.withColumn(
                "__rn",
                F.row_number().over(
                    Window.partitionBy("qid").orderBy(F.desc("score"), F.asc("id"))
                ),
            )
            .groupBy("qid")
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("__rn", "text"))),
                        lambda x: x["text"],
                    ),
                    "\n",
                ).alias("context")
            )
        )
        joined = q.select("qid", q_col).join(ctx, "qid", "left").select(
            "qid",
            q_col,
            F.format_string(
                "%s \n\n Question: %s", F.coalesce("context", F.lit("")), F.col(q_col)
            ).alias("prompt"),
        )

        def _answer(batches):
            import pandas as pd

            for pdf in batches:
                pdf = pdf.copy()
                pdf["answer"] = [answer_fn(p) for p in pdf["prompt"]]
                yield pdf[["qid", q_col, "answer"]]

        return joined.mapInPandas(
            _answer, schema=f"qid long, {q_col} string, answer string"
        )

    def ask(self, question: str, form_titles: Sequence[str] | None = None) -> dict:
        """One /askQuestion round trip: ONE Spark action — a bounded
        collect of :meth:`search`'s ≤k rows, ranked on the driver by
        (score desc, id asc), the order :meth:`ask_batch` uses — then
        the prompt from those rows and ``answer_fn``. Nothing is cached,
        so nothing needs unpersisting when ``answer_fn`` raises.

        The collect still reads pinned snapshots, so the leases stay:

        - a derived :meth:`~..operators.index_sync._SyncedIndexBase.
          reader_lease` keeps a refresh+vacuum landing between meta
          resolution and the collect from reclaiming the meta/segments
          this request resolved; under ``ann_policy='refresh'`` the
          catch-up runs BEFORE the lease so the pinned meta is the one
          served;
        - a primary ``reader_lease`` keeps a primary vacuum from
          reclaiming the generations the pinned exact re-rank reads.

        Residual (documented, bounded by the stores' min-age
        retention): a commit landing between the refresh and the
        leases, and — under ``ann_policy='serve'`` — the pinned primary
        version being the head rather than the older indexed snapshot
        the re-rank reads. Callers that keep the :meth:`search`
        DataFrame beyond one call should take the leases themselves."""
        import contextlib

        with contextlib.ExitStack() as stack:
            for derived in (self.ann_index, self.text_index):
                if derived is None:
                    continue
                if self.ann_policy == "refresh" and derived.is_stale():
                    # catch up BEFORE pinning, so the lease pins the
                    # meta search() will actually serve
                    derived.refresh()
                stack.enter_context(derived.reader_lease())
            if self.ann_index is not None or self.text_index is not None:
                # primary lease whenever ANY derived index is in play:
                # both the exact re-rank and the bm25 text join read
                # primary generations
                stack.enter_context(self.index.reader_lease())
            rows = (
                self.search(question, form_titles)
                .select("id", "title", "text", "score")
                .collect()  # ≤ top_k rows: the search's limit bounds it
            )
        rows.sort(key=lambda r: (-r["score"], r["id"]))
        prompt = assemble_context([r["text"] for r in rows], question)
        answer = self.answer_fn(prompt)
        return {
            "question": question,
            "answer": answer,
            "matches": [(r["id"], r["title"], round(r["score"], 6)) for r in rows],
        }
