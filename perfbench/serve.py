"""``serve``: the online services. Chat users ask questions while new
documents land and are made searchable.

Set-up registers one user and bulk-loads the seeded corpus through the
streaming path: the whole corpus lands as one JSON-lines file, and its
micro-batch upserts it into the ``VectorIndex`` and bootstraps the
``SyncedIvfpqIndex`` and ``SyncedTextIndex`` over it. One warm-up ask
follows. The measured loop is closed, with one client. Each cycle:

- lands one seeded file and drains it with ``run_streaming_index_upsert``
  (AvailableNow, both synced indexes refreshed), then probes freshness
  with a title-filtered ANN search under ``on_stale="error"``;
- runs index maintenance: ``delete_by_form``, refresh, ``maybe_compact``
  and vacuum;
- asks a few questions through ``QAChatApp.ask_question`` against
  ``QAPipeline(ann_index=…, ann_policy="serve", text_index=…)``, reading
  the chat history back with ``chat_answers`` every few asks.
"""

from __future__ import annotations

import os
import random
import statistics
import time

import numpy as np

from perfbench import checks, data

SIZES = {
    "full": {"docs": 2000, "titles": 20, "round_docs": 100, "asks_per_round": 8},
    "tiny": {"docs": 300, "titles": 4, "round_docs": 12, "asks_per_round": 2},
}
TOP_K = 2
CHAT_EVERY = 4  # one chat_answers read per this many asks
PROBE_K = 3
#: IVF cells probed per ask. The hashing embedder's vectors are close to
#: uniform, so coarse cells carry little signal: at 8 of 16 cells recall@2
#: measured 0.85, below the 0.9 bar; probing every cell and re-ranking
#: exactly measured 1.0 (the remedy index_sync.tune() documents)
NPROBE = 16


def _du_mb(*paths: str) -> float:
    total = 0
    for root in paths:
        for d, _, files in os.walk(root):
            total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / 2**20


def run(ctx) -> dict:
    from assignment3_qachatapplication_vectorembeddings_spark.functions.embedding import HashingEmbedder
    from assignment3_qachatapplication_vectorembeddings_spark.operators.index_sync import (
        SyncedIvfpqIndex,
        SyncedTextIndex,
    )
    from assignment3_qachatapplication_vectorembeddings_spark.plans.app import QAChatApp
    from assignment3_qachatapplication_vectorembeddings_spark.plans.qa import QAPipeline
    from assignment3_qachatapplication_vectorembeddings_spark.streaming.ingest import run_streaming_index_upsert

    size = SIZES[ctx.scale]
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    rng = random.Random(ctx.seed)
    t_setup = time.perf_counter()

    docs = data.documents(ctx.seed, size["docs"], size["titles"])
    vocab = data.vocabulary(random.Random(ctx.seed))
    titles = sorted({d["title"] for d in docs})
    emb = HashingEmbedder(dim=64)
    app = QAChatApp(spark, work, embedder=emb, top_k=TOP_K)
    ann = SyncedIvfpqIndex(app.index, f"{work}/ann", nlist=16, m=8, nbits=8)
    tix = SyncedTextIndex(app.index, f"{work}/tix", buckets=32)
    app.qa = QAPipeline(
        app.index, embedder=emb, top_k=TOP_K, ann_index=ann, ann_policy="serve", ann_nprobe=NPROBE, text_index=tix
    )
    landing, ckpt = f"{work}/landing", f"{work}/ckpt"
    os.makedirs(landing)
    deliveries: list[list[dict]] = []
    deletes: list[tuple[int, str]] = []
    round_titles: list[str] = []  # titles new since the bulk load
    problems: list[str] = []
    ops: list[dict] = []
    acked: list[tuple[int, int]] = []  # (op index, chat id)
    recall = [0, 0]
    pending: list[tuple] = []  # asks awaiting the recall check

    def question():
        d = docs[rng.randrange(len(docs))]
        words = d["text"].split()
        start = rng.randrange(max(1, len(words) - 10))
        others = [t for t in titles if t != d["title"]]
        return " ".join(words[start : start + rng.randint(6, 10)]), sorted([d["title"], rng.choice(others)])

    def ask(op_id: str, measured: bool) -> None:
        q, ts = question()
        rec = {"id": op_id, "kind": "ask", "measured": measured, "failed": False}
        t0 = time.perf_counter()
        rec["start"] = time.time()
        try:
            with tracer.op(op_id, "op.ask"):
                res = app.ask_question(token, q, ts)
        except Exception:  # a failed op is counted, not a crash
            rec.update(wall=time.perf_counter() - t0, end=time.time(), failed=True)
            problems.append(f"{op_id}: {checks.failure()}")
            ops.append(rec)
            return
        rec.update(wall=time.perf_counter() - t0, end=time.time())
        ops.append(rec)
        acked.append((len(ops) - 1, res["chat_id"]))
        bad = checks.ask_problems(res["matches"], ts)
        if ann.is_stale():  # every ask must run after a synced refresh
            bad.append("ANN index stale at ask time")
        if bad:
            rec["failed"] = True
            problems.extend(f"{op_id}: {p}" for p in bad)
        pending.append((rec, emb.embed_one(q), ts, res["matches"]))

    def check_recall() -> None:
        """Recall@k of the asks since the last call, against an exact
        top-k computed here (numpy, float64) over one read of the
        snapshot they were served from; no write but chat inserts ran
        since, so that snapshot is the head."""
        rows = app.index.read().select("id", "title", "vector").collect()
        ids = [r["id"] for r in rows]
        row_of = {i: n for n, i in enumerate(ids)}
        row_titles = np.array([r["title"] for r in rows])
        vecs = np.array([r["vector"] for r in rows], dtype=np.float64)
        vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
        for rec, qvec, ts, matches in pending:
            scores = vecs @ (np.asarray(qvec) / np.linalg.norm(qvec))
            scores[~np.isin(row_titles, ts)] = -np.inf
            top = np.argsort(-scores, kind="stable")[:TOP_K]
            exact = [(ids[i], float(scores[i])) for i in top if np.isfinite(scores[i])]
            # served ids scored here, not as the program reports them
            own = {m[0]: float(scores[row_of[m[0]]]) for m in matches if m[0] in row_of}
            hits, wanted = checks.recall_hits(matches, own, exact, TOP_K)
            recall[0] += hits
            recall[1] += wanted
            rec["recall_miss"] = hits < wanted
        pending.clear()

    def chat(op_id: str, measured: bool) -> None:
        rec = {"id": op_id, "kind": "chat", "measured": measured, "failed": False, "start": time.time()}
        t0 = time.perf_counter()
        try:
            with tracer.op(op_id, "op.chat"):
                app.chat_answers(token)
        except Exception:
            rec["failed"] = True
            problems.append(f"{op_id}: {checks.failure()}")
        rec.update(wall=time.perf_counter() - t0, end=time.time())
        ops.append(rec)

    def ingest(op_id: str, rnd: int, measured: bool, records: list[dict] | None = None) -> None:
        if records is None:
            records = data.ingest_round(rng, vocab, rnd, titles + round_titles, size["round_docs"])
        probe_doc = records[rng.randrange(len(records))]
        rec = {"id": op_id, "kind": "round", "measured": measured, "failed": False, "docs": len(records)}
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            with tracer.op(op_id, "op.round"):
                data.write_jsonl(f"{landing}/part-{rnd:05d}.jsonl", records)
                t_landed = time.perf_counter()
                deliveries.append(records)
                q = run_streaming_index_upsert(
                    spark, landing, app.index.path, ckpt, embedder=emb, synced_indexes=[ann, tix]
                )
                q.awaitTermination()
                t_drained = time.perf_counter()
                rows = (
                    ann.search(
                        emb.embed_one(probe_doc["text"]),
                        PROBE_K,
                        rerank=True,
                        titles=[probe_doc["FormName"]],
                        on_stale="error",
                    )
                    .select("id", "title")
                    .collect()
                )
            rec.update(
                wall=t_drained - t0,
                freshness=time.perf_counter() - t_landed,
                end=time.time(),
            )
            bad = checks.probe_problems([tuple(r) for r in rows], probe_doc["FormName"])
        except Exception:
            rec.update(wall=time.perf_counter() - t0, end=time.time())
            bad = [checks.failure()]
        for r in records:
            if r["FormName"] not in round_titles and r["FormName"] not in titles:
                round_titles.append(r["FormName"])
        if bad:
            rec["failed"] = True
            problems.extend(f"{op_id}: {p}" for p in bad)
        ops.append(rec)

    def maintain(op_id: str, rnd: int, measured: bool) -> None:
        victim = rng.choice(round_titles)
        rec = {"id": op_id, "kind": "maint", "measured": measured, "failed": False, "start": time.time()}
        t0 = time.perf_counter()
        try:
            with tracer.op(op_id, "op.maint"):
                app.index.delete_by_form([victim])
                deletes.append((rnd, victim))
                ann.refresh()
                tix.refresh()
                ann.maybe_compact()
                tix.maybe_compact()
                ann.vacuum(keep_versions=2, min_age_sec=0)
                tix.vacuum(keep_versions=2, min_age_sec=0)
                app.index.vacuum(keep_versions=2, min_age_sec=0)
        except Exception:
            rec["failed"] = True
            problems.append(f"{op_id}: {checks.failure()}")
        rec.update(wall=time.perf_counter() - t0, end=time.time())
        ops.append(rec)

    # bulk load: the whole corpus lands as one file; the first non-empty
    # micro-batch upserts it and bootstraps both synced indexes (their
    # refresh() of an unbuilt index builds it). Then one warm-up ask: the
    # first is several times slower than warm ones
    ingest("bulk-load", 0, False, [{"FormName": d["title"], "text": d["text"]} for d in docs])
    app.register("bench@example.com", "bench!pass1")
    token = app.login("bench@example.com", "bench!pass1")
    # the second round is still ~15% slower than later ones
    ingest("warm-round", 1, False)
    ask("warm-ask", False)
    check_recall()
    setup_s = time.perf_counter() - t_setup

    # round numbers index ``deliveries``: 0 is the bulk load, 1 the warm-up
    measured_s, rnd, n_asks = 0.0, 2, 0
    while measured_s < ctx.seconds or rnd == 2:
        before = len(ops)
        ingest(f"round-{rnd}", rnd, True)
        maintain(f"maint-{rnd}", rnd, True)
        for _ in range(size["asks_per_round"]):
            ask(f"ask-{n_asks}", True)
            n_asks += 1
            if n_asks % CHAT_EVERY == 0:
                chat(f"chat-{n_asks}", True)
        measured_s += sum(o["wall"] for o in ops[before:])
        check_recall()
        rnd += 1

    if tracer.enabled:
        # one full compaction of each synced index, after the measured
        # loop: one cycle never crosses maybe_compact()'s thresholds, so
        # without it index_sync.compact_s would have no call to time
        with tracer.op("compact", "op.compact"):
            ann.compact()
            tix.compact()

    # -- checks outside the timed region ---------------------------------
    returned = [c["chat_id"] for c in app.chat_answers(token)]
    missing = set(checks.missing_chats([c for _, c in acked], returned))
    for i, c in acked:
        if c in missing:
            ops[i]["failed"] = True
            problems.append(f"{ops[i]['id']}: chat {c} acknowledged but not returned")
    if recall[1] and recall[0] / recall[1] < checks.MIN_RECALL:
        problems.append(f"recall@{TOP_K} {recall[0] / recall[1]:.3f} < {checks.MIN_RECALL}")
        for o in ops:
            if o.get("recall_miss"):
                o["failed"] = True
    actual = {(r["id"], r["title"]) for r in app.index.read().select("id", "title").collect()}
    expected = checks.expected_index(deliveries, deletes)
    bad = checks.index_problems(actual, expected)
    if bad:
        last_round = max(i for i, o in enumerate(ops) if o["kind"] == "round")
        ops[last_round]["failed"] = True
        problems.extend(f"final index: {p}" for p in bad)

    app.index.vacuum(keep_versions=1, min_age_sec=0)
    ann.vacuum(keep_versions=1, min_age_sec=0)
    tix.vacuum(keep_versions=1, min_age_sec=0)
    disk_mb = _du_mb(app.index.path, f"{work}/ann", f"{work}/tix")

    m_ops = [o for o in ops if o["measured"]]
    asks = [o["wall"] for o in m_ops if o["kind"] == "ask" and not o["failed"]]
    rounds = [o for o in m_ops if o["kind"] == "round" and not o["failed"]]
    metrics = {
        "op_items_per_s": len(asks) / sum(asks) if asks else 0.0,
        "stream_p50_s": statistics.median(o["freshness"] for o in rounds) if rounds else 0.0,
    }
    named = {
        "asks_per_s": {"value": metrics["op_items_per_s"], "unit": "1/s"},
        "ingest_docs_per_s": {
            "value": sum(o["docs"] for o in rounds) / sum(o["wall"] for o in rounds) if rounds else 0.0,
            "unit": "docs/s",
        },
        "freshness_p50_s": {"value": metrics["stream_p50_s"], "unit": "s", "samples": len(rounds)},
        "index_disk_mb": {"value": disk_mb, "unit": "MB"},
        "recall_at_k": {"value": recall[0] / recall[1] if recall[1] else None, "unit": "ratio"},
    }
    return {
        "setup_s": setup_s,
        "ops": ops,
        "problems": problems,
        "metrics": metrics,
        "named": named,
        "samples": {"ask": ("s", asks)},
    }
