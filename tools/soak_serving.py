"""Round-8 serving soak (VERDICT r7 ask #6): a sustained single-process
loop over ``QAChatApp.ask_question`` / ``chat_answers`` with periodic
index maintenance (refresh / compact / vacuum / writer churn), tracking
driver RSS and Spark block-manager entries over time.

The leak claims (bm25 parse-cache memo bound; ``ask()`` caches nothing
— one bounded collect per ask; leases released on every path) were
proven per-call by pytest — this tool proves them OVER TIME:
after a warm-up, both RSS and the persistent-RDD count must PLATEAU.
A per-ask leak of even one cached plan or block shows up as a monotonic
ramp across hundreds of asks and fails the embedded assertions.

Prints one JSON object (loadavg embedded); paste the row into
BASELINE.md. Non-zero exit if a plateau assertion fails.

Usage: python tools/soak_serving.py [seconds] [sf_dir]
       (defaults: 600 s, /root/testdata/sf0.1)
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
import time
from pathlib import Path

_REPO = str(Path(__file__).resolve().parent.parent)
if _REPO not in sys.path:
    sys.path.insert(0, _REPO)

from pyspark.sql import functions as F  # noqa: E402

from assignment3_qachatapplication_vectorembeddings_spark.functions.embedding import (  # noqa: E402
    HashingEmbedder,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.index_sync import (  # noqa: E402
    SyncedIvfpqIndex,
    SyncedTextIndex,
)
from assignment3_qachatapplication_vectorembeddings_spark.plans.app import QAChatApp  # noqa: E402
from assignment3_qachatapplication_vectorembeddings_spark.plans.qa import QAPipeline  # noqa: E402
from assignment3_qachatapplication_vectorembeddings_spark.session import get_spark  # noqa: E402

DIM = 64


def rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmRSS:"):
                return round(int(line.split()[1]) / 1024, 1)
    return -1.0


def main() -> int:
    run_sec = float(sys.argv[1]) if len(sys.argv) > 1 else 600.0
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    out: dict = {
        "run_sec": run_sec,
        "sf_dir": sf_dir,
        "loadavg_start": round(os.getloadavg()[0], 2),
    }
    spark = get_spark("soak-serving")
    spark.sparkContext.setLogLevel("ERROR")
    work = tempfile.mkdtemp(prefix="soak_serving_")
    emb = HashingEmbedder(dim=DIM)

    app = QAChatApp(spark, work, embedder=emb)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = docs.select(
        F.col("doc_id").cast("string").alias("id"),
        emb.udf()(F.col("text")).alias("vector"),
        F.col("source").alias("title"),
        "text",
    )
    app.index.upsert(rows)
    titles = sorted(
        r["title"] for r in rows.select("title").distinct().collect()
    )
    out["n_docs"] = app.index.stats()["total_vector_count"]
    out["n_titles"] = len(titles)

    # the production serving shape: synced ANN + BM25 behind the app's
    # QA pipeline (leases + pinned re-rank on every ask)
    ann = SyncedIvfpqIndex(app.index, f"{work}/ann", nlist=16, m=8, nbits=8)
    ann.build()
    tix = SyncedTextIndex(app.index, f"{work}/tix", buckets=32)
    tix.build()
    app.qa = QAPipeline(
        app.index, embedder=emb, ann_index=ann, ann_policy="serve",
        ann_nprobe=8, text_index=tix,
    )

    app.register("soak@example.com", "hunter2!soak")
    token = app.login("soak@example.com", "hunter2!soak")
    assert token

    sc = spark.sparkContext
    jsc = sc._jsc.sc()

    def n_persistent() -> int:
        return jsc.getPersistentRDDs().size()

    # warm one ask before the clock starts (first-call JIT/registration)
    app.ask_question(token, "warm up question", [titles[0]])

    samples: list[dict] = []
    asks = maint = churns = 0
    t0 = time.time()
    last_maint = last_churn = t0
    deadline = t0 + run_sec
    while time.time() < deadline:
        q = f"what does document {asks % 50} say about spark"
        ts = [titles[asks % len(titles)], titles[(asks * 7 + 3) % len(titles)]]
        app.ask_question(token, q, ts)
        asks += 1
        if asks % 20 == 0:
            app.chat_answers(token)
        now = time.time()
        if now - last_churn > 20.0:
            # writer churn into ONE title: the refresh that follows
            # must stay O(churn) and the asks must stay correct
            churn = rows.filter(F.col("title") == titles[0]).limit(50)
            app.index.upsert(churn)
            churns += 1
            last_churn = now
        if now - last_maint > 45.0:
            ann.refresh()
            tix.refresh()
            if maint % 2 == 1:
                ann.compact()
                tix.compact()
            ann.vacuum(keep_versions=2, min_age_sec=30)
            tix.vacuum(keep_versions=2, min_age_sec=30)
            app.index.vacuum(keep_versions=2, min_age_sec=30)
            maint += 1
            last_maint = now
        if asks % 10 == 0:
            samples.append(
                {
                    "t": round(now - t0, 1),
                    "rss_mb": rss_mb(),
                    "blocks": n_persistent(),
                    "asks": asks,
                }
            )

    out["asks"] = asks
    out["maintenance_rounds"] = maint
    out["churn_upserts"] = churns
    out["asks_per_sec"] = round(asks / (time.time() - t0), 2)
    out["samples"] = samples[:: max(1, len(samples) // 20)]  # bounded echo

    # plateau assertions: mean RSS over the last quarter vs the second
    # quarter (both past warm-up) must be within 10%; the block-manager
    # must not accumulate entries (an ask persists nothing)
    q2 = [s["rss_mb"] for s in samples[len(samples) // 4 : len(samples) // 2]]
    q4 = [s["rss_mb"] for s in samples[3 * len(samples) // 4 :]]
    rss_q2 = sum(q2) / max(len(q2), 1)
    rss_q4 = sum(q4) / max(len(q4), 1)
    out["rss_mb_q2_mean"] = round(rss_q2, 1)
    out["rss_mb_q4_mean"] = round(rss_q4, 1)
    out["rss_growth_pct"] = round(100.0 * (rss_q4 - rss_q2) / rss_q2, 2)
    out["blocks_max"] = max(s["blocks"] for s in samples)
    out["blocks_end"] = samples[-1]["blocks"]
    out["loadavg_end"] = round(os.getloadavg()[0], 2)

    ok = True
    if out["rss_growth_pct"] > 10.0:
        out["FAIL"] = f"driver RSS ramped {out['rss_growth_pct']}% q2→q4"
        ok = False
    if out["blocks_end"] > 2:
        out["FAIL"] = (
            f"{out['blocks_end']} persistent blocks at end — "
            "an ask leaked a persisted frame"
        )
        ok = False
    print(json.dumps(out))
    import shutil

    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
