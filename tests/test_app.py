"""Serving facade + CLI: the reference's endpoint flows end-to-end."""

from __future__ import annotations

import json
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from assignment3_qachatapplication_vectorembeddings_spark.cli import main as cli_main
from assignment3_qachatapplication_vectorembeddings_spark.functions.embedding import (
    HashingEmbedder,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.index_maintenance import (
    VectorIndex,
)
from assignment3_qachatapplication_vectorembeddings_spark.plans.app import QAChatApp
from assignment3_qachatapplication_vectorembeddings_spark.plans.pipeline2 import (
    upsert_from_chunks,
)
from assignment3_qachatapplication_vectorembeddings_spark.plans.qa import QAPipeline


@pytest.fixture(scope="module")
def app(spark, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("app"))
    app = QAChatApp(spark, base, secret="test-secret", embedder=HashingEmbedder(dim=4))
    chunks = spark.createDataFrame(
        [
            ("the quarterly revenue grew strongly", "alpha", [1.0, 0.0, 0.0, 0.0]),
            ("supply chain risks remain elevated", "alpha", [0.0, 1.0, 0.0, 0.0]),
            ("cash flow doubled year over year", "beta", [0.0, 0.0, 1.0, 0.0]),
        ],
        "text string, title string, vector array<float>",
    ).withColumn("chunk_pos", F.lit(0))
    upsert_from_chunks(app.index, chunks.select("text", "title", "vector", "chunk_pos"))
    return app


def test_register_login_ask_history_flow(app):
    app.register("user@test.com", "S3cret!pw")
    with pytest.raises(ValueError, match="already registered"):
        app.register("user@test.com", "Other!5")  # J5 duplicate gate
    assert app.login("user@test.com", "wrong") is None
    token = app.login("user@test.com", "S3cret!pw")
    assert token

    out = app.ask_question(token, "how is revenue?", form_titles=["alpha"])
    assert out["system_answer"]
    assert all(m[1] == "alpha" for m in out["matches"])

    history = app.chat_answers(token)
    assert len(history) == 1
    assert history[0]["user_question"] == "how is revenue?"

    with pytest.raises(PermissionError):
        app.ask_question("garbage-token", "q")  # 401 analog


def test_pinecone_forms_catalog(app):
    assert app.pinecone_forms() == ["alpha", "beta"]


def test_show_reference_projection(app):
    """/showReference (main.py:78-85): P4 projection of the Reference
    table — exact column set, insertion order by id, token-gated."""
    app.register("refs@test.com", "S3cret!pw")
    token = app.login("refs@test.com", "S3cret!pw")

    assert app.show_reference(token) == []  # empty table, not an error
    id1 = app.add_reference("alpha form")
    id2 = app.add_reference("beta form")
    assert (id1, id2) == (1, 2)

    refs = app.show_reference(token)
    assert [r["form_title"] for r in refs] == ["alpha form", "beta form"]
    assert all(set(r) == {"id", "form_title", "created_datetime"} for r in refs)
    assert all(r["created_datetime"] is not None for r in refs)

    with pytest.raises(PermissionError):
        app.show_reference("garbage-token")


def test_cli_pipeline1_pipeline2_ask(spark, tmp_path, capsys):
    docs = tmp_path / "docs"
    docs.mkdir()
    (docs / "report.pdf").write_text("alpha beta gamma\ndelta epsilon zeta\n")
    out_chunks = str(tmp_path / "chunks")
    rc = cli_main(
        [
            "pipeline1",
            "--links",
            f"file://{docs}/report.pdf",
            "--out",
            out_chunks,
            "--token-limit",
            "4",
        ]
    )
    assert rc == 0
    run_info = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert run_info["out"] == out_chunks

    idx = str(tmp_path / "idx")
    rc = cli_main(["pipeline2", "--index", idx, "upsert", out_chunks])
    assert rc == 0
    stats = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert stats["total_vector_count"] > 0

    rc = cli_main(["ask", "--index", idx, "--question", "what about alpha?"])
    assert rc == 0
    ans = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert ans["matches"]


def test_batch_qa_matches_single_question_path(spark, app, tmp_path):
    questions = spark.createDataFrame(
        [("how is revenue?",), ("what about cash flow?",)], "question string"
    )
    out = app.qa.ask_batch(questions).collect()
    assert len(out) == 2
    by_q = {r["question"]: r["answer"] for r in out}
    # batch answers equal the one-at-a-time path (same context assembly)
    for q in by_q:
        single = app.qa.ask(q)
        assert by_q[q] == single["answer"]

    # tied scores: two chunks with the same vector score equal for every
    # question. Both paths rank ties by id ascending, so the prompts
    # (answer_fn echoes them) are identical, whatever the insert order.
    tie = VectorIndex(spark, str(tmp_path / "tie"))
    tie.upsert(
        spark.createDataFrame(
            [
                ("tie_b", [0.5, 0.5, 0.5, 0.5], "gamma", "second by id"),
                ("tie_a", [0.5, 0.5, 0.5, 0.5], "gamma", "first by id"),
            ],
            "id string, vector array<float>, title string, text string",
        )
    )
    qa = QAPipeline(tie, embedder=app.qa.embedder, answer_fn=lambda p: p)
    q = "how is revenue?"
    single = qa.ask(q)
    (batch,) = qa.ask_batch(
        spark.createDataFrame([(q,)], "question string")
    ).collect()
    assert single["answer"] == batch["answer"]
    assert single["answer"] == f"first by id\nsecond by id \n\n Question: {q}"
    assert [m[0] for m in single["matches"]] == ["tie_a", "tie_b"]


def _job_ids(spark, group: str, fn) -> list:
    """Spark job ids launched by ``fn()`` (job group + statusTracker)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


@pytest.fixture()
def synced_app(spark, tmp_path):
    """The served shape: a primary with synced IVFPQ and BM25 indexes,
    a registered user's token, and one warm-up ask behind it."""
    from assignment3_qachatapplication_vectorembeddings_spark.operators.index_sync import (
        SyncedIvfpqIndex,
        SyncedTextIndex,
    )

    emb = HashingEmbedder(dim=16)
    base = str(tmp_path)
    app = QAChatApp(spark, base, secret="test-secret", embedder=emb)
    texts = [
        (f"{form}_{i}", form, f"{form} chunk {i} about {topic}")
        for form, topic in [
            ("formA", "spark windows"),
            ("formB", "join strategies"),
            ("formC", "vector search"),
        ]
        for i in range(8)
    ]
    app.index.upsert(
        spark.createDataFrame(
            [(i, emb.embed_one(text), form, text) for i, form, text in texts],
            "id string, vector array<float>, title string, text string",
        )
    )
    ann = SyncedIvfpqIndex(app.index, f"{base}/ann", nlist=4, m=4, nbits=4)
    ann.build()
    tix = SyncedTextIndex(app.index, f"{base}/tix", buckets=8)
    tix.build()
    app.qa = QAPipeline(
        app.index,
        embedder=emb,
        ann_index=ann,
        ann_policy="serve",
        ann_nprobe=4,
        text_index=tix,
    )
    app.register("jobs@test.com", "S3cret!pw")
    token = app.login("jobs@test.com", "S3cret!pw")
    app.ask_question(token, "spark windows", ["formA", "formB"])
    return app, token


def test_ask_question_runs_at_most_six_spark_jobs(spark, synced_app):
    """One warm /askQuestion over synced IVFPQ+BM25 indexes: token user
    lookup (1 job), ONE bounded match collect (the search plan's own
    stages) and the chat insert (top-1 id + one-file append) — at most
    6 Spark jobs in all. A second action on the matches, a cached
    frame, a per-read schema inference or an aggregate id allocation
    each push it over."""
    app, token = synced_app
    out = {}

    def ask():
        out.update(app.ask_question(token, "join strategies", ["formB", "formC"]))

    ids = _job_ids(spark, "one-ask", ask)
    assert len(ids) <= 6, ids
    assert out["matches"] and {m[1] for m in out["matches"]} <= {"formB", "formC"}
    assert out["matches"][0][0].startswith("formB_")


def test_add_chat_appends_one_parquet_file(synced_app):
    app, _token = synced_app
    chats = Path(app.auth.chats_path)

    def n_files():
        return len(list(chats.glob("*.parquet")))

    before = n_files()
    app.auth.add_chat(1, "q", "a")
    assert n_files() == before + 1
