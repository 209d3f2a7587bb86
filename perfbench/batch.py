"""``batch``: the offline jobs. Curation passes and the streaming
corpus drains, alternating.

Set-up writes a seeded corpus with planted exact and near duplicates
and a seeded streaming table dir whose ``events`` and ``embeddings``
are split into several landed part files, then runs one warm-up pass.
The measured loop is closed, with one client: each cycle runs a
``curate_documents`` pass (building the plan, then materializing kept
and culled), the seven streaming ``CORPUS`` entries, each drained with
AvailableNow into its memory sink and collected, and a second pass.
``release_caches()`` runs after every op, outside the timed region.

The drains read ``FILES_PER_TRIGGER`` part files per micro-batch, so
each one runs several data micro-batches and carries its state (and
its watermark) from one to the next, as a stream of landed files does.
"""

from __future__ import annotations

import contextlib
import gc
import statistics
import time

from perfbench import checks, data

DRAINS = (
    "stream_hourly_counts",
    "stream_dedup_counts",
    "stream_sessions",
    "stream_sessions_native",
    "stream_static_join",
    "stream_stream_join",
    "stream_index_ingest",
)
#: part files one drain micro-batch reads (``maxFilesPerTrigger``)
FILES_PER_TRIGGER = 1
SIZES = {
    "full": {"docs": 2000, "planted": 40, "events": 30_000, "users": 1000, "customers": 10_000, "vectors": 1000, "files": 3},
    "tiny": {"docs": 300, "planted": 5, "events": 3000, "users": 100, "customers": 200, "vectors": 100, "files": 2},
}


def run(ctx) -> dict:
    import duckdb

    from assignment3_qachatapplication_vectorembeddings_spark.plans import curation
    from assignment3_qachatapplication_vectorembeddings_spark.plans.corpus import CORPUS
    from assignment3_qachatapplication_vectorembeddings_spark.runtime import release_caches

    size = SIZES[ctx.scale]
    spark, tracer, work = ctx.spark, ctx.tracer, ctx.work
    t_setup = time.perf_counter()

    corpus, planted = data.curation_corpus(ctx.seed, size["docs"], size["planted"], size["planted"])
    docs_path = f"{work}/curate.parquet"
    data.write_documents_parquet(docs_path, corpus)
    input_ids = [r["doc_id"] for r in corpus]
    sdir = f"{work}/stream"
    counts = data.streaming_dir(
        ctx.seed,
        sdir,
        n_events=size["events"],
        n_users=size["users"],
        n_customers=size["customers"],
        n_vectors=size["vectors"],
        n_files=size["files"],
    )
    drain_rows = {name: counts["events"] for name in DRAINS}
    drain_rows["stream_index_ingest"] = counts["embeddings"]

    problems: list[str] = []
    ops: list[dict] = []
    oracle: dict[str, tuple] = {}

    def curate(op_id: str, measured: bool) -> None:
        rec = {"id": op_id, "kind": "pass", "measured": measured, "failed": False, "docs": len(input_ids)}
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            with tracer.op(op_id, "op.pass"):
                with tracer.span("curation.build"):
                    kept, culled = curation.curate_documents(spark.read.parquet(docs_path))
                with tracer.span("curation.exec"):
                    kept_ids = [r[0] for r in kept.select("doc_id").collect()]
                    culled_rows = culled.collect()
            rec.update(wall=time.perf_counter() - t0, end=time.time())
            bad = checks.curation_problems(
                input_ids, kept_ids, {r["doc_id"]: r["reason"] for r in culled_rows}, planted
            )
        except Exception:
            rec.update(wall=time.perf_counter() - t0, end=time.time())
            bad = [checks.failure()]
        if bad:
            rec["failed"] = True
            problems.extend(f"{op_id}: {p}" for p in bad)
        ops.append(rec)
        release_caches()
        gc.collect()

    def drain(op_id: str, name: str, measured: bool) -> None:
        rec = {"id": op_id, "kind": "drain", "name": name, "measured": measured, "failed": False}
        rec["rows"] = drain_rows[name]
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            with tracer.op(op_id, "op.drain"), files_per_trigger(FILES_PER_TRIGGER):
                with tracer.span("streaming.drain." + name):
                    df = CORPUS[name].fn(spark, sdir)
                    cols, rows = df.columns, df.collect()
            rec.update(wall=time.perf_counter() - t0, end=time.time())
            if name not in oracle:
                oracle[name] = _oracle(duckdb, sdir, CORPUS[name].oracle)
            bad = checks.rows_problems(cols, rows, *oracle[name])
        except Exception:
            rec.update(wall=time.perf_counter() - t0, end=time.time())
            bad = [checks.failure()]
        if bad:
            rec["failed"] = True
            problems.extend(f"{op_id}: {p}" for p in bad)
        ops.append(rec)
        release_caches()
        gc.collect()

    # warm-up: the cold first pass is 3-4x a warm one. It also warms the
    # JVM for the drains, whose first run after it measured within noise
    # of their second, so they get no warm-up of their own
    curate("warm-pass", False)
    setup_s = time.perf_counter() - t_setup

    measured_s, cycle = 0.0, 0
    while measured_s < ctx.seconds or not cycle:
        before = len(ops)
        curate(f"pass-{cycle}a", True)
        for name in DRAINS:
            drain(f"drain-{cycle}-{name}", name, True)
        curate(f"pass-{cycle}b", True)
        measured_s += sum(o["wall"] for o in ops[before:])
        cycle += 1

    m_ops = [o for o in ops if o["measured"]]
    passes = [o["wall"] for o in m_ops if o["kind"] == "pass" and not o["failed"]]
    drains = [o for o in m_ops if o["kind"] == "drain" and not o["failed"]]
    sets = [
        sum(o["wall"] for o in m_ops if o["kind"] == "drain" and o["id"].startswith(f"drain-{c}-"))
        for c in range(cycle)
        if all(not o["failed"] for o in m_ops if o["id"].startswith(f"drain-{c}-"))
    ]
    n_docs = len(input_ids)
    metrics = {
        "op_items_per_s": n_docs * len(passes) / sum(passes) if passes else 0.0,
        "stream_p50_s": statistics.median(sets) if sets else 0.0,
    }
    named = {
        "curate_docs_per_s": {"value": metrics["op_items_per_s"], "unit": "docs/s", "samples": len(passes)},
        "drain_events_per_s": {
            "value": sum(o["rows"] for o in drains) / sum(o["wall"] for o in drains) if drains else 0.0,
            "unit": "rows/s",
            "samples": len(drains),
        },
        "drain_wall_s": {
            name: statistics.median(o["wall"] for o in drains if o["name"] == name)
            for name in DRAINS
            if any(o["name"] == name for o in drains)
        },
    }
    return {
        "setup_s": setup_s,
        "ops": ops,
        "problems": problems,
        "metrics": metrics,
        "named": named,
        "samples": {"curate_pass": ("s", passes)},
    }


@contextlib.contextmanager
def files_per_trigger(n: int):
    """Cap every file stream opened inside at ``n`` files per
    micro-batch. The ``CORPUS`` entries open their streams themselves,
    through ``spark.readStream...parquet``, and take no option for it."""
    from pyspark.sql.streaming.readwriter import DataStreamReader

    orig = DataStreamReader.parquet

    def capped(self, *args, **kwargs):
        return orig(self.option("maxFilesPerTrigger", n), *args, **kwargs)

    DataStreamReader.parquet = capped
    try:
        yield
    finally:
        DataStreamReader.parquet = orig


def _oracle(duckdb, sdir: str, sql: str) -> tuple[list, list]:
    """The entry's DuckDB oracle over the same landed files."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{sdir}/events.parquet/*.parquet'")
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{sdir}/embeddings.parquet/*.parquet'")
        con.execute(f"CREATE VIEW customer AS SELECT * FROM '{sdir}/customer.parquet'")
        tbl = con.execute(sql).arrow()
    finally:
        con.close()
    cols = list(tbl.column_names)
    return cols, list(zip(*[c.to_pylist() for c in tbl.columns])) if tbl.num_rows else []
