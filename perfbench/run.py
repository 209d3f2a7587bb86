#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last line.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the
per-layer ones (spans, streaming progress and Spark event-log
counters). ``--workload all`` runs every workload untraced and then
traced, in fresh processes, and prints the named metrics of each plus
the tracing overhead. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
from pathlib import Path
from types import SimpleNamespace

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
REPO = HERE.parent
PACKAGE = "assignment3_qachatapplication_vectorembeddings_spark"
WORKLOADS = ("serve", "batch")
OUT_DIR = REPO / ".perfbench_out"
TMP_ROOT = REPO / ".perfbench_tmp"

E2E_UNITS = {
    "setup_s": "s",
    "op_items_per_s": "1/s",
    "stream_p50_s": "s",
    "trigger_p50_ms": "ms",
}

#: per-layer time metric -> span name (median per call)
SPAN_METRICS = {
    "auth.current_user_s": "auth.current_user",
    "auth.add_chat_s": "auth.add_chat",
    "app.chat_answers_s": "app.chat_answers",
    "qa.ask_s": "qa.ask",
    "qa.search_s": "qa.search",
    "qa.assemble_context_s": "qa.assemble_context",
    "index_sync.ann_search_s": "index_sync.ann_search",
    "index_sync.ann_refresh_s": "index_sync.ann_refresh",
    "index_sync.text_refresh_s": "index_sync.text_refresh",
    "index_sync.ann_build_s": "index_sync.ann_build",
    "index_sync.text_build_s": "index_sync.text_build",
    "index_sync.compact_s": "index_sync.compact",
    "index_sync.vacuum_s": "index_sync.vacuum",
    "index_maintenance.upsert_s": "index_maintenance.upsert",
    "index_maintenance.delete_by_form_s": "index_maintenance.delete_by_form",
    "index_maintenance.vacuum_s": "index_maintenance.vacuum",
    "curation.build_s": "curation.build",
    "curation.exec_s": "curation.exec",
    "dedup.minhash_lsh_pairs_s": "dedup.minhash_lsh_pairs",
    "dedup.connected_components_s": "dedup.connected_components",
}
LAYER_UNITS = {
    **{k: "s" for k in SPAN_METRICS},
    "index_maintenance.reader_lease_s": "s",
    "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms",
    "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms",
    "streaming.triggers": "count",
    "streaming.outside_trigger_s": "s",
    "streaming.state_rows": "count",
    "streaming.state_memory_bytes": "bytes",
    "session.start_s": "s",
    "engine.jobs": "count",
    "engine.stages": "count",
    "engine.tasks": "count",
    "engine.shuffle_write_bytes": "bytes",
    "engine.spill_bytes": "bytes",
    "engine.output_bytes": "bytes",
    "engine.task_cpu_s": "s",
    "engine.gc_s": "s",
}


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def install_spans(tracer) -> None:
    """Wrap the program's public entry points for the traced run."""
    from assignment3_qachatapplication_vectorembeddings_spark.operators import index_maintenance, index_sync
    from assignment3_qachatapplication_vectorembeddings_spark.operators.auth import AuthStore
    from assignment3_qachatapplication_vectorembeddings_spark.plans import app, curation, qa

    def owner(cls, attr):
        return next(c for c in cls.__mro__ if attr in c.__dict__)

    ivf, txt, vix = index_sync.SyncedIvfpqIndex, index_sync.SyncedTextIndex, index_maintenance.VectorIndex
    for cls, attr, name in (
        (AuthStore, "current_user", "auth.current_user"),
        (AuthStore, "add_chat", "auth.add_chat"),
        (app.QAChatApp, "chat_answers", "app.chat_answers"),
        (qa.QAPipeline, "ask", "qa.ask"),
        (qa.QAPipeline, "search", "qa.search"),
        (ivf, "search", "index_sync.ann_search"),
        (ivf, "refresh", "index_sync.ann_refresh"),
        (txt, "refresh", "index_sync.text_refresh"),
        (ivf, "build", "index_sync.ann_build"),
        (txt, "build", "index_sync.text_build"),
        (ivf, "compact", "index_sync.compact"),
        (txt, "compact", "index_sync.compact"),
        (ivf, "vacuum", "index_sync.vacuum"),
        (vix, "upsert", "index_maintenance.upsert"),
        (vix, "delete_by_form", "index_maintenance.delete_by_form"),
        (vix, "vacuum", "index_maintenance.vacuum"),
    ):
        tracer.wrap(owner(cls, attr), attr, name)
    tracer.wrap_context(owner(vix, "reader_lease"), "reader_lease", "index_maintenance.reader_lease")
    # resolved from the module namespace at call time
    tracer.wrap(qa, "assemble_context", "qa.assemble_context")
    tracer.wrap(curation, "minhash_lsh_pairs", "dedup.minhash_lsh_pairs")
    tracer.wrap(curation, "connected_components", "dedup.connected_components")


def layer_metrics(result, tracer, progress, session_s, counters) -> dict:
    measured = [o for o in result["ops"] if o["measured"]]
    mids = {o["id"] for o in measured}
    out = {}
    for metric, span in SPAN_METRICS.items():
        # builds only happen in set-up and compaction after the loop:
        # fall back to every span
        d = tracer.durations(span, mids) or tracer.durations(span)
        out[metric] = _median(d)
    acq = tracer.durations("index_maintenance.reader_lease.acquire", mids)
    rel = tracer.durations("index_maintenance.reader_lease.release", mids)
    out["index_maintenance.reader_lease_s"] = _median(acq) + _median(rel)

    stream_ops = [o for o in measured if o["kind"] in ("round", "drain")]
    per_op = [(o, progress.within(o["start"], o["end"])) for o in stream_ops]
    events = [e for _, evs in per_op for e in evs]
    for metric, key in (
        ("streaming.add_batch_ms", "addBatch"),
        ("streaming.query_planning_ms", "queryPlanning"),
        ("streaming.wal_commit_ms", "walCommit"),
        ("streaming.commit_offsets_ms", "commitOffsets"),
    ):
        out[metric] = _median(e["duration_ms"].get(key, 0) for e in events)
    out["streaming.triggers"] = _median(len(evs) for _, evs in per_op)
    out["streaming.outside_trigger_s"] = _median(
        o["wall"] - sum(e["duration_ms"].get("triggerExecution", 0) for e in evs) / 1000.0 for o, evs in per_op
    )
    out["streaming.state_rows"] = _median(max((e["state_rows"] for e in evs), default=0) for _, evs in per_op)
    out["streaming.state_memory_bytes"] = _median(
        max((e["state_memory_bytes"] for e in evs), default=0) for _, evs in per_op
    )
    out["session.start_s"] = session_s
    per = counters["per_op"]
    for k in ("jobs", "stages", "tasks"):
        out[f"engine.{k}"] = _median(per[o["id"]][k] for o in measured)
    for k, v in counters["totals"].items():
        out[f"engine.{k}"] = v / max(1, len(measured))
    return out


def run_all(args) -> int:
    """Each workload untraced then traced, each in a fresh process."""
    rows = {}
    for wl in WORKLOADS:
        for trace in (0, 1):
            cmd = [sys.executable, str(HERE / "run.py"), "--workload", wl, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(trace), "--scale", args.scale]
            proc = subprocess.run(cmd, capture_output=True, text=True, cwd=REPO)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-4000:])
                return proc.returncode
            rows[(wl, trace)] = json.loads(proc.stdout.strip().splitlines()[-1])
    for wl in WORKLOADS:
        art = json.loads((OUT_DIR / f"{wl}-seed{args.seed}-trace1.json").read_text())
        print(json.dumps({"workload": wl, "named": art["named"], "tracing_overhead": art.get("tracing_overhead"),
                          "untraced": rows[(wl, 0)], "self_times_s": art.get("self_times_s")}))
    ok = all(r["correct"] for r in rows.values())
    print(json.dumps({"correct": ok, "attempted": sum(r["attempted"] for r in rows.values()),
                      "failed": sum(r["failed"] for r in rows.values()),
                      "metrics": {f"{wl}.{k}": v for (wl, t), r in rows.items() if t == 0
                                  for k, v in r["metrics"].items()}}))
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full")
    args = ap.parse_args()

    # the script's own directory would shadow stdlib and package names
    if sys.path and Path(sys.path[0]).resolve() == HERE:
        sys.path[0] = str(REPO)
    if not (REPO / PACKAGE).is_dir():
        print(f"program package {PACKAGE}/ not found next to perfbench/", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    # the corpus bench's machine-speed unit: a fixed single-thread DuckDB
    # workload, so numbers taken hours apart can be normalized by it
    from bench import _speed_canary

    from perfbench import host

    ncpu = host.nproc()
    stamp = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "scale": args.scale,
        "nproc": ncpu,
        "loadavg_start": host.loadavg(),
        "cpu_steal_start_s": host.cpu_steal_s(),
        "speed_canary_start_s": _speed_canary(),
        **host.code_version(REPO, PACKAGE),
    }

    # hermetic run: everything the run writes lives under one temp root
    # inside the checkout, removed at exit; Spark's Python workers find
    # the program through PYTHONPATH wherever the run was launched
    TMP_ROOT.mkdir(exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=TMP_ROOT)
    for sub in ("work", "local", "jtmp", "py", "eventlog"):
        os.makedirs(f"{tmp}/{sub}")
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (str(REPO), os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = f"{tmp}/py"
    os.environ["SPARK_LOCAL_DIRS"] = f"{tmp}/local"
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    tempfile.tempdir = f"{tmp}/py"
    sys.path[:0] = [str(REPO)]
    spark = None
    try:
        from assignment3_qachatapplication_vectorembeddings_spark.session import get_spark

        from perfbench import spans as tracing

        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": f"{tmp}/local",
            "spark.sql.warehouse.dir": f"{tmp}/warehouse",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}/jtmp",
            "spark.executorEnv.PYTHONPATH": str(REPO),
        }
        if args.trace:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": f"{tmp}/eventlog",
                    "spark.eventLog.compress": "false",
                    "spark.eventLog.rolling.enabled": "false",
                }
            )
        t0 = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}", master=f"local[{ncpu}]", extra_conf=conf)
        session_s = time.perf_counter() - t0
        spark.sparkContext.setLogLevel("ERROR")
        progress = tracing.ProgressLog()
        spark.streams.addListener(progress)
        tracer = tracing.Tracer(enabled=bool(args.trace))
        if args.trace:
            install_spans(tracer)

        module = importlib.import_module(f"perfbench.{args.workload}")
        ctx = SimpleNamespace(
            spark=spark, tracer=tracer, progress=progress, work=f"{tmp}/work",
            seed=args.seed, seconds=args.seconds, scale=args.scale,
        )
        try:
            result = module.run(ctx)
        finally:
            tracer.restore()
        progress.settle()
        rss = host.peak_rss_mb(host.jvm_pid(spark))
        _stop(spark)
        spark = None

        ops = result["ops"]
        measured = [o for o in ops if o["measured"]]
        failed = sum(o["failed"] for o in measured)
        correct = not result["problems"]
        triggers = [
            e["duration_ms"].get("triggerExecution", 0)
            for o in measured
            if o["kind"] in ("round", "drain") and not o["failed"]
            for e in progress.within(o["start"], o["end"])
        ]
        e2e = {
            "setup_s": session_s + result["setup_s"],
            "peak_rss_mb": rss,
            **result["metrics"],
            "trigger_p50_ms": _median(triggers),
        }
        for name, (unit, xs) in {**result.get("samples", {}), "trigger": ("ms", triggers)}.items():
            result["named"].update(_percentiles(name, unit, xs))
        artifact = {
            "host": {**stamp, "loadavg_end": host.loadavg(), "speed_canary_end_s": _speed_canary(),
                     "cpu_steal_s": host.cpu_steal_s() - stamp["cpu_steal_start_s"],
                     "run_wall_s": time.perf_counter() - T_START},
            "correct": correct,
            "attempted": len(measured),
            "failed": failed,
            "problems": result["problems"][:50],
            "e2e": e2e,
            "named": {**result["named"], "setup_s": {"value": e2e["setup_s"], "unit": "s"},
                      "peak_rss_mb": {"value": rss, "unit": "MB"}},
            "ops": [{k: v for k, v in o.items() if k != "recall_miss"} for o in ops],
        }
        if args.trace:
            windows = [(o["id"], o["start"], o["end"]) for o in measured]
            counters = tracing.event_log_counters(f"{tmp}/eventlog", windows)
            layers = layer_metrics(result, tracer, progress, session_s, counters)
            mids = {o["id"] for o in measured}
            artifact.update(
                layers=layers,
                self_times_s=tracer.self_times(mids),
                add_chat_trend_s=_halves(tracer.durations("auth.add_chat", mids)),
                spans=tracer.spans,
                streaming_progress=progress.events,
            )
            base = OUT_DIR / f"{args.workload}-seed{args.seed}-trace0.json"
            if base.exists():
                untraced = json.loads(base.read_text())["e2e"]
                artifact["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e if k in untraced}
            metrics = {k: {"value": layers[k], "unit": u} for k, u in LAYER_UNITS.items()}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in E2E_UNITS.items()}
        OUT_DIR.mkdir(exist_ok=True)
        path = OUT_DIR / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
        path.write_text(json.dumps(artifact, default=str))
        print(json.dumps({"named": artifact["named"], "host": artifact["host"], "artifact": str(path.relative_to(REPO))}))
        for p in result["problems"][:20]:
            print("FAILED CHECK:", p)
        print(json.dumps({"correct": correct, "attempted": len(measured), "failed": failed, "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def _stop(spark) -> None:
    """Stop the session, then end the driver JVM and wait for it: the JVM
    exits when its stdin closes, and takes Spark's Python workers along."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)


def _percentiles(name: str, unit: str, xs: list[float]) -> dict:
    """``<name>_p50_<unit>`` and ``<name>_p90_<unit>`` with the sample count
    (a p90 needs 100 samples to leave 10 beyond it)."""
    p90 = statistics.quantiles(xs, n=10)[-1] if len(xs) >= 2 else _median(xs)
    return {
        f"{name}_p50_{unit}": {"value": _median(xs), "unit": unit, "samples": len(xs)},
        f"{name}_p90_{unit}": {"value": p90, "unit": unit, "samples": len(xs)},
    }


def _halves(xs: list[float]) -> dict:
    """Median of the first and second half of a series: its trend."""
    h = len(xs) // 2
    return {"first_half": _median(xs[:h]), "second_half": _median(xs[h:]), "n": len(xs)}


if __name__ == "__main__":
    sys.exit(main())
