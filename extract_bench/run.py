#!/usr/bin/env python3
"""Closed-loop benchmark of the extraction engine, one workload per run.

    python3 extract_bench/run.py --workload bulk_extract --seed 1 --seconds 10 --trace 0
    python3 extract_bench/run.py --all --seconds 10        # every workload, one table

One driver process runs Spark at ``local[<cpus>]`` and issues ops back to
back (a batch caller waits for each commit).  A run pays set-up once, then
measures for ``--seconds``; every op's output is checked.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  A traced run alternates untraced and traced ops;
per-layer numbers come from the traced ones, and the difference of the two
op medians is the tracing overhead.  The full record of a run (samples,
spans with their Spark executions, host stamp) goes to
``.bench_out/<workload>-<seed>-trace<n>.json`` under the checkout.

Everything the run writes stays inside the checkout (``.bench_work``,
``.bench_out``).  Run it from a checkout of the repository; it exits non-zero
when the ``docling_service_spark`` package is not there.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "docs_per_s": "1/s",
    "worker_rss_peak_mb": "MB",
}

LEAF_KEYS = ["q42", "q43", "q46", "q61", "q62", "q63", "q64", "q01", "q09", "q20"]

PER_LAYER = {
    "engine.extract.us_per_doc": "us",
    "batch.py_run_s": "s",
    "batch.py_init_s": "s",
    "batch.py_start_s": "s",
    "batch.bytes_to_py_mb": "MB",
    "batch.bytes_from_py_mb": "MB",
    "batch.engine_share": "ratio",
    "pipeline.tasks": "count",
    "pipeline.task_skew": "ratio",
    "pipeline.scan_s": "s",
    "pipeline.scan_mb": "MB",
    "checkpoint.extract_and_write_s": "s",
    "checkpoint.summarize_s": "s",
    "checkpoint.commit_s": "s",
    "checkpoint.lineage_s": "s",
    "checkpoint.written_mb": "MB",
    "checkpoint.shuffle_write_mb": "MB",
    "checkpoint.rows_written_per_changed_doc": "ratio",
    "checkpoint.live_run_dirs": "count",
    "checkpoint.lookup_p50_s": "s",
    "checkpoint.lookup_files_read": "count",
    "checkpoint.write_self_s": "s",
    "checkpoint.lookup_self_s": "s",
    **{f"queries.{k}.{m}": u for k in LEAF_KEYS
       for m, u in (("wall_s", "s"), ("py_run_s", "s"), ("shuffle_mb", "MB"))},
    "queries.self_s": "s",
    "training.funnel_s": "s",
    "training.self_s": "s",
    "spark.executions_per_op": "count",
    "spark.driver_s": "s",
    "trace.overhead_s": "s",
}

SETUP_REPEATS = 3
INSERT_NODE = "Execute InsertIntoHadoopFsRelationCommand"


def _median(xs, default=0.0):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else default


def _prepare_env(work: str) -> None:
    """Keep every file Spark and Python write inside the checkout."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    import tempfile

    tempfile.tempdir = None


def _start_spark(work: str, cpus: int, jvm_options=()):
    from docling_service_spark.sparkio.session import get_spark

    spark = get_spark(
        f"local[{cpus}]", app_name="extract-bench", shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": " ".join(
                [*jvm_options, f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]),
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def engine_us_per_doc(docs: list[dict], reps: int = 3) -> float:
    """Driver-side, single-thread ``extract_document`` time per doc."""
    from docling_service_spark.engine.extract import extract_document

    per_rep = []
    for _ in range(reps):
        t0 = time.perf_counter()
        for d in docs:
            try:
                extract_document(d["doc_id"], d["spans"])
            except Exception:  # malformed docs fail by design; timed all the same
                pass
        per_rep.append((time.perf_counter() - t0) / len(docs))
    return statistics.median(per_rep) * 1e6


def op_layers(rec, op_id: int, res) -> dict:
    """Per-layer numbers of one traced op from its spans and executions."""
    from extract_bench.spans import node_metric, python_nodes, union_length

    spans = [s for s in rec.spans if s.op_id == op_id]
    op_span = next(s for s in spans if s.name == "op")
    execs = rec.executions_under(op_span)
    py = python_nodes(execs)

    def py_sum(metric, nodes=py):
        return sum(n["metrics"].get(metric, {}).get("total", 0.0) for n in nodes)

    v = {
        "batch.py_run_s": py_sum("time to run Python workers"),
        "batch.py_init_s": py_sum("time to initialize Python workers"),
        "batch.py_start_s": py_sum("time to start Python workers"),
        "batch.bytes_to_py_mb": py_sum("data sent to Python workers"),
        "batch.bytes_from_py_mb": py_sum("data returned from Python workers"),
        "pipeline.scan_s": node_metric(execs, lambda n: n["name"].startswith("Scan"), "scan time"),
        "pipeline.scan_mb": node_metric(execs, lambda n: n["name"].startswith("Scan"),
                                        "size of files read"),
        "spark.executions_per_op": float(len(execs)),
        "spark.driver_s": op_span.wall - union_length(
            [(x["start"], x["end"]) for x in execs], op_span.start, op_span.end),
    }
    if py:
        main = max(py, key=lambda n: n["metrics"]["time to run Python workers"].get("total", 0))
        run = main["metrics"]["time to run Python workers"]
        v["pipeline.task_skew"] = run["max"] / run["med"] if run.get("med") else 1.0
        stage = run.get("stage")
        tracker = rec.spark.sparkContext.statusTracker()
        info = tracker.getStageInfo(stage) if stage is not None else None
        v["pipeline.tasks"] = float(info.numTasks) if info is not None else 1.0

    timings = res.summary.get("timings_ms") or {}
    for key in ("extract_and_write", "summarize", "commit", "lineage"):
        if f"{key}_ms" in timings:
            v[f"checkpoint.{key}_s"] = timings[f"{key}_ms"] / 1000.0
    if "live_run_dirs" in res.summary:
        v["checkpoint.live_run_dirs"] = float(res.summary["live_run_dirs"])
    ck = [s for s in spans if s.name.startswith("checkpoint.run_")]
    if ck:
        ck_execs = [x for s in ck for x in rec.executions_under(s)]
        v["checkpoint.write_self_s"] = sum(rec.self_time(s) for s in ck)
        v["checkpoint.written_mb"] = node_metric(
            ck_execs, lambda n: n["name"] == INSERT_NODE, "written output")
        v["checkpoint.shuffle_write_mb"] = node_metric(
            ck_execs, lambda n: n["name"].startswith("Exchange"), "shuffle bytes written")
        rows = node_metric(ck_execs, lambda n: n["name"] == INSERT_NODE, "number of output rows")
        changed = res.summary.get("docs_changed", res.summary.get("docs"))
        if changed:
            v["checkpoint.rows_written_per_changed_doc"] = rows / changed
    looks = [s for s in spans if s.name == "checkpoint.read_docs"]
    if looks:
        v["checkpoint.lookup_files_read"] = _median(
            node_metric(s.executions, lambda n: n["name"].startswith("Scan"),
                        "number of files read") for s in looks)
        v["checkpoint.lookup_self_s"] = _median(rec.self_time(s) for s in looks)
    leaves = [s for s in spans if s.name.startswith("queries.")]
    for s in leaves:
        key = s.name.split(".", 1)[1]
        ex = rec.executions_under(s)
        v[f"queries.{key}.wall_s"] = s.wall
        v[f"queries.{key}.py_run_s"] = py_sum("time to run Python workers", python_nodes(ex))
        v[f"queries.{key}.shuffle_mb"] = node_metric(
            ex, lambda n: n["name"].startswith("Exchange"), "shuffle bytes written")
    if leaves:
        v["queries.self_s"] = sum(rec.self_time(s) for s in leaves)
    for s in spans:
        if s.name.startswith("training."):
            v["training.funnel_s"] = s.wall
            v["training.self_s"] = rec.self_time(s)
    return v


def measure(wl, rec, seconds: float) -> list:
    """Ops back to back until ``seconds`` have passed; with a recorder,
    every second op is traced.  Returns ``[(traced, OpResult)]``."""
    from extract_bench.workloads import OpResult

    results = []
    t_end = time.perf_counter() + seconds
    i = 0
    while True:
        traced = rec is not None and i % 2 == 1
        try:
            res = wl.check(wl.op(i, rec if traced else None))
        except Exception as exc:  # a failed op is counted, the run goes on
            traceback.print_exc(file=sys.stderr)
            res = OpResult(float("nan"), 0, ok=False, detail=repr(exc))
        if not res.ok:
            print(f"op {i} FAILED: {res.detail}", file=sys.stderr)
        results.append((traced, res))
        i += 1
        if time.perf_counter() >= t_end and (rec is None or i >= 2):
            return results


def op_counts(results) -> tuple[int, int]:
    """(attempted, failed): an op fails when it raises or a check fails."""
    return len(results), sum(1 for _, r in results if not r.ok)


def op_median(ops) -> float:
    """Median op wall.  An op made of named steps (a ``corpus_queries``
    pass) is the sum of each step's median wall, so one slow step in one
    pass does not move the whole pass."""
    if ops and ops[0].leaf_walls:
        return sum(statistics.median(r.leaf_walls[k] for r in ops) for k in ops[0].leaf_walls)
    return _median([r.wall_s for r in ops], float("nan"))


def end_to_end_metrics(results, setup_s: float, rss_peak_mb: float, rss_samples: int):
    plain = [r for t, r in results if not t and r.wall_s == r.wall_s]
    op_s = op_median(plain)
    metrics = {
        "setup_s": setup_s,
        "op_p50_s": op_s,
        "docs_per_s": plain[0].docs / op_s if plain else float("nan"),
        "worker_rss_peak_mb": rss_peak_mb,
    }
    samples = {"setup_s": SETUP_REPEATS, "op_p50_s": len(plain), "docs_per_s": len(plain),
               "worker_rss_peak_mb": rss_samples}
    return metrics, samples


def per_layer_metrics(wl, rec, results):
    """Medians over the traced ops of each per-layer number; a layer the
    workload never calls reads 0."""
    traced = [(i, r) for i, (t, r) in enumerate(results) if t and r.ok]
    untraced = [r.wall_s for t, r in results if not t and r.ok]
    per_op = [op_layers(rec, i, r) for i, r in traced]
    metrics = {k: _median([v.get(k) for v in per_op]) for k in PER_LAYER}
    us_per_doc = engine_us_per_doc(wl.sample_docs(40))
    metrics["engine.extract.us_per_doc"] = us_per_doc
    py_run = metrics["batch.py_run_s"]
    extracted = _median([r.summary.get("docs_changed", r.summary.get("docs", 0))
                         for _, r in traced])
    metrics["batch.engine_share"] = (us_per_doc * 1e-6 * extracted / py_run
                                     if py_run and extracted else 0.0)
    metrics["trace.overhead_s"] = _median([r.wall_s for _, r in traced]) - _median(untraced)
    samples = {k: len(per_op) for k in PER_LAYER}
    # Lookup latency from the untraced ops, so tracing does not inflate it.
    lookups = [x for t, r in results if not t for x in r.lookups_s]
    metrics["checkpoint.lookup_p50_s"] = _median(lookups)
    samples["checkpoint.lookup_p50_s"] = len(lookups)
    return metrics, samples


def run_one(args) -> int:
    name = args.workload
    work = os.path.join(ROOT, ".bench_work", f"{name}-{args.seed}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".bench_out")
    os.makedirs(out_dir, exist_ok=True)
    _prepare_env(work)
    from pyspark import SparkContext

    from extract_bench import procmon
    from extract_bench.spans import SpanRecorder
    from extract_bench.workloads import SIZES, WORKLOADS

    cpus = len(os.sched_getaffinity(0))
    host = procmon.HostStamp()
    t0 = time.perf_counter()
    spark = _start_spark(work, cpus, WORKLOADS[name].jvm_options)
    session_s = time.perf_counter() - t0
    sampler = procmon.WorkerRssSampler(SparkContext._gateway.proc.pid)
    try:
        with sampler:
            wl = WORKLOADS[name](spark, work, args.seed, dict(SIZES[name]))
            build_s = []
            for _ in range(SETUP_REPEATS):
                t0 = time.perf_counter()
                wl.build_inputs()
                build_s.append(time.perf_counter() - t0)
            wl.prepare()
            t0 = time.perf_counter()
            wl.warm_up()
            warm_s = time.perf_counter() - t0
            setup_s = session_s + statistics.median(build_s) + warm_s

            rec = SpanRecorder(spark) if args.trace else None
            results = measure(wl, rec, args.seconds)
            if rec is not None:
                rec.attach_executions()
                metrics, samples = per_layer_metrics(wl, rec, results)
                units = PER_LAYER
                rec.dump(os.path.join(out_dir, f"{name}-{args.seed}-spans.json"))
        if rec is None:  # the sampler thread has been joined
            metrics, samples = end_to_end_metrics(results, setup_s, sampler.peak_mb,
                                                  sampler.samples)
            units = END_TO_END
    finally:
        _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    attempted, failed = op_counts(results)
    detail = {
        "workload": name, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "cpus": cpus, "host": host.finish(), "sizes": SIZES[name],
        "setup": {"session_s": session_s, "build_inputs_s": build_s, "warm_up_s": warm_s},
        "ops": [{"traced": t, "wall_s": r.wall_s, "docs": r.docs, "ok": r.ok,
                 "detail": r.detail, "lookups_s": r.lookups_s, "leaf_walls": r.leaf_walls}
                for t, r in results],
        "failed_op_frac": failed / attempted,
        "metrics": {k: {"value": metrics[k], "unit": units[k], "samples": samples[k]}
                    for k in units},
    }
    lookups = [x for t, r in results if not t for x in r.lookups_s]
    if len(lookups) >= 2:
        detail["lookup_s"] = {"p50": statistics.median(lookups), "n": len(lookups),
                              "p90": statistics.quantiles(lookups, n=10)[-1]}
    with open(os.path.join(out_dir, f"{name}-{args.seed}-trace{args.trace}.json"), "w") as f:
        json.dump(detail, f, indent=1, default=str)

    for k in units:
        print(f"{name:15s} {k:42s} {metrics[k]:14.6g} {units[k]:6s} n={samples[k]}")
    print(f"{name:15s} failed_op_frac {failed}/{attempted} = {failed / attempted:.3f}; "
          f"host {detail['host']}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))
    return 0


def run_all(args) -> int:
    """Every workload in its own process; prints the end-to-end table."""
    from extract_bench.workloads import WORKLOADS  # noqa: F401  (fails early without the package)

    rows = []
    for name in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
               "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"{name}: exit {proc.returncode}")
            rows.append((name, None))
            continue
        rows.append((name, json.loads(lines[-1])))
        print("\n".join(lines[:-1]), flush=True)
    ok = all(r is not None and r["correct"] for _, r in rows)
    print(json.dumps({n: r for n, r in rows}))
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true", help="run every workload in turn")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "docling_service_spark")):
        print(f"no docling_service_spark package under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.all:
        return run_all(args)
    from extract_bench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)} (or pass --all)")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
