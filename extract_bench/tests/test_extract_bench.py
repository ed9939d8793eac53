"""Tests of the benchmark itself, at a tiny size (about two minutes).

    python -m pytest extract_bench/tests -q
"""

from __future__ import annotations

import json
import math
import os

import pyarrow.parquet as pq
import pytest

from extract_bench import inputs, run
from extract_bench.spans import SpanRecorder, parse_metric, union_length
from extract_bench.workloads import LEAVES, BulkExtract, CorpusQueries, MergeSync, leaf_key

TINY = {
    "bulk_extract": {"docs": 60},
    "merge_sync": {"docs": 80, "changed": 4, "new": 2},
    "corpus_queries": {"documents": 40, "vectors": 60, "lineitem": 400, "train_docs": 20},
}


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("spark"))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (run.ROOT, os.environ.get("PYTHONPATH")) if p)
    for d in ("local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    s = run._start_spark(work, 2)
    yield s
    s.stop()


def _ready(cls, spark, tmp_path, seed=3):
    wl = cls(spark, str(tmp_path), seed, dict(TINY[cls.name]))
    wl.build_inputs()
    wl.prepare()
    wl.warm_up()
    return wl


def test_metric_names_and_units_match_benchmark_json():
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER
    assert [leaf_key(leaf) for leaf in LEAVES] == run.LEAF_KEYS


def test_same_seed_gives_same_inputs(tmp_path):
    kw = {"n_docs": 30, "n_vecs": 40, "n_lineitem": 200}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        inputs.write_query_tables(str(tmp_path / name), seed, **kw)
    for table in ("documents", "embeddings", "lineitem", "supplier"):
        a, b, c = (pq.read_table(tmp_path / n / f"{table}.parquet") for n in "abc")
        assert a.equals(b), table
        assert not a.equals(c), table
    assert inputs.merge_batch(5, 100, 1, 3, 2) == inputs.merge_batch(5, 100, 1, 3, 2)
    assert inputs.merge_batch(5, 100, 1, 3, 2) != inputs.merge_batch(6, 100, 1, 3, 2)
    assert inputs.sample_indices(5, 100, 4) == inputs.sample_indices(5, 100, 4)


def test_same_seed_gives_same_corpus(spark, tmp_path):
    def rows(path, seed):
        inputs.write_corpus(spark, path, 25, seed)
        return sorted((r["doc_id"], json.dumps(r["spans"])) for r in
                      spark.read.parquet(path).selectExpr("doc_id", "to_json(spans) AS spans")
                      .collect())

    first = rows(str(tmp_path / "a"), 9)
    assert first == rows(str(tmp_path / "b"), 9)
    assert first != rows(str(tmp_path / "c"), 10)


def test_parse_metric_forms():
    per_task = parse_metric("total (min, med, max (stageId: taskId))\n"
                            "13.0 s (3.1 s, 3.2 s, 3.4 s (stage 1.0: task 3))")
    assert per_task == {"total": 13.0, "min": 3.1, "med": 3.2, "max": 3.4, "stage": 1}
    assert parse_metric("12.0 MiB")["total"] == pytest.approx(12 * 1024 ** 2 / 1e6)
    assert parse_metric("2,000") == {"total": 2000.0}
    assert parse_metric("55 ms") == {"total": 0.055}
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4


def test_bulk_extract_metrics_and_corrupt_digest(spark, tmp_path):
    wl = _ready(BulkExtract, spark, tmp_path)
    results = run.measure(wl, None, 0)
    assert run.op_counts(results) == (1, 0)
    metrics, samples = run.end_to_end_metrics(results, 1.0, 100.0, 3)
    assert set(metrics) == set(run.END_TO_END) == set(samples)
    assert all(math.isfinite(v) and v > 0 for v in metrics.values())

    wl.expected_digest = (wl.expected_digest[0], "0")
    results = run.measure(wl, None, 0)
    attempted, failed = run.op_counts(results)
    assert attempted >= 1 and failed == attempted


def test_traced_merge_emits_every_per_layer_metric(spark, tmp_path):
    wl = _ready(MergeSync, spark, tmp_path)
    rec = SpanRecorder(spark)
    results = run.measure(wl, rec, 0)
    assert run.op_counts(results) == (2, 0)
    rec.attach_executions()
    metrics, samples = run.per_layer_metrics(wl, rec, results)
    assert set(metrics) == set(run.PER_LAYER) == set(samples)
    for k in ("batch.py_run_s", "checkpoint.extract_and_write_s", "checkpoint.written_mb",
              "checkpoint.rows_written_per_changed_doc", "checkpoint.lookup_files_read",
              "spark.executions_per_op", "engine.extract.us_per_doc", "batch.engine_share"):
        assert metrics[k] > 0, k
    op = next(s for s in rec.spans if s.name == "op")
    assert rec.executions_under(op), "no Spark execution was attached to the traced op"


def test_corpus_queries_corrupt_oracle_fails_every_op(spark, tmp_path):
    wl = _ready(CorpusQueries, spark, tmp_path)
    wl.oracle_hashes["q01_pricing_summary"] = "0" * 64
    results = run.measure(wl, None, 0)
    attempted, failed = run.op_counts(results)
    assert attempted >= 1 and failed == attempted
