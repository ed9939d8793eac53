"""The four benchmark workloads.

Each workload drives the engine's public functions from outside and checks
every output.  The runner calls, in order:

- ``build_inputs()``: materialises the seeded inputs (repeatable, timed);
- ``prepare()``: untimed work outside set-up (oracle hashes, a table copy);
- ``warm_up()``: the first op on the real inputs (timed as set-up); it also
  fixes the values later ops must reproduce, and raises if it fails a check;
- ``op(op_id, rec)`` then ``check(result)``, back to back, for the run.

``rec`` is a ``spans.SpanRecorder`` on traced ops and ``None`` otherwise.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

from . import inputs

N_BUCKETS = 16
# Extraction commits on a C1-only JVM (see ``ExtractWorkload.jvm_options``)
# are steady from the second commit on.
WARM_UP_OPS = 2


@dataclass
class OpResult:
    wall_s: float
    docs: int
    ok: bool = True
    detail: str = ""
    lookups_s: list = field(default_factory=list)
    summary: dict = field(default_factory=dict)
    leaf_walls: dict = field(default_factory=dict)


def _span(rec, name, op_id):
    return rec.span(name, op_id) if rec is not None else nullcontext()


def span_tuples(spans) -> list[tuple]:
    """(kind, text, media_ref, order) per output span, in output order."""
    return [(s["kind"], s["text"], s["media_ref"], s["offset"]) for s in spans or []]


def expected_extraction(doc: dict) -> tuple:
    """Driver-side ``extract_document`` result as (status, span tuples)."""
    from docling_service_spark.engine.extract import extract_document

    try:
        out = extract_document(doc["doc_id"], doc["spans"])
    except Exception:  # the engine books any extractor exception as 'failed'
        return ("failed", [])
    return (out["status"], span_tuples(out["spans"]))


def lookup_and_compare(spark, store, docs: list[dict], rec, op_id) -> tuple[float, str]:
    """One ``SnapshotStore.read_docs`` point lookup of ``docs``; returns its
    wall and a mismatch description ('' when every doc reads back as its
    driver-side extraction)."""
    ids = [d["doc_id"] for d in docs]
    with _span(rec, "checkpoint.read_docs", op_id):
        t0 = time.perf_counter()
        rows = store.read_docs(spark, ids).select("doc_id", "status", "spans").collect()
        wall = time.perf_counter() - t0
    got = {r["doc_id"]: (r["status"], span_tuples(
        [s.asDict() for s in r["spans"]] if r["spans"] is not None else None)) for r in rows}
    for d in docs:
        if got.get(d["doc_id"]) != expected_extraction(d):
            return wall, f"lookup mismatch on {d['doc_id']}"
    if len(rows) != len(ids):
        return wall, f"lookup returned {len(rows)} rows for {len(ids)} ids"
    return wall, ""


def table_digest(spark, store) -> tuple:
    """Order-insensitive digest of the committed output."""
    from pyspark.sql import functions as F

    row = store.read_output(spark).select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.xxhash64("doc_id", "status", "markdown").cast("decimal(38,0)")).alias("h"),
    ).collect()[0]
    return (int(row["n"]), str(row["h"]))


class Workload:
    name = ""
    jvm_options: tuple = ()  # extra driver JVM flags for this workload's session
    lookups_per_op = 2
    corpus_size = "docs"  # the sizes key holding the corpus doc count

    def __init__(self, spark, work: str, seed: int, sizes: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes
        os.makedirs(work, exist_ok=True)

    def path(self, *parts) -> str:
        return os.path.join(self.work, *parts)

    def prepare(self) -> None:
        pass

    def _doc(self, idx: int) -> dict:
        from docling_service_spark.corpus import build_doc

        return build_doc(idx, self.seed)

    def sample_docs(self, k: int) -> list[dict]:
        """Seeded sample of the workload's corpus docs (for engine timing)."""
        n = self.sizes[self.corpus_size]
        return [self._doc(i) for i in inputs.sample_indices(self.seed, n, k)]

    def _lookups(self, store, docs: list[dict], res: OpResult, rec, op_id) -> None:
        """``lookups_per_op`` read-your-write lookups over ``docs``, in order."""
        step = max(1, -(-len(docs) // self.lookups_per_op))
        for j in range(0, len(docs), step):
            wall, err = lookup_and_compare(self.spark, store, docs[j:j + step], rec, op_id)
            res.lookups_s.append(wall)
            if err and res.ok:
                res.ok, res.detail = False, err

    def _must_pass(self, res: OpResult) -> None:
        res = self.check(res)
        if not res.ok:
            raise RuntimeError(f"{self.name}: warm-up op failed its check: {res.detail}")


class ExtractWorkload(Workload):
    """Commit a materialised corpus into a fresh table with ``run_incremental``."""

    # C1 only.  Under the default tiered compiler, C2 compilation keeps the
    # driver JVM's CPU per commit falling for 25+ commits (measured at
    # local[4]: 5.3 s -> 2.1 s per commit, op wall 1.7 s -> 1.2 s), longer
    # than a run's warm-up can last, so run medians landed on either side
    # of that step.  C1 code is steady from the second commit.
    jvm_options = ("-XX:TieredStopAtLevel=1",)
    oversize_factor = 40
    lookups_per_op = 1
    docs_per_lookup = 8

    def _oversize_first(self):
        return None

    def build_inputs(self) -> None:
        inputs.write_corpus(self.spark, self.path("input"), self.sizes["docs"], self.seed,
                            oversize_first=self._oversize_first(),
                            oversize_factor=self.oversize_factor)

    def _input_df(self):
        return self.spark.read.parquet(self.path("input"))

    def _doc(self, idx: int) -> dict:
        from docling_service_spark.corpus import build_doc

        return build_doc(idx, self.seed, oversize_first=self._oversize_first(),
                         oversize_factor=self.oversize_factor)

    def warm_up(self) -> None:
        from docling_service_spark.sparkio.checkpoint import run_incremental

        self.n_failed_expected = inputs.malformed_count(self.sizes["docs"])
        res = self._commit("warm", None, -1)
        self.expected_digest = res.summary["digest"]
        self._must_pass(res)
        for k in range(WARM_UP_OPS - 1):
            root = self.path("tables", f"warm{k}")
            run_incremental(self.spark, self._input_df(), root, n_buckets=N_BUCKETS,
                            run_id=f"warm{k}")
            shutil.rmtree(root, ignore_errors=True)

    def _commit(self, tag: str, rec, op_id) -> OpResult:
        from docling_service_spark.sparkio.checkpoint import SnapshotStore, run_incremental

        root = self.path("tables", tag)
        df = self._input_df()
        with _span(rec, "op", op_id):
            with _span(rec, "checkpoint.run_incremental", op_id):
                t0 = time.perf_counter()
                summary = run_incremental(self.spark, df, root, n_buckets=N_BUCKETS, run_id=tag)
                wall = time.perf_counter() - t0
        store = SnapshotStore(root)
        res = OpResult(wall, self.sizes["docs"], summary=summary)
        res.summary["digest"] = table_digest(self.spark, store)
        res.summary["live_docs"] = store.live_doc_count()
        res.summary["live_run_dirs"] = len(set(store.committed_buckets().values()))
        idx = inputs.sample_indices(self.seed, self.sizes["docs"],
                                    self.lookups_per_op * self.docs_per_lookup, salt=1001 + op_id)
        self._lookups(store, [self._doc(i) for i in idx], res, rec, op_id)
        shutil.rmtree(root, ignore_errors=True)
        return res

    def op(self, op_id: int, rec) -> OpResult:
        return self._commit(f"op{op_id}", rec, op_id)

    def check(self, res: OpResult) -> OpResult:
        n = self.sizes["docs"]
        s = res.summary
        problems = []
        if s.get("docs") != n or s.get("live_docs") != n:
            problems.append(f"live docs {s.get('docs')}/{s.get('live_docs')} != {n}")
        failed = s.get("run_stats", {}).get("parse_failures")
        if failed != self.n_failed_expected:
            problems.append(f"failed docs {failed} != {self.n_failed_expected}")
        if s.get("digest") != self.expected_digest:
            problems.append(f"digest {s.get('digest')} != {self.expected_digest}")
        if problems and res.ok:
            res.ok, res.detail = False, "; ".join(problems)
        return res


class BulkExtract(ExtractWorkload):
    name = "bulk_extract"


class SkewedExtract(ExtractWorkload):
    """1% giant docs at 100x size, clustered in the first of four files."""

    name = "skewed_extract"
    oversize_factor = 100

    def _oversize_first(self):
        return max(1, self.sizes["docs"] // 100)


class MergeSync(Workload):
    """Small ``run_merge_upsert`` batches into a committed base table, each
    followed by read-your-write point lookups of the docs just written."""

    name = "merge_sync"
    n_buckets = 64

    def build_inputs(self) -> None:
        from docling_service_spark.sparkio.checkpoint import run_incremental

        base = self.path("base")
        shutil.rmtree(base, ignore_errors=True)
        inputs.write_corpus(self.spark, self.path("base_input"), self.sizes["docs"], self.seed)
        run_incremental(self.spark, self.spark.read.parquet(self.path("base_input")), base,
                        n_buckets=self.n_buckets, run_id="base")

    def _batch_df(self, docs):
        from docling_service_spark.schemas import INPUT_SCHEMA

        return self.spark.createDataFrame(docs, INPUT_SCHEMA)

    def prepare(self) -> None:
        from docling_service_spark.sparkio.checkpoint import SnapshotStore

        self.root = self.path("live")
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.path("base"), self.root)
        self.store = SnapshotStore(self.root)
        self.live_expected = self.store.live_doc_count()
        if self.live_expected != self.sizes["docs"]:
            raise RuntimeError(f"merge_sync: base table holds {self.live_expected} docs")

    def warm_up(self) -> None:
        self._must_pass(self.op(-1, None))

    def op(self, op_id: int, rec) -> OpResult:
        from docling_service_spark.sparkio.checkpoint import run_merge_upsert

        sz = self.sizes
        docs = inputs.merge_batch(self.seed, sz["docs"], op_id + 1, sz["changed"], sz["new"])
        n_new = sum(1 for d in docs if int(d["doc_id"].rsplit("-", 1)[1]) >= sz["docs"])
        bdf = self._batch_df(docs)
        with _span(rec, "op", op_id):
            with _span(rec, "checkpoint.run_merge_upsert", op_id):
                t0 = time.perf_counter()
                summary = run_merge_upsert(self.spark, bdf, self.root,
                                           n_buckets=self.n_buckets, run_id=f"b{op_id + 1}")
                wall = time.perf_counter() - t0
        self.live_expected += n_new
        res = OpResult(wall, len(docs), summary=summary)
        res.summary["batch_docs"] = len(docs)
        res.summary["live_docs"] = self.store.live_doc_count()
        res.summary["live_run_dirs"] = len(set(self.store.committed_buckets().values()))
        self._lookups(self.store, docs, res, rec, op_id)
        return res

    def check(self, res: OpResult) -> OpResult:
        s = res.summary
        problems = []
        if s.get("docs_changed") != s["batch_docs"]:
            problems.append(f"docs_changed {s.get('docs_changed')} != {s['batch_docs']}")
        if s.get("live_docs") != self.live_expected:
            problems.append(f"live docs {s.get('live_docs')} != {self.live_expected}")
        if problems and res.ok:
            res.ok, res.detail = False, "; ".join(problems)
        return res


LEAVES = [
    "q42_lsh_bucketed_neighbors", "q43_embedding_near_dup_keepers", "q46_ivf_cluster_pairs",
    "q61_extract_html_docs", "q62_extract_spreadsheet", "q63_extract_slides",
    "q64_extract_flowdoc", "q01_pricing_summary", "q09_revenue_by_nation", "q20_token_stats",
]
QUERY_TABLES = ("documents", "embeddings", "lineitem", "supplier", "nation")


def leaf_key(leaf: str) -> str:
    return leaf.split("_", 1)[0]


def canon_hash(cols, rows) -> str:
    """Row hash independent of column and row order; numeric types tagged so
    a decimal never equals a double (the oracle comparison's rule)."""
    import decimal

    def norm(v):
        if isinstance(v, bool):
            return ("b", v)
        if isinstance(v, float):
            return ("f", round(v, 9))
        if isinstance(v, decimal.Decimal):
            return ("d", v)
        if isinstance(v, int):
            return ("i", v)
        return ("o", v)

    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted((tuple(norm(r[i]) for i in idx) for r in rows), key=repr)
    return hashlib.sha256(repr(([cols[i] for i in idx], canon)).encode()).hexdigest()


class CorpusQueries(Workload):
    """One pass over oracled query leaves plus the training funnel."""

    name = "corpus_queries"
    corpus_size = "train_docs"

    def build_inputs(self) -> None:
        from docling_service_spark.corpus import corpus_df
        from docling_service_spark.sparkio.checkpoint import run_incremental

        sz = self.sizes
        inputs.write_query_tables(self.path("tables"), self.seed, n_docs=sz["documents"],
                                  n_vecs=sz["vectors"], n_lineitem=sz["lineitem"])
        train = self.path("train")
        shutil.rmtree(train, ignore_errors=True)
        run_incremental(self.spark,
                        corpus_df(self.spark, sz["train_docs"], seed=self.seed, partitions=4),
                        train, n_buckets=N_BUCKETS, run_id="train")

    def prepare(self) -> None:
        import duckdb
        from docling_service_spark.queries import ORACLES
        from docling_service_spark.sparkio.checkpoint import SnapshotStore

        con = duckdb.connect()
        try:
            for t in QUERY_TABLES:
                p = self.path("tables", f"{t}.parquet")
                con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
            self.oracle_hashes = {}
            for leaf in LEAVES:
                res = con.sql(ORACLES[leaf])
                self.oracle_hashes[leaf] = canon_hash(res.columns, res.fetchall())
        finally:
            con.close()
        self.store = SnapshotStore(self.path("train"))

    def warm_up(self) -> None:
        """One (cold) pass.  The pass after it still runs about 10% slower
        than later ones at local[4]; ``op_p50_s`` takes each leaf's median
        over the measured passes (a mean when there are two), so that pass
        never counts in full."""
        res = self.op(-1, None)
        self.funnel_expected = res.summary["funnel"]
        self._must_pass(res)

    def op(self, op_id: int, rec) -> OpResult:
        from pyspark.sql import functions as F

        from docling_service_spark.queries import QUERIES
        from docling_service_spark.training import build_training_set

        spark = self.spark
        hashes, walls = {}, {}
        with _span(rec, "op", op_id):
            for leaf in LEAVES:
                with _span(rec, f"queries.{leaf_key(leaf)}", op_id):
                    t0 = time.perf_counter()
                    df = QUERIES[leaf](spark, self.path("tables"))
                    rows = df.collect()
                    walls[leaf] = time.perf_counter() - t0
                hashes[leaf] = (df.columns, rows)
            with _span(rec, "training.build_training_set", op_id):
                t0 = time.perf_counter()
                chunks = build_training_set(self.store.read_output(spark))
                funnel = chunks.select(
                    F.count(F.lit(1)).alias("n"),
                    F.sum(F.xxhash64(*chunks.columns).cast("decimal(38,0)")).alias("h"),
                ).collect()[0]
                walls["training"] = time.perf_counter() - t0
        res = OpResult(sum(walls.values()), 4 * self.sizes["documents"], leaf_walls=walls)
        res.summary["hashes"] = {k: canon_hash(*v) for k, v in hashes.items()}
        res.summary["funnel"] = (int(funnel["n"]), str(funnel["h"]))
        return res

    def check(self, res: OpResult) -> OpResult:
        bad = [leaf for leaf in LEAVES if res.summary["hashes"][leaf] != self.oracle_hashes[leaf]]
        problems = [f"oracle mismatch: {bad}"] if bad else []
        if res.summary["funnel"] != self.funnel_expected:
            problems.append(f"funnel {res.summary['funnel']} != {self.funnel_expected}")
        if problems and res.ok:
            res.ok, res.detail = False, "; ".join(problems)
        return res


WORKLOADS = {w.name: w for w in (BulkExtract, SkewedExtract, MergeSync, CorpusQueries)}

# Sizes for a run at local[4]; tests pass their own tiny sizes.
SIZES = {
    "bulk_extract": {"docs": 2000},
    "skewed_extract": {"docs": 2000},
    "merge_sync": {"docs": 3000, "changed": 30, "new": 10},
    "corpus_queries": {"documents": 600, "vectors": 600, "lineitem": 60_000,
                       "train_docs": 200},
}
