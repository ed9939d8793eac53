"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed and the sizes, so two runs
with one seed read identical bytes.  The extraction corpora come from the
package's own generator (``corpus.corpus_df`` / ``corpus.build_doc``); the
relational and vector tables for the query workload are generated here with
NumPy, in the shape of the TPC-H-like star schema the query leaves read.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

MALFORMED_EVERY = 211  # corpus.build_doc's default malformed-doc stride

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = np.array(["en", "de", "fr", "es", "zh"])
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]


def malformed_count(n_docs: int) -> int:
    """Docs ``build_doc`` makes malformed among indices ``[0, n_docs)``."""
    return (n_docs - 1) // MALFORMED_EVERY if n_docs > 0 else 0


def is_malformed(idx: int) -> bool:
    return idx > 0 and idx % MALFORMED_EVERY == 0


def write_corpus(spark, path: str, n_docs: int, seed: int, *,
                 oversize_first=None, oversize_factor: int = 40) -> None:
    """Materialise the mixed-format corpus as a four-file parquet table.

    ``oversize_first=K`` clusters K giant docs at the lowest indices; since
    ``spark.range`` splits contiguously they all land in the first file."""
    from docling_service_spark.corpus import corpus_df

    (corpus_df(spark, n_docs, seed=seed, partitions=4,
               oversize_first=oversize_first, oversize_factor=oversize_factor)
     .write.mode("overwrite").parquet(path))


def sample_indices(seed: int, n_docs: int, k: int, *, salt: int = 0) -> list[int]:
    """``k`` distinct seeded doc indices in ``[0, n_docs)``."""
    rng = np.random.default_rng([seed, salt])
    return sorted(int(i) for i in rng.choice(n_docs, size=min(k, n_docs), replace=False))


def revise_doc(doc: dict, revision: int) -> dict:
    """A changed version of ``doc``: its longest text span gains a suffix,
    so the content hash changes while the doc stays well-formed."""
    spans = [dict(s) for s in doc["spans"]]
    i = max(range(len(spans)), key=lambda j: len(spans[j]["text"] or ""))
    spans[i]["text"] = f"{spans[i]['text']} revision {revision}"
    return {"doc_id": doc["doc_id"], "spans": spans}


def merge_batch(seed: int, n_base: int, batch_no: int, n_changed: int,
                n_new: int) -> list[dict]:
    """One merge batch: ``n_changed`` revised base docs plus ``n_new`` docs
    past the base range.  Malformed indices are skipped so every doc in the
    batch has a checkable extraction."""
    from docling_service_spark.corpus import build_doc

    rng = np.random.default_rng([seed, 7, batch_no])
    pool = rng.permutation(n_base)
    changed = [int(i) for i in pool if not is_malformed(int(i))][:n_changed]
    new_lo = n_base + batch_no * n_new
    docs = [revise_doc(build_doc(i, seed), batch_no + 1) for i in sorted(changed)]
    docs += [build_doc(i, seed) for i in range(new_lo, new_lo + n_new)
             if not is_malformed(i)]
    return docs


def _texts(rng, n: int) -> list[str]:
    lens = rng.integers(8, 100, size=n)
    words = rng.integers(0, len(_VOCAB), size=int(lens.sum()))
    out, pos = [], 0
    for ln in lens:
        out.append(" ".join(_VOCAB[w] for w in words[pos:pos + ln]))
        pos += ln
    return out


def write_query_tables(root: str, seed: int, *, n_docs: int, n_vecs: int,
                       n_lineitem: int, n_supp: int = 100, dim: int = 64) -> None:
    """The tables the query leaves read: documents, embeddings, lineitem,
    supplier and nation, one parquet file each under ``root``."""
    os.makedirs(root, exist_ok=True)
    rng = np.random.default_rng([seed, 11])

    texts = _texts(rng, n_docs)
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(rng.choice(_LANGS, size=n_docs, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })

    # Random unit vectors: at 64 dims pairwise cosines are ~N(0, 1/8), so a
    # few pairs per thousand clear the near-dup threshold, as in the
    # reference tables.
    vecs = rng.standard_normal((n_vecs, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, size=n_vecs).astype(np.int32)),
    })

    n = n_lineitem
    qty = rng.integers(1, 51, size=n).astype(np.float64)
    price = np.round(rng.uniform(900.0, 105000.0, size=n), 2)
    lineitem = pa.table({
        "l_orderkey": pa.array(rng.integers(0, max(1, n // 4), size=n)),
        "l_partkey": pa.array(rng.integers(0, 20000, size=n)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, size=n)),
        "l_linenumber": pa.array(rng.integers(1, 8, size=n).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, size=n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, size=n) / 100.0),
        "l_returnflag": pa.array(rng.choice(np.array(["A", "N", "R"]), size=n)),
        "l_linestatus": pa.array(rng.choice(np.array(["O", "F"]), size=n)),
        "l_shipdate": pa.array(
            (np.datetime64("1992-01-01") + rng.integers(0, 3650, size=n)).astype("datetime64[us]")),
    })
    supplier = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, size=n_supp).astype(np.int32)),
        "s_acctbal": pa.array(np.round(rng.uniform(-999.0, 9999.0, size=n_supp), 2)),
    })
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32)),
    })
    for name, table in (("documents", docs), ("embeddings", emb), ("lineitem", lineitem),
                        ("supplier", supplier), ("nation", nation)):
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
