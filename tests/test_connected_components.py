"""q43's near-dup keepers: the per-bucket label kernel
(``veckernels.component_min_labels``) on hand-built graphs, the pandas-level
bucket kernel on a clique of identical vectors, and one Spark run of q43 on
a hand-built embeddings table checked against ``ORACLE_Q43`` in DuckDB."""

from __future__ import annotations

import numpy as np
import pandas as pd

from docling_service_spark.queries import similarity as sim
from docling_service_spark.queries.veckernels import (
    component_min_labels,
    lsh_bucket_ids,
)


def _labels(edges, n):
    ia = np.array([a for a, _ in edges], dtype=np.int64)
    ib = np.array([b for _, b in edges], dtype=np.int64)
    return component_min_labels(ia, ib, n)


def test_chain_of_10_converges_logarithmically():
    # Path graph 0-1-2-...-9: diameter 9.  Plain propagation needs ~9 rounds;
    # pointer jumping must finish in <= ceil(log2(9)) + 2 = 6.
    lab, rounds = _labels([(i, i + 1) for i in range(9)], 10)
    assert rounds <= 6, f"pointer jumping should be O(log diameter), took {rounds}"
    assert lab.tolist() == [0] * 10


def test_long_chain_in_reverse_edge_order():
    # Edge order must not matter; 2^16 vertices stay within ~log2 rounds.
    n = 1 << 16
    lab, rounds = component_min_labels(
        np.arange(n - 1)[::-1].copy(), np.arange(1, n)[::-1].copy(), n)
    assert rounds <= 20
    assert not lab.any()


def test_two_components_and_singletons():
    lab, _ = _labels([(1, 2), (2, 3), (5, 6)], 7)
    assert lab.tolist() == [0, 1, 1, 1, 4, 5, 5]


def test_hub_star():
    # Hub 5 joined to every other vertex: one component labelled 0.
    lab, rounds = _labels([(i, 5) for i in range(5)] + [(5, i) for i in range(6, 12)], 12)
    assert lab.tolist() == [0] * 12
    assert rounds <= 3


def test_empty_edge_set():
    lab, rounds = _labels([], 4)
    assert lab.tolist() == [0, 1, 2, 3]
    assert rounds == 0
    assert component_min_labels(np.zeros(0, np.int64), np.zeros(0, np.int64), 0)[0].size == 0


def test_identical_vectors_bucket_is_one_clique():
    # One bucket of identical vectors: every pair is a near-dup (a clique),
    # so every row's keeper is the bucket's minimum vec_id.
    ids = [41, 7, 19, 3, 88, 12]
    v = np.linspace(-1.0, 1.0, sim.DIM, dtype=np.float32)
    pdf = pd.DataFrame({"vec_id": ids, "bucket": 0, "embedding": [v.copy() for _ in ids]})
    out = sim._near_dup_keepers(pdf)
    assert sorted(out["vec_id"]) == sorted(ids)
    assert set(out["keeper_id"]) == {3}


def _chain_table(rng):
    """Embeddings where vec_ids [14, 11, 17, 10, 16, 12, 15, 13] form a chain
    in ONE bucket: x_k = c·u + e_k + e_(k+1) with e_* orthonormal and
    orthogonal to u and to every hyperplane, so every chain vector projects
    like u (same bucket), neighbours have cosine 0.6 and non-neighbours 0.2
    (below the 0.35 cut).  Keeper 10 is reachable from 14 only over 3 hops.
    Random vectors (ids >= 20) and one near-identical pair (30, 31) fill
    the other buckets."""
    W = np.array([[sim.hyperplane_weights(i, j) for j in range(sim.N_PLANES)]
                  for i in range(sim.DIM)], dtype=np.float64)
    u = W @ np.ones(sim.N_PLANES)
    u /= np.linalg.norm(u)
    # Orthonormal basis of the complement of span(W's columns, u).
    q, _ = np.linalg.qr(np.column_stack([W, u, rng.standard_normal((sim.DIM, 12))]))
    e = q[:, sim.N_PLANES + 1:].T
    chain_ids = [14, 11, 17, 10, 16, 12, 15, 13]
    rows = {vid: np.sqrt(0.5) * u + e[k] + e[k + 1] for k, vid in enumerate(chain_ids)}
    for vid in range(20, 30):
        rows[vid] = rng.standard_normal(sim.DIM)
    base = rng.standard_normal(sim.DIM)
    rows[30] = base
    rows[31] = base + 0.01 * rng.standard_normal(sim.DIM)
    ids = sorted(rows)
    X = np.array([rows[i] for i in ids], dtype=np.float32)
    return chain_ids, ids, X, W


def test_q43_multi_hop_chain_in_one_bucket_matches_oracle(spark, tmp_path):
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    chain_ids, ids, X, W = _chain_table(np.random.default_rng(7))
    buckets = dict(zip(ids, lsh_bucket_ids(X.astype(np.float64), W)))
    assert len({buckets[i] for i in chain_ids}) == 1  # one bucket by construction

    pq.write_table(pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array([list(r) for r in X], pa.list_(pa.float32())),
        "label": pa.array([0] * len(ids), pa.int32()),
    }), str(tmp_path / "embeddings.parquet"))

    # Only chain neighbours clear the threshold: the component is multi-hop.
    pairs = sim.q42_lsh_bucketed_neighbors(spark, str(tmp_path)).collect()
    chain = set(chain_ids)
    near = {(r.id_a, r.id_b) for r in pairs
            if r.id_a in chain and r.id_b in chain and r.sim_e6 >= sim.NEAR_DUP_SIM_E6}
    assert len(near) == len(chain_ids) - 1

    got = sorted(tuple(r) for r in
                 sim.q43_embedding_near_dup_keepers(spark, str(tmp_path)).collect())
    con = duckdb.connect()
    con.sql(f"CREATE VIEW embeddings AS SELECT * FROM "
            f"read_parquet('{tmp_path / 'embeddings.parquet'}')")
    want = sorted(con.sql(sim.ORACLE_Q43).fetchall())
    con.close()
    assert got == want
    keepers = dict(got)
    assert {keepers[i] for i in chain_ids} == {10}
    assert keepers[31] == keepers[30]
    assert len(got) == len(ids)
