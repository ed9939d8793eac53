"""Round-9 optimization guard: the NumPy Arrow kernels (veckernels.py) must be
BIT-FOR-BIT identical to the JVM expression paths they replaced — floor-scaled
ints make any FP-order drift a value change, so every pinned pair compares
exact tuples, no tolerance.

Runs at sf0.1 (2000 vectors — 4x the oracle mirror's sf0.01, more FP
diversity) against the frozen quantizers the driver queries use.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from docling_service_spark.queries import ann
from docling_service_spark.queries import similarity as sim
from docling_service_spark.queries.common import load
from docling_service_spark.queries.ivf_centroids import FROZEN_CENTROIDS

SF_DIR = "/root/testdata/sf0.1"


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _emb(spark):
    return load(spark, SF_DIR, "embeddings").select(
        F.col("vec_id").cast("bigint").alias("vec_id"), "embedding"
    )


def test_assign_arrow_matches_jvm(spark):
    """Flat frozen-quantizer assignment: kernel vs literal-expression argmin,
    including the floor-scaled distance (q44's full output)."""
    emb = _emb(spark)
    jvm = ann._assign(emb, FROZEN_CENTROIDS).select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.floor(F.col("sq_dist") * 1_000_000).cast("bigint").alias("sq_dist_e6"),
    )
    arrow = ann._assign_arrow(emb, FROZEN_CENTROIDS, passthrough=False)
    assert _rows(arrow) == _rows(jvm)


def test_assign2_arrow_matches_dataframe_path(spark):
    """Two-level frozen assignment: one-kernel descent vs the DataFrame
    join/groupBy path (q47's full output)."""
    emb = _emb(spark)
    jvm = ann.assign_ivf_2level(emb, ann._frozen2_quantizer(spark)).select(
        "vec_id",
        F.col("cluster").cast("bigint").alias("cluster"),
        F.floor(F.col("sq_dist") * 1_000_000).cast("bigint").alias("sq_dist_e6"),
    )
    arrow = ann._assign2_frozen_arrow(emb)
    assert _rows(arrow) == _rows(jvm)


def test_lsh_pairs_arrow_matches_jvm(spark):
    """q42's bucket+normalize+pair kernel vs the JVM self-join fold."""
    emb = load(spark, SF_DIR, "embeddings")
    jvm = sim._lsh_bucketed_pairs_jvm(emb, n_planes=sim.N_PLANES)
    arrow = sim.lsh_bucketed_pairs(emb, n_planes=sim.N_PLANES)
    assert _rows(arrow) == _rows(jvm)


def test_lsh_pairs_kernel_threshold_matches_post_filter(spark):
    """The group kernel's in-kernel near-dup threshold (the edge set q43
    labels) == filtering the q42 output."""
    emb = load(spark, SF_DIR, "embeddings")
    filtered = sim.lsh_bucketed_pairs(emb, n_planes=sim.N_PLANES).filter(
        F.col("sim_e6") >= sim.NEAR_DUP_SIM_E6)
    pushed = sim._bucketed(emb, sim.N_PLANES).groupBy("bucket").applyInPandas(
        sim._make_group_pairs_fn(sim.NEAR_DUP_SIM_E6, None),
        schema="id_a long, id_b long, sim_e6 long")
    assert _rows(pushed) == _rows(filtered)


def test_q46_arrow_matches_jvm(spark):
    """q46's cluster-pair kernel vs the JVM cluster self-join fold."""
    arrow = ann.q46_ivf_cluster_pairs(spark, SF_DIR)
    jvm = ann._q46_jvm(spark, SF_DIR)
    assert _rows(arrow) == _rows(jvm)


def test_cosine_score_kernel_matches_jvm_expr(spark):
    """score_cosine_pairs vs the three-fold JVM cosine expression on the
    q40 probe×candidate shape."""
    emb = load(spark, SF_DIR, "embeddings")
    probes = emb.filter(F.col("vec_id") < sim.N_PROBES).select(
        F.col("vec_id").cast("bigint").alias("probe_id"),
        F.col("embedding").alias("pe"))
    cands = emb.select(F.col("vec_id").cast("bigint").alias("neighbor_id"),
                       F.col("embedding").alias("ce"))
    joined = cands.join(F.broadcast(probes))
    jvm_sim = sim._dot(F.col("pe"), F.col("ce")) / (
        F.sqrt(sim._dot(F.col("pe"), F.col("pe")))
        * F.sqrt(sim._dot(F.col("ce"), F.col("ce"))))
    jvm = joined.select("probe_id", "neighbor_id",
                        F.floor(jvm_sim * 1000000).cast("bigint").alias("sim_e6"))
    arrow = sim.score_cosine_pairs(joined)
    assert _rows(arrow) == _rows(jvm)


def test_double_to_long_jvm_semantics():
    """NaN→0, out-of-range saturation (±inf included) — the Double.toLong
    rule the kernels apply before thresholds so edge rows cannot diverge
    from the JVM filter."""
    import numpy as np

    from docling_service_spark.queries.veckernels import double_to_long

    hi, lo = np.iinfo(np.int64).max, np.iinfo(np.int64).min
    x = np.array([np.nan, np.inf, -np.inf, -2.0, 0.0, 3.9e5,
                  1e19, -1e19, 2.0 ** 63, -2.0 ** 63, 2.0 ** 62])
    out = double_to_long(x)
    assert out[0] == 0
    assert out[1] == hi
    assert out[2] == lo
    assert list(out[3:6]) == [-2, 0, 390000]
    # Finite values outside the long range saturate like Double.toLong;
    # -2^63 is exactly INT64_MIN and 2^62 is in range.
    assert list(out[6:]) == [hi, lo, hi, lo, 1 << 62]
