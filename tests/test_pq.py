"""Product-quantization ANN (operators/similarity.py PQ section).

Oracle parity for the reconstruction-form top-k runs in
tests/test_unregistered_oracles.py; here: the ADC table-lookup kernel's
rank equality (default and injected ``codebooks=``), codebook-member
exactness, the disjoint-coordinate norm identity the ADC path relies
on, and the recall floor vs exact brute force.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_cdc_mysql_sink_to_mysql_spark.operators import similarity as sim
from tests.conftest import SF_CORRECT


@pytest.fixture(scope="module")
def emb(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(SF_CORRECT + "/embeddings.parquet").persist()


def test_adc_kernel_ranks_equal_reconstruction_form(emb):
    """The table-lookup ADC kernel must produce the SAME ranking as the
    explicit-reconstruction form (scores differ only by float summation
    order) — the numpy-vs-fold precedent of cosine_topk_numpy."""
    ref = sim.pq_topk(emb).select("q_id", "vec_id", "rank")
    adc = sim.pq_topk_adc(emb).select("q_id", "vec_id", "rank")
    assert ref.exceptAll(adc).count() == 0
    assert adc.exceptAll(ref).count() == 0


def test_codebook_members_reconstruct_exactly(emb):
    """Vectors that ARE codebook rows (vec_id < PQ_K) quantize to
    distance-0 codewords per subvector, so they reconstruct exactly."""
    rec = sim.pq_reconstruct(sim.pq_encode(emb), emb)
    err = (
        rec.join(emb, "vec_id")
        .where(F.col("vec_id") < sim.PQ_K)
        .select(
            F.aggregate(
                F.zip_with(
                    "emb_hat", "embedding", lambda a, b: (a - b) ** 2
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("e")
        )
        .agg(F.max("e"))
        .first()[0]
    )
    assert err == 0.0
    # and the corpus at large does NOT reconstruct exactly (the
    # invariant above would be vacuous otherwise)
    any_err = (
        rec.join(emb, "vec_id")
        .where(F.col("vec_id") >= sim.PQ_K)
        .select(
            F.aggregate(
                F.zip_with(
                    "emb_hat", "embedding", lambda a, b: (a - b) ** 2
                ),
                F.lit(0.0),
                lambda a, v: a + v,
            ).alias("e")
        )
        .agg(F.max("e"))
        .first()[0]
    )
    assert any_err > 0.0


def test_disjoint_norm_identity(emb):
    """||x̂||² = Σ_j ||codeword_j||² (subvectors occupy disjoint
    coordinates) — the identity pq_topk_adc uses instead of ever
    materializing x̂."""
    codes = sim.pq_encode(emb)
    from_codes = codes.groupBy("vec_id").agg(
        F.sqrt(F.sum("rnrm2_j")).alias("n_codes")
    )
    from_recon = sim.pq_reconstruct(codes, emb).select(
        "vec_id", F.col("r_nrm").alias("n_recon")
    )
    bad = (
        from_codes.join(from_recon, "vec_id")
        .where(F.abs(F.col("n_codes") - F.col("n_recon")) > 1e-9)
        .count()
    )
    assert bad == 0


def test_adc_kernel_accepts_trained_codebooks(emb):
    """Books injected through ``codebooks=`` (here the sample books of
    a shifted corpus slice, vec_ids 100..115, so not the defaults) must
    drive both the encode and the ADC lookup table: the codes-only scan
    ranks identically to the reconstruction form under the SAME books."""
    shifted = emb.where(F.col("vec_id") >= 100).select(
        (F.col("vec_id") - 100).alias("vec_id"), "embedding"
    )
    cb = sim._codebook_rows(shifted, sim.PQ_M, sim.PQ_K).persist()
    default = sim._codebook_rows(emb, sim.PQ_M, sim.PQ_K)
    assert cb.count() == sim.PQ_M * sim.PQ_K
    assert cb.exceptAll(default).count() > 0
    try:
        ref = sim.pq_topk(emb, codebooks=cb).select("q_id", "vec_id", "rank")
        adc = sim.pq_topk_adc(emb, codebooks=cb).select(
            "q_id", "vec_id", "rank"
        )
        assert ref.exceptAll(adc).count() == 0
        assert adc.exceptAll(ref).count() == 0
    finally:
        cb.unpersist()


def test_recall_floor_vs_exact(emb):
    """16-bit codes on this synthetic corpus: recall@5 measured 0.20 —
    assert a floor so a silent kernel regression (e.g. a broken gather)
    can't pass as 'approximate anyway'."""
    pq = sim.pq_topk(emb).select("q_id", "vec_id")
    exact = sim.cosine_topk(emb).select("q_id", "vec_id")
    tot = exact.count()
    hit = pq.intersect(exact).count()
    assert tot > 0 and hit / tot >= 0.15
