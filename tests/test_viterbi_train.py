"""Viterbi training (hard EM / segmental k-means): distributed loop vs the
sequential NumPy oracle, and the re-estimation step's distribution laws.

Hard counts are integers, so distributed-vs-sequential agreement is pinned at
1e-12 (the only float ops are the final count/count divisions, identical on
both sides) — tighter than the 1e-8 soft-EM bound, whose float accumulation
order differs across partitionings."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from baum_welch_spark.hmm import HMM
from baum_welch_spark.hmm.viterbi_train import (
    fit_viterbi,
    sequential_viterbi_train,
    viterbi_reestimate,
)
from baum_welch_spark.operators.sequences import build_sequences
from baum_welch_spark.sources.io import load_table

from conftest import SF0001

N_HIDDEN, N_OBSERVED = 3, 5


@pytest.fixture(scope="module")
def sequences_df(spark):
    events = load_table(spark, SF0001, "events")
    return build_sequences(events).cache()


@pytest.fixture(scope="module")
def sequences_np(sequences_df):
    rows = sequences_df.orderBy("seq_id").collect()
    return [np.array(r.obs, dtype=np.int64) for r in rows]


def test_fit_viterbi_matches_sequential(spark, sequences_df, sequences_np):
    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=7)
    dist = fit_viterbi(spark, sequences_df, init, max_iter=4)
    model, trace = sequential_viterbi_train(init, sequences_np, max_iter=4)
    np.testing.assert_allclose(dist.model.pi, model.pi, atol=1e-12)
    np.testing.assert_allclose(dist.model.A, model.A, atol=1e-12)
    np.testing.assert_allclose(dist.model.B, model.B, atol=1e-12)
    np.testing.assert_allclose(dist.loglik_trace, trace, atol=1e-9)


def test_fit_viterbi_partitioning_invariant(spark, sequences_df):
    """Hard counts are integer sums — the trained model must be identical
    under a different partitioning of the corpus."""
    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=11)
    a = fit_viterbi(spark, sequences_df, init, max_iter=3)
    b = fit_viterbi(spark, sequences_df.repartition(17), init, max_iter=3)
    np.testing.assert_allclose(a.model.A, b.model.A, atol=1e-12)
    np.testing.assert_allclose(a.model.B, b.model.B, atol=1e-12)
    np.testing.assert_allclose(a.loglik_trace, b.loglik_trace, atol=1e-9)


def test_fit_viterbi_improves_joint_likelihood(spark, sequences_df):
    """Segmental k-means' criterion max_path log P(O, path | λ) is
    non-decreasing (Juang & Rabiner 1990) as long as no decoded path hits a
    uniform-fallback row; assert the end-to-end trace improved."""
    init = HMM.random(N_HIDDEN, N_OBSERVED, seed=3)
    res = fit_viterbi(spark, sequences_df, init, max_iter=5)
    assert res.loglik_trace[-1] >= res.loglik_trace[0]


def test_fit_viterbi_convergence_tol(spark, sequences_df):
    res = fit_viterbi(spark, sequences_df, HMM.random(N_HIDDEN, N_OBSERVED, seed=5),
                      max_iter=50, tol=1e-9)
    assert res.converged
    assert res.iterations < 50


def test_reestimate_rows_are_distributions(spark, sequences_df):
    out = viterbi_reestimate(
        spark, sequences_df, HMM.random(N_HIDDEN, N_OBSERVED, seed=42)
    )
    sums = (
        out.groupBy("kind", "i").agg(F.sum("prob").alias("s")).collect()
    )
    assert sums
    for r in sums:
        assert abs(r.s - 1.0) < 1e-9, (r.kind, r.i, r.s)
    # hard counts are sparse: no zero-probability rows are emitted
    assert out.filter(F.col("prob") <= 0).count() == 0


def test_viterbi_reestimate_plan_pins(spark, sequences_df):
    """Hard-EM pass shape: exactly one Python (mapInPandas) stage emitting
    model-sized stripes, and no data-sized shuffle beyond the stripe agg +
    normalize window (corpus never shuffles: the decode is a narrow map)."""
    from baum_welch_spark.plans.audit import plan_report

    out = viterbi_reestimate(
        spark, sequences_df, HMM.random(N_HIDDEN, N_OBSERVED, seed=42)
    )
    rep = plan_report(out)
    assert rep["python_stages"] == 1, rep
    # stripe groupBy + window normalize = 2 shuffles of O(N*(N+M)) rows
    # beyond whatever the sequence-builder input plan already carries
    upstream = plan_report(sequences_df)
    assert int(rep["shuffles"]) - int(upstream["shuffles"]) <= 2, (rep, upstream)


def test_fit_viterbi_topology_mask_preserved(spark):
    """Masked transitions stay exactly zero through hard EM; unmasked rows
    stay row-stochastic (uniform fallback is over allowed entries only)."""
    import numpy as np

    from baum_welch_spark.hmm import HMM
    from baum_welch_spark.hmm.viterbi_train import fit_viterbi
    from baum_welch_spark.operators.sequences import build_sequences
    from baum_welch_spark.sources.io import load_table

    from conftest import SF0001

    events = load_table(spark, SF0001, "events")
    seqs = build_sequences(events)
    mask = HMM.bakis_mask(3, bandwidth=1)
    init = HMM.random_masked(3, 5, mask, seed=13)
    res = fit_viterbi(spark, seqs, init, max_iter=3, topology_mask=mask)
    A = res.model.A
    assert np.all(A[~mask] == 0.0)
    np.testing.assert_allclose(A.sum(axis=1), 1.0, atol=1e-12)
    np.testing.assert_allclose(res.model.pi, np.eye(3)[0], atol=1e-12)


def test_fit_viterbi_rejects_out_of_range_symbol_ids(spark):
    """[0, 1, -1] used to decode like [0, 1, M-1]: NumPy reads -1 from the
    end of log B. The shared obs decode rejects it."""
    df = spark.createDataFrame(
        [(1, [0, 1, -1]), (2, [2, 3])], "seq_id long, obs array<int>"
    )
    with pytest.raises(Exception, match=r"symbol ids must be in \[0, M\)"):
        fit_viterbi(spark, df, HMM.random(N_HIDDEN, N_OBSERVED, seed=1), max_iter=1)
