"""Semi-supervised EM (hmm/semisup.py): the two degenerate ends pin the
mixture — all-labeled equals closed-form counting, all-unlabeled equals
plain fit — and the mixed objective is monotone."""

import numpy as np
from pyspark.sql import functions as F

from baum_welch_spark.hmm import HMM
from baum_welch_spark.hmm.fit import fit
from baum_welch_spark.hmm.semisup import fit_semisupervised
from baum_welch_spark.operators.sequences import build_sequences
from baum_welch_spark.sources.io import load_table

from conftest import SF0001

N, M = 3, 5


def _seqs(spark):
    events = load_table(spark, SF0001, "events")
    return build_sequences(events)


def _with_labels(spark, seqs, model, every: int):
    """Label every ``every``-th sequence with its Viterbi path under
    ``model`` (a deterministic pseudo-annotation), others null."""
    from baum_welch_spark.hmm.decode import viterbi_decode

    dec = viterbi_decode(spark, seqs, model).select(
        "seq_id", F.col("path").alias("states")
    )
    return (
        seqs.join(dec, "seq_id")
        .withColumn(
            "states",
            F.when(F.col("seq_id") % every == 0, F.col("states")).otherwise(F.lit(None)),
        )
    )


def test_all_unlabeled_equals_plain_fit(spark):
    seqs = _seqs(spark).withColumn("states", F.lit(None).cast("array<int>"))
    init = HMM.random(N, M, seed=21)
    a = fit(spark, _seqs(spark), init, max_iter=3)
    b = fit_semisupervised(spark, seqs, init, max_iter=3)
    np.testing.assert_allclose(b.model.A, a.model.A, atol=1e-10)
    np.testing.assert_allclose(b.model.B, a.model.B, atol=1e-10)
    np.testing.assert_allclose(b.loglik_trace, a.loglik_trace, rtol=1e-10)


def test_all_labeled_is_closed_form_counting(spark):
    """With every sequence labeled, one iteration must equal the count
    MLE computed driver-side, independent of the init."""
    label_model = HMM.random(N, M, seed=5)
    seqs = _with_labels(spark, _seqs(spark), label_model, every=1).cache()
    init = HMM.random(N, M, seed=99)  # arbitrary: counts don't depend on it
    res = fit_semisupervised(spark, seqs, init, max_iter=1)
    rows = seqs.collect()
    cpi = np.zeros(N)
    cA = np.zeros((N, N))
    cB = np.zeros((N, M))
    for r in rows:
        st, obs = list(r.states), list(r.obs)
        cpi[st[0]] += 1
        cB[st[0], obs[0]] += 1
        for t in range(1, len(obs)):
            cA[st[t - 1], st[t]] += 1
            cB[st[t], obs[t]] += 1
    def norm(x):
        s = x.sum(axis=-1, keepdims=True)
        safe = np.where(s > 0, s, 1.0)
        u = np.full_like(x, 1.0 / x.shape[-1])
        return np.where(s > 0, x / safe, u)
    np.testing.assert_allclose(res.model.pi, norm(cpi), atol=1e-12)
    np.testing.assert_allclose(res.model.A, norm(cA), atol=1e-12)
    np.testing.assert_allclose(res.model.B, norm(cB), atol=1e-12)
    seqs.unpersist()


def test_mixed_objective_monotone_and_labels_respected(spark):
    label_model = HMM.random(N, M, seed=5)
    seqs = _with_labels(spark, _seqs(spark), label_model, every=3)
    init = HMM.random(N, M, seed=7)
    res = fit_semisupervised(spark, seqs, init, max_iter=4)
    t = res.loglik_trace
    assert len(t) == 4
    assert all(b >= a - 1e-8 for a, b in zip(t, t[1:])), t
    res.model.validate()


def test_out_of_range_labels_fail_fast(spark):
    """ADVICE-r7: a -1 'unknown' sentinel must raise a descriptive error,
    not silently wrap to the last state via numpy negative indexing."""
    import pytest

    seqs = _seqs(spark).withColumn(
        "states", F.transform("obs", lambda _: F.lit(-1))
    )
    with pytest.raises(Exception, match="labeled state out of range"):
        fit_semisupervised(spark, seqs, HMM.random(N, M, seed=7), max_iter=1)
    # a labeled sequence with a -1 symbol used to count it as symbol M-1
    bad_obs = spark.createDataFrame(
        [(1, [0, 1, -1], [0, 1, 2])], "seq_id long, obs array<int>, states array<int>"
    )
    with pytest.raises(Exception, match=r"symbol ids must be in \[0, M\)"):
        fit_semisupervised(spark, bad_obs, HMM.random(N, M, seed=7), max_iter=1)
