"""Viterbi training (hard EM / segmental k-means) on Spark DataFrames.

The soft Baum-Welch E-step (hmm/fit.py) accumulates EXPECTED counts from the
forward-backward posteriors; Viterbi training replaces that with the single
best state path per sequence (Rabiner 1989 §IV-B "segmental k-means") and
re-estimates from the resulting HARD counts:

    pi_i  = #(sequences whose Viterbi path starts in i)   / #sequences
    A_ij  = #(path transitions i -> j)                    / #(i in path[:-1])
    B_ik  = #(path visits i while emitting symbol k)      / #(i in path)

Same engine as the soft fit (hmm/fit.py, reference driver D2,
BaumWelchDriver.java:114-134, re-expressed Spark-first): fit.em_loop
broadcasts the model, the fit.count_block_udf mapInArrow shell runs the
path-count step below over every Arrow batch and yields one [pi | A | B]
count block per task, and the driver folds the collected blocks and
normalizes them in NumPy — no shuffle. The Viterbi joint log-likelihood
(sum of best-path scores) is the reported trace; convergence is the
model-space distance test.

It converges in far fewer, far cheaper iterations than soft EM (each pass is
a single max-product DP, no backward sweep / xi accumulation) at the cost of
a coarser optimum — the standard large-corpus trade, which is exactly when
the distributed setting matters.

The single re-estimation step is DuckDB-exact (viterbi_reestimate_oracle_sql
reuses decode.viterbi_ctes, whose DP cells are BITWISE equal to the Spark
kernel's, so the hard counts are integer-identical and count/count division
matches without rounding). The multi-iteration loop is pytest-pinned against
a sequential NumPy oracle to 1e-12.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baum_welch_spark.hmm.decode import _viterbi_one, viterbi_ctes
from baum_welch_spark.hmm.fit import (
    COUNT_BLOCK_SCHEMA,
    FitResult,
    count_block_udf,
    discrete_m_step,
    em_loop,
    hmm_layout,
    normalize_counts,
    split_sequences,
    tidy_counts,
)
from baum_welch_spark.hmm.kernel import m_step
from baum_welch_spark.hmm.model import (
    HMM,
    KIND_EMISSION,
    KIND_INITIAL,
    KIND_TRANSITION,
)


def _path_counts(model: HMM, batch, flat, lens, cpi, cA, cB) -> float:
    """Hard-EM accumulate step: Viterbi-decode every sequence of the batch
    and count its best path's events; returns the summed path scores."""
    with np.errstate(divide="ignore"):
        log_pi, log_A, log_B = np.log(model.pi), np.log(model.A), np.log(model.B)
    ll = 0.0
    for o in split_sequences(flat, lens):
        path, score = _viterbi_one(log_pi, log_A, log_B, o)
        ll += score
        cpi[path[0]] += 1.0
        if path.shape[0] > 1:
            np.add.at(cA, (path[:-1], path[1:]), 1.0)
        np.add.at(cB, (path, o), 1.0)
    return ll


def hard_counts(sequences: DataFrame, bc_model) -> DataFrame:
    """One hard-EM pass over the corpus -> one ``(loglik, counts)`` row per
    task (fit.COUNT_BLOCK_SCHEMA, [pi | A | B] path counts); ``bc_model``
    broadcasts the :class:`HMM`."""
    return sequences.select("obs").mapInArrow(
        count_block_udf(bc_model, hmm_layout, _path_counts), COUNT_BLOCK_SCHEMA
    )


def viterbi_reestimate(
    spark: SparkSession, sequences: DataFrame, model: HMM
) -> DataFrame:
    """One distributed hard-EM re-estimation step as a tidy DataFrame
    (kind, i, j, prob): Viterbi-decode under ``model``, count path events,
    normalize per (kind, i) row.

    Zero-count (i, j) cells are ABSENT from the output (sparse counts, like
    operators.markov.transition_model) — states the decoded paths never
    visit produce no rows rather than a uniform fallback; the fit_viterbi
    loop applies the uniform fallback driver-side (kernel.m_step).
    Integer-count / integer-count division is one exact IEEE op on both
    engines, so the oracle needs no rounding."""
    bc = spark.sparkContext.broadcast(model)
    counts = tidy_counts(hard_counts(sequences, bc), hmm_layout(model))
    return normalize_counts(counts.filter(F.col("weight") > 0))


def viterbi_reestimate_oracle_sql(model: HMM) -> str:
    """DuckDB oracle for viterbi_reestimate: the shared Viterbi DP CTEs
    (decode.viterbi_ctes — bitwise-equal deltas, identical argmax tiebreak)
    followed by plain relational counting over the per-(seq, t) state rows:
    ``back`` holds the Viterbi state at every step, ``coded`` the emitted
    symbol, so init / transition / emission counts are one GROUP BY each and
    the normalize is the same count/count window as the Spark side."""
    return f"""
WITH {viterbi_ctes(model)},
states AS MATERIALIZED (SELECT user_id, t, state FROM back),
raw AS (
  SELECT '{KIND_INITIAL}' AS kind, 0 AS i, state AS j, count(*)::DOUBLE AS weight
  FROM states WHERE t = 0 GROUP BY state
  UNION ALL
  SELECT '{KIND_TRANSITION}', a.state, b.state, count(*)::DOUBLE
  FROM states a JOIN states b ON b.user_id = a.user_id AND b.t = a.t + 1
  GROUP BY a.state, b.state
  UNION ALL
  SELECT '{KIND_EMISSION}', s.state, c.sym, count(*)::DOUBLE
  FROM states s JOIN coded c ON c.user_id = s.user_id AND c.t = s.t
  GROUP BY s.state, c.sym
)
SELECT kind, i::INTEGER AS i, j::INTEGER AS j,
       weight / sum(weight) OVER (PARTITION BY kind, i) AS prob
FROM raw
"""


def fit_viterbi(
    spark: SparkSession,
    sequences: DataFrame,
    init: HMM,
    max_iter: int = 10,
    tol: float = 0.0,
    topology_mask: np.ndarray | None = None,
) -> FitResult:
    """Distributed segmental k-means: fit.em_loop over the
    :func:`hard_counts` E-step, normalizing driver-side (kernel.m_step —
    zero-mass rows fall back to uniform). The loglik trace is the Viterbi
    joint log-likelihood; hard EM's loglik is not monotone in general, so
    convergence is the model-space distance test, like the reference's D4.

    Same cache discipline as fit(): persists the corpus only if the caller
    didn't, and then unpersists it.

    ``topology_mask``: structural transition topology, same contract as
    ``fit(topology_mask=...)``. Hard EM preserves it on its own even more
    directly than soft EM — log A carries -inf at masked entries, so no
    Viterbi path ever uses one and masked counts are exactly zero — but
    ``m_step``'s uniform fallback for never-visited states must still be
    re-masked (uniform over allowed, not the full row)."""
    model, step = discrete_m_step(init, topology_mask)
    return em_loop(spark, sequences, model, hard_counts, step, hmm_layout(model), max_iter, tol)


def sequential_viterbi_train(
    init: HMM,
    sequences: list[np.ndarray],
    max_iter: int = 10,
    tol: float = 0.0,
) -> tuple[HMM, list[float]]:
    """Single-process segmental k-means — the oracle fit_viterbi must match
    to 1e-12 (hard counts are integers, so the only float ops are the final
    divisions, identical on both sides)."""
    model = init.validate()
    trace: list[float] = []
    for _ in range(max_iter):
        with np.errstate(divide="ignore"):
            log_pi, log_A, log_B = np.log(model.pi), np.log(model.A), np.log(model.B)
        n, m = model.n_hidden, model.n_observed
        cpi = np.zeros(n)
        cA = np.zeros((n, n))
        cB = np.zeros((n, m))
        ll = 0.0
        for o in sequences:
            path, score = _viterbi_one(log_pi, log_A, log_B, o)
            ll += score
            cpi[path[0]] += 1.0
            if path.shape[0] > 1:
                np.add.at(cA, (path[:-1], path[1:]), 1.0)
            np.add.at(cB, (path, o), 1.0)
        trace.append(ll)
        new_model = m_step(cpi, cA, cB)
        delta = model.distance(new_model)
        model = new_model
        if tol > 0 and delta < tol:
            break
    return model, trace
