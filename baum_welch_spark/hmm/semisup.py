"""Semi-supervised Baum-Welch: train on a corpus where SOME sequences carry
known state paths (a ``states`` array column; null = unlabeled).

The practical training regime the reference's fixed dataflow cannot express
(its driver feeds every sequence through the full E-step,
BaumWelchDriver.java:114-134): annotated sessions, gold alignments, or
heuristic labels pin part of the parameter space while EM fills in the
rest. Standard complete-data/incomplete-data mixture (Rabiner 1989 §V.A's
re-estimation with known paths degenerates to counting; e.g. Nigam et al.
2000 for the semi-supervised EM pattern):

- labeled (obs, states): counts are DETERMINISTIC — pi[s_0] += 1,
  A-counts from consecutive state pairs, B-counts from (state, symbol)
  pairs; the loglik contribution is the complete-data joint
  log P(O, S | lambda).
- unlabeled obs: the usual expected counts (kernel.e_step_counts_batch)
  and marginal log P(O | lambda).

The M-step normalizes the POOLED counts. The objective
sum_labeled log P(O,S) + sum_unlabeled log P(O) is non-decreasing per
iteration (EM monotonicity holds: labeled terms are exact, unlabeled terms
get the usual Q-function bound).

Scale shape: the fit() engine itself — fit.em_loop broadcasts the model,
the fit.count_block_udf mapInArrow shell runs :func:`_mixed_counts` over
every Arrow batch of the mixed corpus (each batch splits itself into
labeled/unlabeled rows) and yields one [pi | A | B] count block per task,
and the driver folds the blocks and runs the M-step — no shuffle.
"""

from __future__ import annotations

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from baum_welch_spark.hmm.fit import (
    COUNT_BLOCK_SCHEMA,
    FitResult,
    count_block_udf,
    discrete_m_step,
    em_loop,
    hmm_layout,
)
from baum_welch_spark.hmm.kernel import e_step_counts_packed
from baum_welch_spark.hmm.model import HMM


def _labeled_counts(model: HMM, obs, states, lens, cpi, cA, cB) -> float:
    """Hard counts + complete-data loglik of packed labeled sequences
    (``states`` aligned with ``obs``, every length > 0)."""
    with np.errstate(divide="ignore"):
        log_pi, log_A, log_B = np.log(model.pi), np.log(model.A), np.log(model.B)
    first = np.cumsum(lens) - lens  # t = 0 of each sequence
    later = np.ones(obs.size, dtype=bool)
    later[first] = False
    prev, cur = states[np.flatnonzero(later) - 1], states[later]
    np.add.at(cpi, states[first], 1.0)
    np.add.at(cA, (prev, cur), 1.0)
    np.add.at(cB, (states, obs), 1.0)
    return float(
        log_pi[states[first]].sum() + log_A[prev, cur].sum() + log_B[states, obs].sum()
    )


def _mixed_counts(model: HMM, batch, flat, lens, cpi, cA, cB) -> float:
    """Semi-supervised accumulate step: rows whose ``states`` array matches
    their obs length count their known path; every other row runs the
    packed soft E-step kernel."""
    col = batch.column("states")
    st_lens = col.value_lengths().fill_null(0).to_numpy()
    labeled = col.is_valid().to_numpy(zero_copy_only=False) & (st_lens == lens) & (lens > 0)
    states = col.flatten()
    if states.null_count:
        raise ValueError("states arrays must not contain null elements")
    states = states.to_numpy()[np.repeat(labeled, st_lens)]
    n = model.n_hidden
    # fail fast on out-of-range labels (mirrors fit()'s null-weight
    # fail-fast): a negative index — e.g. -1 used as an 'unknown' sentinel
    # by an annotation source — would silently wrap via numpy indexing and
    # corrupt the last state's counts; >= n would crash the executor with
    # an opaque IndexError
    if states.size and (states.min() < 0 or states.max() >= n):
        raise ValueError(
            f"labeled state out of range [0, {n}): min={int(states.min())} "
            f"max={int(states.max())} — use NULL (not a sentinel value) for "
            "unlabeled sequences"
        )
    in_labeled = np.repeat(labeled, lens)
    ll = _labeled_counts(model, flat[in_labeled], states, lens[labeled], cpi, cA, cB)
    return ll + e_step_counts_packed(
        model.pi, model.A, model.B, flat[~in_labeled], lens[~labeled], cpi, cA, cB
    )


def labeled_counts(sequences: DataFrame, bc_model, states_col: str = "states") -> DataFrame:
    """One semi-supervised E-step over (obs, <states_col>) rows -> one
    ``(loglik, counts)`` row per task (fit.COUNT_BLOCK_SCHEMA);
    ``bc_model`` broadcasts the :class:`HMM`."""
    return sequences.select("obs", F.col(states_col).alias("states")).mapInArrow(
        count_block_udf(bc_model, hmm_layout, _mixed_counts), COUNT_BLOCK_SCHEMA
    )


def fit_semisupervised(
    spark: SparkSession,
    sequences: DataFrame,
    init: HMM,
    states_col: str = "states",
    max_iter: int = 10,
    tol: float = 0.0,
) -> FitResult:
    """EM over a mixed labeled/unlabeled corpus (see module doc).

    ``sequences``: (seq_id, obs, <states_col>) — states null (or
    length-mismatched, treated as unlabeled) for EM rows. The loglik trace
    is the mixed objective. Same cache/convergence discipline as fit()."""
    model, step = discrete_m_step(init)

    def e_step(seqs: DataFrame, bc) -> DataFrame:
        return labeled_counts(seqs, bc, states_col)

    return em_loop(spark, sequences, model, e_step, step, hmm_layout(model), max_iter, tol)
