"""Output checks run after every timed call. Each returns a list of
failure messages; an empty list means the call passed."""

from __future__ import annotations

import numpy as np

#: tolerance class of the repo's distributed-vs-sequential parity pins
PARAM_ATOL = 1e-8
#: relative tolerance for log-likelihood sums computed in another order
LL_RTOL = 1e-9


def check_fit(result, oracle: dict) -> list[str]:
    bad = []
    m = result.model
    for name in ("pi", "A", "B"):
        got = getattr(m, name)
        if not np.all(np.isfinite(got)):
            bad.append(f"fit: {name} has non-finite entries")
            continue
        err = float(np.abs(got - oracle[name]).max())
        if err > PARAM_ATOL:
            bad.append(f"fit: {name} differs from the batched oracle by {err:.3g}")
        sums = got.sum(axis=-1)
        if np.abs(sums - 1.0).max() > 1e-9:
            bad.append(f"fit: {name} rows are not stochastic")
    trace = np.asarray(result.loglik_trace, dtype=np.float64)
    want = oracle["trace"]
    if trace.shape != want.shape or not np.all(np.isfinite(trace)):
        bad.append(f"fit: loglik trace {trace.tolist()} is not {len(want)} finite values")
        return bad
    if not np.allclose(trace, want, rtol=LL_RTOL, atol=0.0):
        bad.append("fit: loglik trace differs from the batched oracle")
    if np.any(np.diff(trace) < -LL_RTOL * np.abs(trace[1:])):
        bad.append(f"fit: loglik fell during EM: {trace.tolist()}")
    return bad


def _by_seq_id(table, corpus, what: str) -> tuple[object, list[str]]:
    table = table.sort_by("seq_id")
    ids = np.asarray(table.column("seq_id"), dtype=np.int64)
    if len(ids) != len(corpus.seq_id) or not np.array_equal(ids, corpus.seq_id):
        return table, [f"{what}: {len(ids)} rows do not match the {len(corpus.seq_id)} corpus sequences"]
    return table, []


def check_score(table, corpus, oracle: dict) -> list[str]:
    table, bad = _by_seq_id(table, corpus, "score")
    if bad:
        return bad
    if not np.array_equal(np.asarray(table.column("t_len"), dtype=np.int64), corpus.lens):
        bad.append("score: t_len differs from the corpus lengths")
    ll = np.asarray(table.column("loglik"), dtype=np.float64)
    want = oracle["marginal"]
    if not np.all(np.isfinite(ll)):
        return bad + ["score: non-finite loglik"]
    if not np.allclose(ll, want, rtol=LL_RTOL, atol=1e-9):
        bad.append("score: per-sequence loglik differs from the forward-pass oracle")
    total = float(oracle["estep_total"])
    if abs(ll.sum() - total) > LL_RTOL * abs(total):
        bad.append(f"score: sum loglik {ll.sum()!r} != batched E-step total {total!r}")
    return bad


def check_viterbi(table, corpus, model, oracle: dict) -> list[str]:
    table, bad = _by_seq_id(table, corpus, "viterbi")
    if bad:
        return bad
    paths = table.column("path").combine_chunks()
    if not np.array_equal(np.asarray(paths.value_lengths(), dtype=np.int64), corpus.lens):
        return ["viterbi: a path length differs from its sequence length"]
    p = np.asarray(paths.flatten(), dtype=np.int64)
    if p.size and (p.min() < 0 or p.max() >= model.n_hidden):
        return ["viterbi: a path state is outside [0, N)"]
    # joint log-probability of each reported path, recomputed
    with np.errstate(divide="ignore"):
        log_pi, log_A, log_B = np.log(model.pi), np.log(model.A), np.log(model.B)
    terms = log_B[p, corpus.flat]
    starts = corpus.offsets[:-1]
    terms[starts] += log_pi[p[starts]]
    step = np.ones(p.size, dtype=bool)
    step[starts] = False
    idx = np.nonzero(step)[0]
    terms[idx] += log_A[p[idx - 1], p[idx]]
    joint = np.add.reduceat(terms, starts)
    got = np.asarray(table.column("loglik"), dtype=np.float64)
    if not np.allclose(got, joint, rtol=LL_RTOL, atol=1e-9):
        bad.append("viterbi: reported loglik is not the path's joint log-probability")
    marginal = oracle["marginal"]
    if np.any(got > marginal + LL_RTOL * np.abs(marginal)):
        bad.append("viterbi: a path scores above its sequence's marginal loglik")
    return bad
