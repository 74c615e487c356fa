"""Single-core timings of the hmm.kernel layer on a collected corpus.

Run by run.py in a child process whose BLAS/OpenMP pools are pinned to one
thread:  python3 perfbench/kernel_probe.py <workload> <seed> <corpus.parquet>
Prints one JSON object of kernel.* metrics.
"""

from __future__ import annotations

import json
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import numpy as np  # noqa: E402

from perfbench.workloads import WORKLOADS, load_corpus, models  # noqa: E402

#: sequences (lowest seq_ids) in the per-sequence forward_backward sample
FB_SAMPLE = 64


def _timed(fn, min_reps: int, min_s: float) -> float:
    """Median wall of ``fn`` over at least ``min_reps`` calls and ``min_s`` seconds."""
    times: list[float] = []
    while len(times) < min_reps or sum(times) < min_s:
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def estep_cost(lens: np.ndarray, n: int) -> tuple[float, float]:
    """Computed (GFLOP, MB of float64 DP arrays) of one e_step_counts_batch
    pass, from the P padded and V valid (t, s) cells of the kernel's own
    length buckets: per padded cell the forward and backward recurrences
    cost 4N^2 + 9N flops, per valid cell the xi and emission folds 2N^2 + N;
    alpha, beta, w and gamma are P x N doubles each."""
    from baum_welch_spark.hmm.kernel import _length_buckets

    padded = sum(int(lens[idx].max()) * len(idx) for idx in _length_buckets(lens.tolist()))
    valid = int(lens.sum())
    flops = padded * (4 * n * n + 9 * n) + valid * (2 * n * n + n)
    return flops / 1e9, 4 * 8 * padded * n / 1e6


def main(workload: str, seed: int, corpus_path: str) -> dict:
    from baum_welch_spark.hmm.kernel import e_step_counts_batch, forward_backward, m_step

    w = WORKLOADS[workload]
    known, _ = models(w, seed)
    corpus = load_corpus(Path(corpus_path))
    seqs = corpus.sequences()
    n, m = known.n_hidden, known.n_observed
    acc = [np.zeros(n), np.zeros((n, n)), np.zeros((n, m))]

    def estep():
        for a in acc:
            a.fill(0.0)
        e_step_counts_batch(known.pi, known.A, known.B, seqs, *acc)

    estep_s = _timed(estep, 2, 1.0)
    mstep_s = _timed(lambda: known.distance(m_step(*acc)), 20, 0.05)
    sample = seqs[:FB_SAMPLE]
    fb_s = _timed(lambda: [forward_backward(known.pi, known.A, known.B, o) for o in sample], 2, 0.5)
    gflop, mbytes = estep_cost(corpus.lens, n)
    return {
        "kernel.estep_s": estep_s,
        "kernel.estep_msym_per_s": corpus.symbols / estep_s / 1e6,
        "kernel.estep_gflop": gflop,
        "kernel.estep_mbytes": mbytes,
        "kernel.mstep_s": mstep_s,
        "kernel.fb_s": fb_s,
        "kernel.fb_msym_per_s": sum(len(o) for o in sample) / fb_s / 1e6,
    }


if __name__ == "__main__":
    print(json.dumps(main(sys.argv[1], int(sys.argv[2]), sys.argv[3])))
