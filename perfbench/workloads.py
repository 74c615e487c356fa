"""Workload definitions, seeded corpus generation and the correctness oracles.

Every workload draws a known model ``HMM.random(N, M, seed)`` and an EM
init ``HMM.random(N, M, seed + INIT_SEED_OFFSET)``, samples its corpus with
``hmm.generate.generate_sequences`` and writes it to parquet once per
(workload, seed, shape, program source). The program under test only ever
receives that parquet path.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass
from pathlib import Path

import numpy as np

INIT_SEED_OFFSET = 1_000_003
#: sequences of the tiny corpus the set-up warm-up call runs on
WARMUP_SEQS, WARMUP_T = 64, 50


@dataclass(frozen=True)
class Workload:
    name: str
    op: str  # "fit" (one K-iteration EM fit) or "decode" (viterbi + score)
    n_seq: int
    t_min: int
    t_max: int  # exclusive; t_max == t_min + 1 means every sequence has t_min
    n_hidden: int
    n_observed: int
    iters: int  # fixed EM iterations (tol=0); also used by the traced fit


#: why each workload exists: BENCHMARK.json and README.md
WORKLOADS = {
    w.name: w
    for w in (
        Workload("em_short", "fit", 4000, 50, 200, 4, 8, 3),
        Workload("em_long_wide", "fit", 200, 2000, 2001, 32, 128, 3),
        Workload("decode_score", "decode", 4000, 50, 200, 4, 8, 3),
    )
}


def source_digest(root: Path) -> str:
    """sha256 over the program's Python sources: the cache key part that
    keeps a corpus or oracle from one program version out of another."""
    h = hashlib.sha256()
    for p in sorted((root / "baum_welch_spark").rglob("*.py")):
        h.update(str(p.relative_to(root)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def models(w: Workload, seed: int):
    from baum_welch_spark.hmm.model import HMM

    known = HMM.random(w.n_hidden, w.n_observed, seed=seed)
    init = HMM.random(w.n_hidden, w.n_observed, seed=seed + INIT_SEED_OFFSET)
    return known, init


def _cache_dir(cache: Path, w: Workload, seed: int, src: str) -> Path:
    shape = hashlib.sha256(json.dumps(asdict(w), sort_keys=True).encode()).hexdigest()
    return cache / f"{w.name}-s{seed}-{shape[:12]}-{src[:12]}"


def corpus_path(spark, cache: Path, w: Workload, seed: int, src: str) -> Path:
    """Parquet corpus (seq_id bigint, obs array<int>) for (workload, seed),
    generated on first use. Lengths come from a counter hash of
    (seed, seq_id), so they are the same under any partitioning."""
    from pyspark.sql import functions as F

    from baum_welch_spark.functions.columns import portable_hash60
    from baum_welch_spark.hmm.generate import generate_sequences

    out = _cache_dir(cache, w, seed, src) / "corpus.parquet"
    if (out / "_SUCCESS").exists():
        return out
    known, _ = models(w, seed)
    gen = generate_sequences(spark, known, w.n_seq, w.t_max - 1, seed=seed)
    length = F.lit(w.t_min) + portable_hash60(
        F.concat_ws(":", F.lit(str(seed)), F.col("seq_id").cast("string"), F.lit("len"))
    ) % F.lit(w.t_max - w.t_min)
    gen.select("seq_id", F.slice("obs", 1, length.cast("int")).alias("obs")).write.mode(
        "overwrite"
    ).parquet(str(out))
    return out


def warmup_corpus(cache: Path, n_observed: int) -> Path:
    """Tiny fixed corpus for the first-call warm-up inside set-up."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    out = cache / f"warmup-m{n_observed}.parquet"
    if not out.exists():
        rng = np.random.default_rng(0)
        obs = [rng.integers(0, n_observed, WARMUP_T).astype(np.int32) for _ in range(WARMUP_SEQS)]
        tmp = out.with_suffix(".tmp")
        pq.write_table(pa.table({"seq_id": np.arange(WARMUP_SEQS, dtype=np.int64), "obs": obs}), tmp)
        os.replace(tmp, out)
    return out


@dataclass
class Corpus:
    """The corpus in driver memory, sorted by seq_id."""

    seq_id: np.ndarray  # (S,) int64
    lens: np.ndarray  # (S,) int64
    flat: np.ndarray  # (sum T,) int64, sequences concatenated in seq_id order
    offsets: np.ndarray  # (S + 1,)

    @property
    def symbols(self) -> int:
        return int(self.lens.sum())

    def sequences(self) -> list[np.ndarray]:
        return np.split(self.flat, self.offsets[1:-1])


def load_corpus(path: Path) -> Corpus:
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["seq_id", "obs"]).sort_by("seq_id")
    obs = t.column("obs").combine_chunks()
    lens = np.asarray(obs.value_lengths(), dtype=np.int64)
    offsets = np.concatenate([[0], np.cumsum(lens)])
    return Corpus(
        seq_id=np.asarray(t.column("seq_id"), dtype=np.int64),
        lens=lens,
        flat=np.asarray(obs.flatten(), dtype=np.int64),
        offsets=offsets,
    )


def marginal_logliks(model, c: Corpus) -> np.ndarray:
    """Per-sequence log P(O|model) by a scaled forward pass batched over
    sequences of equal length: an implementation independent of the
    program's kernels, used to check score and Viterbi outputs."""
    out = np.empty(len(c.lens))
    for T in np.unique(c.lens):
        idx = np.nonzero(c.lens == T)[0]
        obs = c.flat[c.offsets[idx][:, None] + np.arange(T)[None, :]]  # (S_T, T)
        a = model.pi[None, :] * model.B[:, obs[:, 0]].T
        ll = np.zeros(len(idx))
        for t in range(T):
            if t:
                a = (a @ model.A) * model.B[:, obs[:, t]].T
            s = a.sum(axis=1)
            ll += np.log(s)
            a = a / s[:, None]
        out[idx] = ll
    return out


class Oracle:
    """Expected outputs for one (workload, seed), each computed on first
    use and cached next to the corpus: they are pure functions of it."""

    def __init__(self, cache: Path, w: Workload, seed: int, src: str, corpus: Corpus):
        self.dir = _cache_dir(cache, w, seed, src)
        self.w, self.corpus = w, corpus
        self.known, self.init = models(w, seed)

    def _cached(self, name: str, compute) -> dict:
        p = self.dir / f"{name}.npz"
        if p.exists():
            with np.load(p) as z:
                return dict(z)
        d = compute()
        self.dir.mkdir(parents=True, exist_ok=True)
        tmp = self.dir / f"{name}.tmp.npz"
        np.savez(tmp, **d)
        os.replace(tmp, p)
        return d

    def fit(self) -> dict:
        """The repo's single-process batched EM on the same corpus, init and
        iteration count as the distributed fit."""
        from baum_welch_spark.hmm.kernel import batched_baum_welch

        def compute():
            m, trace = batched_baum_welch(
                self.init, self.corpus.sequences(), max_iter=self.w.iters, tol=0.0
            )
            return {"pi": m.pi, "A": m.A, "B": m.B, "trace": np.asarray(trace)}

        return self._cached("fit", compute)

    def decode(self) -> dict:
        """Per-sequence marginal logliks under the known model and the
        batched E-step's total loglik under the same model."""
        from baum_welch_spark.hmm.kernel import e_step_counts_batch

        def compute():
            k = self.known
            n, m = k.n_hidden, k.n_observed
            total = e_step_counts_batch(
                k.pi, k.A, k.B, self.corpus.sequences(),
                np.zeros(n), np.zeros((n, n)), np.zeros((n, m)),
            )
            return {"marginal": marginal_logliks(k, self.corpus), "estep_total": np.float64(total)}

        return self._cached("decode", compute)
