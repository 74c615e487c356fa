"""Distributed Baum-Welch EM on Spark DataFrames.

The reference's dataflow (one Hadoop MR job per EM iteration,
BaumWelchDriver.java:114-184) re-expressed Spark-first:

  E-step  (reference mapper M2-M6, BaumWelchMapper.java:143-258)
      -> mapInArrow over the cached ``sequences`` DataFrame. Each Arrow
         batch's ``obs`` list column enters the packed NumPy kernel as flat
         symbols plus lengths (kernel.e_step_counts_packed); every batch of
         a task accumulates into the same local arrays, and the task emits
         ONE row: its loglik and its count block [pi | A | B] as one
         array<double>. This is the map-side combine the reference wrote
         but disabled (BaumWelchCombiner.java, off at
         BaumWelchDriver.java:171), taken to one record per task. The
         reference shuffles O(S*T*(2N+1)) stripe records (its T-fold
         duplicate-emission bug included, SURVEY §2.6 Q1).

  reduce + M-step  (reference A1-A4, BaumWelchReducer.java:49-149)
      -> no shuffle: the driver collects one block per task and folds them
         with one NumPy sum (fold_counts), then normalizes (kernel.m_step).
         The DuckDB-checked faces get the tidy (kind, i, j, weight) rows
         from a Catalyst posexplode + groupBy(pos) of the same blocks
         (tidy_counts) and normalize them with a window (normalize_counts).

  model distribution  (reference: every map task re-reads the model from
      HDFS, BaumWelchMapper.java:54-117)
      -> one sc.broadcast of the (pi, A, B) NumPy triple per iteration.

  convergence  (reference D4: two full model re-scans + Frobenius test,
      BaumWelchDriver.java:196-207)
      -> driver-side NumPy on the already-collected tiny model.

Scale posture: the only per-iteration action is one single-stage job over
the cached sequences (scan stays resident via persist) whose result is one
N + N^2 + N*M block per task. Nothing data-sized ever reaches the driver;
what does is tasks x block, so a wide model over very many partitions wants
a coalesced corpus (or a tree reduce, not built here).
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from baum_welch_spark.hmm.kernel import e_step_counts_batch, e_step_counts_packed, m_step
from baum_welch_spark.hmm.model import (
    HMM,
    KIND_EMISSION,
    KIND_INITIAL,
    KIND_TRANSITION,
)

COUNTS_SCHEMA = "kind string, i int, j int, weight double"
KIND_LOGLIK = "loglik"  # side-channel row: per-batch partial log-likelihood
#: one row per E-step task: its summed loglik and its encode_counts block
COUNT_BLOCK_SCHEMA = "loglik double, counts array<double>"


def encode_counts(cpi: np.ndarray, cA: np.ndarray, cB: np.ndarray) -> np.ndarray:
    """The count block of one E-step task: ``[pi | A.ravel() | B.ravel()]``."""
    return np.concatenate([cpi, cA.ravel(), cB.ravel()])


def fold_counts(
    rows, n: int, m: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray, float]:
    """Sum the collected ``(loglik, counts)`` task rows back into
    (count_pi, count_A, count_B, loglik) — the inverse of
    :func:`encode_counts`, folded with one NumPy sum. No rows (an empty
    corpus) folds to zero counts."""
    size = n + n * n + n * m
    total = np.sum([r.counts for r in rows], axis=0) if rows else np.zeros(size)
    to_b = n + n * n
    loglik = float(sum(r.loglik for r in rows))
    return total[:n], total[n:to_b].reshape(n, n), total[to_b:].reshape(n, m), loglik


def tidy_counts(blocks: DataFrame, n_hidden: int, n_observed: int) -> DataFrame:
    """The summed count blocks as tidy ``(kind, i, j, weight)`` rows: one
    Catalyst posexplode of the task blocks, summed per position, with each
    position decoded back to its (kind, i, j) cell."""
    n, m = n_hidden, n_observed
    pos = F.col("pos")
    to_b = n + n * n  # first emission position

    def cell(base: int, width: int):
        # row and column of a position inside the row-major block at base
        return ((pos - base) / width).cast("int"), ((pos - base) % width).cast("int")

    (ai, aj), (bi, bj) = cell(n, n), cell(to_b, m)
    return (
        blocks.select(F.posexplode("counts").alias("pos", "weight"))
        .groupBy("pos")
        .agg(F.sum("weight").alias("weight"))
        .select(
            F.when(pos < n, KIND_INITIAL)
            .when(pos < to_b, KIND_TRANSITION)
            .otherwise(KIND_EMISSION)
            .alias("kind"),
            F.when(pos < n, 0).when(pos < to_b, ai).otherwise(bi).alias("i"),
            F.when(pos < n, pos).when(pos < to_b, aj).otherwise(bj).alias("j"),
            "weight",
        )
    )


def _obs_arrays(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """(flat symbols, lengths) of one Arrow batch's ``obs`` list column.
    ``flatten``/``value_lengths`` honour a sliced batch's offset (the raw
    ``.values``/``.offsets`` buffers do not); a null array is length 0."""
    flat = col.flatten()
    if flat.null_count:
        raise ValueError("obs arrays must not contain null elements")
    return flat.to_numpy(), col.value_lengths().fill_null(0).to_numpy()


def _finite_weights(col: pa.Array) -> np.ndarray:
    """The batch's per-sequence weights; a null, NaN or infinite weight
    would silently poison every count the task accumulates, so it raises."""
    w = col.to_numpy(zero_copy_only=False)
    if col.null_count or not np.isfinite(w).all():
        raise ValueError(
            "fit(weight_col=...): weights must be finite doubles — "
            "found a null, NaN or infinite weight"
        )
    return w


def e_step_udf(bc_model, weighted: bool = False):
    """Build the mapInArrow function for one E-step pass.

    Each task runs every Arrow batch of its partition through the packed
    kernel (kernel.e_step_counts_packed) into one set of accumulators, then
    yields ONE row: its summed loglik and its :func:`encode_counts` block.
    A task that saw no symbols yields nothing.

    ``weighted``: the input carries a ``weight`` column and every
    sequence's counts/loglik scale by it (deduplicated-corpus multiplicity
    semantics — see kernel.e_step_counts_packed).
    """

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        pi, A, B = bc_model.value
        n, m = A.shape[0], B.shape[1]
        cpi, cA, cB = np.zeros(n), np.zeros((n, n)), np.zeros((n, m))
        ll = 0.0
        saw_data = False
        for batch in batches:
            flat, lens = _obs_arrays(batch.column("obs"))
            weights = _finite_weights(batch.column("weight")) if weighted else None
            if flat.size == 0:
                continue
            saw_data = True
            ll += e_step_counts_packed(pi, A, B, flat, lens, cpi, cA, cB, weights)
        if not saw_data:
            return
        block = encode_counts(cpi, cA, cB)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([ll], pa.float64()),
                pa.ListArray.from_arrays(pa.array([0, block.size], pa.int32()), block),
            ],
            names=["loglik", "counts"],
        )

    return compute


def expected_counts(
    sequences: DataFrame, bc_model, weight_col: str | None = None
) -> DataFrame:
    """One E-step over the corpus -> one ``(loglik, counts)`` row per task
    (COUNT_BLOCK_SCHEMA): a narrow mapInArrow, no shuffle. Fold the
    collected rows with :func:`fold_counts`, or sum them in Catalyst with
    :func:`tidy_counts`."""
    if weight_col is None:
        inp = sequences.select("obs")
    else:
        inp = sequences.select("obs", F.col(weight_col).cast("double").alias("weight"))
    return inp.mapInArrow(
        e_step_udf(bc_model, weighted=weight_col is not None), schema=COUNT_BLOCK_SCHEMA
    )


GROUPED_COUNTS_SCHEMA = "group string, kind string, i int, j int, weight double"


def grouped_e_step_udf(bc_models):
    """mapInPandas function for one E-step pass over (group, obs) rows with
    a PER-GROUP model: ``bc_models.value`` is {group: (pi, A, B)}, with an
    optional ``None`` key as the shared default (every group not frozen out
    uses it — the one-step re-estimate case). Groups absent from the dict
    (and no default) are skipped — that is how the driver loop freezes
    converged groups without repartitioning the corpus.

    Emits one flattened count block per (Arrow batch, group): the same
    in-UDF map-side combine as ``e_step_udf``, so per-iteration shuffle
    volume is O(partitions × groups-per-partition × N(N+M)) — corpus-size
    independent, exactly the single-model posture with a group key added.
    """

    def compute(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        models = bc_models.value
        default = models.get(None)
        acc: dict[str, list] = {}
        for pdf in batches:
            for group, sub in pdf.groupby("group", sort=False):
                triple = models.get(group, default)
                if triple is None:
                    continue
                pi, A, B = triple
                obs_list = [
                    np.asarray(o, dtype=np.int64)
                    for o in sub["obs"]
                    if o is not None and len(o) > 0
                ]
                if not obs_list:
                    continue
                a = acc.setdefault(
                    str(group),
                    [np.zeros_like(pi), np.zeros_like(A), np.zeros(B.shape), 0.0],
                )
                a[3] += e_step_counts_batch(pi, A, B, obs_list, a[0], a[1], a[2])
        if not acc:
            return
        groups, kinds, iis, jjs, weights = [], [], [], [], []
        for group, (cpi, cA, cB, ll) in acc.items():
            n, m = cA.shape[0], cB.shape[1]
            block_kinds = [KIND_INITIAL] * n
            block_i = [0] * n
            block_j = list(range(n))
            block_w = list(cpi)
            for i in range(n):
                block_kinds += [KIND_TRANSITION] * n
                block_i += [i] * n
                block_j += list(range(n))
                block_w += list(cA[i])
            for i in range(n):
                block_kinds += [KIND_EMISSION] * m
                block_i += [i] * m
                block_j += list(range(m))
                block_w += list(cB[i])
            block_kinds.append(KIND_LOGLIK)
            block_i.append(0)
            block_j.append(0)
            block_w.append(ll)
            groups += [group] * len(block_kinds)
            kinds += block_kinds
            iis += block_i
            jjs += block_j
            weights += block_w
        yield pd.DataFrame(
            {"group": groups, "kind": kinds,
             "i": np.array(iis, dtype=np.int32),
             "j": np.array(jjs, dtype=np.int32), "weight": weights}
        )

    return compute


def expected_counts_grouped(sequences_with_group: DataFrame, bc_models) -> DataFrame:
    """One grouped E-step over (group, obs) rows -> aggregated counts
    (group, kind, i, j, weight) including each group's loglik row."""
    raw = sequences_with_group.select("group", "obs").mapInPandas(
        grouped_e_step_udf(bc_models), schema=GROUPED_COUNTS_SCHEMA
    )
    return raw.groupBy("group", "kind", "i", "j").agg(F.sum("weight").alias("weight"))


def em_reestimate_grouped(
    spark: SparkSession, sequences_with_group: DataFrame, model: HMM
) -> DataFrame:
    """One grouped soft-EM re-estimation step: every group's counts under
    the same FIXED ``model``, normalized per (group, kind, i) — the grouped
    twin of :func:`em_reestimate`, and the DuckDB-exact pin for the grouped
    count shuffle itself (the aggregation path ``fit_grouped_distributed``
    iterates). Output: (group, kind, i, j, prob) rounded to 6 dp."""
    bc = spark.sparkContext.broadcast({None: (model.pi, model.A, model.B)})
    counts = expected_counts_grouped(sequences_with_group, bc)
    w = Window.partitionBy("group", "kind", "i")
    return (
        counts.filter((F.col("kind") != KIND_LOGLIK) & (F.col("weight") > 0))
        .withColumn("prob", F.col("weight") / F.sum("weight").over(w))
        .select("group", "kind", "i", "j", F.round(F.col("prob"), 6).alias("prob"))
    )


def normalize_counts(counts: DataFrame) -> DataFrame:
    """M-step normalize as a Catalyst window — the DuckDB-checkable face of
    the reference reducer's normalize (BaumWelchReducer.java:133-149)."""
    w = Window.partitionBy("kind", "i")
    return (
        counts.filter(F.col("kind") != KIND_LOGLIK)
        .withColumn("prob", F.col("weight") / F.sum("weight").over(w))
        .select("kind", "i", "j", "prob")
    )


def _masked(model: HMM, mask: np.ndarray) -> HMM:
    """Zero masked transition entries and renormalize each row over its
    allowed entries (zero-mass rows become uniform over allowed entries)."""
    if mask.shape != model.A.shape:
        raise ValueError(f"topology_mask shape {mask.shape} != A {model.A.shape}")
    if not mask.any(axis=1).all():
        raise ValueError("every state needs at least one allowed transition")
    A = np.where(mask, model.A, 0.0)
    s = A.sum(axis=1, keepdims=True)
    fallback = mask / mask.sum(axis=1, keepdims=True)
    A = np.where(s > 0, A / np.where(s > 0, s, 1.0), fallback)
    return HMM(
        pi=model.pi, A=A, B=model.B,
        hidden_names=model.hidden_names, observed_names=model.observed_names,
    ).validate()


@dataclass
class FitResult:
    model: HMM
    loglik_trace: list[float]
    iterations: int
    converged: bool


def fit(
    spark: SparkSession,
    sequences: DataFrame,
    init: HMM,
    max_iter: int = 10,
    tol: float = 0.0,
    model_out: str | None = None,
    weight_col: str | None = None,
    topology_mask: np.ndarray | None = None,
) -> FitResult:
    """Distributed EM loop (reference driver D2, BaumWelchDriver.java:114-134).

    Per iteration: broadcast model -> E-step mapInArrow -> collect one
    count block per task -> NumPy fold and M-step -> convergence test. Optionally writes
    ``{model_out}/model-{it}`` parquet per iteration (reference S3/S4 sinks,
    BaumWelchUtils.java:147-226, BaumWelchDriver.java:128,178).

    ``weight_col``: per-sequence multiplicity/importance weights — train on
    a DEDUPLICATED corpus where each kept sequence carries its duplicate
    count (an integer weight w is numerically equivalent to replicating the
    sequence w times; asserted in tests). The loglik trace is the weighted
    total.

    ``topology_mask``: (N, N) bool — structural transition topology (e.g.
    ``HMM.bakis_mask`` for left-to-right models, Rabiner 1989 §IV.b;
    extends the reference's D5 validation invariants, BaumWelchModel.java:
    57-82, to structured models). Applied to the init (masked entries
    zeroed, rows renormalized) and RE-applied after every M-step: EM itself
    provably preserves structural zeros (the xi numerator carries a factor
    of A[i,j], so a zero parameter accumulates zero count), but ``m_step``
    resets zero-mass rows of an unreachable state to uniform — the
    re-application makes those uniform over ALLOWED transitions instead.
    """
    model = init.validate()
    if topology_mask is not None:
        topology_mask = np.asarray(topology_mask, dtype=bool)
        model = _masked(model, topology_mask)
    sc = spark.sparkContext
    # respect a caller-managed cache: persisting is fit's job only when the
    # caller didn't already, and then so is the unpersist (ADVICE r1)
    caller_persisted = sequences.storageLevel.useMemory or sequences.storageLevel.useDisk
    if not caller_persisted:
        sequences = sequences.persist(StorageLevel.MEMORY_AND_DISK)
    trace: list[float] = []
    converged = False
    iterations = 0
    try:
        for it in range(max_iter):
            bc = sc.broadcast((model.pi, model.A, model.B))
            try:
                rows = expected_counts(sequences, bc, weight_col=weight_col).collect()
            finally:
                bc.unpersist()
            cpi, cA, cB, ll = fold_counts(rows, model.n_hidden, model.n_observed)
            trace.append(ll)
            new_model = m_step(cpi, cA, cB)
            if topology_mask is not None:
                new_model = _masked(new_model, topology_mask)
            if model_out is not None:
                new_model.write(spark, f"{model_out}/model-{it}")
            delta = model.distance(new_model)
            model = new_model
            iterations = it + 1
            if tol > 0 and delta < tol:
                converged = True
                break
    finally:
        if not caller_persisted:
            sequences.unpersist()
    return FitResult(model=model, loglik_trace=trace, iterations=iterations, converged=converged)


def fit_restarts(
    spark: SparkSession,
    sequences: DataFrame,
    n_hidden: int,
    n_observed: int,
    n_restarts: int = 4,
    max_iter: int = 10,
    tol: float = 0.0,
    base_seed: int = 42,
) -> tuple[FitResult, list[float]]:
    """Multi-restart EM: run :func:`fit` from ``n_restarts`` random
    initializations (seeds ``base_seed + r``) and keep the run with the
    best final-iteration log-likelihood — the standard guard against EM's
    local optima that a single random init cannot give (the reference
    driver trains one init only; this is the robustness wrapper around its
    D2 loop).

    The sequence corpus is persisted ONCE here and shared by every restart
    (fit respects a caller-managed cache), so n_restarts costs n_restarts
    EM loops over cached data, not n_restarts corpus reads. Restarts run as
    a small pool of overlapping driver threads (2-3 jobs in flight,
    optimization guide §2.6): FIFO scheduling lets one restart's tiny
    per-iteration stages back-fill executors idled by another's stage
    tail — on a saturated cluster this degrades gracefully to the
    sequential cost, never worse.

    Selection compares the FINAL log-likelihood of each trained model —
    P(O | λ_r) from the same E-step, but not necessarily at the same
    iteration index: with ``tol > 0`` some restarts may converge (and
    stop) earlier than others, which is the intended semantics (best model
    wins, however long it took).

    Restart mode does NOT write per-iteration model checkpoints (``fit`` is
    called without ``model_out``); callers that need the winning restart's
    checkpoint trail should re-run ``fit`` with the winning seed and
    ``model_out`` set. Returns (best FitResult, final loglik per restart).
    """
    from baum_welch_spark.hmm.model import HMM

    if n_restarts < 1:
        raise ValueError("n_restarts must be >= 1")
    caller_persisted = sequences.storageLevel.useMemory or sequences.storageLevel.useDisk
    if not caller_persisted:
        sequences = sequences.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # Restarts are independent EM loops over the same cached corpus —
        # overlap them as driver threads (optimization guide §2.6) so each
        # restart's tiny per-iteration stages back-fill executors idled by
        # another restart's stage tail. pool.map preserves restart order, so
        # `finals` and the first-max tiebreak are identical to the
        # sequential sweep; per-restart arithmetic is untouched.
        from concurrent.futures import ThreadPoolExecutor

        def one(r: int) -> FitResult:
            init = HMM.random(n_hidden, n_observed, seed=base_seed + r)
            return fit(spark, sequences, init, max_iter=max_iter, tol=tol)

        with ThreadPoolExecutor(max_workers=min(3, n_restarts)) as pool:
            results = list(pool.map(one, range(n_restarts)))
        best: FitResult | None = None
        finals: list[float] = []
        for res in results:
            finals.append(res.loglik_trace[-1])
            if best is None or res.loglik_trace[-1] > best.loglik_trace[-1]:
                best = res
        return best, finals
    finally:
        if not caller_persisted:
            sequences.unpersist()


def em_reestimate(
    spark: SparkSession, sequences: DataFrame, model: HMM
) -> DataFrame:
    """One distributed SOFT-EM re-estimation step as a tidy DataFrame
    (kind, i, j, prob): E-step expected counts (γ at t=0 for pi, Σ_t ξ for
    A, Σ_t γ by symbol for B — kernel.e_step_counts_packed, reference
    M4/M5/M6 stripes, BaumWelchMapper.java:157-240 with the §2.6 Q2/Q3/Q5
    corrections) under a FIXED ``model``, then the Catalyst window
    normalize (normalize_counts, reference reducer A4).

    This is the soft twin of viterbi_train.viterbi_reestimate, and the
    DuckDB-exact pin for the distributed E-step itself: the oracle
    (em_reestimate_oracle_sql) recomputes γ/ξ from the scaled
    forward/backward recursive CTEs and must land on the same 6-dp-rounded
    probabilities — so the mapInArrow accumulation, the count-block sum
    (tidy_counts) and the window normalize are checked end-to-end, not
    just via the pytest NumPy oracle. Probabilities are strictly positive here (γ > 0 for a
    dense random model), so plain round needs no signed-zero guard."""
    bc = spark.sparkContext.broadcast((model.pi, model.A, model.B))
    counts = tidy_counts(expected_counts(sequences, bc), model.n_hidden, model.n_observed)
    # weight > 0: the E-step UDF emits the DENSE N x (N+M) accumulator
    # including exactly-zero cells (a symbol absent from the corpus, or a
    # fully-underflowed state); the oracle's GROUP BYs only produce rows
    # for observed events, so zero-weight cells must be absent on both
    # sides (the same sparse-output contract as viterbi_reestimate)
    return normalize_counts(counts.filter(F.col("weight") > 0)).select(
        "kind", "i", "j", F.round(F.col("prob"), 6).alias("prob")
    )


def em_reestimate_oracle_sql(model: HMM, group_expr: str | None = None) -> str:
    """ANSI-SQL (DuckDB) oracle for em_reestimate: the shared scaled
    forward/backward CTEs (decode._fb_ctes), γ as alpha_hat * beta_hat
    (the kernel's own convention — NOT per-step renormalized, it already
    sums to 1), ξ_t(i,j) = p_i(t) · A_ij · B_j(o_{t+1}) · b_j(t+1) / s(t+1)
    (kernel.py module doc), summed by plain GROUP BYs and normalized with
    the same count/Σcount window as the Spark side. The two engines sum γ/ξ
    in different float orders (~1e-12 agreement); both round to 6 dp.

    ``group_expr``: optional SQL expression with a ``{u}`` placeholder for
    the sequence id — when given, the oracle becomes the grouped twin
    (em_reestimate_grouped): every branch additionally groups by it and
    the normalize window partitions by (group, kind, i)."""
    from baum_welch_spark.hmm.decode import _blist, _fb_ctes, _lit
    from baum_welch_spark.hmm.model import (
        KIND_EMISSION,
        KIND_INITIAL,
        KIND_TRANSITION,
    )

    N = model.pi.shape[0]
    A, B = model.A, model.B
    j1 = range(1, N + 1)
    gcols = ",\n         ".join(f"al.p{j} * bt.b{j} AS g{j}" for j in j1)
    xcols = ",\n         ".join(
        f"al.p{i} * {_lit(A[i - 1][j - 1])} * ({_blist(B[j - 1])})[c.sym + 1]"
        f" * bt.b{j} / a2.s AS x{i}_{j}"
        for i in j1
        for j in j1
    )

    def grp(alias: str) -> str:
        # leading select-list / group-by fragments for the grouped variant
        if group_expr is None:
            return ""
        return group_expr.format(u=f"{alias}user_id") + " AS grp, "

    gby1 = "GROUP BY 1 " if group_expr is not None else ""
    gby1c = "GROUP BY 1, " if group_expr is not None else "GROUP BY "
    # HAVING > 0 on every branch: the Spark face drops exactly-zero count
    # cells (sparse-output contract), so the oracle must too — an initial/
    # transition branch with no WHERE would otherwise always emit a row
    init_branches = "\n  UNION ALL\n".join(
        f"  SELECT {grp('')}'{KIND_INITIAL}' AS kind, 0 AS i, {j - 1} AS j, sum(g{j}) AS weight FROM g WHERE t = 0 {gby1}HAVING sum(g{j}) > 0"
        for j in j1
    )
    trans_branches = "\n  UNION ALL\n".join(
        f"  SELECT {grp('')}'{KIND_TRANSITION}', {i - 1}, {j - 1}, sum(x{i}_{j}) FROM xi {gby1}HAVING sum(x{i}_{j}) > 0"
        for i in j1
        for j in j1
    )
    emit_branches = "\n  UNION ALL\n".join(
        f"  SELECT {grp('g.')}'{KIND_EMISSION}', {j - 1}, c.sym, sum(g.g{j})"
        f" FROM g JOIN coded c ON c.user_id = g.user_id AND c.t = g.t {gby1c}c.sym HAVING sum(g.g{j}) > 0"
        for j in j1
    )
    out_group = 'grp AS "group", ' if group_expr is not None else ""
    win_group = "grp, " if group_expr is not None else ""
    return (
        _fb_ctes(model)
        + f"""
g AS MATERIALIZED (
  SELECT al.user_id, al.t,
         {gcols}
  FROM alpha al JOIN beta bt ON bt.user_id = al.user_id AND bt.t = al.t
),
xi AS MATERIALIZED (
  SELECT al.user_id, al.t,
         {xcols}
  FROM alpha al
  JOIN alpha a2 ON a2.user_id = al.user_id AND a2.t = al.t + 1
  JOIN coded c ON c.user_id = al.user_id AND c.t = al.t + 1
  JOIN beta bt ON bt.user_id = al.user_id AND bt.t = al.t + 1
),
raw AS (
{init_branches}
  UNION ALL
{trans_branches}
  UNION ALL
{emit_branches}
)
SELECT {out_group}kind, i::INTEGER AS i, j::INTEGER AS j,
       round(weight / sum(weight) OVER (PARTITION BY {win_group}kind, i), 6) AS prob
FROM raw
"""
    )


def model_from_tidy(rows, n_hidden: int, n_observed: int) -> HMM:
    """Rebuild an :class:`HMM` from tidy ``(kind, i, j, prob)`` row dicts
    (the re-estimation faces' rounded output; absent sparse cells are
    exactly 0). The UNVALIDATED sibling of :meth:`HMM.from_rows` — keep
    the two fill loops in sync if the tidy-row convention ever changes.
    No validate/renormalize here: rounded rows sum to 1 only within ~2e-6
    (outside validate's 1e-8), and the chained E-step must use the rounded
    values verbatim — a renormalization the oracle would not perform."""
    pi = np.zeros(n_hidden)
    A = np.zeros((n_hidden, n_hidden))
    B = np.zeros((n_hidden, n_observed))
    for r in rows:
        if r["kind"] == KIND_INITIAL:
            pi[r["j"]] = r["prob"]
        elif r["kind"] == KIND_TRANSITION:
            A[r["i"], r["j"]] = r["prob"]
        elif r["kind"] == KIND_EMISSION:
            B[r["i"], r["j"]] = r["prob"]
    return HMM(pi=pi, A=A, B=B)


def em_trace(
    spark: SparkSession, sequences: DataFrame, model: HMM, n_iters: int = 2
) -> DataFrame:
    """The EM *loop* as a tidy trace: ``n_iters`` chained re-estimation
    steps, iteration k+1's model being iteration k's 6-dp-rounded tidy
    output (the ``modelIn <- modelOut`` chaining the reference drives at
    BaumWelchDriver.java:114-134, one MR job per lap). Output is every
    iteration's model: ``(iter, kind, i, j, prob)``.

    This is the driver-exact pin for the chaining itself, not just one
    step (VERDICT r11 #3): the DuckDB oracle (:func:`em_trace_oracle_sql`)
    derives iteration 2+'s model from iteration 1's OWN CTE output —
    pivoted to a one-row model CTE and joined into the next lap's
    forward/backward recursions — never from the Python driver. The
    6-dp round at each hand-off makes the chain stable: both engines'
    lap-k inputs are bit-identical because lap k-1's rounded output is the
    already-proven ``em_reestimate`` contract, so every lap has the same
    ~1e-12-at-6dp agreement class as the single-step face, with no error
    compounding across laps.

    The per-lap ``collect`` is model-sized (N^2 + N*M + N rows) — the same
    driver-side footprint as :func:`fit`'s convergence test. Laps before
    the last are rebuilt as literal frames from their collected rows (they
    were computed anyway for the chaining), so nothing is persisted and
    nothing recomputes at the caller's collect — no cache accumulation
    across repeated bench invocations (review finding, r12).
    """
    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    frames = []
    cur = model
    schema = "iter int, kind string, i int, j int, prob double"
    # one sequence build shared by every chained lap (r15, guide §3.3): lap
    # 1's collect materializes it, later laps (and the caller's action on
    # the returned last-lap frame) read the checkpoint instead of re-running
    # the corpus groupBy/collect_list per lap. Lazy and session-scoped —
    # nothing persists across invocations (the r12 review posture holds).
    if n_iters > 1:
        sequences = sequences.localCheckpoint(eager=False)
    for it in range(1, n_iters + 1):
        step = em_reestimate(spark, sequences, cur)
        if it < n_iters:
            rows = step.collect()
            frames.append(
                spark.createDataFrame(
                    [(it, r.kind, r.i, r.j, r.prob) for r in rows], schema
                )
            )
            cur = model_from_tidy(
                [r.asDict() for r in rows], cur.n_hidden, cur.n_observed
            )
        else:
            frames.append(
                step.select(F.lit(it).alias("iter"), "kind", "i", "j", "prob")
            )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def em_trace_oracle_sql(model: HMM, n_iters: int = 2) -> str:
    """ANSI-SQL (DuckDB) oracle for :func:`em_trace`: iteration 1 is the
    :func:`em_reestimate_oracle_sql` body verbatim (model embedded as
    full-precision literals); every later iteration re-derives alpha/beta/
    gamma/xi recursions whose model parameters come from the PREVIOUS
    iteration's rounded output CTE — pi and A pivoted into a one-row
    ``mw{k}`` CTE (conditional aggregates, absent sparse cells coalesced
    to 0), emission probs pre-joined per (t, state) onto the coded
    sequence (``bsym{k}``), so the recursive CTEs reference model values
    as columns instead of literals. The chaining is therefore computed
    entirely inside DuckDB, mirroring the engine's modelOut -> modelIn
    hand-off."""
    from baum_welch_spark.hmm.decode import _blist, _fb_ctes, _lit

    if n_iters < 1:
        raise ValueError(f"n_iters must be >= 1, got {n_iters}")
    N, M = model.pi.shape[0], model.B.shape[1]
    A, B = model.A, model.B
    j1 = range(1, N + 1)

    def raw_block(gname: str, xname: str, csym: str) -> str:
        init = "\n  UNION ALL\n".join(
            f"  SELECT '{KIND_INITIAL}' AS kind, 0 AS i, {j - 1} AS j, sum(g{j}) AS weight FROM {gname} WHERE t = 0 HAVING sum(g{j}) > 0"
            for j in j1
        )
        trans = "\n  UNION ALL\n".join(
            f"  SELECT '{KIND_TRANSITION}', {i - 1}, {j - 1}, sum(x{i}_{j}) FROM {xname} HAVING sum(x{i}_{j}) > 0"
            for i in j1
            for j in j1
        )
        emit = "\n  UNION ALL\n".join(
            f"  SELECT '{KIND_EMISSION}', {j - 1}, c.sym, sum(g.g{j})"
            f" FROM {gname} g JOIN {csym} c ON c.user_id = g.user_id AND c.t = g.t GROUP BY c.sym HAVING sum(g.g{j}) > 0"
            for j in j1
        )
        return f"{init}\n  UNION ALL\n{trans}\n  UNION ALL\n{emit}"

    norm_select = (
        "SELECT kind, i::INTEGER AS i, j::INTEGER AS j,\n"
        "       round(weight / sum(weight) OVER (PARTITION BY kind, i), 6) AS prob"
    )

    # ---- iteration 1: literal-model lap (the em_reestimate body) ----------
    gcols = ",\n         ".join(f"al.p{j} * bt.b{j} AS g{j}" for j in j1)
    xcols = ",\n         ".join(
        f"al.p{i} * {_lit(A[i - 1][j - 1])} * ({_blist(B[j - 1])})[c.sym + 1]"
        f" * bt.b{j} / a2.s AS x{i}_{j}"
        for i in j1
        for j in j1
    )
    sql = (
        _fb_ctes(model)
        + f"""
g1 AS MATERIALIZED (
  SELECT al.user_id, al.t,
         {gcols}
  FROM alpha al JOIN beta bt ON bt.user_id = al.user_id AND bt.t = al.t
),
xi1 AS MATERIALIZED (
  SELECT al.user_id, al.t,
         {xcols}
  FROM alpha al
  JOIN alpha a2 ON a2.user_id = al.user_id AND a2.t = al.t + 1
  JOIN coded c ON c.user_id = al.user_id AND c.t = al.t + 1
  JOIN beta bt ON bt.user_id = al.user_id AND bt.t = al.t + 1
),
raw1 AS (
{raw_block('g1', 'xi1', 'coded')}
),
m1 AS MATERIALIZED (
{norm_select}
FROM raw1
),
"""
    )

    # ---- iterations 2..n: model columns come from m{k-1} -------------------
    for k in range(2, n_iters + 1):
        p = k - 1
        pivot_pi = ",\n    ".join(
            f"coalesce(max(CASE WHEN kind = '{KIND_INITIAL}' AND j = {j - 1} THEN prob END), 0.0) AS pi{j}"
            for j in j1
        )
        pivot_a = ",\n    ".join(
            f"coalesce(max(CASE WHEN kind = '{KIND_TRANSITION}' AND i = {i - 1} AND j = {j - 1} THEN prob END), 0.0) AS a{i}_{j}"
            for i in j1
            for j in j1
        )
        bjoin = "\n  ".join(
            f"LEFT JOIN m{p} e{j} ON e{j}.kind = '{KIND_EMISSION}' AND e{j}.i = {j - 1} AND e{j}.j = c.sym"
            for j in j1
        )
        bcols = ", ".join(f"coalesce(e{j}.prob, 0.0) AS b{j}" for j in j1)
        base_u = ",\n           ".join(f"m.pi{j} * c.b{j} AS u{j}" for j in j1)
        step_u = ",\n           ".join(
            "(" + " + ".join(f"a.p{i} * m.a{i}_{j}" for i in j1) + f") * c.b{j} AS nu{j}"
            for j in j1
        )
        usum = " + ".join(f"u{j}" for j in j1)
        nusum = " + ".join(f"nu{j}" for j in j1)
        norm = ", ".join(f"u{j} / s AS p{j}" for j in j1)
        nnorm = ", ".join(f"nu{j} / ns AS np{j}" for j in j1)
        base_b = ", ".join(f"CAST(1.0 AS DOUBLE) AS b{j}" for j in j1)
        step_b = ",\n           ".join(
            "("
            + " + ".join(f"m.a{i}_{j} * c.b{j} * b.b{j}" for j in j1)
            + f") / a.s AS nb{i}"
            for i in j1
        )
        gcols_k = ",\n         ".join(f"al.p{j} * bt.b{j} AS g{j}" for j in j1)
        xcols_k = ",\n         ".join(
            f"al.p{i} * m.a{i}_{j} * c.b{j} * bt.b{j} / a2.s AS x{i}_{j}"
            for i in j1
            for j in j1
        )
        sql += f"""
mw{p} AS MATERIALIZED (
  SELECT
    {pivot_pi},
    {pivot_a}
  FROM m{p}
),
bsym{p} AS MATERIALIZED (
  SELECT c.user_id, c.t, c.sym, {bcols}
  FROM coded c
  {bjoin}
),
alpha{k} AS MATERIALIZED (
  WITH RECURSIVE alpha{k}_r AS (
    SELECT c.user_id, 0 AS t,
           {base_u},
           ({usum}) AS s, {norm}
    FROM bsym{p} c CROSS JOIN mw{p} m WHERE c.t = 0
    UNION ALL
    SELECT a.user_id, a.t + 1,
           {step_u},
           ({nusum}) AS ns, {nnorm}
    FROM alpha{k}_r a
    JOIN bsym{p} c ON c.user_id = a.user_id AND c.t = a.t + 1
    CROSS JOIN mw{p} m
  ) SELECT * FROM alpha{k}_r
),
beta{k} AS MATERIALIZED (
  WITH RECURSIVE beta{k}_r AS (
    SELECT l.user_id, l.t_len - 1 AS t, {base_b}
    FROM lens l
    UNION ALL
    SELECT b.user_id, b.t - 1,
           {step_b}
    FROM beta{k}_r b
    JOIN bsym{p} c ON c.user_id = b.user_id AND c.t = b.t
    JOIN alpha{k} a ON a.user_id = b.user_id AND a.t = b.t
    CROSS JOIN mw{p} m
    WHERE b.t > 0
  ) SELECT * FROM beta{k}_r
),
g{k} AS MATERIALIZED (
  SELECT al.user_id, al.t,
         {gcols_k}
  FROM alpha{k} al JOIN beta{k} bt ON bt.user_id = al.user_id AND bt.t = al.t
),
xi{k} AS MATERIALIZED (
  SELECT al.user_id, al.t,
         {xcols_k}
  FROM alpha{k} al
  JOIN alpha{k} a2 ON a2.user_id = al.user_id AND a2.t = al.t + 1
  JOIN bsym{p} c ON c.user_id = al.user_id AND c.t = al.t + 1
  JOIN beta{k} bt ON bt.user_id = al.user_id AND bt.t = al.t + 1
  CROSS JOIN mw{p} m
),
raw{k} AS (
{raw_block(f'g{k}', f'xi{k}', 'coded')}
),
m{k} AS MATERIALIZED (
{norm_select}
FROM raw{k}
),
"""

    # ---- final union across iterations -------------------------------------
    sql = sql.rstrip().rstrip(",")
    union = "\nUNION ALL\n".join(
        f"SELECT {k} AS iter, kind, i, j, prob FROM m{k}" for k in range(1, n_iters + 1)
    )
    return sql + f"\n{union}\n"
