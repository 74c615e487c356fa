"""Distributed Baum-Welch EM on Spark DataFrames — the one EM engine every
HMM trainer runs.

The reference's dataflow (one Hadoop MR job per EM iteration,
BaumWelchDriver.java:114-184) re-expressed Spark-first:

  E-step  (reference mapper M2-M6, BaumWelchMapper.java:143-258)
      -> one mapInArrow shell (count_block_udf) over the cached
         ``sequences`` DataFrame. Each Arrow batch's ``obs`` list column
         enters the trainer's accumulate step as flat values plus lengths
         (for the soft E-step, the packed kernel
         kernel.e_step_counts_packed); every batch of a task accumulates
         into the same local arrays, and the task emits ONE row: its loglik
         and its count block as one array<double>. This is the map-side
         combine the reference wrote but disabled (BaumWelchCombiner.java,
         off at BaumWelchDriver.java:171), taken to one record per task. The
         reference shuffles O(S*T*(2N+1)) stripe records (its T-fold
         duplicate-emission bug included, SURVEY §2.6 Q1).

  count codec
      -> a block is the layout's arrays raveled back to back: [pi | A | B]
         for the discrete family (hmm_layout), [pi | A | moments] for the
         Gaussian one. encode_counts writes a block, fold_counts sums the
         collected blocks and splits them back, tidy_counts turns them into
         the (kind, i, j, weight) rows the DuckDB-checked faces normalize.

  reduce + M-step  (reference A1-A4, BaumWelchReducer.java:49-149)
      -> no shuffle: the driver collects one block per task and folds them
         with one NumPy sum (fold_counts), then runs the trainer's M-step.

  model distribution  (reference: every map task re-reads the model from
      HDFS, BaumWelchMapper.java:54-117)
      -> one sc.broadcast of the model per iteration (collect_counts).

  convergence  (reference D4: two full model re-scans + Frobenius test,
      BaumWelchDriver.java:196-207)
      -> driver-side NumPy on the already-collected tiny model (em_loop).

Scale posture: the only per-iteration action is one single-stage job over
the cached sequences (scan stays resident via persist) whose result is one
block per task. Nothing data-sized ever reaches the driver; what does is
tasks x block, so a wide model over very many partitions wants a
coalesced corpus (or a tree reduce, not built here).
"""

from __future__ import annotations

import itertools
from dataclasses import dataclass
from typing import Callable, Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from baum_welch_spark.hmm.kernel import check_symbol_ids, e_step_counts_packed, m_step
from baum_welch_spark.hmm.model import (
    HMM,
    KIND_EMISSION,
    KIND_INITIAL,
    KIND_TRANSITION,
)

#: one row per E-step task: its summed loglik and its encode_counts block
COUNT_BLOCK_SCHEMA = "loglik double, counts array<double>"
#: the grouped E-step's rows: one block per (task, group)
GROUPED_COUNT_BLOCK_SCHEMA = "group string, " + COUNT_BLOCK_SCHEMA

#: a count layout: the (kind, shape) of each array of a block, in order
Layout = tuple[tuple[str, tuple[int, ...]], ...]


def hmm_layout(model: HMM) -> Layout:
    """The discrete family's count layout: ``[pi | A | B]``."""
    n, m = model.n_hidden, model.n_observed
    return ((KIND_INITIAL, (n,)), (KIND_TRANSITION, (n, n)), (KIND_EMISSION, (n, m)))


def encode_counts(*arrays: np.ndarray) -> np.ndarray:
    """The count block of one E-step task: its arrays raveled back to back."""
    return np.concatenate([np.ravel(a) for a in arrays])


def fold_counts(rows, layout: Layout) -> tuple:
    """Sum the collected ``(loglik, counts)`` rows back into the layout's
    arrays — the inverse of :func:`encode_counts`, folded with one NumPy
    sum. Returns ``(*arrays, loglik)``; no rows (an empty corpus) folds to
    zero counts."""
    shapes = [shape for _, shape in layout]
    sizes = [int(np.prod(shape)) for shape in shapes]
    total = np.sum([r.counts for r in rows], axis=0) if rows else np.zeros(sum(sizes))
    parts = np.split(total, np.cumsum(sizes)[:-1])
    loglik = float(sum(r.loglik for r in rows))
    return (*(p.reshape(shape) for p, shape in zip(parts, shapes)), loglik)


def tidy_counts(blocks: DataFrame, layout: Layout) -> DataFrame:
    """The summed count blocks as tidy ``(kind, i, j, weight)`` rows: one
    Catalyst posexplode of the task blocks, summed per position, with each
    position decoded back to its (kind, i, j) cell along ``layout`` (a
    vector is row 0). Key columns beside ``(loglik, counts)`` — the grouped
    E-step's ``group`` — lead the output and key the sum."""
    keys = [c for c in blocks.columns if c not in ("loglik", "counts")]
    pos = F.col("pos")
    kind = i = j = F  # F.when opens each CASE chain, Column.when extends it
    base = 0
    for name, shape in layout:
        size, width = int(np.prod(shape)), shape[-1]
        inside = pos < base + size
        # row and column of a position inside the row-major array at base
        row, col = ((pos - base) / width).cast("int"), ((pos - base) % width).cast("int")
        kind, i, j = kind.when(inside, name), i.when(inside, row), j.when(inside, col)
        base += size
    return (
        blocks.select(*keys, F.posexplode("counts").alias("pos", "weight"))
        .groupBy(*keys, "pos")
        .agg(F.sum("weight").alias("weight"))
        .select(*keys, kind.alias("kind"), i.alias("i"), j.alias("j"), "weight")
    )


def _obs_arrays(col: pa.Array, n_symbols: int | None = None) -> tuple[np.ndarray, np.ndarray]:
    """(flat values, lengths) of one Arrow batch's ``obs`` list column.
    ``flatten``/``value_lengths`` honour a sliced batch's offset (the raw
    ``.values``/``.offsets`` buffers do not); a null array is length 0.
    ``n_symbols``: the discrete alphabet size M — ids outside [0, M) raise
    (kernel.check_symbol_ids)."""
    flat = col.flatten()
    if flat.null_count:
        raise ValueError("obs arrays must not contain null elements")
    flat = flat.to_numpy()
    if n_symbols is not None:
        check_symbol_ids(flat, n_symbols)
    return flat, col.value_lengths().fill_null(0).to_numpy()


def split_sequences(flat: np.ndarray, lens: np.ndarray) -> list[np.ndarray]:
    """The non-empty sequences of a packed batch, as views of ``flat``."""
    return [s for s in np.split(flat, np.cumsum(lens)[:-1]) if s.size]


def _group_parts(batch: pa.RecordBatch) -> Iterator[tuple[str, pa.RecordBatch]]:
    """(group, rows of that group) for each non-null group of a batch."""
    col = batch.column("group")
    for g in pc.unique(col).to_pylist():
        if g is not None:
            yield g, batch.filter(pc.equal(col, g))


def count_block_udf(bc_model, layout: Callable[..., Layout], accumulate):
    """Build the mapInArrow function of one E-step pass — the one shell
    every trainer's E-step runs in.

    Each task runs every Arrow batch of its partition through
    ``accumulate(model, batch, flat, lens, *arrays) -> loglik`` (the
    trainer's per-batch step: packed kernel, Viterbi path counts, labeled/
    unlabeled split, Gaussian moments) into one set of ``layout(model)``
    arrays, then yields ONE row: its summed loglik and its
    :func:`encode_counts` block. A task that saw no observations yields
    nothing. A discrete model's observations must be symbol ids in [0, M),
    checked once per batch.

    ``bc_model.value`` is the model, or ``{group: model}`` for the grouped
    E-step over (group, obs) rows, with an optional ``None`` key as the
    default for every group (the one-step re-estimate case). Each (task,
    group) then yields its own row, keyed by group; a group with no model
    is skipped — that is how a driver loop freezes converged groups
    without repartitioning the corpus.
    """

    def compute(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        value = bc_model.value
        grouped = isinstance(value, dict)
        accs: dict = {}  # group (None when ungrouped) -> [loglik, *arrays]
        for batch in batches:
            for key, part in _group_parts(batch) if grouped else ((None, batch),):
                model = value.get(key, value.get(None)) if grouped else value
                if model is None:
                    continue
                n_symbols = model.n_observed if isinstance(model, HMM) else None
                flat, lens = _obs_arrays(part.column("obs"), n_symbols)
                if flat.size == 0:
                    continue
                acc = accs.get(key)
                if acc is None:
                    acc = accs[key] = [0.0] + [np.zeros(shape) for _, shape in layout(model)]
                acc[0] += accumulate(model, part, flat, lens, *acc[1:])
        if not accs:
            return
        blocks = [encode_counts(*acc[1:]) for acc in accs.values()]
        offsets = np.cumsum([0] + [b.size for b in blocks])
        cols = [
            pa.array([acc[0] for acc in accs.values()], pa.float64()),
            pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), np.concatenate(blocks)),
        ]
        names = ["loglik", "counts"]
        if grouped:
            cols, names = [pa.array(list(accs), pa.string())] + cols, ["group"] + names
        yield pa.RecordBatch.from_arrays(cols, names=names)

    return compute


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


def _soft_counts(model: HMM, batch, flat, lens, cpi, cA, cB) -> float:
    """Soft E-step accumulate step: the packed forward-backward kernel. A
    ``weight`` column scales every sequence's counts/loglik by it
    (deduplicated-corpus multiplicity semantics — see
    kernel.e_step_counts_packed)."""
    weights = _finite_weights(batch.column("weight")) if "weight" in batch.schema.names else None
    return e_step_counts_packed(model.pi, model.A, model.B, flat, lens, cpi, cA, cB, weights)


def expected_counts(
    sequences: DataFrame, bc_model, weight_col: str | None = None
) -> DataFrame:
    """One soft E-step over the corpus -> one ``(loglik, counts)`` row per
    task (COUNT_BLOCK_SCHEMA, :func:`hmm_layout` blocks): a narrow
    mapInArrow, no shuffle. ``bc_model`` broadcasts the :class:`HMM`. Fold
    the collected rows with :func:`fold_counts`, or sum them in Catalyst
    with :func:`tidy_counts`."""
    if weight_col is None:
        inp = sequences.select("obs")
    else:
        inp = sequences.select("obs", F.col(weight_col).cast("double").alias("weight"))
    return inp.mapInArrow(count_block_udf(bc_model, hmm_layout, _soft_counts), COUNT_BLOCK_SCHEMA)


def expected_counts_grouped(sequences_with_group: DataFrame, bc_models) -> DataFrame:
    """The grouped soft E-step over (group, obs) rows: ``bc_models``
    broadcasts {group: HMM} (see :func:`count_block_udf`), and every (task,
    group) yields one ``(group, loglik, counts)`` row — the single-model
    block with a group key added, still no shuffle."""
    return sequences_with_group.select(
        F.col("group").cast("string").alias("group"), "obs"
    ).mapInArrow(count_block_udf(bc_models, hmm_layout, _soft_counts), GROUPED_COUNT_BLOCK_SCHEMA)


def em_reestimate_grouped(
    spark: SparkSession, sequences_with_group: DataFrame, model: HMM
) -> DataFrame:
    """One grouped soft-EM re-estimation step: every group's counts under
    the same FIXED ``model``, normalized per (group, kind, i) — the grouped
    twin of :func:`em_reestimate`, and the DuckDB-exact pin for the grouped
    count blocks themselves (the E-step ``fit_grouped_distributed``
    iterates). Output: (group, kind, i, j, prob) rounded to 6 dp."""
    bc = spark.sparkContext.broadcast({None: model})
    counts = tidy_counts(expected_counts_grouped(sequences_with_group, bc), hmm_layout(model))
    return normalize_counts(counts.filter(F.col("weight") > 0)).select(
        "group", "kind", "i", "j", F.round(F.col("prob"), 6).alias("prob")
    )


def normalize_counts(counts: DataFrame) -> DataFrame:
    """M-step normalize as a Catalyst window — the DuckDB-checkable face of
    the reference reducer's normalize (BaumWelchReducer.java:133-149). Key
    columns before ``kind`` (a ``group``) partition it too."""
    keys = counts.columns[: counts.columns.index("kind")]
    w = Window.partitionBy(*keys, "kind", "i")
    return counts.withColumn("prob", F.col("weight") / F.sum("weight").over(w)).select(
        *keys, "kind", "i", "j", "prob"
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


def discrete_m_step(init: HMM, topology_mask: np.ndarray | None = None):
    """``(start model, M-step callable)`` of a discrete trainer. The M-step
    normalizes the counts (kernel.m_step); with a ``topology_mask`` the
    init is masked and the mask RE-applied after every M-step (see
    :func:`fit`)."""
    model = init.validate()
    if topology_mask is None:
        return model, lambda _prev, cpi, cA, cB: m_step(cpi, cA, cB)
    mask = np.asarray(topology_mask, dtype=bool)
    return _masked(model, mask), lambda _prev, cpi, cA, cB: _masked(m_step(cpi, cA, cB), mask)


@dataclass
class FitResult:
    model: object  # HMM, or gaussian.GaussianHMM
    loglik_trace: list[float]
    iterations: int
    converged: bool


def collect_counts(spark: SparkSession, model, e_step, layout: Layout) -> tuple:
    """One E-step round trip: broadcast ``model``, collect the
    ``e_step(bc)`` count blocks, unpersist the broadcast, and
    :func:`fold_counts` the blocks -> ``(*arrays, loglik)``."""
    bc = spark.sparkContext.broadcast(model)
    try:
        rows = e_step(bc).collect()
    finally:
        bc.unpersist()
    return fold_counts(rows, layout)


def em_loop(
    spark: SparkSession,
    sequences: DataFrame,
    model,
    e_step,
    m_step,
    layout: Layout,
    max_iter: int,
    tol: float,
) -> FitResult:
    """The EM driver loop of every single-model trainer (reference driver
    D2, BaumWelchDriver.java:114-134).

    Per iteration: :func:`collect_counts` (broadcast the model ->
    ``e_step(sequences, bc)`` count blocks -> collect -> fold along
    ``layout``) -> ``m_step(model, *arrays)`` -> convergence test on
    ``model.distance`` (the reference's D4 model-space test; a hard-EM
    loglik is not monotone, so it is not the test). A NaN log-likelihood
    or a non-finite count raises ValueError naming the iteration instead
    of normalizing into a plausible-looking model; a -inf loglik (an
    impossible hard-EM path) is kept.

    ``sequences`` is persisted for the loop unless the caller already did
    (then the cache is the caller's to drop).
    """
    caller_persisted = sequences.storageLevel.useMemory or sequences.storageLevel.useDisk
    if not caller_persisted:
        sequences = sequences.persist(StorageLevel.MEMORY_AND_DISK)
    trace: list[float] = []
    converged = False
    iterations = 0
    try:
        for it in range(max_iter):
            *counts, ll = collect_counts(
                spark, model, lambda bc: e_step(sequences, bc), layout
            )
            if np.isnan(ll) or not all(np.isfinite(c).all() for c in counts):
                raise ValueError(
                    f"EM iteration {it + 1}: the E-step returned a NaN "
                    "log-likelihood or non-finite expected counts — the "
                    "corpus holds a NaN/infinite observation or weight"
                )
            trace.append(ll)
            new_model = m_step(model, *counts)
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
    """Distributed soft EM: :func:`em_loop` over the :func:`expected_counts`
    E-step and the discrete M-step. Optionally writes
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
    model, reestimate = discrete_m_step(init, topology_mask)
    written = itertools.count()

    def step(prev: HMM, *counts) -> HMM:
        new_model = reestimate(prev, *counts)
        if model_out is not None:
            new_model.write(spark, f"{model_out}/model-{next(written)}")
        return new_model

    def e_step(seqs: DataFrame, bc) -> DataFrame:
        return expected_counts(seqs, bc, weight_col=weight_col)

    return em_loop(spark, sequences, model, e_step, step, hmm_layout(model), max_iter, tol)


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
    bc = spark.sparkContext.broadcast(model)
    counts = tidy_counts(expected_counts(sequences, bc), hmm_layout(model))
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
