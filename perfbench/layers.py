"""Traced-run instrumentation: spans around the calls ``hmm.fit.fit`` makes
into its layers, outside-in probes of single layers, and the per-layer
table built from the spans and the Spark event log.

Spans are recorded from the benchmark only: the traced run swaps
``hmm.fit.expected_counts`` and ``hmm.fit.m_step`` for timing wrappers
while a traced fit runs and restores them afterwards. The program itself
is not changed.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from statistics import median

import numpy as np

from perfbench import eventlog


#: repetitions of each outside-in probe
PROBE_REPS = 3


class _TimedCollect:
    """Stands in for the DataFrame ``expected_counts`` returns; ``fit`` only
    calls ``collect()`` on it, which runs the E-step job under a job group."""

    def __init__(self, df, tracer: "FitTracer"):
        self._df, self._tracer = df, tracer

    def collect(self):
        t = self._tracer
        it = {"start": t.mark}
        t.sc.setJobGroup(f"{t.label}.it{len(t.iters)}", "perfbench EM iteration")
        t0 = time.time()
        rows = self._df.collect()
        t1 = time.time()
        it.update(pre=t0 - t.mark, estep=t1 - t0, rows=len(rows), collect_end=t1)
        t.iters.append(it)
        t.sc.setJobGroup(f"{t.label}.driver", "perfbench EM driver")
        return rows


class FitTracer:
    """Per-iteration spans of traced ``fit`` calls. An iteration runs from
    the end of the previous M-step (or the call's start) to the end of its
    own M-step; it splits exactly into ``pre`` (distance, broadcast, plan),
    ``estep`` (the collect of the count block), ``fold`` (row fold) and
    ``mstep``."""

    def __init__(self, sc):
        self.sc = sc
        self.fits: list[dict] = []

    @contextmanager
    def trace(self, label: str):
        import baum_welch_spark.hmm.fit as fit_mod

        real_ec, real_ms = fit_mod.expected_counts, fit_mod.m_step
        self.label, self.iters, self.mark = label, [], time.time()

        def expected_counts(*args, **kwargs):
            return _TimedCollect(real_ec(*args, **kwargs), self)

        def m_step(*args, **kwargs):
            t0 = time.time()
            out = real_ms(*args, **kwargs)
            t1 = time.time()
            it = self.iters[-1]
            it.update(fold=t0 - it["collect_end"], mstep=t1 - t0, end=t1, wall=t1 - it["start"])
            self.mark = t1
            return out

        fit_mod.expected_counts, fit_mod.m_step = expected_counts, m_step
        self.sc.setJobGroup(f"{label}.read", "perfbench fit read")
        try:
            yield
        finally:
            fit_mod.expected_counts, fit_mod.m_step = real_ec, real_ms
            self.sc.setJobGroup("perfbench", "perfbench")
            self.fits.append({"label": label, "iters": self.iters})


# -- outside-in probes (traced run only) ------------------------------------


def _timed_group(sc, group: str, fn, reps: int) -> list[float]:
    out = []
    for r in range(reps):
        sc.setJobGroup(f"{group}{r}", "perfbench probe")
        t0 = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t0)
    sc.setJobGroup("perfbench", "perfbench")
    return out


def _to_ndarrays(batches):
    """The E-step's per-row list -> ndarray conversion with no kernel:
    yields one (batches, symbols) row per task."""
    import pandas as pd

    n_batches = n_symbols = 0
    for pdf in batches:
        n_batches += 1
        for o in pdf["obs"]:
            n_symbols += len(np.asarray(o, dtype=np.int64))
    yield pd.DataFrame({"batches": [n_batches], "symbols": [n_symbols]})


def probes(spark, corpus_path: str, symbols: int, reps: int = PROBE_REPS) -> tuple[dict, list[str]]:
    sc = spark.sparkContext
    out, bad = {}, []
    floor = spark.range(0, 4, 1, 4).cache()
    floor.count()
    out["spark.job_floor_s"] = median(_timed_group(sc, "probe.floor", floor.count, 5))
    floor.unpersist()

    def scan():
        spark.read.parquet(corpus_path).select("obs").write.format("noop").mode("overwrite").save()

    out["scan.s"] = median(_timed_group(sc, "probe.scan", scan, reps))

    cached = spark.read.parquet(corpus_path).select("obs").persist()
    cached.count()
    rows = []

    def roundtrip():
        rows[:] = cached.mapInPandas(_to_ndarrays, "batches long, symbols long").collect()

    out["udf.roundtrip_s"] = median(_timed_group(sc, "probe.udf", roundtrip, reps))
    cached.unpersist()
    out["udf.batches"] = sum(r.batches for r in rows)
    if sum(r.symbols for r in rows) != symbols:
        bad.append("udf probe: symbol count differs from the corpus")
    return out, bad


# -- the per-layer table ------------------------------------------------------


def _unit_stats(stages: list[eventlog.Stage]) -> dict:
    """Event-log totals over the stages of one unit of work."""
    py = [s for s in stages if s.is_python]
    tot = lambda key, ss=stages: sum(s.total(key) for s in ss)  # noqa: E731
    skews = []
    for s in py:
        runs = [t["run_ms"] for t in s.tasks]
        if runs and median(runs) > 0:
            skews.append(max(runs) / median(runs))
    return {
        "udf.bytes_to_python": tot("py_sent_bytes", py),
        "udf.bytes_from_python": tot("py_returned_bytes", py),
        "udf.worker_start_s": tot("py_start_ms", py) / 1e3,
        "udf.worker_init_s": tot("py_init_ms", py) / 1e3,
        "udf.worker_run_s": tot("py_run_ms", py) / 1e3,
        "exec.run_s": tot("run_ms", py) / 1e3,
        "exec.cpu_s": tot("cpu_ns", py) / 1e9,
        "exec.gc_s": tot("gc_ms", py) / 1e3,
        "exec.task_skew": max(skews, default=1.0),
        "shuffle.write_bytes": tot("shuffle_write_bytes"),
        "shuffle.read_bytes": tot("shuffle_read_bytes"),
        "shuffle.records": tot("shuffle_records"),
        "shuffle.write_s": tot("shuffle_write_ns") / 1e9,
        "spark.result_bytes": tot("result_bytes"),
    }


def _medians(units: list[dict]) -> dict:
    return {k: median(u[k] for u in units) for k in units[0]} if units else {}


def table(log: eventlog.EventLog, fits: list[dict], decodes: list[str], main_op: str) -> dict:
    """Per-layer metrics from the traced fits and decode passes.

    fit.* and sched.* are medians over the steady iterations (all but the
    first) of every traced fit. udf.*, exec.*, shuffle.* and
    spark.result_bytes are medians per unit of the workload's own call: a
    steady EM iteration on em_*, one viterbi + score pass on decode_score.
    """
    steady, fit_units = [], []
    for f in fits:
        for i, it in enumerate(f["iters"][1:], start=1):
            group = f"{f['label']}.it{i}"
            stages = log.stages_of(group)
            covered = eventlog.covered_ms(stages, it["start"] * 1e3, it["end"] * 1e3) / 1e3
            steady.append(
                {
                    "fit.iter_steady_s": it["wall"],
                    "fit.estep_job_s": it["estep"],
                    "fit.driver_s": it["pre"] + it["fold"] + it["mstep"],
                    "fit.fold_s": it["fold"],
                    "fit.mstep_s": it["mstep"],
                    "fit.collect_rows_per_iter": it["rows"],
                    "fit.jobs_per_iter": log.job_count(group),
                    "fit.stages_per_iter": len(stages),
                    "fit.tasks_per_iter": sum(len(s.tasks) for s in stages),
                    "sched.outside_stage_s": it["wall"] - covered,
                }
            )
            fit_units.append(_unit_stats(stages))
    out = _medians(steady)
    out["fit.iter_first_s"] = median(f["iters"][0]["wall"] for f in fits if f["iters"])
    dec_units, vit, score = [], [], []
    for label in decodes:
        v, s = log.stages_of(f"{label}.viterbi"), log.stages_of(f"{label}.score")
        vit.append(sum(x.total("run_ms") for x in v) / 1e3)
        score.append(sum(x.total("run_ms") for x in s) / 1e3)
        dec_units.append(_unit_stats(v + s))
    out["decode.viterbi_stage_s"] = median(vit)
    out["decode.score_stage_s"] = median(score)
    out.update(_medians(fit_units if main_op == "fit" else dec_units))
    scans = [log.stages_of(f"probe.scan{r}") for r in range(PROBE_REPS)]
    out["scan.bytes_read"] = median(sum(s.total("input_bytes") for s in ss) for ss in scans)
    return out
