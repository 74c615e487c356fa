"""HMM benchmark: EM training and decode/score over seeded synthetic corpora.

    python3 perfbench/run.py --workload em_short --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it is a
record of the run (environment, per-call timings). See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shlex
import shutil
import subprocess
import sys
import time
import traceback
from pathlib import Path
from statistics import median

ROOT = Path(__file__).resolve().parent.parent
WORK = Path.cwd() / ".perfbench"
#: fewest timed calls per run, whatever --seconds says
MIN_CALLS = 3
#: untimed calls on the real corpus before the timed ones, in seconds
WARMUP_SECONDS = 4.0


def pin_environment(trace_dir: Path | None) -> None:
    """Everything Spark and its workers write stays under .perfbench/tmp;
    workers import the program from the checkout. Must run before the
    first JVM starts."""
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
    os.environ["TMPDIR"] = str(tmp)
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_*
    os.environ["SPARK_LAUNCHER_OPTS"] = jvm_opts  # the launcher JVM spark-submit runs first
    args = [
        "--conf", "spark.ui.showConsoleProgress=false",
        "--driver-java-options", jvm_opts,
    ]
    if trace_dir is not None:
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir={trace_dir.as_uri()}",
            # stdlib-readable: Spark 4.1 otherwise writes zstd rolling logs
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def environment(cpus: int, src: str) -> dict:
    import numpy
    import pandas
    import pyarrow
    import pyspark

    commit = None
    if (ROOT / ".git").exists():
        r = subprocess.run(
            ["git", "-C", str(ROOT), "rev-parse", "HEAD"], capture_output=True, text=True
        )
        commit = r.stdout.strip() or None
    return {
        "cpus": cpus,
        "commit": commit,
        "source_sha256": src,
        "spark": pyspark.__version__,
        "numpy": numpy.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "python": platform.python_version(),
    }


class Bench:
    """One workload at one seed: the calls it times and how each is checked."""

    def __init__(self, w, seed: int, cpus: int, src: str):
        from perfbench.workloads import models

        self.w, self.seed, self.cpus, self.src = w, seed, cpus, src
        self.cache = WORK / "cache"
        self.cache.mkdir(parents=True, exist_ok=True)
        self.known, self.init = models(w, seed)
        self.attempted = self.failed = 0

    # -- set-up ---------------------------------------------------------------

    def setup(self):
        """A session on a new JVM plus the first call on a tiny corpus:
        returns (spark, session start seconds, set-up seconds)."""
        from perfbench.procs import start_session
        from perfbench.workloads import warmup_corpus

        spark, start_s = start_session(self.cpus)
        spark.sparkContext.setLogLevel("ERROR")
        tiny = str(warmup_corpus(self.cache, self.w.n_observed))
        t0 = time.perf_counter()
        if self.w.op == "fit":
            self._fit(spark, tiny, iters=1)
        else:
            self._decode(spark, tiny)
        return spark, start_s, start_s + time.perf_counter() - t0

    def prepare(self, spark) -> None:
        from perfbench.workloads import Oracle, corpus_path, load_corpus

        self.path = str(corpus_path(spark, self.cache, self.w, self.seed, self.src))
        self.corpus = load_corpus(Path(self.path))
        self.oracle = Oracle(self.cache, self.w, self.seed, self.src, self.corpus)
        if self.w.op == "fit":
            self.oracle.fit()
        else:
            self.oracle.decode()

    # -- the timed calls ------------------------------------------------------

    def _fit(self, spark, path: str, iters: int):
        from baum_welch_spark.hmm.fit import fit

        return fit(spark, spark.read.parquet(path), self.init, max_iter=iters, tol=0.0)

    def _decode(self, spark, path: str, label: str | None = None):
        from baum_welch_spark.hmm.decode import score_sequences, viterbi_decode

        sc = spark.sparkContext
        if label:
            sc.setJobGroup(f"{label}.viterbi", "perfbench viterbi")
        t0 = time.perf_counter()
        vit = viterbi_decode(spark, spark.read.parquet(path), self.known).toArrow()
        t1 = time.perf_counter()
        if label:
            sc.setJobGroup(f"{label}.score", "perfbench score")
        score = score_sequences(spark, spark.read.parquet(path), self.known).toArrow()
        t2 = time.perf_counter()
        if label:
            sc.setJobGroup("perfbench", "perfbench")
        return (vit, score), {"viterbi_s": t1 - t0, "score_s": t2 - t1}

    def call(self, spark, op: str, tracer=None, label: str | None = None) -> dict | None:
        """One timed, checked call of ``op``; None when it raised or failed
        its check (counted in ``failed``). With ``label`` the call is traced:
        its jobs carry job groups named after it."""
        from perfbench import checks
        from perfbench.procs import PeakRss

        self.attempted += 1
        try:
            with PeakRss() as rss:
                t0 = time.perf_counter()
                if op == "fit":
                    if tracer is not None:
                        with tracer.trace(label):
                            out = self._fit(spark, self.path, self.w.iters)
                    else:
                        out = self._fit(spark, self.path, self.w.iters)
                    parts = {}
                else:
                    out, parts = self._decode(spark, self.path, label)
                wall = time.perf_counter() - t0
            if op == "fit":
                bad = checks.check_fit(out, self.oracle.fit())
            else:
                dec = self.oracle.decode()
                bad = checks.check_viterbi(out[0], self.corpus, self.known, dec)
                bad += checks.check_score(out[1], self.corpus, dec)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            bad = ["raised"]
        if bad:
            self.failed += 1
            print(f"check failed ({op}): {bad}", file=sys.stderr)
            return None
        return {
            "label": label, "s": wall, "py_rss_mb": rss.py_mb, "jvm_rss_mb": rss.jvm_mb,
            "tree_rss_mb": rss.tree_mb, **parts,
        }

    def timed_loop(self, spark, seconds: float, tracer=None) -> list[dict]:
        """Closed loop: one call at a time until the timed calls add up to
        ``seconds`` (and at least MIN_CALLS were made), after untimed calls
        for WARMUP_SECONDS: calls keep getting faster for the first several
        seconds of a session, by 20-40% on em_short.
        With ``tracer`` the timed calls are traced and labelled t0, t1, ..."""
        warm = 0.0
        while warm < WARMUP_SECONDS and not self.failed:  # checked, not timed
            t0 = time.perf_counter()
            self.call(spark, self.w.op)
            warm += time.perf_counter() - t0
        calls, n, spent = [], 0, 0.0
        while n < MIN_CALLS or spent < seconds:
            c = self.call(spark, self.w.op, tracer, f"t{n}" if tracer else None)
            n += 1
            if c is not None:
                calls.append(c)
                spent += c["s"]
            elif self.failed > n // 2:
                break  # a failing program: stop early, the result says why
        return calls

    def work_msym(self) -> float:
        k = self.w.iters if self.w.op == "fit" else 2
        return self.corpus.symbols * k / 1e6


def run_end_to_end(b: Bench, seconds: float) -> tuple[dict, dict]:
    from perfbench.procs import stop_session

    spark, _, setup_s = b.setup()
    try:
        b.prepare(spark)  # input generation and oracles stay out of every timing
        calls = b.timed_loop(spark, seconds)
    finally:
        stop_session(spark)
    if not calls:
        raise RuntimeError("every timed call failed its check")
    call_s = median(c["s"] for c in calls)
    ok = b.attempted - b.failed
    metrics = {
        "setup_s": (setup_s, "s"),
        "call_s": (call_s, "s"),
        "msym_per_s": (b.work_msym() / call_s, "Msym/s"),
        "py_peak_rss_mb": (median(c["py_rss_mb"] for c in calls), "MB"),
        "ok_rate": (ok / b.attempted, "share"),
    }
    detail = {"calls": calls, "error_rate": b.failed / b.attempted}
    if b.w.op == "fit":
        detail.update(fit_s=call_s, em_msym_per_s=b.work_msym() / call_s)
    else:
        detail.update(
            viterbi_s=median(c["viterbi_s"] for c in calls),
            score_s=median(c["score_s"] for c in calls),
            decode_msym_per_s=b.work_msym() / call_s,
        )
    return metrics, detail


def run_traced(b: Bench, seconds: float) -> tuple[dict, dict]:
    """Per-layer metrics. Each of the two timed loops runs for half of
    ``seconds``: per-layer figures carry no bound, and this keeps a traced
    run near twice the length of an end-to-end one."""
    from perfbench import eventlog, layers
    from perfbench.procs import stop_session

    # untraced session: the base that trace.overhead_s is measured against
    spark, start_s, _ = b.setup()
    try:
        b.prepare(spark)
        base = b.timed_loop(spark, seconds / 2)
    finally:
        stop_session(spark)
    trace_dir = WORK / "events" / str(os.getpid())
    trace_dir.mkdir(parents=True, exist_ok=True)
    pin_environment(trace_dir)
    spark, _, _ = b.setup()
    try:
        probe, bad = layers.probes(spark, b.path, b.corpus.symbols)
        b.failed += len(bad)
        b.attempted += len(bad)
        tracer = layers.FitTracer(spark.sparkContext)
        traced = b.timed_loop(spark, seconds / 2, tracer)
        # the other operation, once, so every workload reports every layer
        if b.w.op == "fit":
            b.oracle.decode()
            b.call(spark, "decode", label="d0")
            decodes = ["d0"]
        else:
            b.oracle.fit()
            b.call(spark, "fit", tracer, label="f0")
            decodes = [c["label"] for c in traced]
    finally:
        stop_session(spark)
    kernel = kernel_probe(b)
    logs = sorted(trace_dir.iterdir())
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {trace_dir}, found {len(logs)}")
    table = layers.table(eventlog.read(logs[0]), tracer.fits, decodes, b.w.op)
    shutil.rmtree(trace_dir)
    traced_s = median(c["s"] for c in traced)
    table.update(probe)
    table.update(kernel)
    table["session.start_s"] = start_s
    table["mem.jvm_peak_rss_mb"] = median(c["jvm_rss_mb"] for c in base)
    table["mem.tree_peak_rss_mb"] = median(c["tree_rss_mb"] for c in base)
    table["trace.overhead_s"] = traced_s - median(c["s"] for c in base)
    units = {m["name"]: m["unit"] for m in benchmark_spec()["per_layer"]}
    metrics = {k: (table[k], units[k]) for k in units}
    return metrics, {"untraced_calls": base, "traced_calls": traced}


def kernel_probe(b: Bench) -> dict:
    env = dict(os.environ, OMP_NUM_THREADS="1", OPENBLAS_NUM_THREADS="1", MKL_NUM_THREADS="1")
    r = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "kernel_probe.py"), b.w.name, str(b.seed), b.path],
        env=env, capture_output=True, text=True, timeout=150, check=True,
    )
    return json.loads(r.stdout.strip().splitlines()[-1])


def host_cpu_times() -> tuple[int, int]:
    """(total, steal) jiffies of all CPUs from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def benchmark_spec() -> dict:
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def main() -> int:
    sys.path.insert(0, str(ROOT))
    from perfbench.workloads import WORKLOADS, source_digest

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (ROOT / "baum_welch_spark" / "hmm" / "fit.py").is_file():
        print(f"perfbench: the program (baum_welch_spark) is not under {ROOT}", file=sys.stderr)
        return 2
    pin_environment(None)
    # driver-side imports belong to process start, not to set-up time
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401
    import pyspark.sql  # noqa: F401

    import baum_welch_spark.hmm.decode  # noqa: F401
    import baum_welch_spark.hmm.fit  # noqa: F401

    cpus = len(os.sched_getaffinity(0))  # what nproc reports
    src = source_digest(ROOT)
    b = Bench(WORKLOADS[args.workload], args.seed, cpus, src)
    cpu0 = host_cpu_times()
    try:
        metrics, detail = (run_traced if args.trace else run_end_to_end)(b, args.seconds)
    finally:
        shutil.rmtree(WORK / "tmp", ignore_errors=True)
    cpu1 = host_cpu_times()
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "env": environment(cpus, src),
        # CPU time the hypervisor gave to other guests during the run: a
        # high share marks a run that neighbours slowed down
        "host_steal_share": (cpu1[1] - cpu0[1]) / max(cpu1[0] - cpu0[0], 1),
        **detail,
    }
    print(json.dumps({"record": record}))
    print(
        json.dumps(
            {
                "correct": b.failed == 0,
                "attempted": b.attempted,
                "failed": b.failed,
                "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
