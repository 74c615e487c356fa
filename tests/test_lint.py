"""Source lint: driver-side materialization is only allowed for model-sized
results (VERDICT r1 "What's wrong" #3 — no ``toPandas()``/``collect()`` of a
data-sized table anywhere in the package).

Every ``.collect()`` / ``.toPandas()`` call site in ``baum_welch_spark/`` must
appear on the explicit allowlist below; adding a new one forces a conscious
review that the materialized result is O(model), never O(data).
"""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "baum_welch_spark"

# file (relative to package) -> allowed call-site count; each site collects
# O(model) rows: seed centroids, k*d stripe sums, query rows, symbol dicts,
# serialized HMM rows, expected-count stripes.
ALLOWED = {
    "operators/clustering.py": {"collect": 3, "toPandas": 0},
    # PCA: d(d+1)/2 covariance rows + d column means — model-sized, like the
    # HMM stripe collect; no embedding row ever reaches the driver
    # (third site: emb_standardize's d-row moment collect)
    "operators/linalg.py": {"collect": 3, "toPandas": 0},
    # logreg: 1-row feature moments + (d+2)-row gradient partials per GD
    # iteration — model-sized driver loop, same shape as hmm/fit.py
    "operators/classifier.py": {"collect": 2, "toPandas": 0},
    # BPE trainer: 1-row argmax pair per merge iteration
    "operators/bpe.py": {"collect": 1, "toPandas": 0},
    # int8 quantizer: d-row per-dimension (min, max) ranges — model-sized
    "operators/quantize.py": {"collect": 1, "toPandas": 0},
    # prepare_training_corpus dq gate: one rule-count-sized report collect
    # (4 rows) — gate semantics, raises instead of emitting a bad corpus
    "operators/corpus.py": {"collect": 1, "toPandas": 0},
    # PQ: n_codes seed rows, m*k*(ds+1) Lloyd partials per iteration,
    # n_queries query rows for flat-PQ / IVF-PQ / index-served search, and
    # the centroid+codebook model tables on index read — all model-sized
    "operators/pq.py": {"collect": 7, "toPandas": 0},
    "operators/sequences.py": {"collect": 1, "toPandas": 0},
    "hmm/model.py": {"collect": 1, "toPandas": 0},
    # the one EM round trip's model-sized count-block collect
    # (collect_counts: one block per task, shared by every trainer and the
    # online update) + em_trace's per-lap chained-model collect
    # (N^2 + N*M + N rows, r12 EM-loop pin)
    "hmm/fit.py": {"collect": 2, "toPandas": 0},
    # distributed grouped EM: one group-cardinality meta collect + the
    # per-iteration (groups x model)-sized count-block collect — the
    # grouped analogue of fit.py's site (groups bound driver memory by
    # the trainer's own output contract)
    "hmm/grouped.py": {"collect": 2, "toPandas": 0},
    # Gaussian-emission family: the model-codec read (tidy model rows) +
    # ghmm_em_trace's and ghmm_loglik_trace's per-lap chained-model
    # collects (r12/r13 EM-loop pins); its EM loop collects in fit.py
    "hmm/gaussian.py": {"collect": 3, "toPandas": 0},
    # order selection: one 1-row T_total aggregate (fits use fit.py's site)
    "hmm/select.py": {"collect": 1, "toPandas": 0},
    # CLI select: prints the len(candidates)-row score frame as JSON;
    # CLI dq: prints the len(rules)-row violation report and gates on it;
    # CLI prepare: prints the 3-row per-split counts after the write
    "cli.py": {"collect": 3, "toPandas": 0},
    # bucketed CDC: touched-bucket ids (<= n_buckets rows, four sites:
    # merge_batch + agg_delta fallback + the batch-IVM fold + the
    # stream-IVM fold), the faces' distinct order-years (<= #years rows,
    # six sites: apply/IVM/time-travel/CDF/compact/schema-evolution), and
    # the two IVM folds' per-group agg rows (<= #groups) — all bounded,
    # never O(data)
    "streaming/upsert.py": {"collect": 13, "toPandas": 0},  # +1 r10: stream face's distinct-years list (bounded by calendar years)
    # plan-audit tool executes the plan to read AQE's finalized physical plan;
    # diagnostic-only, never in an operator path
    "plans/audit.py": {"collect": 1, "toPandas": 0},
}


# file (relative to package root, __spark_entry__.py included) -> allowed
# F.broadcast() call-site count. RULE (VERDICT r12 #7, generalizing the
# decontaminate 100x stall): a broadcast HINT asserts at plan time that the
# build side fits in executor memory at ANY scale factor — so every hinted
# side must be bounded BY CONSTRUCTION (one-row scalar agg, fixed query/rule
# set, LIMIT-k, sketch-width rows, dimension table), never proportional to
# the corpus. A corpus-derived side (eval n-grams, eval fingerprints)
# must go UNHINTED and let AQE size the build side at runtime — that is
# exactly the class that stalled the 100x board twice (corpus.py
# decontaminate, text.py winnow_spans). Adding a site? Name its bound here.
BROADCAST_ALLOWED = {
    # one-row weight-scale aggs (x2, cross join) + per-group keep list
    "operators/sampling.py": 3,
    # nation/region/supplier dimension legs, one-row scalar aggs (count,
    # avg balance, max revenue), LIMIT-k region keys, per-partition offset
    # list, and q20's threshold frame (per-partkey aggregate of the
    # name-filtered part subset — dimension-scale by the filter)
    "operators/relational.py": 17,
    # fixed query set (cross) — RRF fusion scoring
    "operators/fusion.py": 1,
    # n_queries query rows for PQ serving
    "operators/pq.py": 1,
    # fixed query set (cross) — int8 scoring
    "operators/quantize.py": 1,
    # one-row global max (merge watermark)
    "operators/merge.py": 1,
    # n_queries x n_probe probe list for IVF serving
    "operators/clustering.py": 1,
    # p_brand dimension projection + rule-count-sized ante/cons frames
    "operators/basket.py": 3,
    # one-row min/max range agg (cross) — z-order scaling
    "operators/layout.py": 1,
    # symbol dictionary (distinct event types) x2
    "operators/markov.py": 2,
    # one-row dangling-mass agg per PageRank iteration
    "operators/graph.py": 1,
    # derived partsupp: two one-row scalars (fanout index frame is 4 rows,
    # supplier count 1 row), nation/region/supplier/filtered-part dims,
    # one-row totals, and q16/q20's filtered part-family frames
    "operators/partsupp.py": 14,
    # Bloom bitset as ONE row (m/32-element array, 8 KB by construction),
    # one-row top_lang/n_docs/totals aggs — decontaminate's corpus-derived
    # side is UNHINTED
    "operators/corpus.py": 4,
    # one-row row-count agg + per-returnflag means (#groups rows) x2
    "operators/linalg.py": 3,
    # fixed query sets (brute cross + LSH bucket-join probe side)
    "operators/similarity.py": 2,
    # CMS probe rows (sketch-width-bounded) + fixed member list
    "operators/sketches.py": 2,
    # symbol dictionary (distinct event types)
    "operators/sequences.py": 1,
    # query-term list, per-term df (<= |query terms|), one-row consts
    "operators/retrieval.py": 3,
    # stream-static eval-suite join: streaming plans have no AQE, so the
    # hint is deliberate — bounded by the INPUT CONTRACT (docstring:
    # eval_grams is the benchmark suite's n-grams, static and
    # benchmark-sized), not by corpus-derived construction
    "streaming/neardup.py": 1,
}


def _broadcast_sites(path: Path) -> int:
    tree = ast.parse(path.read_text())
    n = 0
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "broadcast"
        ):
            n += 1
    return n


def test_broadcast_hints_are_bounded_by_construction():
    """Every F.broadcast() site must appear in BROADCAST_ALLOWED with its
    bound named — a new site fails until its build side is argued bounded
    (see the rule comment above; sparkContext.broadcast of model objects
    is a different mechanism and is not counted here)."""
    roots = [PKG, PKG.parent / "__spark_entry__.py"]
    violations = []
    for root in roots:
        paths = sorted(root.rglob("*.py")) if root.is_dir() else [root]
        for path in paths:
            rel = str(path.relative_to(PKG)) if root is PKG else path.name
            # sparkContext.broadcast(model) sites ship pickled models, not
            # join build sides — exclude by only counting F.broadcast
            tree = ast.parse(path.read_text())
            n = 0
            for node in ast.walk(tree):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "broadcast"
                    and isinstance(node.func.value, ast.Name)
                    and node.func.value.id == "F"
                ):
                    n += 1
            allowed = BROADCAST_ALLOWED.get(rel, 0)
            if n != allowed:
                violations.append(f"{rel}: {n} F.broadcast() sites (allowlisted {allowed})")
    assert not violations, (
        "broadcast-hint sites changed — every hinted build side must be "
        "bounded by construction (one-row agg / fixed set / LIMIT-k / "
        "sketch-width / dimension table); corpus-derived sides go UNHINTED "
        "for AQE (the decontaminate 100x-stall class). Update "
        "BROADCAST_ALLOWED with the bound named:\n" + "\n".join(violations)
    )


def _call_sites(path: Path) -> dict[str, int]:
    tree = ast.parse(path.read_text())
    counts = {"collect": 0, "toPandas": 0}
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in counts
        ):
            counts[node.func.attr] += 1
    return counts


def test_no_datasized_driver_collects():
    violations = []
    for path in sorted(PKG.rglob("*.py")):
        rel = str(path.relative_to(PKG))
        counts = _call_sites(path)
        allowed = ALLOWED.get(rel, {"collect": 0, "toPandas": 0})
        for kind in ("collect", "toPandas"):
            if counts[kind] > allowed[kind]:
                violations.append(
                    f"{rel}: {counts[kind]} .{kind}() call sites (allowed {allowed[kind]})"
                )
    assert not violations, (
        "driver-side materialization outside the model-sized allowlist "
        "(update tests/test_lint.py ONLY if the new site is O(model) rows):\n"
        + "\n".join(violations)
    )


def test_driver_window_stays_oracle_dense():
    """The driver's correctness harness samples the FIRST 50 queries()
    entries; keep that window packed with DuckDB-exact checks (only the
    flagship fit and the eigh-based PCA are allowed rows-only there) and
    every oracle key valid."""
    import sys

    sys.path.insert(0, str(PKG.parent))
    import __spark_entry__ as em

    qs = list(em.queries())
    osql = em.oracle_sql()
    assert len(qs) == len(set(qs))
    assert set(osql) <= set(qs), sorted(set(osql) - set(qs))
    rows_only_in_window = [q for q in qs[:50] if q not in osql]
    # the window carries each round's changed faces plus exact rotation
    # targets; a rows-only face is allowed in it only with its own non-SQL
    # oracle:
    assert set(rows_only_in_window) <= {
        # Arrow-native E-step rotation (manifest rule: changed faces must be
        # in-window the round they change): the single-model E-step became
        # mapInArrow + one count-block row per task, and every batched
        # E-step caller now runs the packed kernel, so each EM trainer face
        # changed source. Rows-only by nature (iterative trainers), each
        # pinned by a non-SQL oracle: 1e-8 parity with the sequential NumPy
        # EM (hmm_fit, hmm_fit_bakis, the grouped trainers, semisup), the
        # best-of-restarts and selection invariants (hmm_fit_restarts,
        # hmm_select), the stepwise-EM loglik bar (hmm_online); the E-step
        # itself stays driver-exact via em_reestimate/em_trace in-window.
        # The rows-only r15 residents (ghmm_fit, ghmm_trace, the IVF-PQ
        # serving family) rotated OUT first, code-unchanged with r15 driver
        # evidence, so the window gives up as few exact faces as possible.
        # The one-EM-engine change (fit.em_loop + one count-block codec)
        # then moved fit_gaussian onto the shared loop, so ghmm_fit and
        # ghmm_trace drifted and rotated back in, pinned by the 1e-8
        # sequential Gaussian EM oracle and the in-face monotone check.
        "hmm_fit",
        "hmm_fit_bakis",
        "hmm_fit_restarts",
        "hmm_select",
        "hmm_online",
        "hmm_fit_grouped",
        "grouped_decode",
        "hmm_fit_grouped_dist",
        "hmm_fit_semisup",
        "ghmm_fit",
        "ghmm_trace",
    }, rows_only_in_window


def test_window_faces_have_scalar_schemas(spark):
    """Driver-canonicalization compatibility lint (VERDICT-r7 #2): the
    driver sorts + hashes EVERY column of EVERY face in its 50-entry
    window, rows-only included, and pandas' multi-column sort factorizes
    (hashes) each cell — an array/map/struct top-level column crashes it
    with ``TypeError: unhashable type`` (the r7 viterbi_topk defect).
    Construct each in-window face at sf0.001 and assert its schema is
    scalar-only; faces below the window are covered the round they rotate
    in (test_face_manifest forces rotation on any code change)."""
    import sys

    from pyspark.sql import types as T

    from conftest import SF0001

    sys.path.insert(0, str(PKG.parent))
    import __spark_entry__ as em

    bad = []
    for name, fn in list(em.queries().items())[:50]:
        schema = fn(spark, SF0001).schema
        for field in schema.fields:
            if isinstance(field.dataType, (T.ArrayType, T.MapType, T.StructType)):
                bad.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert not bad, (
        "in-window face schemas with non-scalar top-level columns (the "
        "driver's canonicalizer cannot hash these — project to a joined "
        "string, e.g. hmm/decode.py viterbi_decode_face's path_str):\n"
        + "\n".join(bad)
    )


#: hmm/ functions allowed a mapInPandas pass: the serving paths (decode,
#: score, sample, generate). A trainer E-step runs the one count-block
#: shell in hmm/fit.py (fit.count_block_udf under mapInArrow) instead.
SERVING_MAP_IN_PANDAS = {
    ("decode.py", "viterbi_decode"),
    ("decode.py", "posterior_decode"),
    ("decode.py", "state_occupancy"),
    ("decode.py", "score_sequences"),
    ("decode.py", "viterbi_topk"),
    ("gaussian.py", "viterbi_gauss"),
    ("gaussian.py", "_score_gauss_unchecked"),
    ("generate.py", "generate_sequences"),
    ("sample.py", "posterior_sample"),
    ("sample.py", "posterior_entropy"),
}


def test_hmm_trainers_share_one_count_codec():
    """One expected-count codec: no module in hmm/ outside fit.py declares
    a tidy (kind, i, j, weight) stripe schema, no trainer E-step runs a
    mapInPandas pass, and every mapInArrow pass in hmm/ runs the shared
    count_block_udf shell (so it yields fit.encode_counts blocks)."""
    stripe = "kind string, i int, j int, weight double"
    bad = []
    for path in sorted((PKG / "hmm").glob("*.py")):
        tree = ast.parse(path.read_text())
        if path.name != "fit.py" and any(
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and node.value.endswith(stripe)
            for node in ast.walk(tree)
        ):
            bad.append(f"{path.name}: declares a tidy count-stripe schema")
        for fn in tree.body:
            if not isinstance(fn, (ast.FunctionDef, ast.ClassDef)):
                continue
            for node in ast.walk(fn):
                if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                    continue
                site = f"{path.name}:{fn.name}"
                if node.func.attr == "mapInPandas" and (path.name, fn.name) not in SERVING_MAP_IN_PANDAS:
                    bad.append(f"{site}: mapInPandas outside the serving paths")
                if node.func.attr == "mapInArrow":
                    udf = node.args[0] if node.args else None
                    if not (
                        isinstance(udf, ast.Call)
                        and getattr(udf.func, "id", None) == "count_block_udf"
                    ):
                        bad.append(f"{site}: mapInArrow without fit.count_block_udf")
    assert not bad, bad
