"""Spot scale ladder: time named `queries()` faces against two sf dirs and
print the ratio table — the per-face companion to the whole-board runs
(§8.3g replicated, §8.3j fresh 10x). Used for the §8.3l 100x fresh-entity
ladder: a dozen scale-clean flagships against tools/gen_sfbig.py --mult 100
data (60M lineitems, 15M orders, 10M events, 500k docs — all fresh keys).

Single-run timings (a spot ladder, not a record): read ratios against the
data ratio, not against each other, and re-run anything surprising in
isolation before believing it (container wall is 2-3x noisy).

Usage:
  python tools/spot_ladder.py --big /tmp/sf10_fresh --ratio 100 q1_pricing_summary ...
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--small", default="/root/testdata/sf0.1")
    ap.add_argument("--big", default="/tmp/sf10_fresh")
    ap.add_argument("--ratio", type=float, default=100.0, help="data ratio big/small")
    ap.add_argument("--out", help="also write results as JSON")
    ap.add_argument("faces", nargs="+")
    args = ap.parse_args()

    sys.path.insert(0, REPO)
    spec = importlib.util.spec_from_file_location(
        "__spark_entry__", os.path.join(REPO, "__spark_entry__.py")
    )
    entry = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(entry)
    qs = entry.queries()

    from pyspark.sql import SparkSession

    from baum_welch_spark.session import default_cpus

    cpus = str(default_cpus())
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.ui.enabled", "false")
        .appName("spot-ladder")
        .getOrCreate()
    )
    results = {}
    try:
        for face in args.faces:
            fn = qs[face]
            row = {}
            for label, d in (("small", args.small), ("big", args.big)):
                t0 = time.time()
                n = fn(spark, d).count()
                row[label] = round(time.time() - t0, 2)
                row[f"{label}_rows"] = n
            row["ratio"] = round(row["big"] / max(row["small"], 1e-9), 1)
            results[face] = row
            if args.out:  # incremental: a mid-board JVM death loses nothing
                with open(args.out, "w") as f:
                    json.dump(results, f, indent=1, sort_keys=True)
            print(
                f"{face:28s} {row['small']:7.2f}s -> {row['big']:8.2f}s "
                f"{row['ratio']:6.1f}x  (rows {row['small_rows']} -> {row['big_rows']})",
                flush=True,
            )
    finally:
        spark.stop()
    n_clean = sum(1 for r in results.values() if r["ratio"] <= args.ratio)
    print(f"\n{n_clean}/{len(results)} faces at or under the {args.ratio:g}x data ratio")
    if args.out:
        with open(args.out, "w") as f:
            json.dump(results, f, indent=1, sort_keys=True)


if __name__ == "__main__":
    main()
