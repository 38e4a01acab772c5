#!/usr/bin/env python
"""Adversarial ingest A/B: the engine must not depend on a friendly file
layout.  bench.py's `_optimize_layout` rewrites the driver's single-file
parquet into splittable multi-file datasets — that fixed the sf30 sweep
(SCALING.md round-6 addendum) but left the question the round-6 verdict
asked: what happens when a USER hands the engine one fat parquet file?

This tool measures exactly that: dedup_minhash_estimate at sf10 (500k
docs) over

  (a) the bench-optimized multi-file layout (the friendly case), and
  (b) ONE coalesced documents.parquet written with a 1 GiB row-group
      target — the minimal-split worst case (few row groups, one file),

and reports the ratio.  With `ensure_parallelism`'s row-group-aware
detector (operators/core.py:effective_scan_splits, round-7 fix) case (b)
pays one extra round-robin exchange and then runs the fold stage on all
cores; without it the fold serializes onto the handful of row-group tasks
(the 434 s cliff).  A ratio ≤ 2.5× is a pass (matching the coded
threshold below): the exchange plus the serial scan of one file is the
honest lower bound for (b), and the 0.5 margin absorbs host noise on a
measurement whose failure mode is a 10×+ cliff, not a near-miss.

Usage: python tools/fatfile_ab.py [sf_dir]  (default /tmp/supersonic_scale/sf10)
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import bench
    from supersonic_spark.queries import operator_query
    from supersonic_spark.session import get_spark, release_two_pass_caches

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/supersonic_scale/sf10"
    spark = get_spark("fatfile_ab")
    spark.sparkContext.setLogLevel("ERROR")

    opt_dir, _ = bench._optimize_layout(spark, sf_dir, big_files=64)

    fat_dir = "/tmp/supersonic_scale/fatfile_sf10"
    fat_doc = os.path.join(fat_dir, "documents.parquet")
    if not os.path.exists(os.path.join(fat_doc, "_SUCCESS")):
        os.makedirs(fat_dir, exist_ok=True)
        # 1 GiB row-group target → the writer packs the whole table into
        # one file with the fewest row groups it can (the adversarial shape)
        (spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
         .coalesce(1).write.mode("overwrite")
         .option("parquet.block.size", str(1 << 30))
         .parquet(fat_doc))
    # the query reads only documents, but load_tables scans the whole dir
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "embeddings"):
        src = os.path.join(opt_dir, f"{t}.parquet")
        dst = os.path.join(fat_dir, f"{t}.parquet")
        if os.path.exists(src) and not os.path.exists(dst):
            os.symlink(src, dst)

    import pyarrow.parquet as pq
    part_file = next(
        os.path.join(fat_doc, f) for f in os.listdir(fat_doc)
        if f.endswith(".parquet")
    )
    n_rg = pq.ParquetFile(part_file).metadata.num_row_groups
    sz = os.path.getsize(part_file) / 1e6
    print(f"fat file: {sz:.0f} MB, {n_rg} row group(s)")

    q = operator_query("dedup_minhash_estimate")
    results = {}
    for label, d in (("optimized", opt_dir), ("fat-file", fat_dir)):
        best = float("inf")
        q(spark, d).write.format("noop").mode("overwrite").save()  # warm
        for _ in range(3):
            t0 = time.perf_counter()
            q(spark, d).write.format("noop").mode("overwrite").save()
            best = min(best, time.perf_counter() - t0)
            release_two_pass_caches()
        results[label] = best
        print(f"{label:10s}: {best:7.2f}s")
    ratio = results["fat-file"] / results["optimized"]
    print(f"ratio: {ratio:.2f}x  "
          f"({'PASS — no cliff' if ratio <= 2.5 else 'FAIL — fat file serialized the stage'})")
    shutil.rmtree(fat_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
